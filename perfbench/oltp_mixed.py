"""``oltp_mixed``: open-loop OLTP over the Postgres wire with a live
mirror.

Set-up seeds the ``orders`` source table over the wire and runs
``CREATE MIRROR … WITH (sync_interval = '0 seconds')``, so replication
lag measures apply work rather than a timer. A short closed-loop phase
on the writers measures write capacity; the measured window then runs
an open loop: writer connections send statements on a fixed schedule
(70 % 50-row INSERT, 20 % single-key UPDATE, 10 % single-key DELETE,
UPDATE/DELETE keys Zipf-skewed towards recent live ids), each in a
transaction of its own, and one reader connection sends a fixed read
mix on its own schedule. Latencies are taken from each request's due
time. Point lookups ask for rows the capacity phase inserted and
nothing touches afterwards, and the window starts once the mirror has
applied them, so whether a read is stale does not depend on timing.
After the window the mirror drains and the target is checked against
the reference fold of the WAL; every read of the mirrored table is
checked for staleness against the micro-batches committed before it
was sent. Mirror upkeep then runs once, timed per call for the
per-layer report: the monitoring lag check, compaction with target
reads before and after it, and a snapshot of the source table into a
new target.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import fixtures
import reference as ref
from pgwire import PgConnection, PgError
from spans import log

WRITERS = 3
WRITE_RATE = 0.9  # statements/s over all writers: about half the closed-loop capacity
READ_RATE = 1.0  # reads/s on the reader connection
CAPACITY_STMTS = 9  # closed-loop capacity phase, statements per run
SEED_STATEMENTS = 2  # 50-row INSERTs that seed the source table
ROWS_PER_INSERT = 50
SETUP_REPS = 3
CORPUS_SF = 0.1
MIRROR = "orders_mirror"
COLUMNS = ["id", "order_date", "purchaser", "quantity", "product_id"]

# fixture-view reads: integer results, so engine and DuckDB agree exactly
ANALYTIC_SQL = [
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
    "SUM(CAST(l_quantity AS BIGINT)) AS qty FROM lineitem "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "SELECT n.n_name, COUNT(*) AS n_orders FROM orders o "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "WHERE o.o_orderstatus = 'F' GROUP BY n.n_name ORDER BY n.n_name",
]
READ_KINDS = ["lookup", "count_max", "replication", "analytic0", "analytic1"]


def _insert_sql(rows: list[dict]) -> str:
    vals = ", ".join(
        f"({r['id']}, '{r['order_date']}', {r['purchaser']}, {r['quantity']}, {r['product_id']})"
        for r in rows
    )
    return f"INSERT INTO orders (id, order_date, purchaser, quantity, product_id) VALUES {vals}"


class _CommitWatch:
    """Polls the mirror checkpoint and records each micro-batch's
    commit time (commit-file mtime) before the checkpoint purges it."""

    def __init__(self, ckpt: str) -> None:
        self.dir = os.path.join(ckpt, "commits")
        self.times: dict[int, float] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def poll(self) -> None:
        try:
            names = os.listdir(self.dir)
        except FileNotFoundError:
            return
        for n in names:
            if n.isdigit() and int(n) not in self.times:
                try:
                    self.times[int(n)] = os.stat(os.path.join(self.dir, n)).st_mtime
                except FileNotFoundError:
                    pass

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self.poll()

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)
        self.poll()


class OltpMixed:
    def __init__(self, engine, tracer, seed: int, seconds: float, work: str) -> None:
        self.engine, self.tracer, self.seed = engine, tracer, seed
        self.seconds, self.work = seconds, work
        self.spark = engine.spark
        self.failures: list[str] = []
        self.errors = 0

    # -- set-up ----------------------------------------------------------
    def _bring_up(self, rep: int) -> float:
        from peerdb_cdc_psql_psql_spark.catalog import DEMO_SCHEMAS
        from peerdb_cdc_psql_psql_spark.wire import WireServer

        root = os.path.join(self.work, f"mirror{rep}")
        self.wal = os.path.join(root, "wal")
        self.target = os.path.join(root, "target")
        self.ckpt_root = os.path.join(root, "ckpt")
        t0 = time.perf_counter()
        self.server = WireServer(
            self.spark, port=0, sf_dir=self.corpus,
            mirror_env=dict(
                schemas=DEMO_SCHEMAS, event_dir=self.wal,
                target_root=self.target, checkpoint_root=self.ckpt_root,
            ),
        )
        self.server.start()
        rng = np.random.default_rng(self.seed)
        with PgConnection("127.0.0.1", self.server.port) as conn:
            for s in range(SEED_STATEMENTS):
                rows = [
                    fixtures.order_row(rng, 1 + s * ROWS_PER_INSERT + i)
                    for i in range(ROWS_PER_INSERT)
                ]
                conn.query(_insert_sql(rows))
            conn.query(
                f"CREATE MIRROR {MIRROR} WITH TABLE MAPPING (orders:orders_cdc) "
                "WITH (sync_interval = '0 seconds')"
            )
        self.ckpt = os.path.join(self.ckpt_root, MIRROR)
        self._wait_applied(timeout=120)
        return time.perf_counter() - t0

    def _tear_down_mirror(self) -> None:
        with PgConnection("127.0.0.1", self.server.port) as conn:
            conn.query(f"DROP MIRROR {MIRROR}")
        self.server.stop()

    def _wal_files(self) -> list[str]:
        return sorted(
            n for n in os.listdir(self.wal)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )

    def _applied(self) -> bool:
        src = os.path.join(self.ckpt, "sources", "0")
        if not os.path.isdir(src):
            return False
        done = ref.file_batches(ref.read_source_log(src))
        commits = os.path.join(self.ckpt, "commits")
        ids = [int(n) for n in os.listdir(commits) if n.isdigit()] if os.path.isdir(commits) else []
        last = max(ids, default=-1)  # batches commit in id order
        return all(done.get(n, last + 1) <= last for n in self._wal_files())

    def _wait_applied(self, timeout: float) -> None:
        deadline = time.perf_counter() + timeout
        while not self._applied():
            if time.perf_counter() > deadline:
                raise TimeoutError("mirror did not apply the WAL in time")
            time.sleep(0.1)

    # -- statement generation ----------------------------------------------
    def _write_statement(self, rng, op: str, next_id: list, live: list) -> dict:
        if op == "I" or len(live) < 20:
            ids = list(range(next_id[0], next_id[0] + ROWS_PER_INSERT))
            next_id[0] += ROWS_PER_INSERT
            rows = [fixtures.order_row(rng, i) for i in ids]
            return {"op": "I", "keys": ids, "sql": _insert_sql(rows), "rows": rows}
        rank = min(int(rng.zipf(1.3)) - 1, len(live) - 1)
        key = live[-1 - rank]  # newest ids are the hot ones
        if op == "U":
            q = int(rng.integers(1, 100))
            return {"op": "U", "keys": [key], "quantity": q,
                    "sql": f"UPDATE orders SET quantity = {q} WHERE id = {key}"}
        live.remove(key)
        return {"op": "D", "keys": [key], "sql": f"DELETE FROM orders WHERE id = {key}"}

    def _schedule(self, start_id: int, live: list, n: int, rng) -> list[dict]:
        """``n`` statements; UPDATE/DELETE keys come from ids whose
        INSERT was scheduled at least four INSERTs earlier."""
        next_id = [start_id]
        out, pending = [], []
        # the mix is exact in every block of ten (7 INSERT, 2 UPDATE,
        # 1 DELETE) and in the rest, so a run's mix does not depend on the seed
        blocks, rest = divmod(n, 10)
        n_i, n_u = round(0.7 * rest), round(0.2 * rest)
        tail = ["I"] * n_i + ["U"] * n_u + ["D"] * (rest - n_i - n_u)
        ops = [op for _ in range(blocks) for op in rng.permutation(list("IIIIIIIUUD"))]
        ops += [str(op) for op in rng.permutation(tail)]
        for op in ops:
            st = self._write_statement(rng, op, next_id, live)
            out.append(st)
            if st["op"] == "I":
                pending.append(st["keys"])
            if len(pending) > 4:
                live.extend(pending.pop(0))
        return out

    def _send(self, conn, st: dict) -> None:
        """One write as its own transaction. Concurrent autocommit
        statements append to the WAL directory at once and race in
        Hadoop's shared ``_temporary`` directory there, failing or
        losing a write at random; a transaction stages its events in a
        directory of its own and COMMIT renames them into the WAL."""
        name = {"I": "wire.insert", "U": "wire.update", "D": "wire.delete"}[st["op"]]
        st["sent"] = time.time()
        try:
            with self.tracer.span(name):
                conn.query("BEGIN")
                try:
                    _, _, tag, _ = conn.query(st["sql"])
                except PgError:
                    conn.query("ROLLBACK")
                    raise
                conn.query("COMMIT")
            st["tag"] = tag
            st["ok"] = True
        except (PgError, OSError) as e:
            st["ok"] = False
            self.errors += 1
            self.failures.append(f"{st['op']} failed: {e}")
        st["acked"] = time.time()

    # -- phases ----------------------------------------------------------
    def _capacity(self) -> float:
        """Closed loop on the writers over CAPACITY_STMTS statements
        (a fixed share each); statements/s. Sets ``lookup_keys``: ids
        inserted here that no statement of the run updates or deletes."""
        rng = np.random.default_rng(self.seed + 1)
        live = list(range(1, SEED_STATEMENTS * ROWS_PER_INSERT + 1))
        stmts = self._schedule(100_000, live, CAPACITY_STMTS, rng)
        touched = {k for st in stmts if st["op"] != "I" for k in st["keys"]}
        self.lookup_keys = [k for st in stmts if st["op"] == "I" for k in st["keys"] if k not in touched]

        def writer(conn, mine):
            for st in mine:
                self._send(conn, st)

        t0 = time.perf_counter()
        threads = [
            threading.Thread(target=writer, args=(c, stmts[k::WRITERS]))
            for k, c in enumerate(self.writers)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        elapsed = time.perf_counter() - t0
        self.statements.extend(stmts)
        return len(stmts) / elapsed

    def _open_loop(self) -> None:
        rng = np.random.default_rng(self.seed + 2)
        live = list(range(1, SEED_STATEMENTS * ROWS_PER_INSERT + 1))
        n_writes = int(self.seconds * WRITE_RATE)
        stmts = self._schedule(200_000, live, n_writes, rng)
        t0 = time.perf_counter() + 0.2
        for i, st in enumerate(stmts):
            st["due"] = t0 + i / WRITE_RATE
        self.window_writes = stmts
        self.statements.extend(stmts)
        n_reads = int(self.seconds * READ_RATE)
        order = rng.permutation(np.arange(n_reads) % len(READ_KINDS))
        reads = [{"kind": READ_KINDS[int(k)], "due": t0 + i / READ_RATE} for i, k in enumerate(order)]
        read_rng = np.random.default_rng(self.seed + 3)
        for rd in reads:
            if rd["kind"] == "lookup":
                rd["key"] = self.lookup_keys[int(read_rng.integers(0, len(self.lookup_keys)))]
        self.reads = reads

        def writer(conn, mine):
            for st in mine:
                now = time.perf_counter()
                if st["due"] > now:
                    time.sleep(st["due"] - now)
                st["late_ms"] = max(0.0, time.perf_counter() - st["due"]) * 1000.0
                self._send(conn, st)
                st["lat_ms"] = (time.perf_counter() - st["due"]) * 1000.0

        def reader(conn):
            for rd in reads:
                now = time.perf_counter()
                if rd["due"] > now:
                    time.sleep(rd["due"] - now)
                rd["late_ms"] = max(0.0, time.perf_counter() - rd["due"]) * 1000.0
                self._read(conn, rd)
                rd["lat_ms"] = (rd["done"] - rd["due"]) * 1000.0

        threads = [
            threading.Thread(target=writer, args=(c, stmts[k::WRITERS]))
            for k, c in enumerate(self.writers)
        ]
        threads.append(threading.Thread(target=reader, args=(self.reader,)))
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def _read_sql(self, rd: dict) -> str:
        kind = rd["kind"]
        if kind == "lookup":
            return (
                "SELECT id, order_date, purchaser, quantity, product_id, _is_deleted "
                f"FROM orders_cdc WHERE id = {rd['key']}"
            )
        if kind == "count_max":
            return "SELECT COUNT(*) AS n, MAX(id) AS max_id FROM orders_cdc"
        if kind == "replication":
            return "SELECT * FROM pg_stat_replication"
        return ANALYTIC_SQL[int(kind[-1])]

    def _read(self, conn, rd: dict) -> None:
        sql = self._read_sql(rd)
        rd["sent"] = time.time()
        try:
            with self.tracer.span("wire.read"):
                _, rows, _, nbytes = conn.query(sql)
            rd["rows"], rd["bytes"], rd["ok"] = rows, nbytes, True
        except (PgError, OSError) as e:
            rd["ok"] = False
            self.errors += 1
            self.failures.append(f"read {rd['kind']} failed: {e}")
        rd["done"] = time.perf_counter()
        rd["wire_ms"] = (rd["done"] - (rd["due"] + rd["late_ms"] / 1000.0)) * 1000.0
        if self.tracer.enabled and rd["kind"] != "replication":
            t0 = time.perf_counter()
            self.spark.sql(sql).collect()
            rd["direct_ms"] = (time.perf_counter() - t0) * 1000.0

    # -- verification ----------------------------------------------------
    def _wal_events(self) -> dict[str, list]:
        import json

        out = {}
        for name in self._wal_files():
            path = os.path.join(self.wal, name)
            t = pq.read_table(path, columns=["lsn", "op", "key", "after_json"]).to_pydict()
            out[name] = [
                (lsn, op, key, json.loads(a) if a else None)
                for lsn, op, key, a in zip(t["lsn"], t["op"], t["key"], t["after_json"])
            ]
        return out

    def _check_target(self) -> int:
        """Compare the mirror target with the reference fold; returns
        the number of differing keys."""
        from peerdb_cdc_psql_psql_spark.operators.sql_frontend import _DDL_MIRRORS
        from peerdb_cdc_psql_psql_spark.streaming.cdc import read_target

        pdf = read_target(self.spark, _DDL_MIRRORS[MIRROR], "orders", self.target).toPandas()
        actual = {
            int(r["id"]): ({c: r[c] for c in COLUMNS}, bool(r["_is_deleted"]))
            for r in pdf.to_dict("records")
        }
        mism = ref.diff_states(self.expected, actual, COLUMNS)
        self.failures.extend(mism)
        return len(mism)

    def _verify(self) -> dict:
        wal = self._wal_events()
        self.expected = ref.fold([e for evs in wal.values() for e in evs], columns=COLUMNS)
        self.mismatches = self._check_target()
        # every acknowledged statement wrote the events it asked for
        stmt_file = ref.statement_files(
            [s for s in self.statements if s.get("ok")], wal
        )
        acked = [s for s in self.statements if s.get("ok")]
        for i, st in enumerate(acked):
            name = stmt_file.get(i)
            if name is None:
                if not (st["op"] == "U" and st.get("tag") == "UPDATE 0"):
                    self.failures.append(f"no WAL file for {st['op']} {st['keys'][:1]}")
                    self.mismatches += 1
                continue
            if st["op"] == "I":
                got = sorted(e[2] for e in wal[name])
                if got != sorted(st["keys"]) or any(
                    e[3] != row for e, row in zip(sorted(wal[name]), st["rows"])
                ):
                    self.failures.append(f"INSERT {st['keys'][0]} wrote other rows")
                    self.mismatches += 1
        return {"wal": wal, "stmt_file": stmt_file, "acked": acked}

    def _maintenance(self) -> dict:
        """Mirror upkeep after the drain, timed per call: the monitoring
        lag check, compaction with target reads before and after it, and
        an initial copy (snapshot) of the source table into a new
        target. Compaction must leave the visible state unchanged."""
        from peerdb_cdc_psql_psql_spark.catalog import DEMO_SCHEMAS
        from peerdb_cdc_psql_psql_spark.operators.sql_frontend import _DDL_MIRRORS
        from peerdb_cdc_psql_psql_spark.streaming.cdc import (
            TableMapping, compact_target, mirror_lag_report, read_target, snapshot_load,
        )

        tr, mirror, out = self.tracer, _DDL_MIRRORS[MIRROR], {}
        live = [row for row, deleted in self.expected.values() if not deleted]
        src_path = os.path.join(self.work, "source_now.parquet")
        pq.write_table(fixtures.orders_table(live), src_path)
        source = self.spark.read.parquet(src_path)
        tdir = os.path.join(self.target, "orders_cdc")

        t0 = time.perf_counter()
        with tr.span("cdc.mirror_lag_report"):
            report = mirror_lag_report(self.spark, mirror, {"orders": source}, self.target).collect()
        out["lag_report.ms"] = (time.perf_counter() - t0) * 1000.0
        if not all(r["sync_status"] == "SYNCED" for r in report):
            self.mismatches += 1
            self.failures.append(f"lag report after the drain: {report}")
        out["target.files_read"] = _parquet_files(tdir)
        for when in ("pre_compact", "post_compact"):
            t0 = time.perf_counter()
            with tr.span("cdc.read_target"):
                read_target(self.spark, mirror, "orders", self.target).count()
            out[f"target.read_ms.{when}"] = (time.perf_counter() - t0) * 1000.0
            if when == "pre_compact":
                t0 = time.perf_counter()
                with tr.span("cdc.compact_target"):
                    compact_target(self.spark, mirror, "orders", self.target)
                out["compact.s"] = time.perf_counter() - t0
        base = max(d for d in os.listdir(tdir) if d.startswith("base_v"))
        out["compact.bytes_rewritten"] = _dir_bytes(os.path.join(tdir, base))
        self.mismatches += self._check_target()

        t0 = time.perf_counter()
        with tr.span("cdc.snapshot_load"):
            snapshot_load(
                self.spark, source,
                TableMapping("orders", "orders_copy", DEMO_SCHEMAS["orders"]),
                os.path.join(self.work, "snapshot_copy"), snapshot_lsn=1,
            )
        out["snapshot.load_s"] = time.perf_counter() - t0
        return out

    def _stale_reads(self, wal: dict, batch_of_file: dict, commit_time: dict) -> int:
        """Reads of the mirrored table that miss a micro-batch committed
        before they were sent."""
        batches: dict[int, list] = {}
        for name, b in batch_of_file.items():
            batches.setdefault(b, []).append(name)
        history = list(ref.batch_states(batches, wal))  # [(batch, state)]
        summaries = []
        for b, state in history:
            summaries.append((b, len(state), max(state) if state else None, state))
        stale = 0
        for rd in self.reads:
            if not rd.get("ok") or rd["kind"] not in ("lookup", "count_max"):
                continue
            before = [i for i, s in enumerate(summaries) if commit_time.get(s[0], 1e300) < rd["sent"]]
            acceptable = summaries[before[-1] if before else 0:]
            if rd["kind"] == "count_max":
                got = tuple(rd["rows"][0]) if rd["rows"] else None
                ok = any(got == (str(n), str(m)) for _b, n, m, _s in acceptable)
            else:
                key = rd["key"]
                got = rd["rows"][0] if rd["rows"] else None
                ok = False
                for _b, _n, _m, state in acceptable:
                    row = state.get(key)
                    want = None if row is None else tuple(
                        ref.canon(row[0].get(c)) for c in COLUMNS
                    ) + (ref.canon(row[1]),)
                    if got == want:
                        ok = True
                        break
            if not ok:
                stale += 1
                self.failures.append(f"stale {rd['kind']} read of orders_cdc: {got}")
        return stale

    def _check_reads(self) -> int:
        """Wrong answers among the replication and fixture-view reads."""
        import duckdb

        con = duckdb.connect()
        for t in ("lineitem", "orders", "customer", "nation"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.corpus}/{t}.parquet')")
        want = [
            [tuple(ref.canon(v) for v in r) for r in con.execute(sql).fetchall()]
            for sql in ANALYTIC_SQL
        ]
        con.close()
        bad = 0
        for rd in self.reads:
            if not rd.get("ok"):
                continue
            if rd["kind"].startswith("analytic"):
                if [tuple(r) for r in rd["rows"]] != want[int(rd["kind"][-1])]:
                    bad += 1
                    self.failures.append(f"{rd['kind']} answered wrongly")
            elif rd["kind"] == "replication":
                if not any(MIRROR in r for r in rd["rows"]):
                    bad += 1
                    self.failures.append("pg_stat_replication lacks the mirror")
        return bad

    # -- run -------------------------------------------------------------
    def run(self) -> dict:
        from peerdb_cdc_psql_psql_spark.operators import sql_frontend
        from peerdb_cdc_psql_psql_spark.streaming import workload

        tr = self.tracer
        if tr.enabled:
            dml = sql_frontend.execute_dml_command

            def spanned_dml(spark, sql, **kw):
                with tr.span("sql_frontend." + sql.split(None, 1)[0].lower()):
                    return dml(spark, sql, **kw)

            sql_frontend.execute_dml_command = spanned_dml
        tr.wrap(workload, "allocate_lsns", "wal.allocate_lsns")
        tr.wrap(workload, "append_events", "wal.append_events")

        self.corpus = os.path.join(self.work, "corpus")
        fixtures.write_corpus(self.corpus, self.seed, CORPUS_SF)
        reps = []
        for rep in range(SETUP_REPS):
            reps.append(self._bring_up(rep))
            if rep < SETUP_REPS - 1:
                self._tear_down_mirror()
        setup_s = self.engine.start_s + ref.median(reps)
        log(f"set-up done: session start {self.engine.start_s:.2f}s, set-ups "
            + " ".join(f"{r:.2f}s" for r in reps))

        self.statements: list[dict] = []
        self.writers = [PgConnection("127.0.0.1", self.server.port) for _ in range(WRITERS)]
        self.reader = PgConnection("127.0.0.1", self.server.port)
        watch = _CommitWatch(self.ckpt)
        try:
            for kind in READ_KINDS:  # first use registers views; not timed
                self._read(self.reader, {"kind": kind, "key": 1, "due": time.perf_counter(), "late_ms": 0.0})
            log("warm-up reads done")
            capacity = self._capacity()
            self._wait_applied(timeout=60)
            log("capacity phase done")
            jobs0, gc0 = self.engine.jobs_started(), self.engine.gc_ms()
            self.engine.reset_heap_peak()
            group_jobs0 = self._writer_jobs()
            self.tracer.reset()
            t_window, wall0 = time.perf_counter(), time.time()
            self._open_loop()
            window_s, wall1 = time.perf_counter() - t_window, time.time()
            jobs1, gc1 = self.engine.jobs_started(), self.engine.gc_ms()
            heap_peak = self.engine.heap_peak_mb()
            group_jobs = self._writer_jobs() - group_jobs0
            log("open-loop window done")
            self._wait_applied(timeout=60)
            log("mirror drained")
        finally:
            for c in [*self.writers, self.reader]:
                c.close()
            watch.stop()
        query = next(q for q in self.spark.streams.active if q.name == f"mirror-{MIRROR}")
        progress = [
            p for p in query.recentProgress
            if p["numInputRows"] > 0 and wall0 <= _epoch(p["timestamp"]) <= wall1
        ]
        query.stop()
        self.server.stop()
        # measured with the mirror stopped: a running stream's in-flight
        # state moved it by 10 % between runs
        live_heap = self.engine.live_heap_mb()

        checked = self._verify()
        batch_of_file = ref.file_batches(ref.read_source_log(os.path.join(self.ckpt, "sources", "0")))
        acked = checked["acked"]
        window = [s for s in self.window_writes if s.get("ok")]
        in_window = {id(s) for s in window}
        lags = ref.lag_samples(
            acked,
            {i: f for i, f in checked["stmt_file"].items() if id(acked[i]) in in_window},
            batch_of_file, watch.times,
        )
        stale = self._stale_reads(checked["wal"], batch_of_file, watch.times)
        wrong_reads = self._check_reads()
        log("verification done")
        upkeep = self._maintenance()
        log("maintenance done")

        attempted = len(self.statements) + len(self.reads)
        failed = min(attempted, self.errors + stale + wrong_reads + self.mismatches)
        acks = [s["lat_ms"] for s in self.window_writes if s.get("ok")]
        read_lat = [r["lat_ms"] for r in self.reads if r.get("ok")]
        log("write acks ms: " + " ".join(
            f"{s['op']}{s['lat_ms']:.0f}" for s in self.window_writes if s.get("ok")
        ))
        e2e = {
            "setup_s": setup_s,
            "op_p50_ms": ref.percentile(acks, 50),
            "ops_per_s": capacity,
            "ok_op_share": 1.0 - failed / attempted,
            "live_heap_mb": live_heap,
        }
        wal_files = self._wal_files()
        layer = {
            "oltp.write_ack_p50_ms": ref.percentile(acks, 50),
            "oltp.write_ack_p90_ms": ref.percentile(acks, 90),
            "oltp.repl_lag_p50_ms": ref.percentile(lags, 50) if lags else 0.0,
            "oltp.repl_lag_p90_ms": ref.percentile(lags, 90) if lags else 0.0,
            "oltp.read_p50_ms": ref.percentile(read_lat, 50),
            "oltp.read_p90_ms": ref.percentile(read_lat, 90),
            "oltp.write_capacity_stmt_per_s": capacity,
            "oltp.write_samples": len(acks),
            "oltp.lag_samples": len(lags),
            "oltp.read_samples": len(read_lat),
            "oltp.generator_late_ms.p90": ref.percentile(
                [s["late_ms"] for s in self.window_writes] + [r["late_ms"] for r in self.reads], 90
            ),
            "dml.insert_ms.p50": self._span_p50("sql_frontend.insert"),
            "dml.update_ms.p50": self._span_p50("sql_frontend.update"),
            "dml.delete_ms.p50": self._span_p50("sql_frontend.delete"),
            "dml.spark_jobs_per_stmt": group_jobs / max(1, len(window)),
            "wal.allocate_lsns_ms.p50": self._span_p50("wal.allocate_lsns"),
            "wal.append_events_ms.p50": self._span_p50("wal.append_events"),
            "wal.files": len(wal_files),
            "wal.bytes": sum(os.path.getsize(os.path.join(self.wal, n)) for n in wal_files),
            **_merge_layer(progress, window_s, self.target, query.recentProgress),
            "wire.read_overhead_ms.p50": ref.percentile(
                [r["wire_ms"] - r["direct_ms"] for r in self.reads if "direct_ms" in r], 50
            ) if any("direct_ms" in r for r in self.reads) else 0.0,
            "wire.rows_out": sum(len(r.get("rows", [])) for r in self.reads),
            "wire.bytes_out": sum(r.get("bytes", 0) for r in self.reads),
            "wire.stale_reads": stale,
            **upkeep,
            "jvm.peak_rss_mb": self.engine.peak_rss_mb(),
            "jvm.gc_ms": gc1 - gc0,
            "jvm.heap_peak_mb": heap_peak,
            "spark.jobs": jobs1 - jobs0,
        }
        return {
            "attempted": attempted, "failed": failed,
            "correct": self.mismatches == 0 and wrong_reads == 0,
            "e2e": e2e, "layer": layer, "failures": self.failures,
        }

    def _span_p50(self, name: str) -> float:
        return self.tracer.p(name, 50) if self.tracer.enabled else 0.0

    def _writer_jobs(self) -> int:
        """Spark jobs run so far under the writer connections' job
        groups. The server numbers connections from 1; the writers are
        the ones opened right after the set-up connection."""
        st = self.spark.sparkContext.statusTracker()
        return sum(len(st.getJobIdsForGroup(f"wire-conn-{pid}")) for pid in range(2, 2 + WRITERS))


def _parquet_files(path: str) -> int:
    return sum(sum(1 for f in fns if f.endswith(".parquet")) for _d, _s, fns in os.walk(path))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _s, fns in os.walk(path) for f in fns if f.endswith(".parquet")
    )


def _epoch(stamp: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def _merge_layer(progress: list, window_s: float, target: str, life: list) -> dict:
    """Micro-batch merge metrics from Spark's streaming progress:
    timings and counts over the window's batches; the collapse ratio
    (delta rows written per event read) over the mirror's life."""
    add = [p["durationMs"].get("addBatch", 0) for p in progress]
    trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    delta_dir = os.path.join(target, "orders_cdc", "delta")
    delta_files = [n for n in os.listdir(delta_dir) if n.endswith(".parquet")] if os.path.isdir(delta_dir) else []
    delta_rows = sum(pq.ParquetFile(os.path.join(delta_dir, n)).metadata.num_rows for n in delta_files)
    life_events = sum(p["numInputRows"] for p in life)
    return {
        "merge.batches": len(progress),
        "merge.events_in": sum(p["numInputRows"] for p in progress),
        "merge.add_batch_ms.p50": ref.percentile(add, 50) if add else 0.0,
        "merge.add_batch_ms.p90": ref.percentile(add, 90) if add else 0.0,
        "merge.overhead_ms.p50": ref.percentile([t - a for t, a in zip(trig, add)], 50) if add else 0.0,
        "merge.idle_share": max(0.0, 1.0 - sum(trig) / 1000.0 / window_s),
        "merge.collapse_ratio": delta_rows / life_events if life_events else 0.0,
        "merge.delta_files": len(delta_files),
    }
