"""``analytics_batch``: the headline registry queries, closed loop.

One client runs the 15 headline queries (relational, monitoring,
CDC-state, dedup, similarity, text, multimodal) through ``registry``
over a fresh copy of the seeded corpus at a new path each pass, so
every path-keyed memo misses as it would for a new corpus. Exercises
``catalog`` and ``operators``; bypasses the wire and streaming. The
first pass's results are checked against each query's DuckDB oracle,
and each pass's warehouse tables are dropped, outside the timed
window.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

import fixtures
import reference as ref
from spans import log

HEADLINE = [
    "pricing_summary", "star_join_revenue", "multiway_star_lineitem",
    "reconciliation_lag", "cdc_merged_state", "log_batch_resource_agg",
    "topk_per_group", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "similarity_topk_cosine", "quality_score", "multimodal_decode_stats",
    "training_data_pipeline", "range_join_incident_windows", "hypertable_rollup",
]
CORPUS_SF = 0.01
WARMUP_SF = 0.002
PASS_S = 12.0  # nominal pass time on a 4-CPU host: the window holds seconds // PASS_S passes
SETUP_REPS = 3


def _canon(v):
    import datetime as dt
    from decimal import Decimal

    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.12g}")
    if isinstance(v, Decimal):
        return float(f"{float(v):.12g}")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "asDict"):
        return tuple(_canon(x) for x in v)
    if isinstance(v, int):
        return float(v)
    return str(v)


def _normal(columns, rows) -> list:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


class AnalyticsBatch:
    def __init__(self, engine, tracer, seed: int, seconds: float, work: str) -> None:
        self.engine, self.tracer, self.seed = engine, tracer, seed
        self.seconds, self.work = seconds, work
        self.spark = engine.spark
        self.failures: list[str] = []

    def _load_catalog(self, path: str) -> float:
        """Engine-side set-up: register a corpus with the catalog (one
        typed load per fixture table); returns seconds."""
        from peerdb_cdc_psql_psql_spark.catalog import load_tables

        t0 = time.perf_counter()
        load_tables(self.spark, path)
        return time.perf_counter() - t0

    def _pass(self, k: int, source: str) -> dict:
        from peerdb_cdc_psql_psql_spark.registry import REGISTRY

        path = os.path.join(self.work, f"corpus_pass{k}")
        shutil.copytree(source, path)
        before = {t.name for t in self.spark.catalog.listTables()}
        times, results = {}, {}
        t0 = time.perf_counter()
        for name in HEADLINE:
            q0 = time.perf_counter()
            with self.tracer.span("registry.query", f"pass{k}"):
                df = REGISTRY[name].fn(self.spark, path)
                rows = df.collect()
            times[name] = (time.perf_counter() - q0) * 1000.0
            results[name] = (df.columns, rows)
        wall = time.perf_counter() - t0
        for t in self.spark.catalog.listTables():
            if t.name not in before and not t.isTemporary:
                self.spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        return {"path": path, "times": times, "results": results, "wall": wall}

    def _check_oracles(self, p: dict) -> int:
        import duckdb

        from peerdb_cdc_psql_psql_spark.catalog import FIXTURE_TABLES
        from peerdb_cdc_psql_psql_spark.registry import REGISTRY

        con = duckdb.connect()
        for t in FIXTURE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p['path']}/{t}.parquet')")
        bad = 0
        for name in HEADLINE:
            oracle = REGISTRY[name].oracle
            if not oracle:
                continue  # probabilistic operator: no exact oracle
            cur = con.execute(oracle)
            want = _normal([d[0] for d in cur.description], cur.fetchall())
            cols, rows = p["results"][name]
            if _normal(cols, rows) != want:
                bad += 1
                self.failures.append(f"{name}: result differs from its DuckDB oracle")
        con.close()
        return bad

    def _wrap_catalog_loads(self) -> None:
        """Traced run: span every module-level ``load`` the operators
        imported from ``catalog``."""
        from peerdb_cdc_psql_psql_spark import catalog

        original = catalog.load
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("peerdb_cdc_psql_psql_spark") and getattr(
                mod, "load", None
            ) is original:
                self.tracer.wrap(mod, "load", "catalog.load")

    def run(self) -> dict:
        from peerdb_cdc_psql_psql_spark import operators  # noqa: F401 — fills REGISTRY

        warm = os.path.join(self.work, "warmup")
        fixtures.write_corpus(warm, self.seed, WARMUP_SF)
        shutil.rmtree(self._pass(0, warm)["path"])  # JIT and first-use costs, not timed
        log("warm-up pass done")
        master = os.path.join(self.work, "corpus")
        fixtures.write_corpus(master, self.seed, CORPUS_SF)
        reps = []
        for k in range(SETUP_REPS):
            path = os.path.join(self.work, f"corpus_setup{k}")
            shutil.copytree(master, path)
            reps.append(self._load_catalog(path))
        setup_s = self.engine.start_s + ref.median(reps)
        log(f"set-up done: session start {self.engine.start_s:.2f}s, set-ups "
            + " ".join(f"{r:.2f}s" for r in reps))
        self.tracer.reset()
        if self.tracer.enabled:
            self._wrap_catalog_loads()

        jobs0, gc0 = self.engine.jobs_started(), self.engine.gc_ms()
        self.engine.reset_heap_peak()
        passes: list[dict] = []
        for k in range(1, max(1, int(self.seconds // PASS_S)) + 1):
            passes.append(self._pass(k, master))
            log(f"pass {k}: {passes[-1]['wall']:.2f}s, query ms "
                + " ".join(f"{n}={ms:.0f}" for n, ms in passes[-1]["times"].items()))
            if k > 1:
                shutil.rmtree(passes[-1]["path"])
        jobs1, gc1 = self.engine.jobs_started(), self.engine.gc_ms()
        heap_peak = self.engine.heap_peak_mb()
        live_heap = self.engine.live_heap_mb()
        log(f"{len(passes)} timed passes done")
        wrong = self._check_oracles(passes[0])
        log("oracle check done")

        q_ms = [ms for p in passes for ms in p["times"].values()]
        attempted = len(q_ms)
        e2e = {
            "setup_s": setup_s,
            "op_p50_ms": ref.percentile(q_ms, 50),
            "ops_per_s": attempted / sum(p["wall"] for p in passes),
            "ok_op_share": 1.0 - wrong / attempted,
            "live_heap_mb": live_heap,
        }
        layer = {
            "analytics.suite_s": ref.median([p["wall"] for p in passes]),
            "analytics.passes": len(passes),
            **{f"q.{n}.ms": ref.median([p["times"][n] for p in passes]) for n in HEADLINE},
            "catalog.load_ms.sum": sum(self.tracer.durations_ms("catalog.load")) / len(passes)
            if self.tracer.enabled else 0.0,
            "jvm.peak_rss_mb": self.engine.peak_rss_mb(),
            "jvm.gc_ms": gc1 - gc0,
            "jvm.heap_peak_mb": heap_peak,
            "spark.jobs": jobs1 - jobs0,
        }
        return {
            "attempted": attempted, "failed": wrong, "correct": wrong == 0,
            "e2e": e2e, "layer": layer, "failures": self.failures,
        }
