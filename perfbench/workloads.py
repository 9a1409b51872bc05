"""The two benchmark workloads.

Every workload runs in one fresh SparkSession and follows the same shape:

* set-up: write the seeded inputs (three times; the median write counts)
  and start the session;
* the cold job: the workload's job once, first thing in the session --
  the shape of a CLI command;
* the warm job: the same job again, repeated ``MIN_WARM_RUNS`` times and
  then until ``seconds`` have passed since the first repetition began.
  A fixed count keeps the median over the same number of samples on a
  slow or a fast host: the warm closes still speed up one after another
  (JIT), so a median over fewer of them reads slower.

``close_csv`` closes a month from CSV.  Between the cold and the warm
closes it exports the curated month (BI CSVs, star schema, dashboard).  In
a traced run it then ingests the month into the typed raw lake and closes
it lake-fed, and that close must reproduce the CSV close's KPI table.
``queries_sf01`` runs a set of registry queries.  Every engine call is one
attempted operation; it fails if it raises or if its output fails a check.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import closegen
import sfgen
from spans import Tracer

MONTH = closegen.MONTH
# Fewest timed warm repetitions per run, however short ``--seconds`` is.
MIN_WARM_RUNS = 3
CLOSE_STAGES = ("dq_sweep", "dq_audit_write", "fact_write", "kpi_agg", "kpi_dim_write")
# Registry queries timed by queries_sf01: small plans with shuffles (join,
# pivot, window top-k), a text and a vector operator, and the Python seam
# (an Arrow UDTF).
QUERY_SET = (
    "flagship_revenue_by_month",
    "status_pivot",
    "topk_customers",
    "docs_quality",
    "embedding_cosine_topk",
    "events_user_sessions_udtf",
)


@dataclass(frozen=True)
class Size:
    close_rows: int
    sf: float
    queries: tuple[str, ...]


SIZES = {
    "full": Size(close_rows=50_000, sf=0.1, queries=QUERY_SET),
    "tiny": Size(close_rows=2_000, sf=0.001, queries=QUERY_SET[:2]),
}


@dataclass
class Outcome:
    """What one workload run measured and checked."""

    setup_s: float = 0.0
    cold_s: float = 0.0
    warm_runs: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    kpi_cents_md5: str | None = None

    def op(self, name: str, fn, *args, **kwargs):
        """Run one engine operation; count it, and count it failed if it
        raises.  Returns the result, or None on failure."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 -- a failed operation is a result
            self.fail(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)

    def check(self, ok: bool, problem: str) -> None:
        """A correctness check on the last operation's output."""
        if not ok:
            self.fail(problem)

    @property
    def warm_s(self) -> float:
        return statistics.median(self.warm_runs) if self.warm_runs else 0.0


def _timed_setup(out: Outcome, start_session, write_inputs) -> object:
    gens = []
    for _ in range(3):
        t0 = time.perf_counter()
        write_inputs()
        gens.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    out.setup_s = session_s + statistics.median(gens)
    out.layers["session.start_s"] = session_s
    return spark


def _repeat(seconds: float, body) -> None:
    """Run ``body`` ``MIN_WARM_RUNS`` times, and again while fewer than
    ``seconds`` have passed since the first run began."""
    t_start = time.perf_counter()
    runs = 0
    while runs < MIN_WARM_RUNS or time.perf_counter() - t_start < seconds:
        body()
        runs += 1


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


# -- closes -------------------------------------------------------------------


def check_close(out: Outcome, result: dict | None, curated: str, total_rows: int) -> str | None:
    """Check one close and return its KPI-cents md5: DuckDB recomputes the
    KPI table in exact cents from the curated fact + dim and compares every
    cell, the fact holds exactly the input rows, and the DQ sweep found
    exactly the seeded WARN rows."""
    from stress_pipeline import verify_close_outputs

    if result is None:
        return None
    metrics = result["metrics"]
    expected_dq = closegen.expected_warn_rows(total_rows)
    out.check(metrics["fact_rows"] == total_rows,
              f"fact_rows {metrics['fact_rows']} != input rows {total_rows}")
    out.check(metrics["dq_exception_rows"] == expected_dq,
              f"dq_exception_rows {metrics['dq_exception_rows']} != {expected_dq}")
    v = verify_close_outputs(curated, metrics["fact_rows"], total_rows)
    out.check(v["ok"] and v["fact_rows_match_input"], f"KPI recompute mismatch: {v}")
    return v["kpi_cents_md5"]


def _close(out: Outcome, tr: Tracer, span: str, spark, ctx, raw=None, lake=None):
    """One checked ``run_month``; returns (seconds, stage seconds,
    close metrics, KPI md5)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.config import Settings
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline import run_month

    curated = os.path.join(ctx.work, "curated")
    spark.catalog.clearCache()
    shutil.rmtree(curated, ignore_errors=True)
    with tr.span(span) as sp:
        res = out.op(span, run_month, spark, Settings(), MONTH, raw, curated,
                     os.path.join(ctx.work, "ref"), fail_on="ERROR", raw_lake_dir=lake)
    md5 = check_close(out, res, curated, ctx.size.close_rows)
    stages = {k: float(v) for k, v in (res or {}).get("stage_seconds", {}).items()}
    tr.add_children(sp, stages)
    return sp.seconds, stages, (res or {}).get("metrics", {}), md5


def _exports(out: Outcome, tr: Tracer, spark, curated: str, work: str) -> None:
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.dashboard import build_dashboard
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.exports import export_bi_datasets
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.star import export_star_schema

    calls = (
        ("export_bi", "exports.bi_s", export_bi_datasets, os.path.join(work, "bi")),
        ("export_star", "star.export_s", export_star_schema, os.path.join(work, "star")),
        ("dashboard", "dashboard.build_s", build_dashboard, os.path.join(work, "dashboard.html")),
    )
    total = 0.0
    for span, layer, fn, dest in calls:
        spark.catalog.clearCache()
        with tr.span(span) as sp:
            path = out.op(span, fn, spark, curated, MONTH, dest)
        out.layers[layer] = sp.seconds
        total += sp.seconds
        if path is not None:
            path = str(path)
            files = [path] if os.path.isfile(path) else [
                os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            ]
            out.check(bool(files) and all(os.path.getsize(f) > 0 for f in files),
                      f"{span}: empty output under {path}")
    out.named["export_s"] = (total, "s")


def run_close(ctx) -> Outcome:
    """``close_csv``: cold close, exports, warm closes, and in a traced run
    the lake-fed path (ingest + close) on the same month."""
    from finance_etl_pipeline_monthly_close_dataset_spark.sources.raw_lake import (
        ingest_raw_to_lake,
    )

    out = Outcome()
    work, tr = ctx.work, ctx.tracer
    raw, lake = os.path.join(work, "raw"), os.path.join(work, "raw_lake")
    spark = _timed_setup(out, ctx.start_session, lambda: closegen.generate(
        raw, os.path.join(work, "ref"), ctx.size.close_rows, ctx.seed))
    tr.spark = spark

    out.cold_s, _, _, md5 = _close(out, tr, "close_cold", spark, ctx, raw=raw)
    _exports(out, tr, spark, os.path.join(work, "curated"), work)

    warm_stages: list[dict] = []
    counts: dict = {}

    def warm():
        secs, stages, metrics, _ = _close(out, tr, "close", spark, ctx, raw=raw)
        out.warm_runs.append(secs)
        warm_stages.append({**stages, "self": secs - sum(stages.values())})
        counts.update(metrics)

    _repeat(ctx.seconds, warm)
    for st in CLOSE_STAGES + ("self",):
        out.layers[f"pipeline.{st}_s"] = statistics.median(s.get(st, 0.0) for s in warm_stages)
    out.layers["pipeline.dq_exception_rows"] = counts.get("dq_exception_rows", 0)
    out.layers["pipeline.fact_rows"] = counts.get("fact_rows", 0)

    out.kpi_cents_md5 = md5
    out.named.update({"close_cold_s": (out.cold_s, "s"), "close_s": (out.warm_s, "s")})
    if ctx.trace:
        # the lake-fed read path on the same month, after the timed closes
        # (it adds ~13 s a run); its KPI must equal the CSV close's
        spark.catalog.clearCache()
        with tr.span("ingest") as sp:
            res = out.op("ingest", ingest_raw_to_lake, spark, MONTH, raw, lake)
        out.check(res is None or len(res) == 5, f"ingest wrote {res}")
        lake_s, _, _, lake_md5 = _close(out, tr, "lake_close", spark, ctx, lake=lake)
        out.check(lake_md5 == md5, f"lake-fed KPI md5 {lake_md5} != CSV close md5 {md5}")
        ratio = (dir_bytes(os.path.join(work, "curated")) + dir_bytes(lake)) / dir_bytes(raw)
        out.layers.update({
            "raw_lake.ingest_s": sp.seconds,
            "pipeline.lake_close_s": lake_s,
            "stored_bytes_per_input_byte": ratio,
        })
        out.named.update({
            "ingest_s": (sp.seconds, "s"),
            "lake_close_s": (lake_s, "s"),
            "stored_bytes_per_input_byte": (ratio, "ratio"),
        })
    return out


# -- registry queries -----------------------------------------------------------


def run_queries(ctx) -> Outcome:
    """``queries_sf01``: the cold pass collects each query and checks it
    against its DuckDB oracle (the check is not timed); an untimed pass and
    then every warm pass write each query to the noop sink, the warm passes
    in a seeded order, with the cache cleared before each query."""
    import duckdb
    from check_contract import compare

    from finance_etl_pipeline_monthly_close_dataset_spark import contract

    out = Outcome()
    size, tr = ctx.size, ctx.tracer
    sf_dir = os.path.join(ctx.work, "sf")
    spark = _timed_setup(out, ctx.start_session, lambda: sfgen.generate(sf_dir, size.sf, ctx.seed))
    tr.spark = spark

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(ctx.work, 'duckdb_tmp')}'")
    for tbl in sfgen.TABLES:
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'")

    def collect(name):
        df = contract.QUERIES[name](spark, sf_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    with tr.span("queries_cold"):
        for name in size.queries:
            spark.catalog.clearCache()
            with tr.span(name) as sp:
                got = out.op(name, collect, name)
            out.cold_s += sp.seconds
            if got is None:
                continue
            res = con.execute(contract.ORACLES[name])
            problems = compare(name, got[1], got[0], res.fetchall(),
                               [d[0] for d in res.description])
            out.check(not problems, f"{name}: oracle mismatch: {problems[:2]}")
    con.close()

    per_query: dict[str, list[float]] = {n: [] for n in size.queries}
    rng = random.Random(ctx.seed)

    def to_noop(name):
        contract.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    def warm_pass():
        order = list(size.queries)
        rng.shuffle(order)
        t0 = time.perf_counter()
        for name in order:
            spark.catalog.clearCache()
            with tr.span(name) as sp:
                out.op(name, to_noop, name)
            per_query[name].append(sp.seconds)
        out.warm_runs.append(time.perf_counter() - t0)

    # one untimed noop pass first: without it the first timed pass was the
    # slowest of the three in every run (the noop writes are still being
    # compiled), and the median of the three followed how far the JIT had got
    with tr.span("queries_warmup"):
        for name in size.queries:
            spark.catalog.clearCache()
            out.op(name, to_noop, name)
    with tr.span("queries"):
        _repeat(ctx.seconds, warm_pass)
    medians = {n: statistics.median(v) for n, v in per_query.items()}
    for n, v in medians.items():
        out.layers[f"query.{n}_s"] = v
    geomean = math.exp(statistics.fmean(math.log(v) for v in medians.values()))
    out.layers["queries.geomean_s"] = geomean
    out.named.update({
        "queries_cold_pass_s": (out.cold_s, "s"),
        "queries_pass_s": (out.warm_s, "s"),
        "query_geomean_s": (geomean, "s"),
    })
    return out


WORKLOADS = {"close_csv": run_close, "queries_sf01": run_queries}
