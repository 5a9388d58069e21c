"""``llm_curation``: 9 LLM-pipeline registry queries on seeded documents
and embeddings, one client in a closed loop.

It stresses the pandas/Arrow kernels in ``functions/`` and the Spark
jobs some queries launch while they are being built. Each timed query
is built, planned and executed to a pandas result; after the timed
passes, each query's first result is compared with its DuckDB oracle,
so a run checks every query it times without executing it again.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import harness, stats
from perfbench.data import write_llm_tables

# Nine of the registry's LLM-pipeline queries, one to three per stage of
# a curation pipeline. Together they start Python evaluation nodes
# (q_dedup_embedding) and Spark jobs while being built (q_tf_idf,
# q_bm25_scoring). On a 4-core machine (2 Spark cores) a warm pass costs
# 5-7 s and the first about three times that; more of the registry's LLM
# queries (q_sim_topk_ivf alone costs about 5 s) would not fit the
# benchmark's time budget.
QUERIES = (
    "q_text_normalize", "q_text_quality", "q_pii_redact",  # text
    "q_dedup_exact_content", "q_dedup_embedding", "q_fragment_dedup",  # dedup
    "q_sim_topk_search",  # similarity
    "q_tf_idf", "q_bm25_scoring",  # indexing
)
# Set-up runs one untimed pass over all queries. The first pass pays
# the JVM's code generation and just-in-time compilation and the first
# start of Spark's Python workers: on an idle 4-core machine it takes
# about twice as long as the third, and how much longer varies with the
# host, so timing it would measure the warm-up, not the queries.
WARMUP_PASSES = 1
TABLES = ("documents", "embeddings")
# The fixture size the per-query cost is flat at: below it the queries
# are all fixed overhead, above it one pass no longer fits a run.
N_DOCS = N_VECS = 500

SMOKE_QUERIES = ("q_text_normalize", "q_dedup_exact_content", "q_sim_topk_search")
SMOKE_ROWS = 100


def pass_order(seed: int, pass_no: int, names) -> list[str]:
    """The seeded query order of one pass."""
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def oracle_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_results(results: dict, sf_dir: str, ops: harness.Ops) -> None:
    """Compare each query's result with its DuckDB oracle, using the
    same comparator the library's own tests use."""
    from zmaxion_spark import testing
    from zmaxion_spark.queries import REGISTRY

    con = oracle_connection(sf_dir)
    try:
        for name, pdf in results.items():
            q = REGISTRY[name]
            try:
                odf = con.execute(q.oracle).fetchdf() if q.oracle else None
                r = testing.driver_canon_hazards(name, pdf, odf)
                if r is None and odf is not None:
                    r = testing.compare_frames(name, pdf, odf)
                ops.check(f"oracle {name}", r is None or r.ok, r.detail if r else "")
            except Exception as e:  # noqa: BLE001 - a broken check is a failed op
                ops.fail(f"oracle {name}", repr(e))
    finally:
        con.close()


def run(work: str, seed: int, seconds: float, traced: bool, smoke: bool):
    from zmaxion_spark.queries import REGISTRY

    names = SMOKE_QUERIES if smoke else QUERIES
    n_rows = SMOKE_ROWS if smoke else N_DOCS
    sf_dir = os.path.join(work, "data")
    write_llm_tables(sf_dir, seed, n_rows, n_rows)
    ops = harness.Ops()
    tracer = harness.Tracer(traced)

    t0 = time.perf_counter()
    spark = harness.start_spark()
    start_s = time.perf_counter() - t0
    try:
        for w in range(WARMUP_PASSES):
            for name in pass_order(seed, -1 - w, names):
                REGISTRY[name].fn(spark, sf_dir).toPandas()
        setup_s = time.perf_counter() - t0
        pid = harness.jvm_pid()

        counters = mark = loads = restore = None
        if traced:
            with tracer.hook():
                counters = harness.SparkCounters(spark)
                mark = counters.mark()
                loads, restore = harness.wrap_load_table(tracer)
        sc = spark.sparkContext
        samples: dict[str, list[float]] = {n: [] for n in names}
        pass_s: list[float] = []
        results: dict = {}
        build_groups: list[str] = []
        start = time.perf_counter()
        pass_no = 0
        while True:
            p0 = time.perf_counter()
            with tracer.span("pass", op=f"pass{pass_no}"):
                for name in pass_order(seed, pass_no, names):
                    q = REGISTRY[name]
                    op = f"pass{pass_no}:{name}"
                    t = time.perf_counter()
                    try:
                        with tracer.span("query", op=op):
                            if traced:
                                group = f"pb-build-{len(build_groups)}"
                                build_groups.append(group)
                                sc.setJobGroup(group, op)
                            try:
                                with tracer.span("build", op=op):
                                    df = q.fn(spark, sf_dir)
                            finally:
                                if traced:
                                    sc.setLocalProperty("spark.jobGroup.id", None)
                            if traced:
                                with tracer.span("plan", op=op):
                                    df._jdf.queryExecution().executedPlan()
                            with tracer.span("execute", op=op):
                                pdf = df.toPandas()
                    except Exception as e:  # noqa: BLE001 - count and go on
                        ops.fail(f"query {name}", repr(e))
                        continue
                    samples[name].append(time.perf_counter() - t)
                    ops.ok()
                    results.setdefault(name, pdf)
            pass_s.append(time.perf_counter() - p0)
            pass_no += 1
            if time.perf_counter() - start >= seconds:
                break

        layer: dict[str, float] = {}
        if traced:
            with tracer.hook():
                restore()
                layer.update(counters.session_since(mark))
                layer.update(counters.python_since(mark))
                tracker = sc.statusTracker()
                layer["queries.build_jobs"] = float(
                    sum(len(tracker.getJobIdsForGroup(g)) for g in build_groups)
                )
            layer["catalog.load_table_calls"] = float(loads["calls"])
            layer["catalog.load_table_s"] = loads["s"]
            for kind, key in (("build", "build_s"), ("plan", "plan_s"), ("execute", "exec_s")):
                layer[f"queries.{key}"] = sum(
                    s["end"] - s["start"] for s in tracer.spans if s["name"] == kind
                )
            for kind, v in tracer.self_time_by_name().items():
                layer[f"self.{kind}_s"] = v
            for name, xs in samples.items():
                if xs:
                    layer[f"query.{name}_s"] = stats.median(xs)
            layer["trace.hook_s"] = tracer.hook_s
            layer["trace.work_s"] = sum(pass_s) / len(pass_s)
            layer["session.peak_rss_mb"] = harness.peak_rss_mb(pid)
    finally:
        harness.stop_spark(spark)

    check_results(results, sf_dir, ops)
    flat = [x for xs in samples.values() for x in xs]
    if not flat:
        raise RuntimeError("no query completed")
    q_ms = stats.geomean_of_medians(samples.values()) * 1000.0
    # In a closed loop a query is due when the previous one finishes, so
    # its latency is its own time. A median pooled over all queries would
    # sit between two queries of different cost and jump between them.
    e2e = {
        "setup_s": setup_s,
        "work_s": sum(pass_s) / len(pass_s),
        "op_ms": q_ms,
        "latency_ms": q_ms,
    }
    info = {
        "spark_start_s": round(start_s, 3),
        "passes": len(pass_s),
        "pass_s": [round(x, 3) for x in pass_s],
        "query_samples": len(flat),
        "query_ms": {n: [round(x * 1000.0, 1) for x in xs] for n, xs in samples.items()},
    }
    return ops, tracer, e2e, layer, info
