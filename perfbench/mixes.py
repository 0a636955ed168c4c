"""query_mix: the reference-parity/relational and LLM-curation
``queries()`` entries over seeded star-schema + corpus tables.

The tables come from sfgen.py at ``SCALE`` times the TPC-H SF1 row
counts (lineitem ~120k rows, 1k documents, 400 embeddings). One
closed-loop client runs the mix in a fixed order, pass after pass,
until ``--seconds`` have passed (at least ``MIN_PASSES`` passes);
each query's result is collected, so a query's latency covers plan,
execution and fetching its rows. Before timing, the Python-worker
daemon is started and one untimed pass warms the JVM and the
session's caches, as a long-lived session would be. After timing,
every collected result of every pass is checked against the entry's
``oracle_sql()`` DuckDB twin.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from metrics import op_metrics, tail
from sfgen import write_tables

# reference parity + relational (plans.flagship, plans.olap, the
# latest-wins operator the upsert sink reads with): scans, broadcast
# joins, aggregates, windows
CATALOG_OLAP = ("flagship_segmentation", "q1_pricing_summary", "upsert_latest")
# LLM curation (operators: dedup, similarity, textops): LSH shuffles
# and a Python-worker kernel (pydaemon, pandas UDF)
LLM_CURATION = ("dedup_minhash_lsh", "ann_cosine_topk", "quality_score")
QUERIES = CATALOG_OLAP + LLM_CURATION
SCALE = 0.02
# absolute tolerance of float columns where the engines may differ by
# more than rounding noise: ROUND(avg, 2) of a double that sits on a half
# cent goes up in one engine and down in the other
ABS_TOL = {"flagship_segmentation": 0.0101}
MIN_PASSES = 1


def _release(spark) -> None:
    """Drop what a query cached, as a long-lived session must between
    unrelated queries."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while rdds.hasNext():
        rdds.next()._2().unpersist(False)


def _first_udf(spark) -> None:
    """The session's first Python-worker stage."""
    spark.range(0, 1000, numPartitions=4).mapInPandas(
        lambda batches: batches, "id long"
    ).count()


def _norm(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(r[i] for i in order) for r in rows), key=repr)


def _same(a: list[tuple], b: list[tuple], abs_tol: float) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if x != y and not all(
            u == v
            or (isinstance(u, float) and isinstance(v, float)
                and math.isclose(u, v, rel_tol=1e-9, abs_tol=abs_tol))
            for u, v in zip(x, y)
        ):
            return False
    return True


def _check(data: str, oracles: dict, results: dict) -> list[tuple[str, str]]:
    import duckdb

    from whatdropsnow_etl_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{name}.parquet'")
    failures = []
    for name, (cols, runs) in results.items():
        cur = con.execute(oracles[name])
        dcols = [d[0] for d in cur.description]
        want = _norm(dcols, cur.fetchall())
        if sorted(dcols) != sorted(cols):
            failures += [(f"{name}#{p}", f"columns {cols} vs {dcols}") for p in range(len(runs))]
            continue
        for p, rows in enumerate(runs):
            got = _norm(cols, rows)
            if not _same(got, want, ABS_TOL.get(name, 1e-12)):
                failures.append((f"{name}#{p}", f"{len(got)} rows vs DuckDB {len(want)}"))
    return failures


def _run_query(fn, spark, data: str) -> tuple[list[str], list]:
    df = fn(spark, data)
    return df.columns, df.collect()


def run(bench) -> dict:
    import __spark_entry__ as entry

    tr = bench.tracer
    data = os.path.join(bench.work, "data")
    write_tables(data, bench.seed, SCALE)
    registry = entry.queries()

    t_setup = time.perf_counter()
    spark = bench.start_session()
    bench.begin_phase("warmup")
    t = time.perf_counter()
    bench.traced("pydaemon.first_udf", _first_udf, spark)
    first_udf_s = time.perf_counter() - t
    for name in QUERIES:
        registry[name](spark, data).collect()
        _release(spark)
    setup_s = time.perf_counter() - t_setup

    if tr is not None:
        tr.wrap(entry, "load_table", "tables.load")
        tr.wrap(entry, "load_tables", "tables.load")
    passes: list[tuple[float, float]] = []  # (wall, CPU) per pass
    jit: list[float] = []  # JIT compiler CPU per pass
    ops: dict[str, list[tuple[float, float]]] = {name: [] for name in QUERIES}
    results: dict[str, tuple[list[str], list]] = {}
    t_loop = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_loop < bench.seconds:
        phase = f"pass{len(passes)}"
        bench.begin_phase(phase)
        j_pass = bench.jit_s()
        for name in QUERIES:
            bench.calibrate()
            c = bench.cpu_s()
            t = time.perf_counter()
            cols, rows = bench.traced(
                f"query.{name}", _run_query, registry[name], spark, data
            )
            _release(spark)
            ops[name].append((time.perf_counter() - t, bench.cpu_s() - c))
            results.setdefault(name, (cols, []))[1].append(rows)
        # a pass is its queries, without the calibrations between them
        passes.append(tuple(sum(ops[name][-1][i] for name in QUERIES) for i in (0, 1)))
        jit.append(bench.jit_s() - j_pass)
        if len(passes) == 1:
            bench.count_jobs("pass", phase)
    peak_rss = bench.jvm_peak_rss_mb()

    bench.begin_phase("check")
    failures = _check(data, entry.oracle_sql(), results)
    samples = [op for runs in ops.values() for op in runs]
    end_to_end, per_layer = op_metrics(
        setup_s,
        (statistics.median(w for w, _ in passes), statistics.median(c for _, c in passes)),
        ops,
        bench.host_speed(),
    )
    walls = [w for w, _ in samples]
    info = {
        "mix_s": per_layer["wall.cycle_s"][0],
        "query_p50_s": statistics.median(walls),
        "query_tail_s": tail(walls),
        "query_tail_percentile": 100.0 * (len(walls) - 10) / len(walls) if len(walls) >= 40 else 100.0,
        "peak_rss_mb": peak_rss,
        "passes": len(passes),
        "calibration_s": statistics.median(bench.calibrations),
        "setup_wall_s": setup_s,
        "pass_jit_s": jit,
        "query_cpu_s": {name: [round(c, 2) for _, c in ops[name]] for name in QUERIES},
        "failures": failures,
    }
    if tr is not None:
        per_layer |= {
            "tables.load_s": (tr.total("tables.load") / len(passes), "s"),
            "pydaemon.first_udf_s": (first_udf_s, "s"),
            "driver.peak_rss_mb": (peak_rss, "MB"),
            **{
                f"query.{name}_s": (statistics.median(w for w, _ in ops[name]), "s")
                for name in QUERIES
            },
        }
    return {
        "attempted": len(samples),
        "failed": len({op for op, _ in failures}),
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "info": info,
    }
