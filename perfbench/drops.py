"""drops_daily: the reference ETL's daily cycle against a stub drops API.

One stub API process (stub_api.py) serves a seeded catalog
(catalog.py). The cycle, one closed-loop client, timed phase by
phase:

1. cold: ``run_reference_etl`` into empty tables, as the first ETL
   run of a fresh process, so like a daily batch job it pays the
   JVM's warm-up (JIT, code generation, class loading);
2. ``REFRESHES`` refreshes two days apart (outside the 24 h recency
   window), each after the stub moved to a new price epoch, so every
   offer is re-fetched and upserted with a new price on top of the
   merge-on-read history;
3. segment: the R1 segmentation (``flagship_segmentation``) over the
   ETL's own tables with their columns aliased to the star schema.

``setup_s`` is the stub API's and the Spark session's start.

Outside the timed phases every phase's tables are checked against the
catalog's ground truth (row sets, FK-orphan and cross-brand offer
exclusion, latest-wins prices) and the segmentation against DuckDB
running the reference query over the same table contents.
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import json
import os
import statistics
import subprocess
import sys
import time
import urllib.request
from decimal import Decimal

from catalog import build_catalog
from metrics import op_metrics

TABLES = ("brands", "products", "offers", "retailers")

BRANDS, PRODUCTS, OFFERS, RETAILERS = 1, 20, 2, 20
DELAY_MS = 2.0
ERROR_RATE = 0.02
PAGE_SIZE = 10
REFRESHES = 3
CALIBRATIONS = 3  # before each timed phase
T0 = datetime.datetime(2026, 8, 1, 12, 0, 0)

# the reference's sql.py query over the ETL tables, in the exact-decimal
# average form the Spark plan uses (functions.money.exact_avg)
SEGMENT_SQL = """
    WITH per AS (
      SELECT r.id AS rid, r.name AS rname,
             CAST(CAST(SUM(o.price_usd) AS VARCHAR) AS DOUBLE)
               / COUNT(o.price_usd) AS avg_price
      FROM offers o
      JOIN products p ON p.id = o.product_id
      JOIN retailers r ON r.id = o.retailer_id
      WHERE regexp_matches(lower(p.name), '(green|blue|red)')
      GROUP BY r.id, r.name
    ), seg AS (
      SELECT *, CASE WHEN avg_price < 52000 THEN 'Normal'
                     WHEN avg_price BETWEEN 52000 AND 56000 THEN 'High End'
                     ELSE 'Very High End' END AS segment
      FROM per
    )
    SELECT rname AS retailer_name, segment,
           CAST(RANK() OVER (PARTITION BY segment
                ORDER BY avg_price DESC, rid) AS BIGINT) AS retailer_rank,
           ROUND(avg_price, 2) AS avg_product_price_usd
    FROM seg WHERE segment <> 'Very High End'
"""


class StubApi:
    """The stub API server process."""

    def __init__(self, seed: int) -> None:
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [
                sys.executable, os.path.join(here, "stub_api.py"),
                "--seed", str(seed), "--brands", str(BRANDS),
                "--products", str(PRODUCTS), "--offers", str(OFFERS),
                "--retailers", str(RETAILERS), "--delay-ms", str(DELAY_MS),
                "--error-rate", str(ERROR_RATE),
            ],
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.stop()
            raise RuntimeError(f"stub API did not start: {line!r}")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"

    def phase(self, epoch: int, phase: int) -> None:
        urllib.request.urlopen(
            f"{self.url}/control/phase?epoch={epoch}&phase={phase}"
        ).read()

    def stop(self) -> None:
        self.proc.terminate()
        self.proc.wait(timeout=30)


def _landed(base: str, now: datetime.datetime) -> int:
    """Records a run landed: JSON lines under its run-tag directory."""
    tag = now.strftime("%Y%m%dT%H%M%S")
    n = 0
    for path in glob.glob(os.path.join(base, "landing", tag, "**", "*.jsonl"), recursive=True):
        with open(path) as f:
            n += sum(1 for _ in f)
    return n


def _resolved(con, base: str) -> dict[str, list[dict]]:
    """Latest-wins state of each upsert table read straight from its
    parquet files by DuckDB: per key, the row of the newest batch."""
    out = {}
    for name in TABLES:
        files = os.path.join(base, "tables", name, "data", "**", "*.parquet")
        cur = con.execute(
            f"SELECT * EXCLUDE (__batch, __bucket) FROM read_parquet('{files}',"
            " hive_partitioning = 1) QUALIFY ROW_NUMBER() OVER (PARTITION BY id"
            " ORDER BY __batch DESC, updated_at DESC) = 1"
        )
        cols = [d[0] for d in cur.description]
        out[name] = [dict(zip(cols, r)) for r in cur.fetchall()]
    return out


def _check_tables(tables: dict, expected: dict) -> list[str]:
    errs = []
    want = {
        "brands": {i: (b["name"],) for i, b in expected["brands"].items()},
        "products": {i: (p["name"],) for i, p in expected["products"].items()},
        "offers": {
            i: (o["product_id"], o["retailer_id"], Decimal(o["price_usd"]),
                Decimal(o["price_gbp"]), Decimal(o["price_eur"]))
            for i, o in expected["offers"].items()
        },
        "retailers": {i: (r["name"],) for i, r in expected["retailers"].items()},
    }
    cols = {
        "brands": ("name",),
        "products": ("name",),
        "offers": ("product_id", "retailer_id", "price_usd", "price_gbp", "price_eur"),
        "retailers": ("name",),
    }
    for name, rows in tables.items():
        got = {r["id"]: tuple(r[c] for c in cols[name]) for r in rows}
        if got != want[name]:
            diff = set(got.items()) ^ set(want[name].items())
            errs.append(f"{name}: {len(got)} rows, want {len(want[name])}; {len(diff)} differ")
    return errs


def _check_segments(con, rows: list, tables: dict) -> list[str]:
    """Equal to DuckDB's answer, the rounded average within a cent: the
    engines round a double that sits on a half cent differently."""
    import pyarrow as pa

    for name in ("offers", "products", "retailers"):
        con.register(name, pa.Table.from_pylist(tables[name]))
    want = sorted(con.execute(SEGMENT_SQL).fetchall())
    got = sorted(tuple(r) for r in rows)
    if len(got) != len(want) or any(
        a[:3] != b[:3] or abs(a[3] - b[3]) > 0.0101 for a, b in zip(got, want)
    ):
        return [f"segmentation: {len(got)} rows, DuckDB {len(want)}"]
    return []


def _segment(spark, etl):
    from whatdropsnow_etl_spark.plans.flagship import flagship_segmentation
    from pyspark.sql import functions as F

    t = etl.tables()
    lineitem = t["offers"].select(
        F.col("retailer_id").alias("l_suppkey"),
        F.col("product_id").alias("l_partkey"),
        F.col("price_usd").alias("l_extendedprice"),
    )
    supplier = t["retailers"].select(
        F.col("id").alias("s_suppkey"), F.col("name").alias("s_name")
    )
    part = t["products"].select(
        F.col("id").alias("p_partkey"), F.col("name").alias("p_name")
    )
    return flagship_segmentation(lineitem, supplier, part).collect()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _bytes_per_live_byte(base: str, tables: dict, work: str) -> float:
    """Sink bytes on disk over the bytes of the resolved state written
    as one snappy parquet file per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    held = live = 0
    for name, rows in tables.items():
        held += _dir_bytes(os.path.join(base, "tables", name))
        path = os.path.join(work, f"resolved-{name}.parquet")
        pq.write_table(pa.Table.from_pylist(rows), path)
        live += os.path.getsize(path)
    return held / live


def _batches(sink_path: str) -> int:
    """Delta batches a table holds (merge-on-read history length)."""
    with open(os.path.join(sink_path, "_upsert_meta.json")) as f:
        return json.load(f)["next_batch"]


def _parquet_files(sink) -> set[str]:
    return set(
        glob.glob(os.path.join(sink.path, "data", "**", "*.parquet"), recursive=True)
    )


def _install_probes(tr) -> None:
    """Traced run only: spans and counts at each layer boundary."""
    from whatdropsnow_etl_spark.plans import reference_etl
    from whatdropsnow_etl_spark.sinks.upsert_parquet import UpsertParquetSink
    from whatdropsnow_etl_spark.sources.http_client import HttpJsonClient

    @contextlib.contextmanager
    def files_written(sink, *_):
        before = _parquet_files(sink)
        yield
        new = _parquet_files(sink) - before
        tr.count("upsert_parquet.files_written", len(new))
        tr.count("upsert_parquet.bytes_written", sum(map(os.path.getsize, new)))

    tr.wrap(HttpJsonClient, "fetch_resource_pages", "http_client.fetch")
    tr.wrap(HttpJsonClient, "fetch_by_ids", "http_client.fetch")
    tr.wrap(HttpJsonClient, "get_json", "http_client.get_json",
            counter="http_client.calls")
    tr.wrap(reference_etl, "normalize_pages", "json_api.normalize",
            counter="json_api.normalize_calls")
    tr.wrap(UpsertParquetSink, "upsert", "upsert_parquet.upsert",
            around=files_written)
    tr.wrap(UpsertParquetSink, "read", "upsert_parquet.read")


def run(bench) -> dict:
    import duckdb
    from whatdropsnow_etl_spark.plans.reference_etl import ReferenceEtl, run_reference_etl
    from whatdropsnow_etl_spark.sources.http_client import HttpJsonClient

    tr = bench.tracer
    con = duckdb.connect()
    cat = build_catalog(bench.seed, BRANDS, PRODUCTS, OFFERS, RETAILERS)
    base = os.path.join(bench.work, "etl")
    t_setup = time.perf_counter()
    stub = StubApi(bench.seed)
    try:
        spark = bench.start_session()
        # retries back off from 2 ms, so a seeded 503 costs milliseconds
        sleep = time.sleep if tr is None else tr.counting(time.sleep, "http_client.retries")
        client = HttpJsonClient(stub.url + "/api", delay=0.002, timeout=10, sleep=sleep)
        if tr is not None:
            _install_probes(tr)
        setup_s = time.perf_counter() - t_setup

        plan = [("cold", 0, 0)] + [
            (f"refresh{r}", r, 48 * r) for r in range(1, REFRESHES + 1)
        ]
        walls: dict[str, float] = {}
        cpus: dict[str, float] = {}
        landed: dict[str, int] = {}
        failures: list[tuple[str, str]] = []
        untimed_s = 0.0  # checks and calibrations inside the cycle

        def calibrate() -> None:
            nonlocal untimed_s
            t = time.perf_counter()
            for _ in range(CALIBRATIONS):
                bench.calibrate()
            untimed_s += time.perf_counter() - t

        t_cycle = time.perf_counter()
        for i, (op, epoch, hours) in enumerate(plan):
            stub.phase(epoch, i + 1)
            now = T0 + datetime.timedelta(hours=hours)
            bench.begin_phase(op)
            calibrate()
            c = bench.cpu_s()
            t = time.perf_counter()
            bench.traced(
                "reference_etl.run", run_reference_etl, spark, client,
                cat.search_terms, base, now=now, page_size=PAGE_SIZE,
            )
            walls[op] = time.perf_counter() - t
            cpus[op] = bench.cpu_s() - c
            bench.count_jobs(op.rstrip("0123456789"), op)
            landed[op] = _landed(base, now)
            tables = _resolved(con, base)
            failures += [(op, e) for e in _check_tables(tables, cat.expected(epoch))]
            untimed_s += time.perf_counter() - t - walls[op]

        etl = ReferenceEtl(spark, base)
        bench.begin_phase("segment")
        calibrate()
        c = bench.cpu_s()
        t = time.perf_counter()
        segment = bench.traced("flagship.segmentation", _segment, spark, etl)
        walls["segment"] = time.perf_counter() - t
        cpus["segment"] = bench.cpu_s() - c
        cycle_s = time.perf_counter() - t_cycle - untimed_s
        bench.count_jobs("segment")
        counts = dict(tr.counts) if tr is not None else {}

        failures += [("segment", e) for e in _check_segments(con, segment, tables)]
        bytes_ratio = _bytes_per_live_byte(base, tables, bench.work)
        batches = sum(_batches(sink.path) for sink in etl.sinks.values())
        peak_rss = bench.jvm_peak_rss_mb()
    finally:
        stub.stop()

    refreshes = [op for op in walls if op.startswith("refresh")]
    ops: dict[str, list[tuple[float, float]]] = {}
    for op in walls:  # the refreshes are repeats of one operation
        ops.setdefault(op.rstrip("0123456789"), []).append((walls[op], cpus[op]))
    end_to_end, per_layer = op_metrics(
        setup_s, (cycle_s, sum(cpus.values())), ops, bench.host_speed()
    )
    info = {
        "etl_cold_s": walls["cold"],
        "etl_refresh_s": statistics.median(walls[op] for op in refreshes),
        "ingest_records_per_s": statistics.median(landed[op] / walls[op] for op in refreshes),
        "etl_segment_s": walls["segment"],
        "bytes_per_live_byte": bytes_ratio,
        "peak_rss_mb": peak_rss,
        "cpu_s": cpus,
        "calibration_s": statistics.median(bench.calibrations),
        "setup_wall_s": setup_s,
        "records_landed": landed,
        "segment_rows": len(segment),
        "failures": failures,
    }
    if tr is not None:
        retries = counts.get("http_client.retries", 0)
        per_layer |= {
            "http_client.requests": (counts["http_client.calls"] + retries, "count"),
            "http_client.retries": (retries, "count"),
            "http_client.fetch_s": (tr.total("http_client.fetch"), "s"),
            "json_api.normalize_s": (tr.total("json_api.normalize"), "s"),
            "json_api.normalize_calls": (counts["json_api.normalize_calls"], "count"),
            "upsert_parquet.upsert_s": (tr.total("upsert_parquet.upsert"), "s"),
            "upsert_parquet.files_written": (counts["upsert_parquet.files_written"], "count"),
            "upsert_parquet.bytes_written": (counts["upsert_parquet.bytes_written"], "B"),
            "upsert_parquet.read_s": (tr.total("upsert_parquet.read"), "s"),
            "upsert_parquet.batches": (batches, "count"),
            "upsert_parquet.bytes_per_live_byte": (bytes_ratio, "ratio"),
            "reference_etl.self_s": (tr.self_time("reference_etl.run"), "s"),
            "flagship.segment_s": (tr.total("flagship.segmentation"), "s"),
            "driver.peak_rss_mb": (peak_rss, "MB"),
        }
    return {
        "attempted": len(walls),
        "failed": len({op for op, _ in failures}),
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "info": info,
    }
