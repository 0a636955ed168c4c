"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see BENCHMARK.json for why
each exists):

- ``drops_daily`` (drops.py): the reference ETL's daily cycle against
  a stub drops API in its own process, then the R1 segmentation;
- ``query_mix`` (mixes.py): the reference-parity/relational and LLM
  curation ``queries()`` entries over seeded star-schema + corpus
  tables, in a closed loop of passes for ``--seconds``.

Each run pins its environment (CPU count, driver heap, Spark local and
warehouse dirs, JVM and Python temp dirs) to a scratch directory under
``perfbench/_work`` that is deleted at exit, checks every output it
times, and prints one JSON object as its last stdout line:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The traced run also writes its spans to
``perfbench/_out/trace-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"  # well under the RAM of a small box; the data is small
COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # 15-char thread names
# The calibration: zlib level 6 over ~1.7 MB of fixed text, ~0.057 CPU
# seconds. CPU seconds are reported as if it had taken CAL_REF_S, a
# round figure near its median on the VM in README.md.
CAL_REF_S = 0.05


def pin_env(work: str) -> dict:
    """Environment every run uses, all scratch space inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": (
            f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                "--conf",
                shlex.quote(
                    "spark.sql.warehouse.dir=" + os.path.join(work, "warehouse")
                ),
                "--conf spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        ),
    }
    os.environ.update(env)
    return env


def environment(env: dict, java: str) -> dict:
    import duckdb
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "java": java,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
    }


class Bench:
    """What a workload needs from the harness: its arguments, scratch
    space, the Spark session, per-phase Spark job counts and the
    tracer (None in the untraced run)."""

    def __init__(self, args, work: str, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.java = "?"
        self.session_start_s = 0.0
        self.phase_counts: dict[str, dict[str, int]] = {}
        self.calibrations: list[float] = []
        rng = random.Random(0)  # the same text in every run, whatever the seed
        words = ["".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=rng.randint(2, 9)))
                 for _ in range(2000)]
        self.cal_text = " ".join(rng.choices(words, k=1 << 18)).encode()

    def start_session(self):
        from whatdropsnow_etl_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        self.session_start_s = time.perf_counter() - t
        self.java = self.spark.sparkContext._jvm.System.getProperty("java.version")
        return self.spark

    def calibrate(self) -> None:
        """Record the CPU seconds this thread spends on a fixed
        computation in native code, which no JIT state or seed changes.
        Other tenants of a shared host make the same CPU work cost
        10-30 % more or less from one run to the next; scaling CPU
        seconds by the calibration's median takes out the part that
        slows the calibration too."""
        t = time.thread_time()
        zlib.compress(self.cal_text, 6)
        self.calibrations.append(time.thread_time() - t)

    def host_speed(self) -> float:
        """CAL_REF_S over the calibration's median in this run: CPU
        seconds times this are CPU seconds on the reference host."""
        return CAL_REF_S / statistics.median(self.calibrations)

    def traced(self, name: str, fn, *args, **kwargs):
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.span(name, fn, *args, **kwargs)

    def begin_phase(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)
        if self.tracer is not None:
            self.tracer.run_id = name

    def count_jobs(self, phase: str, group: str | None = None) -> None:
        """Add the jobs/stages/tasks Spark ran under job group
        ``group`` (default ``phase``) to ``phase``'s counts. Stages
        and tasks count only what executed (skipped stages run no
        task), so the numbers are exact."""
        tracker = self.spark.sparkContext.statusTracker()
        c = self.phase_counts.setdefault(phase, {"jobs": 0, "stages": 0, "tasks": 0})
        for job in tracker.getJobIdsForGroup(group or phase):
            c["jobs"] += 1
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks:
                    c["stages"] += 1
                    c["tasks"] += st.numCompletedTasks

    def jit_s(self) -> float:
        """CPU seconds the driver JVM's JIT compiler threads used so
        far. They start with the JVM and never exit
        (``-XX:-UseDynamicNumberOfCompilerThreads``), so none of their
        time folds into the process total unseen."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        ticks = 0
        for tid in os.listdir(f"/proc/{jvm}/task"):
            try:
                with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:  # exited while listing
                continue
            if stat[stat.index("(") + 1 :].startswith(COMPILER_THREADS):
                ticks += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
        return ticks / os.sysconf("SC_CLK_TCK")

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and by the driver
        JVM with every process under it (the Python workers), less the
        JIT compiler's: how much JIT work lands inside a timed window
        depends on the host's timing, not on the program."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        parent, ticks = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                continue
            parent[int(d)] = int(fields[1])
            ticks[int(d)] = sum(int(x) for x in fields[11:15])
        total = 0
        for pid, t in ticks.items():
            p = pid
            while p > 1 and p != jvm:
                p = parent.get(p, 0)
            total += t if p == jvm else 0
        own = os.times()
        return total / os.sysconf("SC_CLK_TCK") + own.user + own.system - self.jit_s()

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM for the driver JVM")

    def stop_session(self) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        self.spark = None


SPARK_PHASES = ("cold", "refresh", "segment", "pass")


def per_layer(own: dict, bench: Bench, tracer) -> dict:
    """Every per-layer metric BENCHMARK.json declares: the workload's
    own, the harness's (session start, Spark work per phase, tracing
    cost), and 0 for a layer this workload does not call."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    out = {
        "session.start_s": (bench.session_start_s, "s"),
        "trace.spans": (len(tracer.spans), "count"),
        "trace.overhead_s": (tracer.overhead_s(), "s"),
        **{
            f"spark.{phase}.{kind}": (n, "count")
            for phase in SPARK_PHASES
            for kind, n in bench.phase_counts.get(phase, {}).items()
        },
        **own,
    }
    unknown = set(out) - set(declared)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {name: out.get(name, (0, unit)) for name, unit in declared.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        env = pin_env(work)
        import drops
        import mixes

        workloads = {"drops_daily": drops.run, "query_mix": mixes.run}
        if args.workload not in workloads:
            ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
        bench = Bench(args, work, tracer)
        try:
            out = workloads[args.workload](bench)
        finally:
            if tracer is not None:
                tracer.restore()
            bench.stop_session()
        print(json.dumps({"environment": environment(env, bench.java)}))
        if tracer is not None:
            out_dir = os.path.join(HERE, "_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl")
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": out["info"]}))
    metrics = out["end_to_end"]
    if args.trace:
        metrics = per_layer(out["per_layer"], bench, tracer)
        # the traced run's own end-to-end figures, so its overhead
        # against an untraced run of the same seed can be read off
        print(json.dumps({"traced_end_to_end": out["end_to_end"]}))
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": {
                    name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
