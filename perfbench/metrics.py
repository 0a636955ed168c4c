"""End-to-end metrics shared by the workloads."""

from __future__ import annotations

import statistics


def tail(samples: list[float]) -> float:
    """The highest percentile that has at least ten samples beyond it,
    once there are enough samples (40) for that to be the 75th or
    higher; before that, the maximum."""
    s = sorted(samples)
    return s[-11] if len(s) >= 40 else s[-1]


def op_metrics(
    setup_s: float,
    cycle: tuple[float, float],
    ops: dict[str, list[tuple[float, float]]],
    speed: float,
) -> tuple[dict, dict]:
    """End-to-end metrics from the set-up time, one cycle's (wall, CPU)
    seconds and each operation's (wall, CPU) seconds in every repeat,
    plus the per-layer figures: their wall-clock twins and the slowest
    operation's CPU seconds. The slowest ``query_mix`` query is bimodal
    across JVM launches (the same seed's ``dedup_minhash_lsh`` read
    2.0 or 3.1-3.6 CPU seconds), so no bound can hold it. The
    set-up time and CPU seconds are scaled by ``speed``
    (``Bench.host_speed``): set-up is CPU-bound work (JVM launch, class
    loading, warm-up) that a busy host slows like the rest. An
    operation counts with its median over its repeats: the median
    operation and the slowest one are then the same operation from run
    to run, not whichever repeat a hiccup of the host hit."""
    walls = [statistics.median(w for w, _ in runs) for runs in ops.values()]
    cpus = [speed * statistics.median(c for _, c in runs) for runs in ops.values()]
    end_to_end = {
        "setup_s": (speed * setup_s, "s"),
        "cycle_cpu_s": (speed * cycle[1], "s"),
        "op_p50_cpu_s": (statistics.median(cpus), "s"),
    }
    per_layer = {
        "op_tail_cpu_s": (max(cpus), "s"),
        "wall.cycle_s": (cycle[0], "s"),
        "wall.op_p50_s": (statistics.median(walls), "s"),
        "wall.op_tail_s": (max(walls), "s"),
    }
    return end_to_end, per_layer
