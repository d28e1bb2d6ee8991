"""The benchmark's metric arithmetic, kept free of I/O so it can be tested
on synthetic inputs (test_metrics.py)."""
import math
import os
import statistics

MB = float(1 << 20)
# Tail percentiles tried from the top; the first with at least ten samples
# beyond it is reported.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    return statistics.median(xs) if xs else None


def tail(samples, min_beyond=10):
    """The highest ladder percentile with at least `min_beyond` samples
    beyond it, as {"value", "percentile", "n"}; None when even the median
    has fewer than `min_beyond` samples beyond it. Nearest-rank
    percentile: the value at rank ceil(p/100 * n)."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = math.ceil(p * n / 100.0 - 1e-9)  # tolerate float error in p*n
        if n - rank >= min_beyond:
            return {"value": xs[rank - 1], "percentile": p, "n": n}
    return None


def idle_core_frac(task_s, exec_wall_s, cores):
    """Share of the cores' exec wall time no task was running:
    1 - sum(task time) / (exec wall * cores)."""
    if exec_wall_s <= 0:
        return None
    return 1.0 - task_s / (exec_wall_s * cores)


def failed_count(ops, failed_checks):
    """Ops that threw, or whose op name failed the output check. `ops` are
    dicts with "op" and "ok"."""
    return sum(1 for o in ops if not o["ok"] or o["op"] in failed_checks)


def failed_frac(ops, failed_checks):
    """failed_count over ops attempted."""
    return failed_count(ops, failed_checks) / len(ops) if ops else None


def dir_bytes(path):
    """On-disk bytes of every regular file under `path`."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def write_amp(written_bytes, source_bytes):
    """Bytes written per byte of source read."""
    return written_bytes / source_bytes if source_bytes > 0 else None
