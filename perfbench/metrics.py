"""Pure metric logic of the benchmark: percentiles, trace aggregation and
the export content check. No Spark, no JVM: `tests/` covers all of it.
"""
import hashlib
import math
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 66.0, 50.0)
MIN_BEYOND = 10


def percentile(samples, p):
    """Nearest-rank percentile (the smallest sample with at least p% of
    the samples at or below it)."""
    s = sorted(samples)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(samples, cap=TAIL_LADDER[0]):
    """The highest ladder percentile (at most `cap`) that has at least
    MIN_BEYOND samples strictly above it.

    Returns (percentile, value, n_samples, n_beyond), or None when even
    the median has fewer than MIN_BEYOND samples beyond it.
    """
    for p in TAIL_LADDER:
        if p > cap:
            continue
        v = percentile(samples, p)
        beyond = sum(1 for x in samples if x > v)
        if beyond >= MIN_BEYOND:
            return p, v, len(samples), beyond
    return None


def tail_cap(min_samples):
    """The highest ladder percentile that `min_samples` samples can
    support, so that every run of a workload reports the same one."""
    for p in TAIL_LADDER:
        if round(min_samples * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:
            return p
    return TAIL_LADDER[-1]


# --- trace aggregation -----------------------------------------------------
CATALYST_PHASES = ("analysis", "optimization", "planning")


def op_of(span):
    """`<pass>.<op>` or `<pass>.<op>.build` -> `<pass>.<op>`."""
    parts = span.split(".")
    return ".".join(parts[:2])


def aggregate(records):
    """Sum listener records per op span.

    Every query execution an op triggers (eager checkpoints and collects
    during the build, then the final write) counts toward that op, as do
    the jobs, stages and tasks beneath them. Jobs whose span ends in
    `.build` ran inside the catalog function call.
    """
    per = {}

    def slot(span):
        return per.setdefault(op_of(span), {
            "jobs": 0, "build_jobs": 0, "stages": 0, "tasks": 0,
            "query_executions": 0, "catalyst_s": 0.0, "task_dur_s": 0.0,
            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "input_b": 0,
            "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0})

    for r in records:
        s = slot(r["span"])
        if r["k"] == "job":
            s["jobs"] += 1
            if r["span"].endswith(".build"):
                s["build_jobs"] += 1
        elif r["k"] == "stage":
            s["stages"] += 1
            s["tasks"] += r["tasks"]
            for f in ("task_dur_s", "run_s", "cpu_s", "gc_s", "input_b",
                      "shuffle_write_b", "shuffle_read_b", "spill_b"):
                s[f] += r.get(f, 0)
        elif r["k"] == "qe":
            s["query_executions"] += 1
            s["catalyst_s"] += sum(r["phases"].get(p, 0.0) for p in CATALYST_PHASES)
    return per


# --- export content check ----------------------------------------------------
def _canon(arr):
    """A column as strings in one canonical form per type."""
    t = arr.type
    if pa.types.is_integer(t):
        arr = pc.cast(arr, pa.int64())
    elif pa.types.is_timestamp(t):
        arr = pc.cast(pc.cast(arr, pa.timestamp("us")), pa.int64())
    elif pa.types.is_date(t):
        arr = pc.cast(arr, pa.int32())
    return pc.cast(arr, pa.string())


def content_hash(table):
    """(rows, order-independent hash) of a table's content.

    Each row becomes one string of its canonical column values (NULL as
    `\\N`); the rows are sorted and the sorted strings hashed, so row
    order and file split do not matter, while a dropped, duplicated or
    changed row does.
    """
    cols = [_canon(table.column(c).combine_chunks()) for c in sorted(table.column_names)]
    if table.num_rows == 0:
        return 0, hashlib.sha256().hexdigest()
    rows = pc.binary_join_element_wise(*cols, "\x1f", null_handling="replace",
                                       null_replacement="\\N")
    rows = pc.take(rows, pc.sort_indices(rows))
    _, offsets, data = rows.buffers()
    offsets = np.frombuffer(offsets, dtype=np.int32, count=len(rows) + 1)
    h = hashlib.sha256(offsets.tobytes())
    h.update(data[:int(offsets[-1])])
    return table.num_rows, h.hexdigest()


def median(xs):
    return statistics.median(xs) if xs else 0.0
