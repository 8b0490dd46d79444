"""Pure helpers of the benchmark: percentiles, job-interval unions,
output digests and the seeded input slice. perfbench/selftest.py tests
each of them."""
import math
import os
import shutil
import sys

import numpy as np


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs, q, min_beyond=10):
    """Nearest-rank q-th percentile. Refuses when fewer than `min_beyond`
    samples lie above it: a tail figure needs that many beyond it to
    mean anything."""
    xs = sorted(xs)
    rank = max(1, math.ceil(q / 100 * len(xs)))
    if len(xs) - rank < min_beyond:
        raise ValueError(f"p{q} of {len(xs)} samples has {len(xs) - rank} "
                         f"beyond it, fewer than {min_beyond}")
    return xs[rank - 1]


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def union_length(intervals):
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_overlap(intervals, lo, hi):
    """(gap, in_flight) of the jobs run inside [lo, hi): the time no job
    was running, and the mean number of jobs running while any was."""
    iv = clip(intervals, lo, hi)
    busy = union_length(iv)
    in_flight = sum(e - s for s, e in iv) / busy if busy else 0.0
    return (hi - lo) - busy, in_flight


def _canon():
    """check_oracle.canon, the canonical row form the repository's
    DuckDB oracle compare hashes."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_oracle import canon
    return canon


def digest_frame(df):
    return _canon()(df)


def digest_parquet(path):
    import pandas as pd
    return digest_frame(pd.read_parquet(path))


# Tables sliced by key for a non-zero seed, and the key each is sliced
# by. lineitem follows its order, so every kept line keeps its order.
SLICED = {"orders": "o_orderkey", "lineitem": "l_orderkey",
          "events": "event_id", "documents": "doc_id"}
KEEP_PERCENT = 90


def _mix(keys, seed):
    """splitmix64 finaliser of key ^ seed, vectorised."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) ^ np.uint64(seed * 0x9E3779B97F4A7C15 % 2**64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def keep_mask(keys, seed):
    return _mix(np.asarray(keys), seed) % np.uint64(100) < np.uint64(KEEP_PERCENT)


def make_inputs(base, dest, seed):
    """The bronze dir the program reads: `base` itself at seed 0,
    otherwise a ~90% key slice of the SLICED tables with every other
    table copied whole."""
    if seed == 0:
        return base
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(dest, exist_ok=True)
    for f in sorted(os.listdir(base)):
        name = f[:-len(".parquet")]
        if name not in SLICED:
            shutil.copyfile(os.path.join(base, f), os.path.join(dest, f))
            continue
        t = pq.read_table(os.path.join(base, f))
        keys = t.column(SLICED[name]).to_numpy()
        pq.write_table(t.filter(pa.array(keep_mask(keys, seed))), os.path.join(dest, f),
                       compression="snappy")
    return dest
