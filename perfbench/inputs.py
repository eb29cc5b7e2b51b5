"""Seeded change scripts and stream files for the benchmark workloads.

The tables themselves are fixed: `perfbench/data/` holds the engine's
TPC-H-like catalog as parquet (`graft.sources.Catalog` column names and
types), at scale factor 0.01 in full and `orders` at 0.1. The seed only
picks the changes the commit-log loop applies and how the stream replay
splits `events` into files; the same seed always gives byte-identical
files, and the engine only ever sees the files written here.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())])


def _write(path, table):
    pq.write_table(table, path)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def orders_rows(rng, keys, n_customers):
    """New `orders` values for `keys`, in the value ranges of the fixed
    table: statuses F/O/P, prices 1000-500000, dates 1995-01-01 to
    2001-08-01."""
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2404, n).astype("timedelta64[D]"),
                                pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }, schema=ORDERS_SCHEMA)


def cdc_plan(out_dir, seed, orders_path, steps, matched, inserted, width):
    """A seeded closed-loop script of commit-log changes over the fixed
    `orders` table, whose keys are 0..n-1.

    The first step is a MERGE applied untimed before the window opens.
    Then: two MERGEs of a staged batch (`matched` existing keys get new
    values, `inserted` new keys are added), then a key-range UPDATE or
    DELETE of `width` keys (they alternate), repeated. Each step names a
    key it touched, read back after the commit."""
    orders = pq.read_table(orders_path, columns=["o_orderkey", "o_custkey"])
    n_orders = orders.num_rows
    keys = orders.column("o_orderkey").to_numpy()
    if not np.array_equal(np.sort(keys), np.arange(n_orders)):
        raise ValueError(f"{orders_path}: o_orderkey is not 0..{n_orders - 1}")
    n_customers = int(orders.column("o_custkey").to_numpy().max()) + 1
    rng = np.random.default_rng([seed, 2])
    live = np.ones(n_orders + steps * inserted, dtype=bool)
    live[n_orders:] = False
    next_key = n_orders
    plan = []
    os.makedirs(out_dir, exist_ok=True)
    for i in range(steps):
        j = i - 1  # position in the loop's pattern; step 0 is the warm-up
        if j < 0 or j % 3 != 2:
            alive = np.flatnonzero(live[:next_key])
            upd = rng.choice(alive, size=matched, replace=False)
            new = np.arange(next_key, next_key + inserted)
            next_key += inserted
            live[new] = True
            keys = np.concatenate([upd, new])
            path = os.path.join(out_dir, f"merge_{i:04d}.parquet")
            _write(path, orders_rows(rng, keys, n_customers))
            plan.append({"kind": "merge", "file": path,
                         "point": int(keys[rng.integers(0, len(keys))])})
        else:
            lo = int(rng.integers(0, next_key - width))
            hi = lo + width - 1
            step = {"kind": "update" if j % 6 == 2 else "delete", "lo": lo, "hi": hi,
                    "point": int(rng.integers(lo, hi + 1))}
            if step["kind"] == "update":
                step["delta"] = float(np.round(rng.uniform(1.0, 100.0), 2))
            else:
                live[lo:hi + 1] = False
            plan.append(step)
    return plan


def stream_files(out_dir, seed, events_path, n_files, dup_share):
    """Stage `events` plus a redelivered `dup_share` of it as `n_files`
    files in event-time order; each duplicate lands in its original's
    file or a later one, as a redelivery would."""
    rng = np.random.default_rng([seed, 5])
    ev = pq.read_table(events_path)
    n = ev.num_rows
    file_of = np.minimum(np.arange(n) * n_files // n, n_files - 1)
    dups = rng.choice(n, size=int(n * dup_share), replace=False)
    dup_file = np.minimum(file_of[dups] + rng.integers(0, 2, len(dups)), n_files - 1)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        idx = np.concatenate([np.flatnonzero(file_of == f), dups[dup_file == f]])
        path = os.path.join(out_dir, f"part-{f:03d}.parquet")
        _write(path, ev.take(pa.array(rng.permutation(idx))))
        # the file source replays in modification-time order
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
