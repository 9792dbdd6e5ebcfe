"""Seeded, single-threaded input generator for the benchmark workloads.

Everything the program reads is written here as parquet files plus a plain
text manifest; the Scala harness only moves files into place and reads the
manifest's expectations.  One process, one numpy Generator per input, no
threads: the same ``--seed`` gives byte-identical files.

Two kinds of input:

* the *base* tables: a TPC-H-shaped star schema plus ``events``, at sf0.1
  (``base``) and at a smaller scale for the graph loops (``graph_base``).  They come from the fixed
  ``DATA_SEED`` so that the graph results can be checked against
  fingerprints recorded once (``expected.tsv``).  They do not depend on the
  workload seed and are generated once per checkout.
* the *workload* inputs: landing deltas, which depend on the workload seed
  (``replicate``), and the fixed repetition schedule (``graph_loops``).

Usage: python3 gen.py <base|graph_base|replicate|graph_loops> <out_dir>
       [--seed N] [--base DIR]
"""

import argparse
import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
BASE_VERSION = "4"

# Row counts at scale factor 1; the base tables are generated at SF_BASE and
# the graph_loops tables at SF_GRAPH.
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM = 150000, 10000, 200000, 1500000, 6000000
N_EVENTS, N_USERS = 1000000, 15000
SF_BASE = 0.1
SF_GRAPH = 0.01

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Delta sizes as a share of the first-load table: eight log-spaced steps from
# 0.1% to 5%.  Every block of eight cycles uses each step once, in a seeded
# order, so runs of equal length see the same mix of small and large deltas.
DELTA_STEPS = np.geomspace(0.001, 0.05, 8)
# Untimed cycles before the window (the four middle steps): the append path
# is compiled once per JVM, as in a long-running scheduler.
WARMUP_STEPS = DELTA_STEPS[2:6]
EVENTS_PREWHERE_MIN = 1.0  # the custom_query's PREWHERE value > 1
MAX_CYCLES = 40
MAX_REPS = 200

EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(values_us):
    return pa.array(np.asarray(values_us, dtype="int64"), type=pa.timestamp("us"))


def _days_us(rng, start, end, n):
    days = rng.integers(0, (end - start).days + 1, n)
    return _us(start) + days.astype("int64") * 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _strs(values):
    return pa.array(list(values), type=pa.string())


def lineitem_table(rng, n, orderkeys, n_part, n_supplier):
    return pa.table({
        "l_orderkey": pa.array(orderkeys, type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supplier, n), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _strs(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": _strs(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(_days_us(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n)),
    })


def events_table(rng, n, first_id, start_us, n_users, gap_mean_us=26_000_000):
    gaps = rng.exponential(gap_mean_us, n).astype("int64") + 1
    ts = start_us + np.cumsum(gaps)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), type=pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), type=pa.int64()),
        "event_type": _strs(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": _strs('{"k": %d}' % k for k in rng.integers(0, 100, n)),
    })


def _scaled(n, sf):
    return max(1, int(round(n * sf)))


def gen_base(out, sf=SF_BASE):
    """The base tables at scale factor ``sf``, from DATA_SEED only."""
    marker = os.path.join(out, "BASE_VERSION")
    version = f"{BASE_VERSION} sf={sf}"
    if os.path.exists(marker) and open(marker).read() == version:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(DATA_SEED)
    n_customer, n_supplier, n_part, n_orders, n_lineitem, n_events, n_users = (
        _scaled(n, sf) for n in (N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM,
                                 N_EVENTS, N_USERS))
    _write(pa.table({"r_regionkey": pa.array(range(5), type=pa.int32()),
                     "r_name": _strs(REGIONS)}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), type=pa.int32()),
                     "n_name": _strs("NATION_%d" % i for i in range(25)),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(range(n_customer), type=pa.int64()),
        "c_name": _strs("Customer#%09d" % i for i in range(n_customer)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_customer), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_customer)),
        "c_mktsegment": _strs(np.array(SEGMENTS)[rng.integers(0, 5, n_customer)]),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supplier), type=pa.int64()),
        "s_name": _strs("Supplier#%09d" % i for i in range(n_supplier)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supplier), type=pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supplier)),
    }), f"{out}/supplier.parquet")
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), type=pa.int64()),
        "p_name": _strs(PART_ADJ[a] + " " + PART_NOUN[b] for a, b in zip(adj, noun)),
        "p_brand": _strs("Brand#%d" % b for b in rng.integers(1, 26, n_part)),
        "p_type": _strs(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(range(n_orders), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customer, n_orders), type=pa.int64()),
        "o_orderstatus": _strs(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders)),
        "o_orderdate": _ts(_days_us(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_orders)),
        "o_orderpriority": _strs(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
    }), f"{out}/orders.parquet")
    li = lineitem_table(rng, n_lineitem, rng.integers(0, n_orders, n_lineitem), n_part, n_supplier)
    _write(li, f"{out}/lineitem.parquet")
    _write(events_table(rng, n_events, 0, _us(dt.datetime(2024, 1, 1)), n_users), f"{out}/events.parquet")
    with open(marker, "w") as f:
        f.write(version)


def _render_ts(us):
    """The Extractor's watermark rendering: seconds always, trimmed fraction."""
    d = EPOCH + dt.timedelta(microseconds=int(us))
    s = d.strftime("%Y-%m-%d %H:%M:%S")
    if d.microsecond:
        s += ("." + "%06d" % d.microsecond).rstrip("0")
    return s


def _delta_fracs(rng, n):
    return np.concatenate([rng.permutation(DELTA_STEPS) for _ in range((n + 7) // 8)])[:n]


def gen_replicate(seed, base, out):
    """Landing deltas for lineitem (int watermark) and events (ts watermark).

    Manifest line per cycle (``warm`` for the untimed warm-up cycles): the
    two delta files, rows landed, rows the inclusive boundary re-reads, and
    the watermarks expected after the cycle.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(f"{out}/deltas", exist_ok=True)
    n_lineitem, n_orders, n_events = (_scaled(n, SF_BASE) for n in (N_LINEITEM, N_ORDERS, N_EVENTS))
    n_part, n_supplier, n_users = (_scaled(n, SF_BASE) for n in (N_PART, N_SUPPLIER, N_USERS))
    first_li = n_lineitem
    base_li = pq.read_table(f"{base}/lineitem.parquet")
    base_keys = base_li.column("l_orderkey").to_numpy()
    li_max = int(base_keys.max())
    li_at_max = int((base_keys == base_keys.max()).sum())
    ev = pq.read_table(f"{base}/events.parquet")
    ev_ts = ev.column("ts").cast(pa.int64()).to_numpy()
    ev_val = ev.column("value").to_numpy()
    ev_next_id = int(ev.column("event_id").to_numpy().max()) + 1
    ev_last_ts = int(ev_ts.max())
    keep = ev_val > EVENTS_PREWHERE_MIN
    ev_wm = int(ev_ts[keep].max())
    lines = [f"first {first_li} {int(keep.sum())} {li_max} {_render_ts(ev_wm)}"]
    fracs = np.concatenate([WARMUP_STEPS, _delta_fracs(rng, MAX_CYCLES)])
    for c, frac in enumerate(fracs):
        n_li = max(1, int(round(frac * first_li)))
        # New orders past the watermark, about four lines each.
        n_orders = max(1, n_li // 4)
        keys = li_max + 1 + np.sort(rng.integers(0, n_orders, n_li))
        li_path = f"deltas/li_{c:04d}.parquet"
        _write(lineitem_table(rng, n_li, keys, n_part, n_supplier), f"{out}/{li_path}")
        li_boundary = li_at_max
        li_max = int(keys.max())
        li_at_max = int((keys == li_max).sum())
        n_ev = max(1, int(round(frac * n_events)))
        evt = events_table(rng, n_ev, ev_next_id, ev_last_ts, n_users)
        ev_path = f"deltas/ev_{c:04d}.parquet"
        _write(evt, f"{out}/{ev_path}")
        ts = evt.column("ts").cast(pa.int64()).to_numpy()
        kept = evt.column("value").to_numpy() > EVENTS_PREWHERE_MIN
        ev_next_id += n_ev
        ev_last_ts = int(ts.max())
        # The inclusive `ts >= watermark` re-reads the single row at the old
        # watermark (timestamps are strictly increasing).
        if kept.any():
            ev_wm = int(ts[kept].max())
        kind = "warm" if c < len(WARMUP_STEPS) else "cycle"
        lines.append(f"{kind} {c} {li_path} {ev_path} {n_li} {li_boundary} "
                     f"{int(kept.sum())} 1 {li_max} {_render_ts(ev_wm)}")
    with open(f"{out}/manifest.txt", "w") as f:
        f.write("\n".join(lines) + "\n")


GRAPH_QUERIES = sorted(f"graph_{q}{v}" for q in ("components", "label_prop", "bfs", "pagerank")
                       for v in ("", "_bucketed"))


def gen_graph_loops(out):
    """Repetitions of the eight superstep-loop queries, in pairs: name order,
    then its reverse.

    Which query builds a shared memo depends on the order, and seeded orders
    moved the median op by up to 25% between seeds, so the schedule is fixed
    and does not depend on the seed. Within a pair every query both builds
    and reuses a memo.
    """
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/manifest.txt", "w") as f:
        for r in range(MAX_REPS // 2):
            f.write("rep " + " ".join(GRAPH_QUERIES) + "\n")
            f.write("rep " + " ".join(reversed(GRAPH_QUERIES)) + "\n")


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("what", choices=["base", "graph_base", "replicate", "graph_loops"])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--base")
    a = ap.parse_args(argv)
    if a.what == "base":
        gen_base(a.out)
    elif a.what == "graph_base":
        gen_base(a.out, SF_GRAPH)
    elif a.what == "replicate":
        gen_replicate(a.seed, a.base, a.out)
    else:
        gen_graph_loops(a.out)


if __name__ == "__main__":
    main(sys.argv[1:])
