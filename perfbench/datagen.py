"""Deterministic TPC-H-shaped tables for the benchmark graph.

Writes region, nation, supplier, customer, part, orders and lineitem as
parquet files with the column names and types `graft.sources.GraphLoader`
reads. The graph they project to is connected (every customer has an
order, every order a line, every part and supplier a line), which the
whole-graph `call cc()` oracle assumes, and (l_orderkey, l_linenumber) is
unique, so lineitem node ids do not depend on how an engine breaks sort
ties.

Usage: python3 perfbench/datagen.py <out_dir> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed: the graph is the same for every --seed; the seed drives the
# workload (programs, parameters, bfs source).
DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["large", "hot", "small", "bright", "dark", "pale"]
NOUN = ["ring", "bolt", "nut", "gear", "plate", "spring"]


def tables(scale: float) -> dict:
    rng = np.random.default_rng(DATA_SEED)
    n_supp = max(10, int(10000 * scale))
    n_cust = max(50, int(150000 * scale))
    n_part = max(50, int(200000 * scale))
    n_ord = max(n_cust, int(1500000 * scale))

    region = {"r_regionkey": pa.array(range(5), pa.int32()),
              "r_name": pa.array(REGIONS)}
    nation = {"n_nationkey": pa.array(range(25), pa.int32()),
              "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    # suppliers 0-4 sit in nations 0-4, one per region, so that every
    # region-filtered read template returns rows
    s_nation = rng.integers(0, 25, n_supp)
    s_nation[:5] = np.arange(5)
    supplier = {"s_suppkey": pa.array(range(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(s_nation, pa.int32()),
                "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))}
    customer = {"c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))}
    part = {"p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                                           rng.choice(NOUN, n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(PTYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2))}

    # every customer owns at least one order
    o_cust = np.concatenate([rng.permutation(n_cust),
                             rng.integers(0, n_cust, n_ord - n_cust)])
    epoch = np.datetime64("1992-01-01")
    orders = {"o_orderkey": pa.array(range(n_ord), pa.int64()),
              "o_custkey": pa.array(o_cust, pa.int64()),
              "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
              "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n_ord), 2)),
              "o_orderdate": pa.array(epoch + rng.integers(0, 2500, n_ord).astype("timedelta64[D]"),
                                      pa.timestamp("us")),
              "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))}

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    # every part and every supplier appears on at least one line
    l_part = rng.integers(0, n_part, n_li)
    l_part[rng.permutation(n_li)[:n_part]] = np.arange(n_part)
    l_supp = rng.integers(0, n_supp, n_li)
    l_supp[rng.permutation(n_li)[:n_supp]] = np.arange(n_supp)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = {"l_orderkey": pa.array(l_order, pa.int64()),
                "l_partkey": pa.array(l_part, pa.int64()),
                "l_suppkey": pa.array(l_supp, pa.int64()),
                "l_linenumber": pa.array(l_num, pa.int32()),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
                "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100, 2)),
                "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100, 2)),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
                "l_shipdate": pa.array(epoch + rng.integers(0, 2600, n_li).astype("timedelta64[D]"),
                                       pa.timestamp("us"))}
    return {"region": region, "nation": nation, "supplier": supplier,
            "customer": customer, "part": part, "orders": orders,
            "lineitem": lineitem}


def write(out_dir: str, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(scale).items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit("usage: datagen.py <out_dir> [scale]")
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) == 3 else 0.002)
