"""Seeded tables for the registry workload.

Writes region, nation, customer, part, orders, lineitem and events as one
parquet file each, with the column names and types of the sf0.01 tables
described in TESTDATA.md and the same row counts and value ranges. Every
value comes from one `random.Random` seeded with a string built from the
seed, so one seed gives byte-identical files.

Usage: python3 sinkbench/registry_tables.py <outDir> <seed>
"""
import random
import sys
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large"]
NOUNS = ["bolt", "ring", "widget", "gear", "nut", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

I32, I64, F64, STR, TS = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")


def _write(out: Path, name: str, cols: list[tuple[str, pa.DataType, list]]) -> None:
    table = pa.table({n: pa.array(v, type=t) for n, t, v in cols})
    pq.write_table(table, out / f"{name}.parquet")


def write(out: Path, seed: int) -> None:
    out.mkdir(parents=True, exist_ok=True)
    rng = random.Random(f"sinkbench-registry-{seed}")
    ri, ch, un = rng.randrange, rng.choice, rng.uniform

    _write(out, "region", [("r_regionkey", I32, list(range(5))), ("r_name", STR, REGIONS)])
    _write(out, "nation", [("n_nationkey", I32, list(range(25))),
                           ("n_name", STR, [f"NATION_{i}" for i in range(25)]),
                           ("n_regionkey", I32, [i % 5 for i in range(25)])])

    n = ROWS["customer"]
    _write(out, "customer", [
        ("c_custkey", I64, list(range(n))),
        ("c_name", STR, [f"Customer#{i:09d}" for i in range(n)]),
        ("c_nationkey", I32, [ri(25) for _ in range(n)]),
        ("c_acctbal", F64, [round(un(-999.99, 9999.99), 2) for _ in range(n)]),
        ("c_mktsegment", STR, [ch(SEGMENTS) for _ in range(n)])])

    n = ROWS["part"]
    _write(out, "part", [
        ("p_partkey", I64, list(range(n))),
        ("p_name", STR, [f"{ch(COLORS)} {ch(NOUNS)}" for _ in range(n)]),
        ("p_brand", STR, [f"Brand#{ri(1, 26)}" for _ in range(n)]),
        ("p_type", STR, [ch(PART_TYPES) for _ in range(n)]),
        ("p_size", I32, [ri(1, 51) for _ in range(n)]),
        ("p_retailprice", F64, [round(900 + i * 0.1, 2) for i in range(n)])])

    n = ROWS["orders"]
    day0 = datetime(1995, 1, 1)
    _write(out, "orders", [
        ("o_orderkey", I64, list(range(n))),
        ("o_custkey", I64, [ri(ROWS["customer"]) for _ in range(n)]),
        ("o_orderstatus", STR, [ch("FOP") for _ in range(n)]),
        ("o_totalprice", F64, [round(un(1000, 500000), 2) for _ in range(n)]),
        ("o_orderdate", TS, [day0 + timedelta(days=ri(2404)) for _ in range(n)]),
        ("o_orderpriority", STR, [ch(PRIORITIES) for _ in range(n)])])

    n = ROWS["lineitem"]
    ship0 = datetime(1995, 1, 2)
    _write(out, "lineitem", [
        ("l_orderkey", I64, [ri(ROWS["orders"]) for _ in range(n)]),
        ("l_partkey", I64, [ri(ROWS["part"]) for _ in range(n)]),
        ("l_suppkey", I64, [ri(100) for _ in range(n)]),
        ("l_linenumber", I32, [ri(1, 8) for _ in range(n)]),
        ("l_quantity", F64, [float(ri(1, 51)) for _ in range(n)]),
        ("l_extendedprice", F64, [round(un(900, 105000), 2) for _ in range(n)]),
        ("l_discount", F64, [ri(11) / 100 for _ in range(n)]),
        ("l_tax", F64, [ri(9) / 100 for _ in range(n)]),
        ("l_returnflag", STR, [ch("ANR") for _ in range(n)]),
        ("l_linestatus", STR, [ch("FO") for _ in range(n)]),
        ("l_shipdate", TS, [ship0 + timedelta(days=ri(2499)) for _ in range(n)])])

    n = ROWS["events"]
    t0 = datetime(2024, 1, 1)
    offsets_us = sorted(ri(30 * 86400 * 10**6) for _ in range(n))
    _write(out, "events", [
        ("event_id", I64, list(range(n))),
        ("ts", TS, [t0 + timedelta(microseconds=u) for u in offsets_us]),
        ("user_id", I64, [ri(150) for _ in range(n)]),
        ("event_type", STR, [ch(EVENT_TYPES) for _ in range(n)]),
        ("value", F64, [round(un(0.01, 490.0), 2) for _ in range(n)]),
        ("props", STR, [f'{{"k": {ri(100)}}}' for _ in range(n)])])


if __name__ == "__main__":
    write(Path(sys.argv[1]), int(sys.argv[2]))
