#!/usr/bin/env python3
"""Scale-replicate the driver testdata for bench-only scale points.

Usage: scripts/make_sf.py SRC_DIR DST_DIR FACTOR

Replicates every table FACTOR times with consistent key shifts so all
joins keep their selectivity (replica i shifts each key family by
i * (max_key + 1)); reference tables (region, nation) are config-scale
and copied verbatim. Two distribution-preserving tweaks keep the scale
point honest instead of pathological:

- documents.text goes through a per-replica letter permutation
  (deterministic, length-preserving): cross-replica texts decorrelate,
  so unblocked shingle/minhash queries (d4) grow linearly like a real
  bigger corpus instead of quadratically like 10x cloned rows, while
  token counts, word lengths and punctuation stats are unchanged.
- blocking columns become replica-disjoint (documents.source and
  embeddings.label get per-replica values), matching how a larger
  corpus has proportionally more blocks, not denser ones.
- timestamp columns (o_orderdate, l_shipdate) shift forward by one
  full span per replica: a real 10x corpus stretches over more time,
  it does not pack 10x the rows into the same date range. Without the
  shift, fixed-width range joins (q20's 7-day windows) grow
  quadratically in candidate pairs. Both columns share one "time"
  span so within-replica date relationships are preserved; date
  filters in queries are lower bounds, which forward shifts keep
  satisfied.

Output is for Bench only (SPARK_GRAFT_SF_DIR=DST_DIR, optionally with
SPARK_GRAFT_ONLY=<query,...>) - the DuckDB oracle gate keeps
running on the driver-generated sf directories.
"""
import random
import string
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

COPY_TABLES = ["region", "nation"]
# timestamp columns sharing one span: replica i adds i * (span + 1 day)
TIME_COLUMNS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}
KEY_FAMILIES = {
    # table -> {column: key family}
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec", "label": "label"},
}


def letter_perm(replica: int):
    if replica == 0:
        return None
    rng = random.Random(replica)
    lower = list(string.ascii_lowercase)
    upper = list(string.ascii_uppercase)
    rng.shuffle(lower)
    rng.shuffle(upper)
    return str.maketrans(
        string.ascii_lowercase + string.ascii_uppercase,
        "".join(lower) + "".join(upper))


def main():
    src, dst, factor = sys.argv[1], sys.argv[2], int(sys.argv[3])
    import os
    os.makedirs(dst, exist_ok=True)

    tables = {n: pq.read_table(f"{src}/{n}.parquet")
              for n in COPY_TABLES + list(KEY_FAMILIES)}

    # one offset per key family = max over every column using it, +1
    offsets = {}
    for name, fams in KEY_FAMILIES.items():
        for col, fam in fams.items():
            m = pc.max(tables[name].column(col)).as_py()
            offsets[fam] = max(offsets.get(fam, 0), m + 1)

    # one shared time span (microseconds) across all timestamp columns
    day_us = 86400 * 1_000_000
    t_min, t_max = None, None
    for name, cols in TIME_COLUMNS.items():
        for col in cols:
            c64 = pc.cast(tables[name].column(col), pa.int64())
            lo, hi = pc.min(c64).as_py(), pc.max(c64).as_py()
            t_min = lo if t_min is None else min(t_min, lo)
            t_max = hi if t_max is None else max(t_max, hi)
    time_shift = (t_max - t_min) + day_us if t_min is not None else 0

    def write(table, path):
        # small row groups: Spark's byte-range splits only parallelize
        # across row-group midpoints, so one file with default 1M-row
        # groups caps scan parallelism at ~rows/1M tasks (q1 ran 17x at
        # sf1 from a 6-group lineitem). Real corpora arrive as many
        # files; ~64+ groups per table keeps the fixture's scan width
        # comparable.
        rg = max(65536, table.num_rows // 64)
        pq.write_table(table, path, row_group_size=rg)

    for name in COPY_TABLES:
        write(tables[name], f"{dst}/{name}.parquet")
        print(f"{name}: copied {tables[name].num_rows} rows")

    for name, fams in KEY_FAMILIES.items():
        base = tables[name]
        replicas = []
        for i in range(factor):
            t = base
            for col, fam in fams.items():
                idx = t.schema.get_field_index(col)
                typ = t.schema.field(idx).type
                shifted = pc.cast(
                    pc.add(pc.cast(t.column(col), pa.int64()), i * offsets[fam]), typ)
                t = t.set_column(idx, t.schema.field(idx), shifted)
            for col in TIME_COLUMNS.get(name, []):
                idx = t.schema.get_field_index(col)
                typ = t.schema.field(idx).type
                shifted = pc.cast(
                    pc.add(pc.cast(t.column(col), pa.int64()), i * time_shift), typ)
                t = t.set_column(idx, t.schema.field(idx), shifted)
            if name == "documents" and i > 0:
                perm = letter_perm(i)
                idx = t.schema.get_field_index("text")
                text = pa.array(
                    [None if v is None else v.translate(perm)
                     for v in t.column("text").to_pylist()],
                    type=t.schema.field(idx).type)
                t = t.set_column(idx, t.schema.field(idx), text)
                sidx = t.schema.get_field_index("source")
                source = pa.array(
                    [None if v is None else f"{v}_r{i}"
                     for v in t.column("source").to_pylist()],
                    type=t.schema.field(sidx).type)
                t = t.set_column(sidx, t.schema.field(sidx), source)
            replicas.append(t)
        out = pa.concat_tables(replicas)
        write(out, f"{dst}/{name}.parquet")
        print(f"{name}: {base.num_rows} -> {out.num_rows} rows")


if __name__ == "__main__":
    main()
