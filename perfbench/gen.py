"""Seeded input generators for the benchmark workloads.

Two shapes, both written only from ``numpy.random.default_rng(seed)`` so the
same seed gives byte-identical files:

* ``tpch``: the seven TPC-H-shaped parquet tables that
  ``graft.rdf.TripleSource.derive`` reads (region, nation, customer, supplier,
  part, orders, lineitem), at the TPC-H test fixture's row ratios. Each table is
  one file holding one row group, like the fixture, so the known derive skew
  (one scan task per table) is kept, not hidden.
* ``hub``: N-Triples text files with Zipf-skewed predicates and objects, a
  few planted inclusions and a few hub objects whose join lines are wider
  than ``CindEngine.SplitThreshold`` after pruning.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem")

# lineitem rows per table row in the TPC-H test fixture (sf0.01: 60000 lineitem,
# 15000 orders, 1500 customer, 2000 part, 100 supplier).
_RATIO = {"orders": 4, "customer": 40, "part": 30, "supplier": 600}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PWORDS = ["small", "large", "red", "blue", "green", "ring", "bolt", "widget"]

# Spark DDL type -> arrow type, for the types that occur in Tables.schemas.
ARROW_OF_DDL = {
    "BIGINT": pa.int64(), "INT": pa.int32(), "DOUBLE": pa.float64(),
    "STRING": pa.string(), "TIMESTAMP_NTZ": pa.timestamp("us"),
}


def parse_ddl(ddl):
    """'a BIGINT,b STRING' -> [('a', 'BIGINT'), ('b', 'STRING')]."""
    return [tuple(f.strip().split(" ", 1)) for f in ddl.split(",")]


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n):
    # whole days in 1992..2001, as microseconds since the epoch
    days = rng.integers(8035, 11687, n)
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def _strs(rng, choices, n):
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def tpch_tables(seed, n_lineitem):
    """The seven tables as {name: {column: array}} for one seed."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, n_lineitem // r) for t, r in _RATIO.items()}
    n_cust, n_supp, n_part, n_ord = n["customer"], n["supplier"], n["part"], n["orders"]
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": pa.array(_REGIONS)}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": rng.integers(0, 5, 25).astype(np.int32)}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999, 9999),
        "c_mktsegment": _strs(rng, _SEGMENTS, n_cust)}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999, 9999)}
    words = np.asarray(_PWORDS, dtype=object)
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pa.array(words[rng.integers(0, len(words), n_part)] + " "
                           + words[rng.integers(0, len(words), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _strs(rng, _PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(rng, n_part, 900, 2000)}
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _strs(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _dates(rng, n_ord),
        "o_orderpriority": _strs(rng, _PRIORITIES, n_ord)}
    m = n_lineitem
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, m).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, m).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900, 100000),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _strs(rng, ["A", "N", "R"], m),
        "l_linestatus": _strs(rng, ["F", "O"], m),
        "l_shipdate": _dates(rng, m)}
    return t


def write_tpch(out_dir, seed, n_lineitem, schemas):
    """Write the tables as `<out_dir>/<table>.parquet`, one row group each,
    typed by `schemas` (table -> Spark DDL, i.e. Tables.schemas)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tpch_tables(seed, n_lineitem).items():
        fields = parse_ddl(schemas[name])
        table = pa.table({c: pa.array(cols[c], type=ARROW_OF_DDL[ty])
                          for c, ty in fields})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=table.num_rows + 1)


def check_tpch(out_dir, schemas):
    """Raise unless every table is one file with one row group whose footer
    schema is exactly the table's Tables.schemas DDL."""
    for name in TPCH_TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.isfile(path):
            raise ValueError(f"{path}: not a single file")
        f = pq.ParquetFile(path)
        if f.metadata.num_row_groups != 1:
            raise ValueError(f"{path}: {f.metadata.num_row_groups} row groups, want 1")
        got = [(fl.name, fl.type) for fl in f.schema_arrow]
        want = [(c, ARROW_OF_DDL[ty]) for c, ty in parse_ddl(schemas[name])]
        if got != want:
            raise ValueError(f"{path}: footer schema {got} != Tables.schemas {want}")


HUB_FILES = 4
HUB_PREDS = 120
# subjects per hub literal: each hub's join line is about this wide
HUB_SIZES = (1060, 1120, 1180, 1240)


def _power_law(rng, n_values, exponent, size):
    """`size` draws of ranks 0..n_values-1 with P(rank k) ~ (k+1)^-exponent
    (a finite Zipf law)."""
    w = np.arange(1, n_values + 1, dtype=np.float64) ** -exponent
    return rng.choice(n_values, size=size, p=w / w.sum())


def hub_lines(seed, n_triples):
    """N-Triples lines (without newlines) for the hub workload.

    Subjects have 8-20 triples each. Predicates follow a Zipf law (exponent
    2) over HUB_PREDS names; objects are literals drawn from a Zipf law
    (exponent 0.6) over n_triples/3 values, or (15%) references to
    subjects. Each hub literal is the object of HUB_SIZES subjects, so its
    join line is wider than CindEngine.SplitThreshold
    (1024) after pruning while every other line stays narrow. Two
    inclusions are planted: every object of `<p/knows>` is a subject with
    a `<p/name>`, and every subject with `<p/type>` also has `<p/label>`.
    """
    rng = np.random.default_rng(seed)
    n_subj = max(10, n_triples // 15)
    vocab = max(100, n_triples // 3)
    subj = [f"<http://ex.org/s/{i}>" for i in range(n_subj)]
    pred = [f"<http://ex.org/p/{i}>" for i in range(HUB_PREDS)]
    lines = [f"# hub workload seed={seed} triples~{n_triples}"]
    per = rng.integers(8, 21, n_subj)
    total = int(per.sum())
    p_idx = _power_law(rng, HUB_PREDS, 2.0, total)
    o_idx = _power_law(rng, vocab, 0.6, total)
    is_ref = rng.random(total) < 0.15
    ref = rng.integers(0, n_subj, total)
    k = 0
    for s in range(n_subj):
        for _ in range(per[s]):
            o = subj[ref[k]] if is_ref[k] else f'"v{o_idx[k]}"'
            lines.append(f"{subj[s]} {pred[p_idx[k]]} {o} .")
            k += 1
    for h, size in enumerate(HUB_SIZES):
        for s in rng.choice(n_subj, min(n_subj, size), replace=False):
            lines.append(f'{subj[s]} {pred[rng.integers(0, 8)]} "hub{h}" .')
    named = rng.choice(n_subj, n_subj // 3, replace=False)
    for s in named:
        lines.append(f'{subj[s]} <http://ex.org/p/name> "n{s}" .')
    for s in rng.choice(named, n_subj // 5):
        lines.append(f"{subj[rng.integers(0, n_subj)]} <http://ex.org/p/knows> {subj[s]} .")
    for s in rng.choice(n_subj, n_subj // 4, replace=False):
        c = rng.integers(0, 12)
        lines.append(f'{subj[s]} <http://ex.org/p/type> "C{c}" .')
        lines.append(f'{subj[s]} <http://ex.org/p/label> "L{c}" .')
    return lines


def write_hub(out_dir, seed, n_triples):
    """Write the hub triples as HUB_FILES `part-<i>.nt` files; returns paths."""
    os.makedirs(out_dir, exist_ok=True)
    lines = hub_lines(seed, n_triples)
    chunk = (len(lines) + HUB_FILES - 1) // HUB_FILES
    paths = []
    for i in range(HUB_FILES):
        path = os.path.join(out_dir, f"part-{i}.nt")
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write("\n".join(lines[i * chunk:(i + 1) * chunk]) + "\n")
        paths.append(path)
    return paths

