"""Expected results from the program's own DuckDB oracle (SparkEntry.oracleSql).

Each expected result is stored as an order-independent digest: the row
count plus the sums of the first two 32-bit words of each row's md5, where
a row is its values in column-name order, cast to text (NULL as \\N) and
joined by U+001F. graft.perfbench.Harness.digest computes the same on Spark.
"""
import duckdb

from gen import TPCH_TABLES


def _digest(con, sql):
    cols = sorted(d[0] for d in con.execute(f"SELECT * FROM ({sql}) q LIMIT 0").description)
    row = "concat_ws(chr(31), " + ", ".join(
        f"coalesce(CAST(q.\"{c}\" AS VARCHAR), '\\N')" for c in cols) + ")"
    n, a, b = con.execute(
        "SELECT count(*), coalesce(sum(('0x' || substr(h, 1, 8))::BIGINT), 0), "
        "coalesce(sum(('0x' || substr(h, 9, 8))::BIGINT), 0) "
        f"FROM (SELECT md5({row}) AS h FROM ({sql}) q)").fetchone()
    return ",".join(cols), int(n), int(a), int(b)


def hub_cte(files):
    """The triple CTE over N-Triples files, parsed as TripleSource.parseLine
    does for the generator's lines (space-separated terms without blanks,
    '#' comment lines skipped)."""
    lst = ", ".join(f"'{f}'" for f in files)
    nt = (f"read_csv([{lst}], columns={{'line': 'VARCHAR'}}, delim='\\t', "
          "header=false, quote='', escape='', auto_detect=false)")
    return ("triples AS (SELECT string_split(line, ' ')[1] AS subj, "
            "string_split(line, ' ')[2] AS pred, string_split(line, ' ')[3] AS obj "
            f"FROM {nt} WHERE line <> '' AND NOT starts_with(line, '#'))")


def expected(workload, program, data_dir, hub_files, temp_dir):
    """{name: (cols, rows, a, b)} for the workload's checked results."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '3GB'")
    con.execute("SET preserve_insertion_order = false")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET max_temp_directory_size = '4GB'")
    sqls = program["oracle"]
    if workload == "hub-cind":
        cte = program["triples_cte"]
        sql = sqls["cind_minimal"]
        if cte not in sql:
            raise ValueError("cind_minimal oracle no longer uses TripleSource.DUCKDB_CTE")
        return {"cind_minimal": _digest(con, sql.replace(cte, hub_cte(hub_files)))}
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    # tpch-cind's traced run also checks the declared triple queries
    return {q: _digest(con, sqls[q]) for q in ["cind_minimal"] + program["queries"]}


def write_expect(path, digests):
    with open(path, "w") as f:
        for name, (cols, n, a, b) in sorted(digests.items()):
            f.write(f"{name}\t{cols}\t{n}\t{a}\t{b}\n")
