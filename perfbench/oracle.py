"""Checks a chain's Spark result against its DuckDB oracle SQL
(`SparkEntry.oracleSql`), run over the same generated input.

The comparison follows the repository's correctness gate: columns sorted
by name, rows sorted, values compared exactly (floats by equality)."""
import glob
import os
import re

# Every CTE is evaluated once (`AS MATERIALIZED`) instead of being inlined
# at each reference: DuckDB otherwise re-evaluates the shared CTEs of the
# corpus oracle many times over (about a minute for 500 documents). This
# changes only how the query is evaluated, not its result. A CTE that
# names itself in its body (a recursive one) keeps its plain form.
_CTE = re.compile(r"\b([a-z_][a-z0-9_]*) AS \(")


def materialized(sql):
    out, pos = [], 0
    for m in _CTE.finditer(sql):
        depth, end = 1, m.end()
        while depth and end < len(sql):
            depth += {"(": 1, ")": -1}.get(sql[end], 0)
            end += 1
        if not re.search(rf"\b{m.group(1)}\b", sql[m.end():end]):
            out.append(sql[pos:m.start()] + f"{m.group(1)} AS MATERIALIZED (")
            pos = m.end()
    return "".join(out) + sql[pos:]


def check(input_dir, result_dir, sql_file):
    """Returns a list of mismatch descriptions (empty when the result matches)."""
    import duckdb
    con = duckdb.connect()
    for path in glob.glob(os.path.join(input_dir, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    with open(sql_file) as f:
        sql = f.read()
    exp = con.sql(materialized(sql)).df()
    got = con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").df()
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return [f"oracle columns {list(exp.columns)} != result columns {list(got.columns)}"]
    if len(exp) != len(got):
        return [f"oracle has {len(exp)} rows, result has {len(got)}"]
    cols = list(exp.columns)
    exp = exp.sort_values(by=cols).reset_index(drop=True)
    got = got.sort_values(by=cols).reset_index(drop=True)
    for c in cols:
        e, g = exp[c], got[c]
        if e.dtype.kind == "f" or g.dtype.kind == "f":
            bad = ~((e == g) | (e.isna() & g.isna()))
        else:
            bad = e.astype(str) != g.astype(str)
        if bad.any():
            i = bad.idxmax()
            return [f"column {c} row {i}: oracle {e[i]!r}, result {g[i]!r} "
                    f"({int(bad.sum())} rows differ)"]
    return []
