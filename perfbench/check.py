"""Output checks: every query's dumped result against DuckDB running
`SparkEntry.oracleSql` over the same generated files (rows-only queries
against row-count rules), every era call's counts and the stream's output
against the counts the users generator planted."""
import glob
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(df):
    """Columns sorted by name, floats as 6-decimal strings, rows sorted:
    the same canonical form the repository's oracle compare uses."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            out[c] = s.round(6).map(lambda x: "null" if pd.isna(x) else f"{x:.6f}")
        else:
            out[c] = s.map(lambda x: "null" if x is None or
                           (isinstance(x, float) and pd.isna(x)) else str(x))
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def _dump(check_dir, name):
    files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
    return pq.read_table(files).to_pandas() if files else None


def check_queries(data_dir, check_dir, names, oracle_sql, rows_checks, table_rows):
    """{query: problem} for every query whose output is wrong; {} if all
    are right."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    bad = {}
    for name in names:
        got = _dump(check_dir, name)
        if got is None:
            bad[name] = "no output"
            continue
        if name in oracle_sql:
            want = con.execute(oracle_sql[name]).df()
            a, b = canon(got), canon(want)
            if list(a.columns) != list(b.columns):
                bad[name] = f"columns {list(a.columns)} != {list(b.columns)}"
            elif len(a) != len(b):
                bad[name] = f"rows {len(a)} != {len(b)}"
            elif not a.equals(b):
                bad[name] = "values differ"
            continue
        rule = rows_checks.get(name)
        if rule is None:
            bad[name] = "no oracle SQL and no row-count rule"
            continue
        p = check_rows(got, rule, table_rows)
        if p:
            bad[name] = p
    con.close()
    return bad


def check_rows(got, rule, table_rows):
    """The problem with a rows-only query's output, or None. A rule sets
    any of: "rows" (a count, or [table, per-row multiple]), "max_rows",
    "sum_equals_table" ([column, table]: the column sums to the table's
    row count) and "positive" (a column whose every value is > 0)."""
    n = len(got)
    if "rows" in rule:
        want = rule["rows"]
        if isinstance(want, list):
            want = table_rows[want[0]] * want[1]
        if n != want:
            return f"rows {n} != {want}"
    if n > rule.get("max_rows", n):
        return f"rows {n} > {rule['max_rows']}"
    if "sum_equals_table" in rule:
        col, table = rule["sum_equals_table"]
        if int(got[col].sum()) != table_rows[table]:
            return f"sum({col}) {int(got[col].sum())} != {table} rows {table_rows[table]}"
    if "positive" in rule and not (got[rule["positive"]] > 0).all():
        return f"{rule['positive']} not all > 0"
    return None


def check_era(name, result, expected):
    """The problem with one era call's returned counts, or None."""
    n, valid = expected["rows"], expected["valid"]
    want = {
        "basic2016": n,
        "validated2018": {"loaded": valid, "rejected": n - valid},
        "parallel2020": {"n_rows": n, "n_valid": valid, "n_invalid": n - valid},
        "quality2022": {"loaded": expected["valid_distinct"],
                        "dup_rows": expected["planted"]["duplicate"],
                        "valid_rows": valid, "total_rows": n},
    }[name]
    if isinstance(want, dict):
        got = {k: result.get(k) for k in want} if isinstance(result, dict) else result
        ok = isinstance(result, dict) and all(
            result.get(k) is not None and float(result[k]) == v for k, v in want.items())
    else:
        got, ok = result, result == want
    return None if ok else f"{name}: got {got}, want {want}"


def check_rejects(eras_dir, expected):
    """Rejected rows by reason in validated2018's side output."""
    files = glob.glob(os.path.join(eras_dir, "reject", "*.parquet"))
    if not files:
        return "validated2018: no reject output"
    got = dict(duckdb.sql(f"SELECT reason, count(*) FROM read_parquet({files!r}) "
                          "GROUP BY 1").fetchall())
    return None if got == expected["rejected"] else \
        f"rejects by reason {got}, want {expected['rejected']}"


def check_stream(out_dir, consumed, expected_rows):
    """Rows the stream loaded against the valid rows of the files dropped."""
    files = glob.glob(os.path.join(out_dir, "*", "*.parquet"))
    got = duckdb.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] \
        if files else 0
    if got != expected_rows:
        return f"stream loaded {got} rows from {consumed} files, want {expected_rows}"
    return None
