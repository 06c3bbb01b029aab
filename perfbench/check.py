"""Output checks: the written files of every job call against the program's
DuckDB oracle SQL run over the same generated inputs.

Values are compared as multisets of rows after canonicalization: timestamps
as integer microseconds, floats to 12 significant digits (sums may differ
in the last ulp between engines, as in the repository's own oracle check),
everything else exactly.
"""
import glob
import os
import re
from collections import Counter

import duckdb
import pandas as pd

CONSUME_COLS = ["user_id", "event_type", "ts", "value", "last_signup_value",
                "n_clicks", "click_value", "n_views", "c_name", "c_mktsegment",
                "price_src", "geoid", "n_name", "partition_month", "iteration"]
JSON_COLS = ["user_id", "event_type", "price_src", "partition_month", "n_name",
             "n_clicks", "n_views"]
CORPUS_COLS = ["doc_id", "lang", "source", "n_chars"]


def connect(in_dir, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '3GB'")
    con.execute(f"SET temp_directory = '{in_dir}/../duckdb-tmp'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{in_dir}/{t}.parquet/*.parquet')")
    return con


def _sub_once(sql, old, new, count=1):
    if sql.count(old) != count:
        raise ValueError(f"oracle SQL changed shape: expected {count}x {old!r}")
    return sql.replace(old, new)


def consume_oracle_sql(sql, wl):
    """pipe_consume_e2e's oracle with the workload's windows and iteration
    matrix substituted for the default ConsumeParams ones."""
    sql = _sub_once(sql, "TIMESTAMP '1996-01-01'", f"TIMESTAMP '{wl['activity_from']}'")
    sql = _sub_once(sql, "TIMESTAMP '1998-01-01'", f"TIMESTAMP '{wl['activity_to']}'")
    sql = _sub_once(sql, "TIMESTAMP '2024-01-15'", f"TIMESTAMP '{wl['month_start']}'", 2)
    sql = _sub_once(sql, "TIMESTAMP '2024-02-01'", f"TIMESTAMP '{wl['month_end']}'")
    pattern = re.compile(r"CASE WHEN c_mktsegment IN \('BUILDING', 'AUTOMOBILE'\) "
                         r"THEN 'it1'\s+ELSE 'it2' END")
    if len(pattern.findall(sql)) != 1:
        raise ValueError("oracle SQL changed shape: iteration CASE not found")
    case = "CASE " + " ".join(
        f"WHEN c_mktsegment IN ({', '.join(repr(s) for s in segs)}) THEN '{name}'"
        for name, segs in wl["iterations"]) + " END"
    sql = pattern.sub(case, sql)
    return f"SELECT * FROM ({sql}) WHERE iteration IS NOT NULL"


def _canon_value(v):
    if v is None or (isinstance(v, float) and v != v) or v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.value // 1000
    if isinstance(v, float):
        return float(f"{v:.12g}")
    if hasattr(v, "item"):  # numpy scalar
        return _canon_value(v.item())
    return v


def canon(df, cols):
    """Multiset of canonical row tuples over `cols`."""
    df = df[cols]
    rows = Counter()
    for rec in df.itertuples(index=False, name=None):
        rows[tuple(_canon_value(v) for v in rec)] += 1
    return rows


def diff(expected, actual, what):
    """None when equal, else a one-line description of the difference."""
    if expected == actual:
        return None
    missing = sum((expected - actual).values())
    extra = sum((actual - expected).values())
    return (f"{what}: {missing} expected rows missing, {extra} unexpected rows "
            f"({sum(expected.values())} expected)")


def read_table(con, path, partitioned):
    files = os.path.join(path, "*", "*.parquet") if partitioned else os.path.join(path, "*.parquet")
    if not glob.glob(files):
        return None
    hive = ", hive_partitioning = true, hive_types = {'partition_month': VARCHAR}" if partitioned else ""
    return con.execute(f"SELECT * FROM read_parquet('{files}'{hive})").df()


def _ts_micros(series):
    return pd.to_datetime(series, utc=True, format="ISO8601")


def check_consume(con, expected_df, out, wl):
    """Check one consume call's table, JSON and CSV sinks; return problems."""
    problems = []
    table = read_table(con, os.path.join(out, "table"), partitioned=True)
    if table is None:
        return ["table: no files written"]
    problems.append(diff(canon(expected_df, CONSUME_COLS), canon(table, CONSUME_COLS), "table"))
    date_key = f"/partitioncreateddate={wl['date_segment']}" if wl.get("date_segment") else ""
    for name, _ in wl["iterations"]:
        want = expected_df[expected_df["iteration"] == name]
        jfiles = glob.glob(f"{out}/json/{name}{date_key}/*.json.gz")
        cfiles = glob.glob(f"{out}/csv/{name}{date_key}/*.csv.gz")
        if not jfiles or not cfiles:
            problems.append(f"{name}: export files missing")
            continue
        js = con.execute(
            "SELECT \"user\".id AS user_id, event.type AS event_type, price.src AS price_src, "
            "\"partition\".month AS partition_month, n.name AS n_name, n.clicks AS n_clicks, "
            "n.views AS n_views FROM read_json(?, format = 'newline_delimited', columns = {"
            "'user': 'STRUCT(id BIGINT)', 'event': 'STRUCT(type VARCHAR)', "
            "'price': 'STRUCT(src VARCHAR)', 'partition': 'STRUCT(month VARCHAR)', "
            "'n': 'STRUCT(name VARCHAR, clicks BIGINT, views BIGINT)'})", [jfiles]).df()
        problems.append(diff(canon(want, JSON_COLS), canon(js, JSON_COLS), f"{name} json"))
        csv = con.execute("SELECT * FROM read_csv(?, header = true, all_varchar = true)",
                          [cfiles]).df()
        cols = [c for c in CONSUME_COLS if c in csv.columns]
        if len(cols) != len(CONSUME_COLS):
            problems.append(f"{name} csv: columns {sorted(set(CONSUME_COLS) - set(cols))} missing")
            continue
        typed = pd.DataFrame({c: csv[c] for c in cols})
        typed["ts"] = _ts_micros(typed["ts"])
        for c in ["user_id", "n_clicks", "n_views"]:
            typed[c] = typed[c].map(lambda s: None if s is None else int(s))
        for c in ["value", "last_signup_value", "click_value"]:
            typed[c] = typed[c].map(lambda s: None if s is None else float(s))
        problems.append(diff(canon(want, cols), canon(typed, cols), f"{name} csv"))
    return [p for p in problems if p]


def corpus_oracle_sql(sql):
    """d6_neardup_dedup's oracle, made affordable without changing its result:
    the pair CTEs are materialized once instead of being re-inlined into
    every recursion step, and pairs whose set sizes differ by more than 6 %
    are skipped before the intersection (Jaccard <= min/max size, so such a
    pair is below 0.94 and can never reach the 0.95 threshold)."""
    sql = _sub_once(sql, "sim AS (", "sim AS MATERIALIZED (")
    sql = _sub_once(sql, "edges AS (", "edges AS MATERIALIZED (")
    return _sub_once(sql, "FROM toks a JOIN toks b ON a.doc_id < b.doc_id",
                     "FROM toks a JOIN toks b ON a.doc_id < b.doc_id AND "
                     "100 * least(len(a.s), len(b.s)) >= 94 * greatest(len(a.s), len(b.s))")


def check_corpus(con, expected_df, out):
    table = read_table(con, os.path.join(out, "table"), partitioned=False)
    if table is None:
        return ["table: no files written"]
    p = diff(canon(expected_df, CORPUS_COLS), canon(table, CORPUS_COLS), "survivors")
    return [p] if p else []


def same_rows(con, out_a, out_b, partitioned):
    """Row identity of two calls' written tables (all shared columns)."""
    a = read_table(con, os.path.join(out_a, "table"), partitioned)
    b = read_table(con, os.path.join(out_b, "table"), partitioned)
    if a is None or b is None:
        return "table missing"
    cols = sorted(set(a.columns) & set(b.columns))
    return diff(canon(a, cols), canon(b, cols), "traced vs untraced table")
