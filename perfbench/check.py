"""Correctness gate of the perfbench runs, in DuckDB.

Batch queries: each output the engine wrote is compared with the query's
`SparkEntry.oracleSql` run over the generated parquet, with the compare of
the engine's own oracle check: columns sorted by name, rows sorted by every
column, then exact cell equality.

Stream: the rows the three streaming twins emitted are compared with a batch
recomputation over every replayed file.
"""
import glob
import json
import os

import duckdb


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def same(got, want):
    """Exact compare after canon(); returns None when equal, else why not."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        if str(got[c].dtype) != str(want[c].dtype):
            try:
                got[c] = got[c].astype(want[c].dtype)
            except (TypeError, ValueError):
                pass
    if got.equals(want):
        return None
    for c in got.columns:
        a, b = got[c], want[c]
        neq = ~((a == b) | (a.isna() & b.isna()))
        if neq.any():
            i = neq.idxmax()
            return f"col {c} row {i}: got {a[i]!r} want {b[i]!r} ({int(neq.sum())} cells differ)"
    return "frames differ"


def batch(data_dir, out_dir):
    """{query: None | reason} for every query in out_dir/oracle_sql.json."""
    con = duckdb.connect()
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    report = {}
    for name, sql in sorted(oracles.items()):
        try:
            if not sql:
                raise ValueError("no oracle SQL")
            got = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
            report[name] = same(got, con.execute(sql).fetchdf())
        except Exception as e:  # a missing output or failed oracle is a failure
            report[name] = f"error: {str(e)[:300]}"
    return report


# The streaming twins' batch equivalents over the replayed events, in the
# columns StreamRun writes: q12's hourly counts, q13's per-second counts and
# q47's sessions (a new session after a gap > 1800 s). {wm} is the watermark
# (epoch s) the twin last evicted at: append mode has emitted exactly the
# windows and sessions that end at or before it.
STREAM_SQL = {
    "hourly": """
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
          event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2 HAVING hour_epoch + 3600 <= {wm}""",
    "per_second": """
        SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec_epoch, COUNT(*) AS cnt
        FROM events GROUP BY 1 HAVING sec_epoch + 1 <= {wm}""",
    "sessions": """
        WITH e AS (
          SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec FROM events),
        gaps AS (
          SELECT user_id, sec,
            CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
                 THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec ASC)),
        sess AS (
          SELECT user_id, sec,
            SUM(new_sess) OVER (PARTITION BY user_id ORDER BY sec ASC) AS session_id
          FROM gaps)
        SELECT user_id, MIN(sec) AS session_start, COUNT(*) AS n_events
        FROM sess GROUP BY user_id, session_id HAVING MAX(sec) + 1800 <= {wm}""",
}


def stream(replayed_dir, out_dir, watermarks):
    """{twin: None | reason}, each twin cut at its watermark (epoch s)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{replayed_dir}/*.parquet'")
    report = {}
    for name, sql in STREAM_SQL.items():
        try:
            got = con.execute(f"SELECT * FROM '{out_dir}/stream_{name}/*.parquet'").fetchdf()
            report[name] = same(got, con.execute(sql.format(wm=int(watermarks[name]))).fetchdf())
        except Exception as e:
            report[name] = f"error: {str(e)[:300]}"
    return report
