"""DuckDB oracles for the benchmark's outputs.

Each check returns a list of failure messages; an empty list means the
output matched. The SQL mirrors the engine's semantics, not its code:
latest-wins per post id, the Basic-tier follower sentinel, the half-up
4-decimal averages of ``q35_history_fact``'s oracle, and the ordered
``", "``-joined series with NULLs skipped.
"""

import json

import duckdb
import numpy as np

from gen import NOW_SQL

POST_COLUMNS = ("{id: 'VARCHAR', timestamp: 'VARCHAR', engagement: 'BIGINT', "
                "owner: 'STRUCT(id VARCHAR, username VARCHAR, followers_count BIGINT)'}")
STATS_COLUMNS = "{created_at: 'VARCHAR', id: 'VARCHAR', followers_count: 'BIGINT', impressions: 'BIGINT', reach: 'BIGINT'}"


def _avg4dp(x):
    """Half-up 4dp mean by integer arithmetic (ExactStats.avg4dp's mirror)."""
    s6 = f"(sum(({x})::DECIMAL(20,6)) * 1000000)::BIGINT"
    n = f"count({x})"
    q = f"((abs({s6}) * 2 + 100 * {n}) // (200 * {n}))"
    return f"CASE WHEN {n} > 0 THEN (CASE WHEN {s6} < 0 THEN -{q} ELSE {q} END)::DOUBLE / 10000 END"


def history_sql(lake, colors):
    return f"""
WITH raw AS (
  SELECT *, filename AS object_key FROM read_json('{lake}/posts/*/*.json',
    format='newline_delimited', ignore_errors=true, filename=true, columns={POST_COLUMNS})
), posts AS (
  SELECT owner.id AS owner_id, coalesce(owner.followers_count, -1) AS followers, engagement,
    strptime(substr(timestamp, 1, 19), '%Y-%m-%dT%H:%M:%S') AS ts,
    row_number() OVER (PARTITION BY id ORDER BY timestamp DESC, object_key DESC) AS rn
  FROM raw WHERE id IS NOT NULL
), aggs AS (
  SELECT owner_id AS id, count(*) AS doc_count,
    {_avg4dp('followers')} AS fol_avg, {_avg4dp('engagement')} AS eng_avg
  FROM posts WHERE rn = 1 AND ts >= TIMESTAMP '{NOW_SQL}' - INTERVAL 60 DAY
  GROUP BY owner_id
), stats AS (
  SELECT id, followers_count, impressions, reach,
    coalesce(try_cast(created_at AS DATE),
             CAST(make_timestamp(try_cast(created_at AS BIGINT) * 1000) AS DATE)) AS created_at
  FROM read_json('{lake}/stats/*/*.json', format='newline_delimited', columns={STATS_COLUMNS})
), per_user AS (
  SELECT id,
    coalesce(string_agg(followers_count::VARCHAR, ', ' ORDER BY created_at, followers_count), '') AS followers,
    coalesce(string_agg(impressions::VARCHAR, ', ' ORDER BY created_at, impressions), '') AS impressions,
    coalesce(string_agg(reach::VARCHAR, ', ' ORDER BY created_at, reach), '') AS reach
  FROM stats GROUP BY id
)
SELECT u.id, u.followers, u.impressions, u.reach, a.doc_count, a.fol_avg, a.eng_avg, c.colors
FROM per_user u LEFT JOIN aggs a ON a.id = u.id
LEFT JOIN read_parquet('{colors}/*.parquet') c ON c.igId = u.id
ORDER BY u.id"""


def compare(got, exp, what):
    """Exact comparison of two frames after sorting columns and rows."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return [f"{what}: columns {list(got.columns)} != {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"{what}: {len(got)} rows, oracle has {len(exp)}"]
    cols = list(got.columns)
    g = got.sort_values(cols).reset_index(drop=True)
    e = exp.sort_values(cols).reset_index(drop=True)
    out = []
    for c in cols:
        a, b = g[c], e[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            neq = ~np.isclose(a.astype(float), b.astype(float), rtol=0, atol=0, equal_nan=True)
        else:
            neq = ~((a == b) | (a.isna() & b.isna())).to_numpy()
        if neq.any():
            i = int(np.argmax(neq))
            out.append(f"{what}: column {c} row {i}: got {a[i]!r}, oracle {b[i]!r} ({int(neq.sum())} rows differ)")
    return out


def _parquet(con, path):
    return con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()


def check_history(lake, colors, history):
    con = duckdb.connect()
    try:
        return compare(_parquet(con, history), con.sql(history_sql(lake, colors)).df(), "history")
    finally:
        con.close()


def check_palettes(expected_json, table):
    """The palette table against the driver-local recompute, user by user."""
    with open(expected_json, encoding="utf-8") as f:
        expected = json.load(f)
    con = duckdb.connect()
    try:
        got = dict(con.sql(f"SELECT igId, colors FROM read_parquet('{table}/*.parquet')").fetchall())
    finally:
        con.close()
    wrong = sorted(k for k in set(expected) | set(got) if expected.get(k) != got.get(k))
    return [f"palette of {k}: got {got.get(k)!r}, recompute {expected.get(k)!r}" for k in wrong[:5]]


def search_sql(query):
    kind, term = query.split(":", 1)
    term = term.replace("'", "''")
    if kind == "keyword":
        pred = f"contains(lower(caption), lower('{term}'))"
    else:
        column = "hashtags" if kind == "hashtag" else "mentioned_users"
        pred = f"list_contains(string_split_regex({column}, ',\\s*'), '{term}')"
    return f"SELECT id FROM snapshot WHERE {pred} ORDER BY id"


def check_searches(snapshot, searches_json):
    with open(searches_json, encoding="utf-8") as f:
        searches = json.load(f)
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW snapshot AS SELECT * FROM read_parquet('{snapshot}/*.parquet')")
        out = []
        for s in searches:
            exp = [r[0] for r in con.sql(search_sql(s["query"])).fetchall()]
            if sorted(exp) != s["ids"]:
                out.append(f"search {s['query']}: {len(s['ids'])} ids, oracle has {len(exp)}")
        return out
    finally:
        con.close()
