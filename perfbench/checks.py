"""Output checks: sink key invariants, a DuckDB oracle over the generated
JSONL for a sample of pipeline output, and recall floors for curation.

Each check returns ``(name, ok, detail)``; the run is correct only when
every check passes."""

from __future__ import annotations

from pyspark.sql import functions as F

from ingestion_scripts_spark import oracle as O

#: recall floors for curation (seeds 1-15 measured pair recall 0.69-0.75
#: with the operator's default 4 bands x 4 rows, ANN recall@10 0.91-0.97);
#: a drop below is a defect, not noise
DEDUP_PAIR_RECALL_FLOOR = 0.6
ANN_RECALL_FLOOR = 0.85
ORACLE_SAMPLE = 200


def sink_checks(spark, path: str, key: str, expected: set, preseeded: set,
                name: str) -> tuple[list, int]:
    """Every key once; the sink holds exactly the expected keys; the rows
    this run added equal the distinct keys that were new to the sink.
    Also returns how many expected keys are missing (failed records)."""
    df = spark.read.parquet(path)
    rows, distinct = df.select(F.count("*"), F.countDistinct(key)).first()
    keys = {r[0] for r in df.select(key).collect()}
    new = len(expected - preseeded)
    return [
        (f"{name}.key_once", rows == distinct, f"rows={rows} distinct={distinct}"),
        (f"{name}.keys_expected", keys == expected,
         f"sink={len(keys)} expected={len(expected)} missing={len(expected - keys)} "
         f"extra={len(keys - expected)}"),
        (f"{name}.rows_added", rows - len(preseeded) == new,
         f"added={rows - len(preseeded)} new_keys={new}"),
    ], len(expected - keys)


def _duck(sql: str, path: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        return con.execute(sql.replace("$SRC", path)).fetchall()
    finally:
        con.close()


def _in_list(keys: list[str]) -> str:
    return "(" + ", ".join(O.sq(k) for k in keys) + ")"


_ARR = "coalesce(array_to_string({0}, '|'), '')".format


def twitter_oracle(spark, sink: str, src: str, keys: list[str]) -> tuple:
    """Sentiment, hashtags and the zoned timestamp of sampled tweets in the
    sink against DuckDB SQL from the engine's oracle helpers."""
    sent = O.sql_sentiment("text")
    sql = (
        "SELECT tweet_id, " + ", ".join(f"{sent[k]}" for k in ("negative", "neutral", "positive", "compound"))
        + f", {_ARR(O.sql_hashtags('text'))}, "
        "CAST(epoch(strptime(created_at, '%Y-%m-%d %H:%M:%S%z')) AS BIGINT) "
        "FROM (SELECT DISTINCT tweet_id, text, created_at FROM read_json('$SRC', format='newline_delimited', "
        "columns={'tweet_id': 'VARCHAR', 'text': 'VARCHAR', 'created_at': 'VARCHAR'})) "
        f"WHERE tweet_id IN {_in_list(keys)}"
    )
    want = {r[0]: tuple(r[1:]) for r in _duck(sql, src)}
    got_df = spark.read.parquet(sink).where(F.col("tweet_id").isin(keys)).select(
        "tweet_id", "sentiment.negative", "sentiment.neutral", "sentiment.positive",
        "sentiment.compound", F.concat_ws("|", "hashtags"),
        F.unix_timestamp("created_at_ts"),
    )
    got = {r[0]: tuple(r[1:]) for r in got_df.collect()}
    bad = [k for k in keys if got.get(k) != want.get(k)]
    return ("twitter.oracle_sample", not bad and len(want) == len(keys),
            f"sampled={len(keys)} mismatched={len(bad)} first={bad[:1]}")


def rss_oracle(spark, sink: str, src: str, keys: list[str]) -> tuple:
    """Routed content, tags, summary and the normalized publish time of
    sampled feeds in the sink against DuckDB SQL from the oracle helpers."""
    body = "regexp_replace(published, '^[A-Za-z]+,\\s*', '')"
    sql = f"""
WITH src AS (
  SELECT DISTINCT link, content, summary, published, published_parsed
  FROM read_json('$SRC', format='newline_delimited',
    columns={{'link': 'VARCHAR', 'content': 'VARCHAR', 'summary': 'VARCHAR',
             'published': 'VARCHAR', 'published_parsed': 'INTEGER[]'}})
  WHERE link IN {_in_list(keys)}),
routed AS (
  SELECT link, summary, published, published_parsed,
    CASE WHEN content IS NOT NULL AND content <> '' AND NOT regexp_matches(content, '<[^>]+>')
         THEN content ELSE {O.sql_html_strip('content')} END AS content
  FROM src)
SELECT link, content,
  {_ARR(O.sql_keywords_native('content'))},
  CASE WHEN summary IS NOT NULL AND summary <> '' THEN {O.sql_html_strip('summary')}
       ELSE {O.sql_summary('content')} END,
  CAST(epoch(CASE
    WHEN published_parsed IS NOT NULL AND len(published_parsed) >= 6
      THEN make_timestamp(published_parsed[1], published_parsed[2], published_parsed[3],
                          published_parsed[4], published_parsed[5], published_parsed[6])
    WHEN regexp_matches(published, '\\d$')
      THEN strptime({body}, '%d %b %Y %H:%M:%S %z')::TIMESTAMP
    ELSE strptime(regexp_replace({body}, ' [A-Za-z]+$', ''), '%d %b %Y %H:%M:%S') END) AS BIGINT)
FROM routed"""
    want = {r[0]: tuple(r[1:]) for r in _duck(sql, src)}
    got_df = spark.read.parquet(sink).where(F.col("link").isin(keys)).select(
        "link", "content", F.concat_ws("|", "tags"), "summary", F.unix_timestamp("published_ts"),
    )
    got = {r[0]: tuple(r[1:]) for r in got_df.collect()}
    bad = [k for k in keys if got.get(k) != want.get(k)]
    return ("rss.oracle_sample", not bad and len(want) == len(keys),
            f"sampled={len(keys)} mismatched={len(bad)} first={bad[:1]}")


def components(pairs: set[tuple[int, int]]) -> dict[int, int]:
    """Union-find components of a pair set: node -> smallest node."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
