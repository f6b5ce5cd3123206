"""Correctness checks, run after the timed window.

Query workloads: every QDef's output (dumped by the JVM before timing)
is compared with its DuckDB oracle by the repo's own gate script,
``tools/check_oracle.py``, unchanged.

airbnb_monthly: the five models the timed run published are compared, by
the same script, with a DuckDB replay of the generated feeds, modelled on
the q175/q180 oracle: latest-per-key listings, host extraction, the
weather join, month-by-month watermark deltas with newest-wins review
merges, stopword language id + lexicon sentiment, and the reviewers roll-up.
"""
import glob
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

MODELS = ["listings", "hosts", "weather", "reviews", "reviewers"]


def run_gate(repo, tables_dir, check_dir, artifact):
    """Run tools/check_oracle.py; return the names it failed (or all
    gated names when it could not report)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "check_oracle.py"),
         tables_dir, check_dir, artifact],
        capture_output=True, text=True, timeout=150, cwd=os.path.dirname(artifact))
    try:
        with open(artifact) as f:
            res = json.load(f)
    except (OSError, ValueError):
        names = list(json.load(open(os.path.join(check_dir, "oracle_sql.json"))))
        return names or ["<gate>"], proc.stdout[-2000:] + proc.stderr[-2000:]
    fails = list(res.get("fails", []))
    if proc.returncode != 0 and not fails:
        fails = ["<gate>"]
    return fails, proc.stdout[-2000:]


def _sql_list(words):
    return "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in words) + "]"


def lang_sentiment_ctes(lex, src):
    """DuckDB replay of the engine's lang_id and sentiment expressions
    over ``src(review_id, comments)``: distinct whitespace tokens of the
    lower-cased text, stopword overlap per language (ties to the first
    code in order, zh by character containment), lexicon hit counts.
    The overlaps are a join against a word table; DuckDB's list_intersect
    with a constant list is two orders of magnitude slower."""
    langs = sorted(l for l in lex["stopwords"] if l != "zh")
    lists = [(l, lex["stopwords"][l]) for l in langs] + \
        [("pos", lex["positive"]), ("neg", lex["negative"])]
    words = ", ".join(sorted({f"('{l}', '{w.replace(chr(39), chr(39) * 2)}')"
                              for l, ws in lists for w in ws}))
    cols = ",\n  ".join(
        f"coalesce(sum(h.n) FILTER (WHERE h.lang = '{l}'), 0) AS s_{l}" for l, _ in lists)
    allc = ", ".join([f"s_{l}" for l in langs] + ["s_zh"])
    whens = "\n       ".join(f"WHEN s_{l} = greatest({allc}) THEN '{l}'" for l in langs)
    return f"""
words(lang, word) AS (VALUES {words}),
tok AS MATERIALIZED (SELECT review_id, comments,
    list_distinct(list_filter(string_split_regex(lower(trim(comments)), '\\s+'),
                              x -> len(x) > 0)) AS dt
  FROM {src}),
hits AS (SELECT t.review_id, w.lang, count(*) AS n
  FROM (SELECT review_id, unnest(dt) AS word FROM tok) t JOIN words w USING (word)
  GROUP BY t.review_id, w.lang),
sco AS (SELECT t.review_id, t.comments,
  {cols},
  len(list_filter({_sql_list(lex['stopwords']['zh'])}, c -> contains(lower(t.comments), c))) AS s_zh
  FROM tok t LEFT JOIN hits h USING (review_id)
  GROUP BY t.review_id, t.comments),
lp AS (SELECT review_id, comments,
    CASE WHEN comments IS NULL OR trim(comments) = '' THEN NULL
         WHEN greatest({allc}) = 0 THEN 'und'
         {whens}
         ELSE 'zh' END AS comment_language,
    s_pos AS np, s_neg AS nn
  FROM sco),
scored AS (SELECT review_id, comment_language,
    CASE WHEN comment_language = 'en' AND np > nn THEN 'pos'
         WHEN comment_language = 'en' AND nn > np THEN 'neg'
         ELSE 'n/a' END AS sentiment
  FROM lp)"""


def replay_sql(months, lex):
    """{model: DuckDB SQL} replaying ``months`` monthly runs."""
    listings = """SELECT * EXCLUDE (rn) FROM (
  SELECT *, row_number() OVER (PARTITION BY listing_id ORDER BY last_scraped DESC) AS rn
  FROM (SELECT "ID" AS listing_id, "Host ID" AS host_id, "Host Name" AS host_name,
          "Host Since" AS host_since, "Host City" AS host_city, "City" AS city,
          "Name" AS name, "Price" AS price, "Room Type" AS room_type,
          "Accommodates" AS accommodates, "Last Scraped" AS last_scraped,
          CAST(year("Last Scraped") AS INTEGER) AS scrape_year,
          CAST(month("Last Scraped") AS INTEGER) AS scrape_month
        FROM raw_listings)) WHERE rn = 1"""
    hosts = f"""SELECT host_id, host_name, host_since, host_city, last_scraped FROM (
  SELECT *, row_number() OVER (PARTITION BY host_id
      ORDER BY last_scraped DESC, host_name, host_since, host_city) AS rn
  FROM ({listings})) WHERE rn = 1"""
    weather = """SELECT s.city || '_' || CAST(w.dd AS VARCHAR) AS weather_id, s.city,
    w.dd AS date, w.temperature, w.rain
  FROM (SELECT t.staid, CAST(strptime(t.date, '%Y%m%d') AS DATE) AS dd,
          CAST(t.tg AS DOUBLE) / 10 AS temperature, CAST(r.rr AS DOUBLE) / 10 AS rain
        FROM temp t JOIN rain r USING (date, staid)) w
  JOIN stations s USING (staid)
  WHERE w.dd > DATE '2009-01-01'"""
    ctes = []
    for m in range(1, months + 1):
        ctes.append(f"""f{m} AS (SELECT id AS review_id, listing_id, date, reviewer_id,
    reviewer_name, comments FROM raw_reviews WHERE month = {m})""")
        if m == 1:
            ctes.append("s1 AS MATERIALIZED (SELECT * FROM f1)")
        else:
            ctes.append(f"""s{m} AS MATERIALIZED (SELECT * EXCLUDE (rn, prio) FROM (
  SELECT *, row_number() OVER (PARTITION BY review_id ORDER BY date DESC, prio DESC) AS rn
  FROM (SELECT *, 0 AS prio FROM s{m - 1}
        UNION ALL
        SELECT *, 1 AS prio FROM f{m}
        WHERE date >= (SELECT max(date) FROM s{m - 1}))) WHERE rn = 1)""")
    ctes.append(f"lst AS ({listings})")
    ctes.append(lang_sentiment_ctes(lex, f"s{months}"))
    ctes.append(f"""rev AS (SELECT r.review_id, r.listing_id, r.date, r.reviewer_id,
    r.reviewer_name, r.comments, l.host_id, l.city,
    concat_ws('_', l.city, CAST(CAST(r.date AS DATE) AS VARCHAR)) AS weather_id,
    sc.comment_language, sc.sentiment
  FROM s{months} r LEFT JOIN lst l USING (listing_id) JOIN scored sc USING (review_id))""")
    with_ = "WITH " + ",\n".join(ctes) + "\n"
    reviews = with_ + "SELECT * FROM rev"
    reviewers = with_ + """SELECT reviewer_id, reviewer_name, last_updated, languages FROM (
  SELECT reviewer_id,
    first(reviewer_name ORDER BY date DESC, review_id DESC) AS reviewer_name,
    max(date) AS last_updated,
    coalesce(string_agg(DISTINCT comment_language, ',' ORDER BY comment_language), '')
      AS languages
  FROM rev GROUP BY reviewer_id)"""
    return {"listings": listings, "hosts": hosts, "weather": weather,
            "reviews": reviews, "reviewers": reviewers}


def prepare_airbnb(models_dir, check_dir, months, lex):
    """Lay the published models out as the gate script expects: one
    parquet file per model plus the oracle map."""
    os.makedirs(check_dir, exist_ok=True)
    for m in MODELS:
        parts = sorted(glob.glob(os.path.join(models_dir, m, "*.parquet")))
        os.makedirs(os.path.join(check_dir, m), exist_ok=True)
        if parts:
            table = pq.ParquetDataset(parts).read()
            pq.write_table(table, os.path.join(check_dir, m, "part-0.parquet"))
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(replay_sql(months, lex), f)
