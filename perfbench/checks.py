"""Correctness checks that share no code with the program.

Query workloads: each query's dumped result is compared with DuckDB
running the query's `SparkEntry.oracleSql` over the same parquet
tables, and every timed pass's row count must equal the oracle's.

Medallion: DuckDB reads the bronze JSON, applies the silver gates and
q21's rule-sentiment SQL, and must reproduce the KPI record; further
properties tie the committed snapshots to the generator's own counts.

Every check returns a list of failure strings; empty means it passed.
"""
import collections
import json
import math
import os
import re

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
POSITIVE = ["amazing", "best", "excellent", "fast", "good", "great", "love"]
NEGATIVE = ["awful", "bad", "broken", "hate", "slow", "terrible", "worst"]


# ------------------------------------------------------------ query mixes

def connect_tables(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def hashed_rows(tbl):
    """Rows as the oracle comparison hashes them: pandas-converted cells
    stringified, columns sorted by name, rows sorted."""
    pdf = tbl.to_pandas()
    cols = sorted(pdf.columns)
    return cols, sorted(tuple(str(v) for v in row)
                        for row in pdf[cols].itertuples(index=False))


def compare_result(name, oracle_tbl, spark_tbl):
    dc, dr = hashed_rows(oracle_tbl)
    sc, sr = hashed_rows(spark_tbl)
    if dc != sc:
        return [f"{name}: columns differ: oracle={dc} program={sc}"]
    if len(dr) != len(sr):
        return [f"{name}: rows differ: oracle={len(dr)} program={len(sr)}"]
    bad = [(a, b) for a, b in zip(dr, sr) if a != b]
    if bad:
        return [f"{name}: {len(bad)}/{len(dr)} rows differ; first: "
                f"oracle={bad[0][0]} program={bad[0][1]}"]
    return []


def check_pass_counts(name, oracle_rows, counts):
    """`counts`: the row count the program returned in each pass."""
    return [f"{name}: pass {i} returned {c} rows, oracle has {oracle_rows}"
            for i, c in enumerate(counts) if c != oracle_rows]


def check_queries(data_dir, results, pass_counts):
    """results: name -> {path, sql}; pass_counts: name -> [rows per pass]."""
    con = connect_tables(data_dir)
    fails = []
    for name in sorted(results):
        sql = results[name]["sql"]
        if not sql:
            fails.append(f"{name}: no oracle SQL")
            continue
        oracle = con.sql(sql).arrow()
        program = pq.read_table(results[name]["path"])
        fails += compare_result(name, oracle, program)
        fails += check_pass_counts(name, oracle.num_rows, pass_counts.get(name, []))
    return fails


# -------------------------------------------------------------- medallion

def _rule_sql(col):
    pos = ", ".join(f"'{w}'" for w in POSITIVE)
    neg = ", ".join(f"'{w}'" for w in NEGATIVE)
    return f"""(WITH t AS (SELECT d, string_split_regex(trim(lower({col})), '\\s+') AS toks FROM s),
      pn AS (SELECT d, len(list_filter(toks, x -> x IN ({pos}))) AS p,
                       len(list_filter(toks, x -> x IN ({neg}))) AS n FROM t)
      SELECT d, CASE WHEN p > n THEN 'positive' WHEN n > p THEN 'negative'
                     ELSE 'neutral' END AS sentiment, count(*) AS k
      FROM pn GROUP BY ALL)"""


def kpi_oracle(bronze):
    """Per ingest_date: total videos, total comments and the two sentiment
    maps, computed by DuckDB from the bronze JSON alone."""
    con = duckdb.connect(config={"threads": 2, "memory_limit": "2GB"})
    date = "regexp_extract(filename, 'ingest_date=([0-9-]+)', 1)"
    opts = "maximum_object_size=67108864, filename=true, format='auto'"
    con.execute(f"""CREATE VIEW bv AS SELECT {date} AS d, unnest(items) AS it
      FROM read_json('{bronze}/videos/*/*.json', {opts}, columns={{
        'items': 'STRUCT(id VARCHAR, snippet STRUCT(title VARCHAR))[]'}})""")
    con.execute(f"""CREATE VIEW bc AS SELECT {date} AS d, unnest(items) AS it
      FROM read_json('{bronze}/comments/*/*.json', {opts}, columns={{
        'items': 'STRUCT(text VARCHAR, error VARCHAR)[]'}})""")
    out = collections.defaultdict(lambda: {
        "total_videos": 0, "total_comments": 0,
        "video_sentiment_counts": {}, "comment_sentiment_counts": {}})
    videos = con.sql(f"""WITH s AS (SELECT d, it.snippet.title AS title FROM bv)
      SELECT * FROM {_rule_sql('title')}""").fetchall()
    comments = con.sql(f"""WITH s AS (SELECT d, trim(it.text) AS text FROM bc
        WHERE it.error IS NULL AND it.text IS NOT NULL AND trim(it.text) <> '')
      SELECT * FROM {_rule_sql('text')}""").fetchall()
    for d, s, k in videos:
        out[d]["total_videos"] += k
        out[d]["video_sentiment_counts"][s] = k
    for d, s, k in comments:
        out[d]["total_comments"] += k
        out[d]["comment_sentiment_counts"][s] = k
    return dict(out)


def snapshot_files(root):
    """Data files of a snapshot table's newest manifest."""
    mdir = os.path.join(root, "manifests")
    newest = max(f for f in os.listdir(mdir) if re.fullmatch(r"v\d{5}\.manifest", f))
    with open(os.path.join(mdir, newest)) as f:
        names = [l[5:] for l in f.read().splitlines() if l.startswith("file=")]
    return [os.path.join(root, "data", n) for n in names]


def read_snapshot(root):
    return duckdb.sql(f"SELECT * FROM read_parquet({snapshot_files(root)!r})")


def kpi_rows(root):
    rows = {}
    for r in read_snapshot(root).arrow().to_pylist():
        r = dict(r)
        for m in ("video_sentiment_counts", "comment_sentiment_counts"):
            r[m] = dict(r[m])
        rows[r["ingest_date"]] = r
    return rows


def check_kpis(kpis, oracle):
    """The committed KPI record must equal the DuckDB oracle per date."""
    fails = []
    if sorted(kpis) != sorted(oracle):
        return [f"kpis: dates {sorted(kpis)} != oracle {sorted(oracle)}"]
    for d, want in oracle.items():
        got = kpis[d]
        for k, v in want.items():
            if got.get(k) != v:
                fails.append(f"kpis {d}: {k} = {got.get(k)}, oracle {v}")
    return fails


def check_kpi_properties(kpis, expect):
    fails = []
    for d, r in kpis.items():
        for m, tot in (("video_sentiment_counts", "total_videos"),
                       ("comment_sentiment_counts", "total_comments")):
            if sum(r[m].values()) != r[tot]:
                fails.append(f"kpis {d}: {m} sums to {sum(r[m].values())}, "
                             f"{tot} is {r[tot]}")
        if r["total_comments"] != expect["comments"].get(d):
            fails.append(f"kpis {d}: total_comments {r['total_comments']} != "
                         f"generator's {expect['comments'].get(d)}")
        if r["total_videos"] != expect["videos"].get(d):
            fails.append(f"kpis {d}: total_videos {r['total_videos']} != "
                         f"generator's {expect['videos'].get(d)}")
    return fails


def check_snapshot_counts(counts, expect):
    """counts: table -> {ingest_date: rows read back}. Silver and gold
    must hold the generator's rows per day, gold as many as silver, and
    the KPI table one row per day."""
    want = {"silver_videos": expect["videos"], "gold_videos": expect["videos"],
            "silver_comments": expect["comments"],
            "gold_comments": expect["comments"],
            "kpis": {d: 1 for d in expect["days"]}}
    fails = []
    for table, per_day in want.items():
        if counts.get(table) != per_day:
            fails.append(f"{table}: rows per ingest_date {counts.get(table)} "
                         f"!= expected {per_day}")
    for side in ("videos", "comments"):
        if counts.get(f"gold_{side}") != counts.get(f"silver_{side}"):
            fails.append(f"gold_{side} rows differ from silver_{side}")
    return fails


def check_scores(lo, hi):
    if lo is None or hi is None or not (-1.0 <= lo <= hi <= 1.0) or \
            math.isnan(lo) or math.isnan(hi):
        return [f"gold_comments: sentiment_score range [{lo}, {hi}] "
                f"outside [-1, 1]"]
    return []


def check_endpoint(received, silver_texts):
    """Every silver text must reach the endpoint, and nothing else may.
    Texts sent more than once are the failed-operation count's business
    (see workloads.Medallion.check), not a wrong answer."""
    got, want = collections.Counter(received), collections.Counter(silver_texts)
    missing = sum((want - got).values())
    foreign = sum(n for t, n in got.items() if t not in want)
    if missing or foreign:
        return [f"endpoint: {missing} silver texts never sent, {foreign} texts "
                f"sent that silver does not hold"]
    return []


def check_medallion(bronze, root, expect, endpoint_texts):
    kpis = kpi_rows(os.path.join(root, "kpis"))
    fails = check_kpis(kpis, kpi_oracle(bronze))
    fails += check_kpi_properties(kpis, expect)
    counts = {}
    for t in ("silver_videos", "silver_comments", "gold_videos", "gold_comments",
              "kpis"):
        rel = read_snapshot(os.path.join(root, t))
        counts[t] = {d: n for d, n in duckdb.sql(
            "SELECT ingest_date, count(*) FROM rel GROUP BY 1").fetchall()}
    fails += check_snapshot_counts(counts, expect)
    gc = read_snapshot(os.path.join(root, "gold_comments"))
    lo, hi = duckdb.sql("SELECT min(sentiment_score), max(sentiment_score) "
                        "FROM gc").fetchone()
    fails += check_scores(lo, hi)
    with open(endpoint_texts, encoding="utf-8") as f:
        received = [json.loads(l) for l in f]
    fails += check_endpoint(received, expect["texts"])
    return fails
