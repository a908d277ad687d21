"""Seeded input generators for the benchmark.

Nothing here uses the program: the tables and the bronze envelopes are
written from numpy/pyarrow alone, so the same seed always gives the same
bytes, and the correctness checks can recompute answers from them.

* `gen_tables` writes the ten star-schema parquet tables the query
  registry reads (region .. embeddings) with the schemas, value domains
  and per-scale-factor sizes of the repo's sf test tables (TESTDATA.md).
* `gen_bronze` writes the reference's bronze envelopes (videos A1,
  comments A2), Hive-partitioned by `ingest_date`, and returns the
  generator's own counts of what silver must keep.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def _day_ts(days, start):
    base = np.datetime64(start, "D")
    return (base + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def gen_tables(out, seed, sf):
    """Write the ten parquet tables at scale factor `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_li, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)
    n_users = max(1, int(15000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _day_ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _day_ts(rng.integers(0, 2498, n_li), "1995-01-02")})

    month_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(10, 101)))]))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    centers = rng.normal(0.0, 1.0, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] * 0.4 + rng.normal(0.0, 0.125, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), 64).cast(pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


# ---------------------------------------------------------------- bronze

# The gold lexicon rule's words (q21 / the reference's fallback rule).
POSITIVE = ["amazing", "best", "excellent", "fast", "good", "great", "love"]
NEGATIVE = ["awful", "bad", "broken", "hate", "slow", "terrible", "worst"]
NEUTRAL = ["episode", "podcast", "guest", "host", "the", "a", "this", "was",
           "about", "spark", "data", "interview", "question", "audio", "video",
           "part", "two", "really", "and", "😂", "🔥", "отлично", "спасибо",
           "Great!", "GOOD", "Love", "mic", "sound"]
DURATIONS = ["PT28S", "PT49S", "PT51S", "PT59S", "PT30M12S", "PT35M37S",
             "PT36M52S", "PT2H35M19S", "PT2H47M24S", "PT3H27M1S"]
# Texts silver must drop. Spaces only: whitespace other than U+0020 is
# left out because the program's trim keeps it (see the README).
BLANKS = ["", " ", "   "]


VOCAB = np.array(POSITIVE + NEGATIVE + NEUTRAL, dtype=object)
VOCAB_P = np.array([0.12 / len(POSITIVE)] * len(POSITIVE)
                   + [0.10 / len(NEGATIVE)] * len(NEGATIVE)
                   + [0.78 / len(NEUTRAL)] * len(NEUTRAL))


def _phrases(rng, n, lo, hi):
    """`n` texts of lo..hi-1 vocabulary tokens each."""
    lens = rng.integers(lo, hi, n)
    toks = VOCAB[rng.choice(len(VOCAB), int(lens.sum()), p=VOCAB_P)]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(p) for p in np.split(toks, cuts)]


def _iso(day, secs):
    base = np.datetime64(day.isoformat(), "s")
    return [str(t) + "Z" for t in base + secs.astype("timedelta64[s]")]


def gen_bronze(out, seed, n_videos, n_comments, days):
    """Write bronze videos/comments envelopes under `out` and return the
    generator's own per-day counts: videos, comment items, valid comments
    and the texts silver must keep (stripped)."""
    rng = np.random.default_rng([seed, 2])
    first = dt.date(2025, 3, 1)
    expect = {"days": [], "videos": {}, "comments": {}, "items": {}, "texts": []}
    for d in range(days):
        day = first + dt.timedelta(days=d)
        tag = day.isoformat()
        expect["days"].append(tag)
        nv = n_videos // days
        vids = [f"v{d:02d}{i:06d}" for i in range(nv)]
        titles = _phrases(rng, nv, 2, 9)
        published = _iso(day, rng.integers(0, 86400, nv))
        views = rng.integers(0, 10**6, nv)
        likes = rng.integers(0, 10**4, nv)
        ncom = rng.integers(0, 500, nv)
        odd = rng.random(nv) < 0.05          # non-numeric -> safe_int null
        durs = rng.integers(0, len(DURATIONS), nv)
        items = [{
            "id": vids[i],
            "snippet": {"title": titles[i], "publishedAt": published[i],
                        "channelTitle": f"channel {i % 7}"},
            "statistics": {"viewCount": str(views[i]),
                           "likeCount": "n/a" if odd[i] else str(likes[i]),
                           "commentCount": str(ncom[i])},
            "contentDetails": {"duration": DURATIONS[durs[i]]}}
            for i in range(nv)]
        env = {"channelId": "UCbench", "pulledAt": f"{tag}T06:00:00.123Z",
               "videoCount": nv, "items": items}
        _dump(os.path.join(out, "videos", f"ingest_date={tag}"), env)
        expect["videos"][tag] = nv

        nc = n_comments // days
        kinds = rng.random(nc)
        texts = _phrases(rng, nc, 1, 16)
        blanks = rng.integers(0, len(BLANKS), nc)
        on_video = rng.integers(0, nv, nc)
        authors = rng.integers(0, 5000, nc)
        like_n = rng.integers(0, 200, nc)
        published = _iso(day, rng.integers(0, 86400, nc))
        items, valid = [], 0
        for i in range(nc):
            item = {"videoId": vids[on_video[i]], "commentId": f"c{d:02d}{i:07d}"}
            k = kinds[i]
            if k < 0.01:
                item["error"] = "commentsDisabled"
                items.append(item)
                continue
            item["author"] = f"@user{authors[i]}"
            if k < 0.03:
                text = BLANKS[blanks[i]]
            elif k < 0.035:
                text = None
            elif k < 0.10:
                text = "  " + texts[i] + " "
            else:
                text = texts[i]
            if text is not None:
                item["text"] = text
            if k < 0.5:
                item["likes"] = int(like_n[i])
            elif k < 0.55:
                item["likes"] = None
            item["publishedAt"] = published[i]
            items.append(item)
            if text is not None and text.strip() != "":
                valid += 1
                expect["texts"].append(text.strip())
        env = {"ingest_date": tag, "video_count": nv, "comment_count": len(items),
               "items": items}
        _dump(os.path.join(out, "comments", f"ingest_date={tag}"), env)
        expect["comments"][tag] = valid
        expect["items"][tag] = len(items)
    return expect


def _dump(folder, obj):
    os.makedirs(folder, exist_ok=True)
    with open(os.path.join(folder, "part-0.json"), "w", encoding="utf-8") as f:
        json.dump(obj, f, ensure_ascii=False)
