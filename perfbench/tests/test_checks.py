"""Each correctness check passes on a right output and fails on a
deliberately corrupted one.

    python3 -m unittest discover -s perfbench/tests

The right outputs are built here in plain Python from the generated
inputs, never by the program, so the tests need no JVM.
"""
import collections
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def rule(text):
    toks = text.strip(" ").lower().split() if text else []
    p = sum(t in checks.POSITIVE for t in toks)
    n = sum(t in checks.NEGATIVE for t in toks)
    label = "positive" if p > n else "negative" if n > p else "neutral"
    return label, (p - n) / len(toks) if toks else 0.0


def write_snapshot(root, rows):
    os.makedirs(os.path.join(root, "data"))
    os.makedirs(os.path.join(root, "manifests"))
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(root, "data", "v00001-00000.parquet"))
    with open(os.path.join(root, "manifests", "v00001.manifest"), "w") as f:
        f.write("version=1\noperation=overwrite\nfile=v00001-00000.parquet\n")


class QueryChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        gen.gen_tables(cls.tmp, 7, 0.001)
        cls.sql = ("SELECT o_orderstatus, count(*) AS n, CAST(sum(o_totalprice) "
                   "AS DECIMAL(18,2)) AS total FROM orders GROUP BY 1 ORDER BY 1")
        con = checks.connect_tables(cls.tmp)
        cls.oracle = con.sql(cls.sql).arrow()

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def dump(self, tbl):
        path = os.path.join(self.tmp, "result")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(tbl, os.path.join(path, "part-0.parquet"))
        return {"q": {"path": path, "sql": self.sql}}

    def test_exact_result_passes(self):
        shuffled = self.oracle.take([2, 0, 1])
        counts = {"q": [3, 3]}
        self.assertEqual(checks.check_queries(self.tmp, self.dump(shuffled), counts), [])

    def test_changed_value_fails(self):
        rows = self.oracle.to_pylist()
        rows[1]["n"] += 1
        bad = pa.Table.from_pylist(rows, schema=self.oracle.schema)
        self.assertTrue(checks.check_queries(self.tmp, self.dump(bad), {"q": [3]}))

    def test_missing_row_fails(self):
        bad = self.oracle.slice(0, 2)
        self.assertTrue(checks.check_queries(self.tmp, self.dump(bad), {"q": [2]}))

    def test_renamed_column_fails(self):
        bad = self.oracle.rename_columns(["o_orderstatus", "cnt", "total"])
        self.assertTrue(checks.check_queries(self.tmp, self.dump(bad), {"q": [3]}))

    def test_pass_with_wrong_row_count_fails(self):
        self.assertTrue(checks.check_queries(self.tmp, self.dump(self.oracle),
                                             {"q": [3, 4, 3]}))


class MedallionChecks(unittest.TestCase):
    """A hand-built pipeline output over a small generated bronze set."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.bronze = os.path.join(cls.tmp, "bronze")
        cls.expect = gen.gen_bronze(cls.bronze, 11, 60, 1500, 2)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def build_output(self, root):
        tables = collections.defaultdict(list)
        kpi = {}
        for d in self.expect["days"]:
            with open(f"{self.bronze}/videos/ingest_date={d}/part-0.json") as f:
                videos = json.load(f)["items"]
            with open(f"{self.bronze}/comments/ingest_date={d}/part-0.json") as f:
                comments = json.load(f)["items"]
            vs = collections.Counter()
            for v in videos:
                label, _ = rule(v["snippet"]["title"])
                vs[label] += 1
                tables["silver_videos"].append({"video_id": v["id"], "ingest_date": d})
                tables["gold_videos"].append({"video_id": v["id"], "ingest_date": d,
                                              "sentiment": label})
            cs = collections.Counter()
            for c in comments:
                text = (c.get("text") or "").strip(" ")
                if "error" in c or not text:
                    continue
                label, score = rule(text)
                cs[label] += 1
                tables["silver_comments"].append({"text": text, "ingest_date": d})
                tables["gold_comments"].append({"text": text, "ingest_date": d,
                                                "sentiment": label,
                                                "sentiment_score": score})
            kpi[d] = {"ingest_date": d, "total_videos": len(videos),
                      "total_comments": sum(cs.values()),
                      "video_sentiment_counts": sorted(vs.items()),
                      "comment_sentiment_counts": sorted(cs.items())}
        tables["kpis"] = list(kpi.values())
        return tables

    def run_check(self, mutate=lambda t: None, texts=None):
        root = tempfile.mkdtemp(dir=self.tmp)
        tables = self.build_output(root)
        mutate(tables)
        for name, rows in tables.items():
            if name == "kpis":
                schema = pa.schema([
                    ("ingest_date", pa.string()), ("total_videos", pa.int64()),
                    ("total_comments", pa.int64()),
                    ("video_sentiment_counts", pa.map_(pa.string(), pa.int64())),
                    ("comment_sentiment_counts", pa.map_(pa.string(), pa.int64()))])
                path = os.path.join(root, name)
                os.makedirs(os.path.join(path, "data"))
                os.makedirs(os.path.join(path, "manifests"))
                pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                               os.path.join(path, "data", "v00001-00000.parquet"))
                with open(os.path.join(path, "manifests", "v00001.manifest"), "w") as f:
                    f.write("version=1\nfile=v00001-00000.parquet\n")
            else:
                write_snapshot(os.path.join(root, name), rows)
        sent = os.path.join(root, "texts.txt")
        with open(sent, "w") as f:
            for t in (self.expect["texts"] if texts is None else texts):
                f.write(json.dumps(t) + "\n")
        return checks.check_medallion(self.bronze, root, self.expect, sent)

    def test_right_output_passes(self):
        self.assertEqual(self.run_check(), [])

    def test_all_three_labels_occur(self):
        labels = {rule(t)[0] for t in self.expect["texts"]}
        self.assertEqual(labels, {"positive", "negative", "neutral"})

    def test_kpi_count_off_by_one_fails(self):
        def m(t):
            k = t["kpis"][0]
            k["comment_sentiment_counts"] = [(s, n + 1 if s == "neutral" else n)
                                             for s, n in k["comment_sentiment_counts"]]
            k["total_comments"] += 1
        fails = self.run_check(m)
        self.assertTrue(any("oracle" in f for f in fails))
        self.assertTrue(any("generator" in f for f in fails))

    def test_map_not_summing_to_total_fails(self):
        def m(t):
            t["kpis"][0]["total_videos"] += 1
        self.assertTrue(any("sums to" in f for f in self.run_check(m)))

    def test_gold_row_lost_fails(self):
        def m(t):
            t["gold_comments"].pop()
        fails = self.run_check(m)
        self.assertTrue(any("gold_comments" in f for f in fails))

    def test_silver_keeps_blank_text_fails(self):
        def m(t):
            t["silver_comments"].append({"text": "\t", "ingest_date": self.expect["days"][0]})
        self.assertTrue(any("silver_comments" in f for f in self.run_check(m)))

    def test_score_out_of_range_fails(self):
        def m(t):
            t["gold_comments"][0]["sentiment_score"] = 1.5
        self.assertTrue(any("sentiment_score" in f for f in self.run_check(m)))

    def test_text_never_sent_fails(self):
        self.assertTrue(self.run_check(texts=self.expect["texts"][1:]))

    def test_foreign_text_sent_fails(self):
        self.assertTrue(self.run_check(texts=self.expect["texts"] + ["not in silver"]))

    def test_resent_text_counts_as_failed_commit(self):
        result = {"passes": [
            {"failed": 0, "ops": [{"name": "endpoint", "stats": {"texts": 10}}]},
            {"failed": 0, "ops": [{"name": "endpoint", "stats": {"texts": 42}}]}]}
        workloads.count_resends(result, 10)
        self.assertEqual([p["failed"] for p in result["passes"]], [0, 1])


class ScoreRange(unittest.TestCase):
    def test_bounds(self):
        self.assertEqual(checks.check_scores(-1.0, 1.0), [])
        self.assertTrue(checks.check_scores(-1.01, 0.2))
        self.assertTrue(checks.check_scores(float("nan"), 0.2))


if __name__ == "__main__":
    unittest.main()
