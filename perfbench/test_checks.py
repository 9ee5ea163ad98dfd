"""Each answer check accepts a right answer and rejects a corrupted one.

    python3 perfbench/test_checks.py
"""
import copy
import os
import shutil
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


def failed(results):
    return [r for r in results if not r[1]]


class TopK(unittest.TestCase):
    EXP = [("a", 0.9), ("b", 0.8), ("c", 0.7), ("d", 0.7000001), ("e", 0.5)]

    def test_accepts_exact_and_near_ties(self):
        self.assertTrue(checks.topk_ok(["a", "b", "c"], [0.9, 0.8, 0.7], self.EXP, 3)[0])
        # c and d tie within the tolerance, so either may take rank 3
        self.assertTrue(checks.topk_ok(["a", "b", "d"], [0.9, 0.8, 0.7000001], self.EXP, 3)[0])

    def test_rejects_corruption(self):
        for ids, scores in [(["a", "e", "c"], [0.9, 0.8, 0.7]),     # wrong id
                            (["a", "b", "c"], [0.9, 0.81, 0.7]),    # wrong score
                            (["a", "b"], [0.9, 0.8]),               # missing row
                            (["a", "a", "c"], [0.9, 0.9, 0.7])]:    # duplicate
            self.assertFalse(checks.topk_ok(ids, scores, self.EXP, 3)[0], (ids, scores))


class Checks(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")
        self.con = checks.connect(2)

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir)

    def test_quickstart(self):
        gen.generate("ingest_search", 1, self.dir, {"docs": 40, "append_batch": 5, "appends": 2})
        self.con.execute("CREATE VIEW documents AS SELECT * FROM '%s/documents.parquet'" % self.dir)
        n = self.con.execute("SELECT count(*) FROM (%s) WHERE doc_id < 45" % checks.CHUNK_SQL).fetchone()[0]
        checks.check_quickstart(self.con, self.dir, [])  # builds the emb table
        rows = self.con.execute(
            "WITH q AS (SELECT %s AS qv) SELECT id, round(list_cosine_similarity(v, qv), 6) AS s "
            "FROM emb, q WHERE doc_id < 45 ORDER BY s DESC, id LIMIT 10"
            % checks.EMB_SQL.format(t="'spark data'")).fetchall()
        good = [{"kind": "count", "iteration": 0, "docs_upto": 45, "count": n},
                {"kind": "query", "iteration": 0, "docs_upto": 45, "query": "spark data",
                 "ids": [r[0] for r in rows], "scores": [r[1] for r in rows]}]
        self.assertEqual(failed(checks.check_quickstart(self.con, self.dir, good)), [])
        bad = copy.deepcopy(good)
        bad[0]["count"] += 1
        bad[1]["ids"][0], bad[1]["ids"][-1] = bad[1]["ids"][-1], bad[1]["ids"][0]
        self.assertEqual(len(failed(checks.check_quickstart(self.con, self.dir, bad))), 2)

    def test_search(self):
        q = gen.vectors(2, os.path.join(self.dir, "vectors.parquet"), 3000, 8, 4)
        import pyarrow.parquet as pq
        pq.write_table(q, os.path.join(self.dir, "queries.parquet"))
        x = np.array(pq.read_table(os.path.join(self.dir, "vectors.parquet"))["embedding"].to_pylist())
        qs = np.array(q["query_vec"].to_pylist())
        # the expected answer computed independently of DuckDB, in numpy
        s = np.round((x @ qs.T) / np.linalg.norm(x, axis=1)[:, None] / np.linalg.norm(qs, axis=1), 6)
        top = {j: sorted(range(len(x)), key=lambda i: (-s[i, j], i))[:10] for j in range(len(qs))}
        vid = lambda i: "v%07d" % i  # noqa: E731
        good = [{"kind": "single", "qid": 0, "ids": [vid(i) for i in top[0]],
                 "scores": [float(s[i, 0]) for i in top[0]]},
                {"kind": "batch", "qids": [1, 2],
                 "rows": [[j, r + 1, vid(i), float(s[i, j])] for j in (1, 2) for r, i in enumerate(top[j])]}]
        self.assertEqual(failed(checks.check_search(self.con, self.dir, good)), [])
        bad = copy.deepcopy(good)
        bad[0]["scores"][3] += 1e-3
        bad[1]["rows"] = [r for r in bad[1]["rows"] if r[:2] != [2, 5]]
        self.assertEqual({r[0] for r in failed(checks.check_search(self.con, self.dir, bad))},
                         {"single q0", "batch q2"})

    def test_curate(self):
        gen.generate("curate", 3, self.dir, {"docs": 60})
        sql = ("WITH d AS (SELECT doc_id, n_chars > 200 AS kept FROM documents) "
               "SELECT doc_id, kept, CASE WHEN kept THEN 'train' END AS split, "
               "CASE WHEN kept THEN doc_id % 3 END AS shard FROM d ORDER BY doc_id")
        self.con.execute("CREATE VIEW documents AS SELECT * FROM '%s/documents.parquet'" % self.dir)
        rows = [list(r) for r in self.con.execute(sql).fetchall()]
        kept = [r for r in rows if r[1]]
        manifest = {"n_shards": len({r[3] for r in kept}),
                    "shards": [{"shard": k, "docs": sum(r[3] == k for r in kept)}
                               for k in sorted({r[3] for r in kept})]}
        good = [{"kind": "decisions", "columns": ["doc_id", "kept", "split", "shard"],
                 "oracle_sql": sql, "rows": rows},
                {"kind": "manifest", "json": manifest}]
        self.assertEqual(failed(checks.check_curate(self.con, self.dir, good)), [])
        bad = copy.deepcopy(good)
        bad[0]["rows"][7][1] = not bad[0]["rows"][7][1]
        bad[1]["json"]["shards"][0]["docs"] += 1
        self.assertEqual(len(failed(checks.check_curate(self.con, self.dir, bad))), 2)


if __name__ == "__main__":
    unittest.main()
