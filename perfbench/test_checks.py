#!/usr/bin/env python3
"""The benchmark's own test: every output check passes on a correct
answer and fires on a corrupted one.

    python3 perfbench/test_checks.py

Needs no build and no JVM; inputs are generated into a temporary
directory from a fixed seed.
"""

import copy
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402

SEED = 7


class ChecksTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="perfbench-test-")
        cls.seed_dir, cls.manifest = inputs.stage(cls.tmp, SEED)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def con(self):
        con = checks._con()
        con.execute("CREATE VIEW ev AS SELECT * FROM read_parquet("
                    + checks._lit(os.path.join(self.seed_dir, "events", "events.parquet")) + ")")
        return con

    # ---- dashboard --------------------------------------------------

    def dashboard_case(self):
        """Correct answers for one request of every kind, a predict
        answer on each entity's newest event, and a holdout rmse just
        under the persistence baseline."""
        con = self.con()
        answers = []
        for kind, params in [("load", {"start": "2024-01-03 05:00:00",
                                       "end": "2024-01-03 09:00:00"}),
                             ("recent", {"hours": 3}), ("metrics", {}),
                             ("distribution", {}), ("corr", {}), ("group", {}),
                             ("latest", {}), ("daily", {})]:
            rows = [list(r) for r in con.execute(checks.dashboard_sql(kind, params)).fetchall()]
            answers.append({"kind": kind, "params": params, "n": 2, "rows": rows})
        entities = [3, 17, 400]
        newest = con.execute("""SELECT user_id, event_id, value FROM (SELECT *, row_number()
            OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn FROM ev
            WHERE user_id IN (3, 17, 400)) WHERE rn = 1 ORDER BY user_id""").fetchall()
        answers.append({"kind": "predict", "params": {}, "n": 3,
                        "rows": [[u, e, v, v + 1.0, 1.0] for u, e, v in newest]})
        base = checks.persistence_rmse(con, entities)
        result = {"extra": {"entities": entities, "holdout": {"rmse": base * 0.9}}}
        return answers, result

    def test_dashboard_passes_correct_answers(self):
        answers, result = self.dashboard_case()
        self.assertEqual(checks.check_dashboard(self.seed_dir, None, result, answers), ([], 0))

    def test_dashboard_fires_on_each_corrupted_answer(self):
        answers, result = self.dashboard_case()
        for i, a in enumerate(answers):
            for corrupt in ("value", "drop_row"):
                if corrupt == "drop_row" and len(a["rows"]) < 2:
                    continue
                bad = copy.deepcopy(answers)
                rows = bad[i]["rows"]
                if corrupt == "drop_row":
                    rows.pop()
                else:
                    col = max(j for j, x in enumerate(rows[0]) if isinstance(x, (int, float)))
                    rows[0][col] = rows[0][col] + 1
                failures, failed_ops = checks.check_dashboard(self.seed_dir, None, result, bad)
                with self.subTest(kind=a["kind"], corrupt=corrupt):
                    self.assertEqual(len(failures), 1)
                    self.assertEqual(failed_ops, a["n"])

    def test_dashboard_fires_on_null_prediction(self):
        answers, result = self.dashboard_case()
        answers[-1]["rows"][1][3] = None
        failures, failed_ops = checks.check_dashboard(self.seed_dir, None, result, answers)
        self.assertEqual((len(failures), failed_ops), (1, 3))

    def test_training_fires_when_not_better_than_persistence(self):
        answers, result = self.dashboard_case()
        result["extra"]["holdout"]["rmse"] *= 1.2
        failures, failed_ops = checks.check_dashboard(self.seed_dir, None, result, answers)
        self.assertEqual((len(failures), failed_ops), (1, 1))

    # ---- curate -----------------------------------------------------

    def curate_case(self, quota=100):
        """A valid curation: per source, the first `quota` docs that are
        neither contaminated nor part of an injected duplicate pair."""
        t = pq.read_table(os.path.join(self.seed_dir, "curate", "documents.parquet"))
        inj = self.manifest["curate_injected"]
        banned = set(inj["contaminated"])
        for a, b in inj["exact_dup_pairs"] + inj["near_dup_pairs"]:
            banned |= {a, b}
        per, out = {}, []
        for d, s in zip(t.column("doc_id").to_pylist(), t.column("source").to_pylist()):
            if s == self.manifest["held_out_source"] or d in banned:
                continue
            if per.get(s, 0) < quota:
                per[s] = per.get(s, 0) + 1
                out.append([d, s, 10])
        return out, t, inj

    def curate(self, rows, quota=100):
        return checks.check_curate(self.seed_dir, None, self.manifest, quota, 2, rows)

    def test_curate_passes_a_valid_output(self):
        rows, _, _ = self.curate_case()
        self.assertEqual(self.curate(rows), ([], 0))

    def test_curate_fires_on_each_broken_invariant(self):
        rows, t, inj = self.curate_case()
        ids = t.column("doc_id").to_pylist()
        srcs = t.column("source").to_pylist()
        held = next(d for d, s in zip(ids, srcs) if s == self.manifest["held_out_source"])
        a, b = inj["near_dup_pairs"][0]
        x, y = inj["exact_dup_pairs"][0]
        cases = {
            "held-out doc": rows + [[held, self.manifest["held_out_source"], 1]],
            "unknown doc": rows + [[10 ** 9, "src1", 1]],
            "source changed": [[rows[0][0], "src99", 1]] + rows[1:],
            "doc twice": rows + [rows[0]],
            "contaminated": rows + [[inj["contaminated"][0], srcs[inj["contaminated"][0]], 1]],
            "near-dup pair": rows + [[a, srcs[a], 1], [b, srcs[b], 1]],
            "exact-dup pair": rows + [[x, srcs[x], 1], [y, srcs[y], 1]],
            "too few": rows[:10],
        }
        for name, bad in cases.items():
            with self.subTest(name):
                failures, failed_ops = self.curate(bad)
                self.assertTrue(failures)
                self.assertEqual(failed_ops, 2)
        with self.subTest("quota"):
            self.assertTrue(self.curate(rows, quota=60)[0])

    # ---- ingest -----------------------------------------------------

    def test_ingest_membership(self):
        work = tempfile.mkdtemp(dir=self.tmp)
        files = sorted(os.listdir(os.path.join(self.seed_dir, "ingest")))[:6]
        con = checks._con()
        expected = checks.admitted_expected(
            con, [os.path.join(self.seed_dir, "ingest", f) for f in files])
        texts = {}
        for f in files:
            t = pq.read_table(os.path.join(self.seed_dir, "ingest", f))
            texts.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        by_batch = {}
        for d, b in expected:
            by_batch.setdefault(b, []).append(d)
        for b, ds in by_batch.items():
            os.makedirs(os.path.join(work, "corpus", f"batch_id={b}"))
            pq.write_table(pa.table({"doc_id": ds, "text": [texts[d] for d in ds]}),
                           os.path.join(work, "corpus", f"batch_id={b}", "part-0.parquet"))
        result = {"extra": {"files_fed": 6, "warmup_files": 2}}
        failures, failed_ops, figures = checks.check_ingest(self.seed_dir, work, result,
                                                            list(expected))
        self.assertEqual((failures, failed_ops), ([], 0))
        self.assertEqual(figures["streaming.admitted_docs"], len(expected))
        self.assertGreater(figures["streaming.dup_dropped"], 0)
        self.assertGreater(figures["streaming.stored_bytes_per_byte"], 0)
        dup = next(d for d in texts if d not in {e[0] for e in expected})
        cases = {
            "dropped doc": expected[1:],
            "wrong batch": [(expected[-1][0], 0)] + expected[:-1],
            "duplicate admitted": expected + [(dup, 5)],
        }
        for name, bad in cases.items():
            with self.subTest(name):
                failures, failed_ops, _ = checks.check_ingest(self.seed_dir, work, result, bad)
                self.assertEqual(len(failures), 1)
                self.assertGreaterEqual(failed_ops, 1)


if __name__ == "__main__":
    unittest.main()
