"""Tests of the benchmark's generators and checkers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The generators must be reproducible, and every checker must reject a
deliberately corrupted result, so that a check which always passes
cannot go unnoticed.
"""
import copy
import filecmp
import math
import os
import tempfile
import unittest

import check
import gen

SMALL = {"landsat_pipeline": 40, "text_dedup": 400, "posting_store": 400,
         "events_timeseries": 3000}


def tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GeneratorTest(unittest.TestCase):
    def test_one_seed_gives_byte_identical_inputs(self):
        for workload, size in SMALL.items():
            with self.subTest(workload=workload), tempfile.TemporaryDirectory() as t:
                a = gen.generate(workload, 7, size, os.path.join(t, "a"))
                b = gen.generate(workload, 7, size, os.path.join(t, "b"))
                c = gen.generate(workload, 8, size, os.path.join(t, "c"))
                self.assertEqual(tree(a), tree(b))
                for f in tree(a):
                    self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                                shallow=False), f)
                self.assertTrue(any(not os.path.exists(os.path.join(c, f)) or
                                    not filecmp.cmp(os.path.join(a, f), os.path.join(c, f),
                                                    shallow=False) for f in tree(a)))

    def test_planted_pairs_are_what_the_manifest_says(self):
        with tempfile.TemporaryDirectory() as t:
            d = gen.generate("text_dedup", 3, 1000, t)
            texts = check.corpus_texts(d)
            planted = check.load_manifest(d)["planted"]
            self.assertTrue(planted["exact"] and planted["near"] and planted["excerpt"])
            for a, b in planted["exact"]:
                self.assertEqual(texts[a], texts[b])
            for a, b in planted["excerpt"]:
                self.assertIn(texts[a], texts[b])

    def test_landsat_bookkeeping_matches_the_reference_mix(self):
        with tempfile.TemporaryDirectory() as t:
            m = check.load_manifest(gen.generate("landsat_pipeline", 1, 1298, t))
            self.assertEqual(m["scene_mix"], {"LC08": 736, "LT05": 492, "LC09": 67, "LO08": 3})
            n = m["labelled"]
            self.assertEqual(m["expected_train_rows"], 4 * math.floor(0.8 * n))
            self.assertEqual(m["expected_test_rows"], n - math.floor(0.8 * n))


class LandsatCheckTest(unittest.TestCase):
    """A correct output is built here from the generated files, the way the
    pipeline defines it, then corrupted one way at a time."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = gen.generate("landsat_pipeline", 5, 40, cls.tmp.name)
        cls.manifest = check.load_manifest(cls.data)
        n = cls.manifest["labelled"]
        train = math.floor(0.8 * n)
        cls.counts = [{"is_train": 1, "aug_k": k, "rows": train, "min_width": 365,
                       "max_width": 365} for k in range(4)]
        cls.counts.append({"is_train": 0, "aug_k": 0, "rows": n - train,
                           "min_width": 365, "max_width": 365})
        scenes = check.scene_inputs(cls.data, cls.scene_ids())
        cls.inputs = scenes
        cls.sample = [cls.row(sid, bands, mtl, k) for sid, (bands, mtl) in scenes.items()
                      for k in range(4)]

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    @classmethod
    def scene_ids(cls):
        with open(os.path.join(cls.data, "scenes", "scenes.jsonl")) as f:
            ids = [line.split('"scene_id": "')[1].split('"')[0] for line in f]
        return {i for i in ids if os.path.exists(os.path.join(
            cls.data, "metadatas", f"{i}_MTL_metadata.json")) and not i.startswith("LO08")}

    @staticmethod
    def row(sid, bands, mtl, k):
        l5 = len(bands) == 7
        order = range(7) if l5 else [1, 2, 3, 4, 5, 9, 6]
        windows = [[float(v) for v in bands[b]] for b in order]
        windows[check.THERMAL_POS] = check.expected_thermal(bands, mtl)
        features = [v for w in windows for v in w] + [0.0] * (365 - 7 * 49)
        rotated = [w[::-1] if k else w for w in windows]  # a 180-degree turn
        return {"scene_id": sid, "station_id": 1, "aug_k": k, "features": features,
                "bands7": rotated}

    def test_correct_output_passes(self):
        self.assertEqual(check.check_landsat_counts(self.counts, self.manifest), [])
        self.assertEqual(check.check_landsat_sample(self.sample, self.inputs), [])

    def test_one_missing_train_row_is_rejected(self):
        counts = copy.deepcopy(self.counts)
        counts[2]["rows"] -= 1
        self.assertTrue(check.check_landsat_counts(counts, self.manifest))

    def test_a_narrow_feature_vector_is_rejected(self):
        counts = copy.deepcopy(self.counts)
        counts[0]["min_width"] = 364
        self.assertTrue(check.check_landsat_counts(counts, self.manifest))

    def test_a_wrong_brightness_temperature_is_rejected(self):
        sample = copy.deepcopy(self.sample)
        sample[0]["features"][check.THERMAL_POS * 49 + 3] *= 1.0 + 1e-6
        self.assertTrue(check.check_landsat_sample(sample, self.inputs))

    def test_a_window_that_lost_a_pixel_is_rejected(self):
        sample = copy.deepcopy(self.sample)
        w = sample[1]["bands7"][2]
        w[0] = w[1]
        self.assertTrue(check.check_landsat_sample(sample, self.inputs))


class TextCheckTest(unittest.TestCase):
    texts = {0: "a b c", 1: "x y z", 2: "a b c", 3: "p q r", 4: "x y z w", 5: "a b c"}
    clusters = [{"doc_id": 0, "keep_id": 0}, {"doc_id": 2, "keep_id": 0},
                {"doc_id": 5, "keep_id": 0}, {"doc_id": 1, "keep_id": 1},
                {"doc_id": 4, "keep_id": 1}]

    def test_correct_clusters_pass(self):
        self.assertEqual(check.check_clusters(self.clusters, self.texts), [])

    def test_one_split_pair_of_identical_texts_is_rejected(self):
        split = [r for r in self.clusters if r["doc_id"] != 5]
        self.assertTrue(check.check_clusters(split, self.texts))

    def test_a_doc_in_two_clusters_is_rejected(self):
        self.assertTrue(check.check_clusters(
            self.clusters + [{"doc_id": 4, "keep_id": 0}], self.texts))

    def test_a_chained_label_is_rejected(self):
        chained = [dict(r) for r in self.clusters]
        chained[1]["keep_id"] = 5  # 2 -> 5 -> 0 is not a partition label
        self.assertTrue(check.check_clusters(chained, self.texts))

    def test_c13_must_decide_each_arrival_once(self):
        rows = [{"doc_id": i, "landed": True, "keeper_id": None} for i in range(50)]
        self.assertEqual(check.check_c13(rows, 1000), [])
        self.assertTrue(check.check_c13(rows[1:], 1000))
        bad = [dict(r) for r in rows]
        bad[7]["keeper_id"] = 300
        self.assertTrue(check.check_c13(bad, 1000))


class StoreCheckTest(unittest.TestCase):
    live = {10: "a b a", 11: "b c", 12: "c"}
    counts = {"doc_stats_rows": 3, "corpus_n_docs": 3, "posting_rows": 5, "posting_tf": 6}

    def test_correct_store_passes(self):
        self.assertEqual(check.check_store_counts(self.counts, self.live), [])

    def test_one_doubled_posting_is_rejected(self):
        doubled = dict(self.counts, posting_rows=6, posting_tf=7)  # (11, "c", 1) twice
        self.assertTrue(check.check_store_counts(doubled, self.live))

    def test_a_replayed_batch_is_rejected(self):
        self.assertTrue(check.check_store_counts(
            dict(self.counts, doc_stats_rows=4, corpus_n_docs=4), self.live))

    def test_search_results_must_equal_the_oracle(self):
        want = [{"query_id": 8, "rank": 1, "doc_id": 3, "score_e9": 1500, "n_terms_hit": 2},
                {"query_id": 8, "rank": 2, "doc_id": 9, "score_e9": 900, "n_terms_hit": 1}]
        self.assertEqual(check.compare("q", list(reversed(want)), want), [])
        scored = [dict(r) for r in want]
        scored[1]["score_e9"] = 1100  # what a doubled posting's extra tf does
        self.assertTrue(check.compare("q", scored, want))
        self.assertTrue(check.compare("q", want + want[1:], want))


class D2MetricsTest(unittest.TestCase):
    def test_share_of_planted_pairs(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            gen.write_json(os.path.join(t, "manifest.json"),
                           {"planted": {"exact": [[5, 2]], "near": [[7, 9]], "excerpt": []}})
            os.makedirs(os.path.join(t, "pairs"))
            pq.write_table(pa.table({"doc_a": [2, 7, 1], "doc_b": [5, 9, 4]}),
                           os.path.join(t, "pairs", "part-0.parquet"))
            m = check.d2_metrics(t, os.path.join(t, "pairs"))
            self.assertEqual(m["queries.d2_pairs"], 3.0)
            self.assertAlmostEqual(m["queries.d2_true_pair_share"], 2 / 3)


if __name__ == "__main__":
    unittest.main()
