"""Self-tests of the benchmark's own parts (no Spark session needed).

    python3 -m unittest discover -s perfbench -p "test_*.py"
"""

from __future__ import annotations

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import spark_rest  # noqa: E402
import workload  # noqa: E402


def fake_pools(n_images: int = 640, n_pdfs: int = 96) -> dict:
    """Pools shaped like ``workload.ensure_pools`` output, without
    rendering: every image says 'img i', every PDF has two pages."""
    return {
        "images": [{"ref": f"img_{i:08d}", "content": b"png%d" % i,
                    "texts": [f"img {i}"], "codes": [100]}
                   for i in range(n_images)],
        "pdfs": [{"ref": f"pdf_{i:08d}", "content": b"%%PDF%d" % i,
                  "texts": [f"pdf {i} p1", f"pdf {i} p2"], "codes": [100, 100]}
                 for i in range(n_pdfs)],
    }


def as_rows(expected: dict) -> dict:
    return {d: list(spans) for d, spans in expected.items()}


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.pools = fake_pools()

    def test_deterministic_per_seed(self):
        for name in workload.SHAPES:
            a = workload.build(name, 3, self.pools)
            b = workload.build(name, 3, self.pools)
            self.assertEqual(a.documents, b.documents, name)
            self.assertEqual(a.expected, b.expected, name)
            self.assertEqual(a.media, b.media, name)

    def test_changes_with_seed_but_keeps_totals(self):
        for name in workload.SHAPES:
            a = workload.build(name, 3, self.pools)
            b = workload.build(name, 4, self.pools)
            self.assertNotEqual(a.documents, b.documents, name)
            pa, pb = dict(a.properties), dict(b.properties)
            self.assertEqual(pa, pb, name)
            # the same multiset of referenced payloads
            self.assertEqual(sorted(r for _d, _o, r in a.media_spans),
                             sorted(r for _d, _o, r in b.media_spans), name)

    def test_properties(self):
        shared = workload.build("shared_media", 1, self.pools).properties
        self.assertAlmostEqual(shared["reuse"], 6.5, delta=0.5)
        self.assertAlmostEqual(shared["pdf_page_share"], 0.18, delta=0.01)
        self.assertAlmostEqual(shared["missing_ref_share"], 0.005, delta=0.002)
        self.assertAlmostEqual(shared["non_ascii_space_share"], 0.02, delta=1e-3)
        distinct = workload.build("distinct_media", 1, self.pools).properties
        self.assertEqual(distinct["reuse"], 1.0)
        self.assertEqual(distinct["media_spans"], shared["media_spans"])
        web = workload.build("web_text_resumable", 1, self.pools).properties
        self.assertAlmostEqual(web["non_ascii_space_share"], 0.02, delta=1e-4)
        self.assertLess(web["media_span_share"], 0.001)

    def test_expected_text_spans_use_golden_mirror(self):
        from ppocr_spark.corpus import normalize_text_span

        wl = workload.build("web_text_resumable", 2, self.pools)
        for doc in wl.documents[:200]:
            for span, exp in zip(doc["spans"], wl.expected[doc["doc_id"]]):
                if span["kind"] == "text":
                    self.assertEqual((exp[1], exp[4]),
                                     normalize_text_span(span["text"]))


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.wl = workload.build("shared_media", 5, fake_pools())
        self.raw = {(d["doc_id"], s["offset"]): s["text"]
                    for d in self.wl.documents for s in d["spans"]
                    if s["kind"] == "text"}
        self.n_media = len(self.wl.media_spans)

    def run_check(self, actual):
        return check.compare(self.wl.expected, actual, self.raw, self.n_media)

    def first(self, kind):
        for doc_id, spans in self.wl.expected.items():
            for i, s in enumerate(spans):
                if s[0] == kind and (kind != "media" or s[4] == 100):
                    return doc_id, i
        raise AssertionError(kind)

    def test_identical_output_has_no_error(self):
        rep = self.run_check(as_rows(self.wl.expected))
        self.assertEqual(rep.errors, 0)
        self.assertTrue(rep.acceptable)

    def test_perturbed_text(self):
        actual = as_rows(self.wl.expected)
        d, i = self.first("text")
        s = actual[d][i]
        actual[d][i] = (s[0], s[1] + "x", s[2], s[3], s[4])
        rep = self.run_check(actual)
        self.assertEqual((rep.errors, rep.count("other")), (1, 1))
        self.assertFalse(rep.acceptable)

    def test_perturbed_media_text_is_recognition_band(self):
        actual = as_rows(self.wl.expected)
        d, i = self.first("media")
        s = actual[d][i]
        actual[d][i] = (s[0], s[1] + "x", s[2], s[3], s[4])
        rep = self.run_check(actual)
        self.assertEqual((rep.errors, rep.count("recognition")), (1, 1))
        self.assertTrue(rep.acceptable)

    def test_perturbed_code(self):
        actual = as_rows(self.wl.expected)
        d, i = self.first("media")
        s = actual[d][i]
        actual[d][i] = (s[0], "", s[2], s[3], 203)
        rep = self.run_check(actual)
        self.assertEqual((rep.errors, rep.count("other")), (1, 1))

    def test_perturbed_order(self):
        actual = as_rows(self.wl.expected)
        d, i = self.first("text")
        s = actual[d][i]
        actual[d][i] = (s[0], s[1], s[2], 10_000, s[4])
        rep = self.run_check(actual)
        # the span is missing at its order and extra at the new one
        self.assertEqual((rep.errors, rep.missing, rep.extra), (2, 1, 1))

    def test_missing_and_extra_doc(self):
        actual = as_rows(self.wl.expected)
        doc_id = next(iter(actual))
        n = len(actual.pop(doc_id))
        rep = self.run_check(actual)
        self.assertEqual((rep.errors, rep.missing), (n, n))
        actual["doc_unknown"] = [("text", "a", None, 0, 100)]
        self.assertEqual(self.run_check(actual).extra, 1)

    def test_failed_pass_counts_every_span(self):
        rep = check.failed_pass(self.wl.expected, self.n_media)
        self.assertEqual(rep.error_frac, 1.0)

    def test_unicode_space_divergence_is_classified(self):
        exp = {"d": [("text", "a b", None, 0, 100), ("text", "", None, 1, 101)]}
        raw = {("d", 0): "a\u00a0b", ("d", 1): "\u2003"}
        act = {"d": [("text", "a\u00a0b", None, 0, 100),
                     ("text", "\u2003", None, 1, 100)]}
        rep = check.compare(exp, act, raw, 0)
        self.assertEqual(rep.count("unicode_space"), 2)
        self.assertTrue(rep.acceptable)
        # output the JVM normalizer would not produce is not explained
        act["d"][0] = ("text", "a\u00a0 b", None, 0, 100)
        rep = check.compare(exp, act, raw, 0)
        self.assertEqual((rep.count("unicode_space"), rep.count("other")), (1, 1))


class StageTableTest(unittest.TestCase):
    """A REST snapshot recorded from a traced shared_media pass on
    local[4] (perfbench/fixtures/rest_shared_media.json)."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(HERE, "fixtures", "rest_shared_media.json")) as fh:
            cls.rest = json.load(fh)

    def test_ocr_stage_packing(self):
        m = spark_rest.pipeline_metrics(self.rest["pass"], cores=4)
        # stage 103: 22116 ms executor run time over 17.900 → 23.670 s,
        # i.e. 22.116 / (4 × 5.770) = 0.9582
        self.assertEqual(spark_rest.python_stage_ids(self.rest["pass"]),
                         {(103, 0)})
        self.assertAlmostEqual(m["ocr_stage.packing"], 0.9582, places=4)
        self.assertEqual(m["ocr_stage.tasks"], 33)
        self.assertAlmostEqual(m["ocr_stage.task_p50_s"], 0.643)
        self.assertAlmostEqual(m["ocr_stage.task_max_s"], 1.334)
        self.assertLess(m["pipeline.non_ocr_wall_s"], m["pipeline.job_wall_s"])

    def test_checkpoint_phases_cover_the_call(self):
        snap = self.rest["checkpoint"]
        phases = spark_rest.checkpoint_phases(snap)
        t0, t1 = spark_rest.group_span(snap)
        self.assertAlmostEqual(sum(phases.values()), t1 - t0, places=6)
        self.assertTrue(all(v > 0 for v in phases.values()))
        self.assertGreater(phases["checkpoint.write_s"],
                           phases["checkpoint.plan_s"])


if __name__ == "__main__":
    unittest.main()
