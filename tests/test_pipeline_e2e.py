"""End-to-end span-sequence equality — the BASELINE.json invariant.

For every document: pipeline output spans == expected spans element-wise on
(kind, text, media_ref, order) (+ our code column), per FIXTURES.md F3.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ppocr_spark.config import PPOCRConfig
from ppocr_spark.pipeline import extract_documents, ocr_blocks


@pytest.fixture(scope="module")
def frames(spark, small_corpus):
    docs = spark.read.parquet(f"{small_corpus}/documents_spans.parquet")
    media = spark.read.parquet(f"{small_corpus}/media.parquet")
    expected = spark.read.parquet(f"{small_corpus}/expected_spans.parquet")
    return docs, media, expected


def test_span_sequence_equality(frames):
    docs, media, expected = frames
    cfg = PPOCRConfig(cls=True, use_angle_cls=True)
    result = extract_documents(docs, media, cfg, broadcast_media=True)

    res = {r["doc_id"]: r["spans"] for r in result.collect()}
    exp = {r["doc_id"]: r["spans"] for r in expected.collect()}
    assert set(res) == set(exp)

    mismatches = []
    for doc_id, exp_spans in exp.items():
        got = res[doc_id]
        if len(got) != len(exp_spans):
            mismatches.append((doc_id, "len", len(got), len(exp_spans)))
            continue
        for g, e in zip(got, exp_spans):
            if (
                g["kind"] != e["kind"]
                or (g["text"] or "") != (e["text"] or "")
                or (g["media_ref"] or None) != (e["media_ref"] or None)
                or g["order"] != e["order"]
                or g["code"] != e["code"]
            ):
                mismatches.append((doc_id, "span", dict(g.asDict()), dict(e.asDict())))
    assert not mismatches, f"{len(mismatches)} mismatches; first 3: {mismatches[:3]}"


def test_blocks_schema_and_filters(frames):
    docs, media, _ = frames
    cfg = PPOCRConfig(cls=True, use_angle_cls=True)
    blocks = ocr_blocks(docs, media, cfg, broadcast_media=True)
    rows = blocks.limit(50).collect()
    assert rows
    for r in rows:
        assert len(r["box"]) == 4 and all(len(p) == 2 for p in r["box"])
        assert r["text"]  # K1 filter: no empty text
        assert r["score"] > 0  # K1 filter: no score<=0
        assert r["end"] in ("", " ", "\n") or set(r["end"]) == {" "}


def test_status_codes_present(frames):
    docs, media, expected = frames
    cfg = PPOCRConfig(cls=True, use_angle_cls=True)
    result = extract_documents(docs, media, cfg, broadcast_media=True)
    codes = (
        result.select(F.explode("spans").alias("s"))
        .groupBy(F.col("s.code").alias("code"))
        .count()
        .collect()
    )
    seen = {r["code"] for r in codes}
    assert 100 in seen  # OK present; other codes depend on the sampled pool


def test_copartitioned_path_matches_broadcast(frames):
    """broadcast_media=False is the 100 TB path (media too big to
    broadcast): co-partitioned shuffle join on base_ref must produce
    byte-identical span sequences."""
    docs, media, expected = frames
    cfg = PPOCRConfig(cls=True, use_angle_cls=True)
    result = extract_documents(docs, media, cfg, broadcast_media=False)
    res = {r["doc_id"]: r["spans"] for r in result.collect()}
    exp = {r["doc_id"]: r["spans"] for r in expected.collect()}
    assert set(res) == set(exp)
    for doc_id, exp_spans in exp.items():
        got = res[doc_id]
        assert len(got) == len(exp_spans), doc_id
        for g, e in zip(got, exp_spans):
            assert (
                g["kind"], g["text"] or "", g["media_ref"] or None,
                g["order"], g["code"],
            ) == (
                e["kind"], e["text"] or "", e["media_ref"] or None,
                e["order"], e["code"],
            ), doc_id


def test_output_independent_of_arrow_batch_size(spark, frames):
    """One Arrow record per batch and 64 per batch give identical spans on
    both media paths: a payload's requests travel in one UDF row, so the
    per-page reuse never depends on where a batch boundary falls."""
    docs, media, _ = frames
    cfg = PPOCRConfig(cls=True, use_angle_cls=True)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    runs = {}
    try:
        for rows in ("1", "64"):
            spark.conf.set(key, rows)
            for bc in (True, False):
                runs[rows, bc] = sorted(
                    (r["doc_id"], [tuple(x) for x in r["spans"]])
                    for r in extract_documents(
                        docs, media, cfg, broadcast_media=bc
                    ).collect()
                )
    finally:
        spark.conf.set(key, prev)
    for bc in (True, False):
        assert runs["1", bc] == runs["64", bc]
    assert runs["64", True] == runs["64", False]


def test_html_main_mode_span_equality(spark, small_corpus):
    """html_strip='main': authored-HTML text spans reduce to their
    authored main content; plain spans obey the min-words rule; media
    spans unchanged — against the generation-time main-mode golden."""
    docs = spark.read.parquet(f"{small_corpus}/documents_spans.parquet")
    media = spark.read.parquet(f"{small_corpus}/media.parquet")
    expected = spark.read.parquet(
        f"{small_corpus}/expected_spans_main.parquet"
    )
    cfg = PPOCRConfig(cls=True, use_angle_cls=True, html_strip="main")
    result = extract_documents(docs, media, cfg, broadcast_media=True)
    res = {r["doc_id"]: r["spans"] for r in result.collect()}
    exp = {r["doc_id"]: r["spans"] for r in expected.collect()}
    assert set(res) == set(exp)
    for doc_id, exp_spans in exp.items():
        got = res[doc_id]
        assert len(got) == len(exp_spans), doc_id
        for g, e in zip(got, exp_spans):
            assert (
                g["kind"], g["text"] or "", g["media_ref"] or None,
                g["order"], g["code"],
            ) == (
                e["kind"], e["text"] or "", e["media_ref"] or None,
                e["order"], e["code"],
            ), (doc_id, g, e)
