"""Span-level checker: compares a pass's output documents with the
expected spans and classifies every difference.

A span is identified by (doc_id, order). It is in error when its
(kind, text, media_ref, order, code) differs from the expected tuple, when
it is missing, or when it is extra. ``span_error_frac`` divides the errors
by the number of expected spans.

Two classes of difference are known and reported rather than failed:

- ``unicode_space``: a text span whose raw text holds non-ASCII whitespace
  (NBSP, U+3000, U+2003, U+2028) and whose output is exactly what the JVM
  normalizer (regexp ``\\s+`` → space, then trim) makes of it. The golden
  mirror ``corpus.normalize_text_span`` (``str.split``) collapses those
  characters; the pipeline keeps them.
- ``recognition``: a media span with status 100 on both sides whose text
  differs (the recognition band).

Anything else (wrong kind, ref, order or code, a text span not explained
by the first class, a missing or extra span) is ``other``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# media spans the recognition band may cover before a pass counts as failed
MAX_RECOGNITION_SHARE = 0.02

_JVM_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


def jvm_normalize(raw: str | None) -> tuple[str, int]:
    """What ``pipeline.normalize_text_spans`` computes: Java's ``\\s`` is
    ASCII whitespace only, and ``trim`` strips ASCII spaces."""
    s = _JVM_SPACE.sub(" ", raw or "").strip(" ")
    return (s, 100) if s else ("", 101)


@dataclass
class Report:
    expected_spans: int
    media_spans: int
    missing: int = 0
    extra: int = 0
    # (doc_id, order, expected tuple, actual tuple, class)
    mismatches: list[tuple] = field(default_factory=list)

    @property
    def errors(self) -> int:
        return len(self.mismatches) + self.missing + self.extra

    @property
    def error_frac(self) -> float:
        return self.errors / self.expected_spans

    def count(self, cls: str) -> int:
        return sum(m[4] == cls for m in self.mismatches)

    @property
    def acceptable(self) -> bool:
        """No unexplained difference and the recognition band in bounds."""
        return (
            self.missing == 0
            and self.extra == 0
            and self.count("other") == 0
            and self.count("recognition")
            <= MAX_RECOGNITION_SHARE * max(1, self.media_spans)
        )

    def signature(self) -> frozenset:
        """The exact set of differences; equal across passes of one run
        when extraction is deterministic."""
        return frozenset((m[0], m[1], m[3]) for m in self.mismatches)


def classify(exp: tuple, act: tuple, raw: str | None) -> str:
    kind, _text, ref, order, code = exp
    if act[0] != kind or act[2] != ref or act[3] != order:
        return "other"
    if kind == "text":
        jvm = jvm_normalize(raw)
        if any(ord(c) > 127 and c.isspace() for c in raw or "") and (act[1], act[4]) == jvm:
            return "unicode_space"
        return "other"
    if code == 100 and act[4] == 100:
        return "recognition"
    return "other"


def compare(expected: dict, actual: dict, raw_text: dict, media_spans: int) -> Report:
    """``expected``/``actual``: doc_id → [(kind, text, media_ref, order,
    code)]; ``raw_text``: (doc_id, order) → raw input text of text spans."""
    rep = Report(sum(len(v) for v in expected.values()), media_spans)
    for doc_id, exp_spans in expected.items():
        act_spans = actual.get(doc_id)
        if act_spans is None:
            rep.missing += len(exp_spans)
            continue
        by_order: dict[int, tuple] = {}
        for a in act_spans:
            if a[3] in by_order:
                rep.extra += 1
            else:
                by_order[a[3]] = a
        for e in exp_spans:
            a = by_order.pop(e[3], None)
            if a is None:
                rep.missing += 1
            elif a != e:
                cls = classify(e, a, raw_text.get((doc_id, e[3])))
                rep.mismatches.append((doc_id, e[3], e, a, cls))
        rep.extra += len(by_order)
    for doc_id, act_spans in actual.items():
        if doc_id not in expected:
            rep.extra += len(act_spans)
    return rep


def failed_pass(expected: dict, media_spans: int) -> Report:
    """A pass that raised: every span it should have produced is missing."""
    rep = Report(sum(len(v) for v in expected.values()), media_spans)
    rep.missing = rep.expected_spans
    return rep


def rows_to_docs(rows) -> dict:
    """Result rows ({doc_id, spans: [{kind, text, media_ref, order, code}]})
    → doc_id → span tuples."""
    docs: dict[str, list[tuple]] = {}
    for r in rows:
        # a doc emitted twice keeps both copies, so its spans count as extra
        docs.setdefault(r["doc_id"], []).extend(
            (s["kind"], s["text"], s["media_ref"], s["order"], s["code"])
            for s in r["spans"] or []
        )
    return docs
