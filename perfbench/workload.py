"""Seeded workload generator and expected spans for the extraction benchmark.

Media pools are rendered once with ``corpus.build_media_pool`` /
``corpus.build_pdf_pool`` (pure functions of the pool index) and cached on
disk; they do not depend on the seed. The seed decides how documents are
composed over the pools: span counts per document, which spans are media,
which payload each media span references, and the raw text of text spans.

Every structural total (documents, spans, media spans, PDF-page spans,
missing refs, skew-tail documents, non-ASCII-whitespace text spans) and
the multiset of referenced payloads are fixed per workload, so the work a
pass does is the same for every seed; only its arrangement changes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

# Size of the cached pools. The image pool serves distinct_media, which
# references every image once; shared_media reuses its first images.
POOL_IMAGES = 640
POOL_PDFS = 96

# Non-ASCII whitespace the Python mirror (str.split) collapses and the JVM
# normalizer (regexp \s + trim) keeps: NBSP, ideographic space, em space,
# line separator.
UNICODE_SPACES = ("\u00a0", "\u3000", "\u2003", "\u2028")

_WORDS = (
    "the quick brown fox jumps over lazy dog pack my box with five dozen "
    "liquor jugs spark engine document span media text line column layout "
    "paragraph detect classify recognize batch shuffle partition broadcast "
    "salt skew manifest resume lineage metric vector table scan filter join "
    "window sort limit union hash range bucket codec glyph pixel quad warp "
    "crop angle rotate decode encode score index offset order page web link"
).split()
_CJK = "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年得就那要下以生会自着去之过家学对可"


@dataclass(frozen=True)
class Shape:
    """Structural totals of one workload."""

    docs: int
    span_counts: tuple[int, int]  # regular docs cycle over [lo, hi] spans
    media_frac: float  # media share of regular-doc spans
    skew_docs: int  # media-heavy skew-tail docs (50-200 spans, 95% media)
    pdf_frac: float  # PDF-page share of media spans
    missing_frac: float  # share of media spans whose ref has no media row
    distinct: bool  # every media span references its own payload
    unicode_space_frac: float  # text spans carrying non-ASCII whitespace
    resumable: bool  # timed pass goes through checkpoint.run_resumable


SHAPES = {
    # sf0.1 composition (30% media, 18% PDF pages, 1% skew tail, 0.5%
    # missing refs) at 1/5 of its document count, payloads reused; 2% of
    # text spans carry non-ASCII whitespace
    "shared_media": Shape(160, (1, 12), 0.30, 2, 0.18, 0.005, False, 0.02,
                          False),
    # the same shape, every media span its own payload (reuse = 1.0)
    "distinct_media": Shape(160, (1, 12), 0.30, 2, 0.18, 0.005, True, 0.02,
                            False),
    # web-interleaved: mostly text, 0.05% media, through run_resumable
    "web_text_resumable": Shape(3000, (1, 19), 0.0005, 0, 0.18, 0.0,
                                False, 0.02, True),
}


@dataclass
class Workload:
    name: str
    seed: int
    documents: list[dict]  # {doc_id, spans: [{kind, text, media_ref, offset}]}
    expected: dict[str, list[tuple]]  # doc_id -> [(kind, text, ref, order, code)]
    media: dict[str, bytes]  # base media_ref -> payload
    media_spans: list[tuple[str, int, str]]  # (doc_id, offset, media_ref)
    properties: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# pools
# ---------------------------------------------------------------------------


def ensure_pools(cache_dir: str) -> dict:
    """Render (once) and load the media pools: images and PDFs with their
    expected OCR text and status code per addressable ref."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, f"pools_{POOL_IMAGES}_{POOL_PDFS}.parquet")
    if not os.path.exists(path):
        from ppocr_spark import corpus

        cfg = engine_config()
        images = corpus.build_media_pool(POOL_IMAGES, cfg)
        pdfs = corpus.build_pdf_pool(POOL_PDFS, cfg)
        rows = [
            (s.media_ref, s.content, [s.expected_text], [s.expected_code])
            for s in images
        ] + [
            (p.base_ref, p.content, [t for t, _c, _b in p.pages],
             [c for _t, c, _b in p.pages])
            for p in pdfs
        ]
        table = pa.table({
            "ref": [r[0] for r in rows],
            "content": pa.array([r[1] for r in rows], pa.binary()),
            "texts": [r[2] for r in rows],
            "codes": pa.array([r[3] for r in rows], pa.list_(pa.int32())),
        })
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    rows = pq.read_table(path).to_pylist()
    images = [r for r in rows if not r["ref"].startswith("pdf_")]
    pdfs = [r for r in rows if r["ref"].startswith("pdf_")]
    return {"images": images, "pdfs": pdfs}


def engine_config():
    """The extraction config every pass, the replay and the expected
    spans use (cls on, as in the sf0.1 baseline)."""
    from ppocr_spark.config import PPOCRConfig

    return PPOCRConfig(cls=True, use_angle_cls=True)


# ---------------------------------------------------------------------------
# text spans
# ---------------------------------------------------------------------------


def _latin(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(
        _WORDS[i] for i in rng.integers(0, len(_WORDS), int(rng.integers(lo, hi + 1)))
    )


def _cjk(rng: np.random.Generator) -> str:
    return "".join(_CJK[i] for i in rng.integers(0, len(_CJK), int(rng.integers(4, 11))))


def _text_payload(rng: np.random.Generator) -> str:
    """Raw text span: Latin / CJK / mixed / hyphen tail / leading punct /
    whitespace-dirty / markup / blank (the sf0.1 text mix)."""
    k = rng.random()
    if k < 0.36:
        return _latin(rng, 3, 9)
    if k < 0.50:
        return _cjk(rng)
    if k < 0.60:
        return _latin(rng, 2, 4) + " " + _cjk(rng)
    if k < 0.67:
        return _latin(rng, 2, 5) + "-"
    if k < 0.74:
        return "." + _latin(rng, 2, 5)
    if k < 0.88:
        return "  " + _latin(rng, 2, 6) + "\t "
    if k < 0.95:
        return "<p>" + _latin(rng, 3, 8) + "</p>\n<p>" + _latin(rng, 2, 5) + "</p>"
    return "   "


def _with_unicode_space(rng: np.random.Generator, raw: str) -> str:
    """Put one non-ASCII whitespace char into a text span. One in ten
    becomes a span made of that char alone."""
    ch = UNICODE_SPACES[int(rng.integers(0, len(UNICODE_SPACES)))]
    if rng.random() < 0.1:
        return ch
    words = raw.split(" ")
    if len(words) < 2:
        return raw + ch + _latin(rng, 1, 3)
    i = int(rng.integers(1, len(words)))
    return " ".join(words[:i]) + ch + " ".join(words[i:])


def has_unicode_space(raw: str | None) -> bool:
    return any(ch in (raw or "") for ch in UNICODE_SPACES)


# ---------------------------------------------------------------------------
# composition
# ---------------------------------------------------------------------------


def _span_counts(shape: Shape, rng: np.random.Generator) -> tuple[list, list]:
    """Per-doc span counts and skew flags: a fixed multiset (regular docs
    cycle through [lo, hi], skew docs evenly spaced inside 50..200),
    shuffled by seed."""
    lo, hi = shape.span_counts
    regular = [lo + i % (hi - lo + 1) for i in range(shape.docs - shape.skew_docs)]
    skew = [int(v) for v in np.linspace(50, 200, shape.skew_docs + 2)[1:-1]]
    counts = regular + skew
    is_skew = [False] * len(regular) + [True] * len(skew)
    order = rng.permutation(len(counts))
    return [counts[i] for i in order], [is_skew[i] for i in order]


def _media_refs(shape: Shape, n_media: int, pools: dict,
                rng: np.random.Generator) -> list[tuple[str, str, str, int]]:
    """→ one (media_ref, base_ref, expected_text, expected_code) per media
    span, shuffled. Counts per category are exact; shared workloads use
    every pooled payload equally often, distinct ones each payload once."""
    from ppocr_spark.status import StatusCode

    n_missing = round(n_media * shape.missing_frac)
    n_pdf = round(n_media * shape.pdf_frac)
    n_img = n_media - n_missing - n_pdf
    pages = [
        (f"{p['ref']}#page={k + 1}", p["ref"], p["texts"][k], p["codes"][k])
        for p in pools["pdfs"] for k in range(len(p["texts"]))
    ]
    images = [(r["ref"], r["ref"], r["texts"][0], r["codes"][0])
              for r in pools["images"]]
    if shape.distinct:
        if n_img > len(images) or n_pdf > len(pages):
            raise ValueError(
                f"pools too small for {n_img} distinct images / {n_pdf} pages"
            )
        chosen = images[:n_img] + pages[:n_pdf]
        missing = [(f"img_missing_{k}", f"img_missing_{k}", "",
                    int(StatusCode.PATH_NOT_EXIST)) for k in range(n_missing)]
    else:
        # reuse ≈ 6.5 as in sf0.1: each pooled image serves about 7.5
        # spans and each PDF page about 4, all used equally often
        img_pool = images[: max(1, n_img * 2 // 15)]
        page_pool = pages[: max(1, n_pdf // 4)]
        chosen = [img_pool[i % len(img_pool)] for i in range(n_img)] + [
            page_pool[i % len(page_pool)] for i in range(n_pdf)
        ]
        missing = [("img_missing", "img_missing", "",
                    int(StatusCode.PATH_NOT_EXIST))] * n_missing
    refs = chosen + missing
    return [refs[i] for i in rng.permutation(len(refs))]


def build(name: str, seed: int, pools: dict) -> Workload:
    """Compose workload ``name`` for ``seed`` with its expected spans."""
    from ppocr_spark.corpus import normalize_text_span

    shape = SHAPES[name]
    rng = np.random.default_rng([seed, sum(map(ord, name))])
    counts, skewed = _span_counts(shape, rng)

    # which spans are media: exact counts, positions chosen by seed
    regular_slots = [(d, o) for d, n in enumerate(counts) if not skewed[d]
                     for o in range(n)]
    skew_slots = [(d, o) for d, n in enumerate(counts) if skewed[d]
                  for o in range(n)]
    media_slots = set()
    for slots, frac in ((regular_slots, shape.media_frac), (skew_slots, 0.95)):
        k = round(len(slots) * frac)
        media_slots.update(slots[i] for i in rng.choice(len(slots), k, replace=False))
    refs = iter(_media_refs(shape, len(media_slots), pools, rng))

    n_text = sum(counts) - len(media_slots)
    n_uni = round(n_text * shape.unicode_space_frac)
    uni_idx = set(rng.choice(n_text, n_uni, replace=False).tolist()) if n_uni else set()

    payload = {p["ref"]: p["content"] for p in pools["images"] + pools["pdfs"]}
    documents, expected, media, media_spans = [], {}, {}, []
    t = 0
    for d, n in enumerate(counts):
        doc_id = f"doc_{seed}_{d:07d}"
        spans, exp = [], []
        for off in range(n):
            if (d, off) in media_slots:
                ref, base, text, code = next(refs)
                spans.append({"kind": "media", "text": None, "media_ref": ref,
                              "offset": off})
                exp.append(("media", text, ref, off, code))
                media_spans.append((doc_id, off, ref))
                if base in payload:
                    media[base] = payload[base]
            else:
                raw = _text_payload(rng)
                if t in uni_idx:
                    raw = _with_unicode_space(rng, raw)
                t += 1
                norm, code = normalize_text_span(raw)
                spans.append({"kind": "text", "text": raw, "media_ref": None,
                              "offset": off})
                exp.append(("text", norm, None, off, code))
        documents.append({"doc_id": doc_id, "spans": spans})
        expected[doc_id] = exp

    wl = Workload(name, seed, documents, expected, media, media_spans)
    wl.properties = properties(wl, skewed)
    return wl


def properties(wl: Workload, skewed: list[bool]) -> dict:
    """Measured input properties of a composed workload."""
    spans = [s for d in wl.documents for s in d["spans"]]
    media = [s for s in spans if s["kind"] == "media"]
    text = [s for s in spans if s["kind"] == "text"]
    n_media = len(media)
    return {
        "docs": len(wl.documents),
        "spans": len(spans),
        "media_spans": n_media,
        "media_span_share": n_media / len(spans),
        "reuse": n_media / max(1, len({s["media_ref"] for s in media})),
        "pdf_page_share": sum("#page=" in s["media_ref"] for s in media) / max(1, n_media),
        "missing_ref_share": sum(s["media_ref"].startswith("img_missing") for s in media)
        / max(1, n_media),
        "skew_tail_doc_share": sum(skewed) / len(skewed),
        "non_ascii_space_share": sum(has_unicode_space(s["text"]) for s in text)
        / max(1, len(text)),
        "media_mb": sum(len(v) for v in wl.media.values()) / 1e6,
    }


def write_inputs(wl: Workload, out_dir: str) -> tuple[str, str]:
    """Write the documents and media tables as parquet → (docs, media)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    docs = pa.table({
        "doc_id": [d["doc_id"] for d in wl.documents],
        "spans": pa.array([d["spans"] for d in wl.documents], pa.list_(span_t)),
    })
    media = pa.table({
        "media_ref": list(wl.media),
        "content": pa.array(list(wl.media.values()), pa.binary()),
    })
    docs_path = os.path.join(out_dir, "documents.parquet")
    media_path = os.path.join(out_dir, "media.parquet")
    pq.write_table(docs, docs_path)
    pq.write_table(media, media_path)
    return docs_path, media_path
