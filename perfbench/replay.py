"""Solo kernel replay: a seeded sample of a workload's media requests run
in this process (BLAS pinned to one thread), calling the engine's public
kernel functions in the order the OCR UDF does:

    png.decode + to_gray | sources.pdf.decode_pdf_page → detect
      → perspective_crop → classify + maybe_rotate → recognize_batch
      → K1 filter (drop empty text / score <= 0) → run_parser + assemble_text

Each call is wrapped in a trace span; the result of every request is
checked against its expected (text, code).
"""

from __future__ import annotations

import numpy as np

from tracing import Tracer

# span names, in call order; ``kernel.ms_per_span`` sums them
STEPS = ("decode", "detect", "crop", "classify", "recognize", "layout")


def _run_one(content, page, cfg, tracer: Tracer, run: int, counts: dict):
    """→ (text, code) for one request, as the OCR UDF answers it."""
    from ppocr_spark.geometry import perspective_crop
    from ppocr_spark.operators.classify import classify, maybe_rotate
    from ppocr_spark.operators.detect import detect
    from ppocr_spark.operators.layout import assemble_text, run_parser
    from ppocr_spark.operators.recognize import recognize_batch
    from ppocr_spark.png import PngError, decode, to_gray
    from ppocr_spark.sources.pdf import PdfError, decode_pdf_page, is_pdf

    if content is None:
        return "", 202
    with tracer.span("decode", run):
        try:
            if is_pdf(content):
                img = decode_pdf_page(content, page or 1)
            elif page not in (None, 1):
                return "", 203
            else:
                img = to_gray(decode(content))
        except (PngError, PdfError):
            return "", 203
    if img.size == 0:
        return "", 204
    with tracer.span("detect", run):
        quads = detect(img, cfg)
    counts["boxes"] += len(quads)
    if not quads:
        return "", 101
    with tracer.span("crop", run):
        crops = [perspective_crop(img, q) for q in quads]
    labels: list[tuple[int, float]] = []
    if cfg.cls and cfg.use_angle_cls:
        with tracer.span("classify", run):
            rotated = []
            for c in crops:
                label, score = classify(c)
                labels.append((label, score))
                r = maybe_rotate(c, label, score, cfg.cls_thresh)
                counts["rotated"] += r is not c
                rotated.append(r)
            crops = rotated
        counts["classified"] += len(crops)
    with tracer.span("recognize", run):
        rec = recognize_batch(crops, img_h=cfg.rec_img_h,
                              batch_num=cfg.rec_batch_num, lang=cfg.rec_lang)
    counts["recognized"] += len(crops)
    blocks = []
    for i, (q, (txt, score)) in enumerate(zip(quads, rec)):
        if not txt or score <= 0:
            continue
        blocks.append({
            "box": [[int(x), int(y)] for x, y in q],
            "text": txt,
            "score": float(score),
            "cls_label": labels[i][0] if labels else None,
            "cls_score": labels[i][1] if labels else None,
        })
    counts["kept"] += len(blocks)
    if not blocks:
        return "", 101
    with tracer.span("layout", run):
        text = assemble_text(run_parser(cfg.parser, blocks))
    return text, 100


def sample(media_spans: list, n: int, seed: int) -> list:
    """Seeded sample of (doc_id, offset, media_ref) requests."""
    rng = np.random.default_rng([seed, 7])
    idx = rng.choice(len(media_spans), min(n, len(media_spans)), replace=False)
    return [media_spans[i] for i in sorted(idx)]


def replay(requests: list, media: dict, expected: dict, cfg,
           tracer: Tracer) -> dict:
    """Run ``requests`` solo. ``expected``: (doc_id, offset) → (text, code).
    → the per-layer kernel metrics."""
    from ppocr_spark.sources.pdf import split_page_ref

    counts = dict.fromkeys(
        ("boxes", "rotated", "classified", "recognized", "kept"), 0)
    wrong = 0
    # first touch (glyph templates, numpy) outside the measured spans
    warm = Tracer()
    for doc_id, off, ref in requests[:2]:
        base, page = split_page_ref(ref)
        _run_one(media.get(base), page, cfg, warm, -1, dict.fromkeys(counts, 0))
    for run, (doc_id, off, ref) in enumerate(requests):
        base, page = split_page_ref(ref)
        with tracer.span("request", run):
            got = _run_one(media.get(base), page, cfg, tracer, run, counts)
        wrong += got != expected[(doc_id, off)]
    n = max(1, len(requests))
    out = {f"{s}.ms_per_span": tracer.total_s(s) * 1e3 / n for s in STEPS}
    out["kernel.ms_per_span"] = sum(out[f"{s}.ms_per_span"] for s in STEPS)
    out["detect.boxes_per_span"] = counts["boxes"] / n
    out["classify.rotated_frac"] = counts["rotated"] / max(1, counts["classified"])
    out["recognize.kept_frac"] = counts["kept"] / max(1, counts["recognized"])
    out["kernel.replay_error_frac"] = wrong / n
    return out
