"""Deduplication operators (exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine) — the training-data-pipeline staples, built Spark-first:

- exact:      one hash-aggregate (map-side partial combine; no join)
- jaccard:    distinct-ngram explode → self-join on gram → count ratio.
  At 100 TB the gram join is the shuffle hot spot: grams are pre-distinct'd
  per doc (shrinks the fan-out), the join key is the gram string (high
  cardinality → well-spread), and AQE handles stragglers.
- minhash+LSH: signatures via portable md5-min permutations (text.py),
  banded into buckets; candidate pairs only join within a bucket —
  the classic sub-quadratic near-dup path.
- simhash:    60-bit fingerprints; near-dups = hamming distance <= r via
  pigeonhole multi-block bucketing (r+1 blocks → guaranteed recall,
  output identical to the all-pairs scan).
- embedding:  cosine >= threshold pairs; all-pairs baseline here,
  production path = similarity.lsh_near_dup_pairs (bucketed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ppocr_spark import cache
from ppocr_spark.functions.text import (
    minhash_from_grams,
    ngrams_from_tokens,
    simhash_from_hashes,
    spread as _spread,
    token_hashes,
    tokens,
)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
                ) -> DataFrame:
    """Keep the min-id representative per identical text (md5 group key —
    never groups on the raw 100 KB text blob)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def substring_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
) -> DataFrame:
    """Repeated-substring spans: maximal token ranges of each document
    covered by some k-token window that occurs more than once anywhere in
    the corpus (the exact-substring dedup of Lee et al., "Deduplicating
    Training Data Makes Language Models Better", at word-token
    granularity) → (id, span_start, span_end) with 0-based token
    positions, end exclusive.

    Plan (scale-first, all JVM):
    - positional k-gram shingles via posexplode — row fan-out ≈ corpus
      token count, the floor for any shingle pipeline;
    - shingles carry an 8-byte ``xxhash64`` key, never the gram string,
      so the corpus-sized shuffle moves (id, pos, int64) rows only
      (64-bit collisions are ~n²/2⁶⁵ — immaterial vs the dedup's own
      fuzziness; the DuckDB oracle joins on gram strings and agrees);
    - duplicated positions = shingles equi-joined to the >1-count gram
      hashes (groupBy with map-side partial agg; AQE absorbs hot-gram
      skew — a boilerplate shingle with 10⁶ occurrences is one hot key,
      not a plan change);
    - per-doc span merge is two window functions over that doc's
      duplicated positions (bounded by doc length): windows [p, p+k)
      merge while p <= prev_p + k, islands become (min pos, max pos + k).

    The shingle table feeds two non-identical subtrees (the count
    aggregate and the join probe side), so it is persisted via
    ``cache.track`` (released by ``cache.release_all``)."""
    g = cache.track(_positional_gram_hashes(df, text_col, id_col, k))
    freq = g.groupBy("h").agg(F.count("*").alias("c")).filter(F.col("c") > 1)
    dup = g.join(freq.select("h"), "h").select("id", "pos")
    return _merge_windows(dup, k)


def substring_rewrite(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
) -> DataFrame:
    """Exact-substring dedup as a TRANSFORMATION: cut every maximal
    duplicated token span found by ``substring_dup_spans`` (ALL
    occurrences — the ExactSubstr policy of Lee et al., which removes
    both copies) and re-join the survivors. Returns
    (id, clean_text, n_removed); whitespace is normalized to single
    spaces (token-granularity rewrite).

    Shape: the span side aggregates to one bounded array per affected
    document (spans are disjoint maximal intervals ≤ len/k per doc); the
    cut itself is a per-row JVM filter over (token, index) — O(len ×
    n_spans) per row worst case, bounded by document length, no extra
    shuffle beyond the span computation."""
    spans = substring_dup_spans(df, text_col, id_col, k)
    per_doc = spans.groupBy("id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("span_start").cast("int").alias("s"),
                    F.col("span_end").cast("int").alias("e"),
                )
            )
        ).alias("spans")
    )
    base = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t")
    )
    # typed empty array for span-free documents (left join gives null)
    empty = F.slice(
        F.array(F.struct(F.lit(-1).alias("s"), F.lit(-1).alias("e"))), 1, 0
    )
    joined = base.join(per_doc, "id", "left").select(
        "id", "t", F.coalesce(F.col("spans"), empty).alias("spans")
    )
    withidx = F.transform(
        F.col("t"), lambda tok, i: F.struct(tok.alias("tok"), i.alias("i"))
    )
    kept = F.filter(
        withidx,
        lambda s: ~F.exists(
            F.col("spans"),
            lambda sp: (s["i"] >= sp["s"]) & (s["i"] < sp["e"]),
        ),
    )
    return joined.select(
        "id",
        F.array_join(
            F.transform(kept, lambda s: s["tok"]), " "
        ).alias("clean_text"),
        (F.size("t") - F.size(kept)).cast("long").alias("n_removed"),
    )


def contamination_spans(
    corpus_df: DataFrame,
    probe_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
) -> DataFrame:
    """Decontamination: maximal token ranges of corpus documents covered
    by some k-token window that occurs anywhere in the probe (benchmark)
    set → (id, span_start, span_end), 0-based, end exclusive.

    Same machinery as ``substring_dup_spans`` but cross-table: the probe
    side reduces to DISTINCT gram hashes (benchmark suites are tiny next
    to a training corpus — the join build side broadcasts; at worst it is
    a shuffle equi-join on the 8-byte key), and the corpus shingle table
    is consumed once, so nothing persists."""
    g = _positional_gram_hashes(corpus_df, text_col, id_col, k)
    probe = (
        _positional_gram_hashes(probe_df, text_col, id_col, k)
        .select("h")
        .distinct()
    )
    return _merge_windows(g.join(probe, "h").select("id", "pos"), k)


def _positional_gram_hashes(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, pos, h): xxhash64 of each positional k-token shingle."""
    toks = _spread(
        df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t"))
    )
    return toks.select(
        "id",
        F.posexplode(ngrams_from_tokens(F.col("t"), k)).alias("pos", "g"),
    ).select("id", "pos", F.xxhash64("g").alias("h"))


def _merge_windows(dup: DataFrame, k: int) -> DataFrame:
    """Interval union of k-windows at duplicated positions, per doc:
    windows [p, p+k) merge while p <= prev_p + k; each island becomes
    (min pos, max pos + k). Two window functions over per-doc partitions
    (bounded by doc length — no scale concern)."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("pos")
    prev = F.lag("pos").over(w)
    isl = dup.withColumn(
        "brk",
        F.when(prev.isNull() | (F.col("pos") > prev + k), 1).otherwise(0),
    ).withColumn("island", F.sum("brk").over(w))
    return (
        isl.groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
        )
        .drop("island")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(a, b, jaccard) for all pairs with n-gram Jaccard >= threshold, a<b.
    Pure relational — the DuckDB oracle mirrors it exactly."""
    grams = (
        _spread(df.select(F.col(id_col).alias("id"),
                          F.col(text_col).alias("t")))
        .select("id", tokens(F.col("t")).alias("toks"))
        .select(
            "id",
            F.explode(
                F.array_distinct(ngrams_from_tokens(F.col("toks"), n))
            ).alias("g"),
        )
    )
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_g"))
    shared = (
        grams.alias("x")
        .join(grams.alias("y"), (F.col("x.g") == F.col("y.g"))
              & (F.col("x.id") < F.col("y.id")))
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        shared.join(sizes.withColumnRenamed("id", "a")
                    .withColumnRenamed("n_g", "na"), "a")
        .join(sizes.withColumnRenamed("id", "b")
              .withColumnRenamed("n_g", "nb"), "b")
        .select(
            "a",
            "b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    threshold_ppm: int = 500_000,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(a, b, cont_ppm) DIRECTED pairs with n-gram containment
    |grams(a) ∩ grams(b)| / |grams(a)| ≥ threshold — the asymmetric
    near-dup signal Jaccard misses: a short doc fully quoted inside a
    long one has tiny Jaccard (union is dominated by the long doc) but
    containment ≈ 1 in the short→long direction. This is the
    subset-dedup rule (drop the contained side) used alongside
    symmetric Jaccard/MinHash in corpus cleaning.

    Containment is exact integer ppm (``(1e6 * inter) DIV |grams(a)|``
    — engine-identical; float ratios + round() tie-break differently
    across engines). Same gram-equi-join candidate generator as
    ``ngram_jaccard_pairs`` and the same scale label: a verification
    baseline — hot grams fan out quadratically, so at corpus scale the
    candidate set comes from the MinHash/LSH path and this join runs
    only within banded candidate pairs."""
    grams = (
        _spread(df.select(F.col(id_col).alias("id"),
                          F.col(text_col).alias("t")))
        .select("id", tokens(F.col("t")).alias("toks"))
        .select(
            "id",
            F.explode(
                F.array_distinct(ngrams_from_tokens(F.col("toks"), n))
            ).alias("g"),
        )
    )
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_g"))
    shared = (
        grams.alias("x")
        .join(grams.alias("y"), (F.col("x.g") == F.col("y.g"))
              & (F.col("x.id") != F.col("y.id")))
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        shared.join(sizes.withColumnRenamed("id", "a")
                    .withColumnRenamed("n_g", "na"), "a")
        .select(
            "a",
            "b",
            F.expr("(1000000 * inter) DIV na")
            .cast("long")
            .alias("cont_ppm"),
        )
        .filter(F.col("cont_ppm") >= F.lit(int(threshold_ppm)))
    )


def gram_signature_rows(
    df: DataFrame,
    k: int,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, grams, sig) — THE MinHash signature chain: tokens → ≥n-token
    filter → distinct word n-grams → k-permutation signature. Shared by
    the batch sig table (``_gram_sig_table``) and the streaming detector
    (``streaming.stream.stream_dedup_near``) so both paths band
    identically — a change here changes both or neither. Each stage is
    projected to a materialized column before the next so the n-gram
    pipeline runs ONCE per row (Catalyst does not CSE across lambda
    bodies; inlining the chain into the k minhash lambdas evaluates it
    k times)."""
    return (
        df.select(
            F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
        )
        .filter(F.size("toks") >= n)
        .select(
            "id",
            F.array_distinct(
                ngrams_from_tokens(F.col("toks"), n)
            ).alias("grams"),
        )
        .select(
            "id", "grams", minhash_from_grams(F.col("grams"), k).alias("sig")
        )
    )


def _gram_sig_table(
    df: DataFrame, k: int, n: int, text_col: str, id_col: str
) -> DataFrame:
    """Persisted slim table (id, grams, sig).

    Persisted via ``cache.track`` (released by ``cache.release_all``
    after the consuming action, so long sessions don't accumulate dead
    cache), because LSH self-joins its derivation — without a
    materialization Spark recomputes text→grams→sig on BOTH sides of the
    band join and again in the verify join. The persisted footprint is the
    signature projection only (~100 bytes + grams per doc), not the corpus.
    """
    slim = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    )
    return cache.track(
        gram_signature_rows(slim, k, n, text_col="t", id_col="id")
    )


def band_key_structs(sig: Column, k: int, bands: int) -> Column:
    """Array of (band, key) structs from a minhash signature column — ONE
    key construction shared by the batch band join (``_banded``) and the
    streaming collision detector (``streaming.stream.stream_dedup_near``),
    so the streaming stage emits exactly the batch stage's candidates."""
    rows = k // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.array_join(F.slice(sig, b * rows + 1, rows), "|").alias(
                    "key"
                ),
            )
            for b in range(bands)
        ]
    )


def _banded(sig: DataFrame, k: int, bands: int) -> DataFrame:
    return sig.select(
        "id", F.explode(band_key_structs(F.col("sig"), k, bands)).alias("bk")
    ).select("id", "bk.band", "bk.key")


def _band_join(banded: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Equi-self-join on (band, key): candidate pairs = same-bucket rows.

    ``max_bucket`` is the production skew valve: a bucket with m members
    contributes m²/2 candidate pairs IN ONE TASK (join keys cannot be
    split by AQE), and at corpus scale hot boilerplate shingles create
    buckets with 10^5+ members — 10^10 pairs behind a single key. With
    the cap set, buckets larger than ``max_bucket`` are EXCLUDED from
    pair generation (the standard recall trade in large-scale LSH dedup
    pipelines): their members are overwhelmingly exact duplicates /
    boilerplate that the exact-dedup pass upstream already groups. The
    recall loss is PROBABILISTIC, not recoverable: a pair whose only
    collision was in the dropped bucket is lost unless one of the other
    ``bands-1`` independent band keys ALSO collides — likely for
    high-Jaccard pairs, increasingly unlikely near the threshold (that
    chance is the banding S-curve itself). Default None = exact
    semantics (every bucket joined), which is what every oracle
    checks."""
    if max_bucket is not None:
        sizes = banded.groupBy("band", "key").agg(
            F.count("*").alias("__m")
        )
        banded = (
            banded.join(sizes, ["band", "key"])
            .filter(F.col("__m") <= max_bucket)
            .drop("__m")
        )
    return (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash: signature of k hashes
    split into `bands` bands of k/bands rows; docs sharing any full band
    land in the same bucket. Join is per-bucket → sub-quadratic.
    ``max_bucket``: skew valve for hot buckets (see ``_band_join``)."""
    sig = _gram_sig_table(df, k, n, text_col, id_col)
    return _band_join(_banded(sig, k, bands), max_bucket)


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidates verified by true n-gram Jaccard (candidates only —
    the verify join touches a tiny fraction of the corpus).
    ``max_bucket``: skew valve for hot buckets (see ``_band_join``)."""
    tbl = _gram_sig_table(df, k, n, text_col, id_col)
    cands = _band_join(_banded(tbl, k, bands), max_bucket)
    grams = tbl.select("id", F.col("grams").alias("gs"))
    return (
        cands.join(grams.withColumnRenamed("id", "a")
                   .withColumnRenamed("gs", "ga"), "a")
        .join(grams.withColumnRenamed("id", "b")
              .withColumnRenamed("gs", "gb"), "b")
        .select(
            "a",
            "b",
            (
                F.size(F.array_intersect("ga", "gb"))
                / F.size(F.array_union("ga", "gb"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) with the token-hash array materialized as a column so
    the bit-vote stage shares one hash pass (see simhash_from_hashes —
    Arrow-vectorized votes; the interpreted 60-aggregate expression form
    is kept as simhash_from_hashes_expr and measured ~18× slower).

    Guarded ``_spread``: at corpus scale the scan has thousands of splits
    and the guard is a no-op (no exchange added); a small single-file
    local scan would otherwise run hashing + bit votes on ONE core
    (measured 4.7× wall regression at sf0.1, BENCH_r02), so the guard
    repartitions only when the scan under-partitions."""
    return (
        _spread(df.select(F.col(id_col), F.col(text_col).alias("t")))
        .select(F.col(id_col), token_hashes(F.col("t")).alias("hs"))
        .select(
            F.col(id_col),
            simhash_from_hashes(F.col("hs")).alias("simhash"),
        )
    )


def _popcount(c: Column) -> Column:
    return F.bit_count(c)


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ r, found by PIGEONHOLE
    multi-block bucketing: the 60-bit fingerprint is split into r+1
    equal-ish blocks; two fingerprints at hamming distance ≤ r differ in
    at most r blocks, so they agree EXACTLY on at least one block —
    joining on (block index, block value) has **guaranteed recall** (the
    output equals the all-pairs scan's, which is what the DuckDB oracle
    computes) while staying sub-quadratic. Multi-block also spreads
    near-dup-heavy corpora across r+1 independent keyspaces instead of
    piling them into one prefix bucket (the skew failure of top-k-bit
    bucketing).

    No persist on the fingerprint table: the block self-join's two sides
    are the identical subtree, so Spark deduplicates the shuffle via
    ReusedExchange — one fingerprint pass, no cache left behind in a
    long-lived session."""
    total_bits = 60
    if not 0 <= max_hamming < total_bits:
        # r >= 59 needs 60+ blocks over 60 bits: zero-width blocks whose
        # value is 0 for EVERY row — the bucket join silently degenerates
        # into one all-pairs key behind a single task. At that radius the
        # answer is the all-pairs scan anyway; refuse loudly.
        raise ValueError(
            f"max_hamming must be in [0, {total_bits}): {max_hamming}"
        )
    n_blocks = max_hamming + 1
    base = total_bits // n_blocks
    extra = total_bits % n_blocks  # first `extra` blocks get one more bit
    fp = simhash_fingerprints(df, text_col, id_col)
    # block k covers bits [off_k, off_k + width_k): value via shift+mask
    offs, widths = [], []
    off = 0
    for k in range(n_blocks):
        w = base + (1 if k < extra else 0)
        offs.append(off)
        widths.append(w)
        off += w
    blocks = fp.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("blk"),
                        F.shiftright("simhash", offs[k])
                        .bitwiseAND(F.lit((1 << widths[k]) - 1))
                        .alias("val"),
                    )
                    for k in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select(F.col(id_col), "simhash", "bk.blk", "bk.val")
    return (
        blocks.alias("x")
        .join(
            blocks.alias("y"),
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("a"),
            F.col(f"y.{id_col}").alias("b"),
            _popcount(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a", "b"])
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dups >= threshold via brute all-pairs join.

    TEST-ONLY RECALL BASELINE — O(n²) pairs; at 10^9 vectors this is
    ~10^18 comparisons. The production path is
    ``similarity.lsh_near_dup_pairs`` (hyperplane-LSH bucket join + exact
    cosine verify on candidates only), which is what the
    ``dedup_embedding_lsh`` gate query runs."""
    # the cast-to-double fold order is oracle-parity-critical and owned
    # by similarity._dot/_norm — one definition, no drift
    from ppocr_spark.functions.similarity import _dot, _norm

    dot = _dot(F.col("x.v"), F.col("y.v"))
    e = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    return (
        e.alias("x")
        .join(e.alias("y"), F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            (dot / (F.col("x.nrm") * F.col("y.nrm"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup CLUSTER FORMATION: connected components over an undirected
    pair list → (node, cluster_id) with cluster_id = min node id in the
    component. The step a real dedup pipeline runs after pair finding
    (pairs → clusters → keep one representative per cluster).

    Distributed min-label propagation with POINTER JUMPING: each round
    every node adopts the minimum label among itself and its neighbors,
    then re-labels through its label's label (label(x) ≤ x always, so the
    jump is monotone). Propagation alone needs O(diameter) rounds; the
    jump compresses chains so convergence is O(log d) — and near-dup
    clusters are near-cliques, so 2-3 rounds in practice.

    Per round exactly TWO equi-joins fire: (1) the neighbor-min aggregate
    — self-loops are unioned into the adjacency so "min over self and
    neighbors" is ONE shuffle with no follow-up left join, and the same
    aggregate carries the node's previous label out (max over the tagged
    self row), so the convergence check is a filter+count on the
    checkpointed result, not a third join — and (2) the pointer-jump
    self-join. No driver-side data beyond a changed-row count; lineage is
    cut every round with ``cache.checkpoint`` (the previous round's blocks
    are freed at once, the last round's by ``cache.release_all``) so the
    plan does not double per iteration. At 100 TB the edge list persists
    across rounds and every join is a plain equi-join — no broadcast of
    anything unbounded.
    """
    edges = cache.track(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .union(pairs.select(F.col(b_col).alias("u"),
                            F.col(a_col).alias("v")))
    )
    ckpt = labels = cache.checkpoint(
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iter):
        # adjacency ∪ tagged self-loops: min(vlab) = least(own label,
        # neighbor min) in one aggregate; the self row smuggles the old
        # label through for the convergence check (every labeled node has
        # exactly one self row, so max(when(self)) is just that label).
        adj = edges.withColumn("self", F.lit(False)).union(
            labels.select(
                F.col("node").alias("u"), F.col("node").alias("v")
            ).withColumn("self", F.lit(True))
        )
        stepped = (
            adj.join(
                labels.select(F.col("node").alias("v"),
                              F.col("label").alias("vlab")),
                "v",
            )
            .groupBy("u")
            .agg(
                F.min("vlab").alias("label"),
                F.max(F.when(F.col("self"), F.col("vlab"))).alias("old"),
            )
            .select(F.col("u").alias("node"), "label", "old")
        )
        ckpt = cache.checkpoint(
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("node").alias("jn"), F.col("label").alias("jlab")
                ),
                F.col("s.label") == F.col("jn"),
                "left",
            )
            .select(
                F.col("s.node").alias("node"),
                F.coalesce("jlab", F.col("s.label")).alias("label"),
                F.col("s.old").alias("old"),
            ),
            supersedes=ckpt,
        )
        changed = ckpt.filter(F.col("label") != F.col("old")).count()
        labels = ckpt.select("node", "label")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("cluster_id"))


def dedup_representatives(
    pairs: DataFrame,
    docs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document dedup verdict: (doc_id, cluster_id, keep). Documents in
    no near-dup pair are their own singleton cluster (keep=true); in each
    multi-document cluster exactly the min-id document survives — the
    deterministic keep-one-per-cluster policy of a training-data dedup
    stage."""
    cc = connected_components(pairs, a_col, b_col)
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


def bloom_decontaminate(
    corpus_df: DataFrame,
    probe_df: DataFrame,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
    k: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter decontamination — the trillion-token-scale flag
    variant of ``contamination_spans``: every benchmark (probe) k-gram
    sets ``k_hashes`` salted bit positions in an ``m_bits``-bit filter;
    a corpus k-gram "hits" iff ALL its positions are set. Returns one
    row per corpus document: (id, n_grams, n_hits, contaminated), where
    false positives are the filter's own (deterministic — the DuckDB
    oracle replays the identical positions, so even the false-positive
    set matches bit-for-bit).

    Why a second decontamination operator: ``contamination_spans``
    shuffles corpus shingles against the probe gram set and emits exact
    spans; this one trades span precision for a corpus side that NEVER
    shuffles — the set-bit table is bounded by min(m_bits, k_hashes ×
    |probe grams|) rows regardless of corpus size, broadcasts to every
    executor, and the corpus-side plan is scan → explode → broadcast
    hash join → per-doc aggregate with map-side combine. At 10^12 docs
    that is the difference between re-shuffling the corpus token stream
    and a map-only pass. (The position SET here is the bitmap in
    relational form — membership "all positions present" is exactly
    "all bits set"; a packed m_bits/8-byte bitmap is the same filter in
    a denser encoding.)

    Positions are portable md5 integers (``j || ':' || gram`` → first 15
    hex chars → bigint % m_bits) so both engines compute identical bit
    layouts. Tuning is the standard Bloom calculus: false-positive rate
    ≈ (1 − e^(−k_hashes·n/m_bits))^k_hashes for n distinct probe grams.
    """
    m, kh = int(m_bits), int(k_hashes)

    def _positions(g: Column) -> Column:
        return F.array(
            *[
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{j}:"), g)), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
                % F.lit(m)
                for j in range(kh)
            ]
        )

    def _grams(df: DataFrame) -> DataFrame:
        toks = _spread(
            df.select(
                F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t")
            )
        )
        return toks.select(
            "id", F.explode(ngrams_from_tokens(F.col("t"), k)).alias("g")
        )

    bits = (
        _grams(probe_df)
        .select(F.explode(_positions(F.col("g"))).alias("bit"))
        .distinct()
    )
    # a gram instance hits iff ALL kh of its positions are in the set:
    # keep each instance's gram ordinal from posexplode over the GRAM
    # array (array-side, no window), explode its positions, join the
    # broadcast set-bit table, and count matches per (id, ordinal)
    toks = _spread(
        corpus_df.select(
            F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t")
        )
    )
    cgi = toks.select(
        "id", F.posexplode(ngrams_from_tokens(F.col("t"), k)).alias("gi", "g")
    ).select("id", "gi", F.explode(_positions(F.col("g"))).alias("bit"))
    matched = (
        cgi.join(F.broadcast(bits), "bit")
        .groupBy("id", "gi")
        .agg(F.count("*").alias("nm"))
        .filter(F.col("nm") == kh)
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
    )
    per_doc = toks.select(
        "id", F.size(ngrams_from_tokens(F.col("t"), k)).cast("long").alias("n_grams")
    )
    return per_doc.join(matched, "id", "left").select(
        "id",
        "n_grams",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
    )


def dedup_keep_best(
    pairs: DataFrame,
    docs: DataFrame,
    score_col: str,
    a_col: str = "a",
    b_col: str = "b",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware keep policy: like ``dedup_representatives`` but each
    near-dup cluster keeps its HIGHEST-``score_col`` document (min id
    breaks ties) instead of the min id — the policy real pipelines run
    (RefinedWeb-style "keep the longest / best-quality copy"). Returns
    (doc_id, cluster_id, keep); singleton documents keep themselves.

    Scale shape: clusters from ``connected_components`` (its two bounded
    equi-joins per round); the argmax is ONE groupBy(cluster) over a
    slim (cluster, score, id) projection — max of a (score, −id) struct,
    so ties are deterministic with no per-cluster window or sort — and
    one equi-join back. ``score_col`` must be numeric and NON-NULL
    (struct comparison with null fields is undefined territory —
    coalesce a default before calling), and ``id_col`` must be a
    NUMERIC id: the tie-break negates it, and under non-ANSI implicit
    casting a string id would negate to NULL and silently mark every
    row keep=false — so non-numeric ids are rejected loudly here."""
    _INT_TYPES = ("tinyint", "smallint", "int", "bigint")
    id_type = dict(docs.dtypes).get(id_col)
    if id_type not in _INT_TYPES:
        raise ValueError(
            f"dedup_keep_best needs an integer {id_col!r} (got "
            f"{id_type!r}): the (score, -id) tie-break would cast a "
            "non-numeric id to NULL and silently keep nothing — map "
            "string ids to a numeric surrogate first (e.g. xxhash64)"
        )
    cc = connected_components(pairs, a_col, b_col)
    labeled = (
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(score_col).alias("__s")
        )
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "__s",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    best = labeled.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("__s").alias("s"), (-F.col("doc_id")).alias("n")
            )
        ).alias("__b")
    )
    return labeled.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        (
            (F.col("__s") == F.col("__b.s"))
            & (F.col("doc_id") == -F.col("__b.n"))
        ).alias("keep"),
    )


def cluster_size_histogram(
    labels: DataFrame, cluster_col: str = "cluster_id"
) -> DataFrame:
    """(cluster_size, n_clusters) histogram over dedup-cluster labels —
    the standard dedup-stage diagnostic (how much corpus mass sits in
    large near-dup clusters decides the dedup policy's bite).

    At scale: two slim groupBys — labels collapse to one int64 row per
    cluster, then one row per distinct size; both shuffles carry
    (int64, int64) pairs only, never document payloads."""
    sizes = labels.groupBy(cluster_col).agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def ssjoin_prefix_pairs(
    df: DataFrame,
    threshold_ppm: int = 500_000,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram-set Jaccard similarity join via prefix filtering
    (Chaudhuri et al. SSJoin 2006 / Bayardo AllPairs 2007 / Xiao PPJoin
    2011) — the third leg of the near-dup-pairs stool: the full gram
    equi-join (`ngram_jaccard_pairs`) is exact but quadratic in hot
    keys; MinHash/LSH is sub-quadratic but probabilistic; prefix
    filtering is BOTH exact and sub-quadratic. Set elements are the
    per-doc DISTINCT word n-grams (the same universe as the MinHash
    path; ``n=1`` degrades to token sets). Grams get a global total
    order by ascending document frequency (rarest first, gram string
    as tie-break); a doc with m grams only emits its first
    p = m − ceil(t·m) + 1  grams in that order as join keys.
    Prefix lemma: J(A,B) ≥ t ⟹ |A∩B| ≥ ceil(t·max(|A|,|B|)) ⟹ the
    (|A|−ceil(t·|A|)+1)-prefixes of A and B under any shared total
    order intersect — so the prefix-gram equi-join loses NO true pair
    (pinned against the brute-force scan by test), while the corpus's
    hottest grams (boilerplate — the quadratic blow-up in the full
    gram join) sort LAST and never enter a prefix at realistic
    thresholds.

    Candidates then verify exactly: join back each side's full gram
    set, count the intersection, and keep  (10⁶·inter) DIV union ≥
    threshold_ppm  (exact integer ppm — engine-identical, no float
    round() ties).

    Scale shape: document frequency is one (gram) groupBy of the
    per-doc-distinct gram table; the rank is a per-document window
    (partition key = doc_id — unique, unskewable, doc-length bounded);
    candidate generation shuffles only PREFIX grams whose buckets are
    small by construction (a gram with document frequency f costs
    f²/2 pairs ONLY while it is rare enough to be in prefixes);
    verification joins gram rows of candidate pairs only. Every
    shuffle key is a gram string or doc id — high cardinality,
    AQE-spread. At LOW thresholds the prefix keeps most grams (at
    t=0.12 a doc prunes ~12% of its set) and a gram with document
    frequency f still costs f²/2 pairs behind one join key — the
    ``max_df`` valve (the ``_band_join`` ``max_bucket`` analog)
    excludes grams with df > max_df from CANDIDATE GENERATION only:
    a pair survives iff the two PREFIXES share a gram with df ≤
    max_df — a cool shared gram outside the prefix windows does NOT
    save it (a documented recall trade; default None = exact, which
    is what the oracle checks). Returns (a, b, inter, union_n, jaccard_ppm), a < b.
    Reference behavior anchor: the same pair set the reference would
    get from an all-pairs gram-set scan (no reference analog — this
    is pipeline-extras surface)."""
    t = int(threshold_ppm)
    toks = cache.track_if_large(
        df,
        _spread(
            df.select(F.col(id_col).alias("id"),
                      tokens(F.col(text_col)).alias("__tk"))
        )
        .select("id", F.explode(
            F.array_distinct(ngrams_from_tokens(F.col("__tk"), n))
        ).alias("tok")),
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("dfreq"))
    w = Window.partitionBy("id")
    ranked = (
        toks.join(freq, "tok")
        .select(
            "id", "tok", "dfreq",
            F.row_number().over(w.orderBy("dfreq", "tok")).alias("rn"),
            F.count("*").over(w).alias("n"),
        )
    )
    # p = n - ceil(t*n/1e6) + 1; ceil via integer (t*n + 999999) DIV 1e6
    pref = ranked.filter(
        F.expr(f"rn <= n - ((({t}::BIGINT) * n + 999999) DIV 1000000) + 1")
    )
    if max_df is not None:
        pref = pref.filter(F.col("dfreq") <= int(max_df))
    cand = (
        pref.alias("x")
        .join(pref.alias("y"), (F.col("x.tok") == F.col("y.tok"))
              & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    sizes = toks.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        cand.join(toks.alias("ta"), F.col("a") == F.col("ta.id"))
        .join(toks.alias("tb"), (F.col("b") == F.col("tb.id"))
              & (F.col("ta.tok") == F.col("tb.tok")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("a"),
                                F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("id").alias("b"),
                           F.col("n").alias("nb")), "b")
        .select(
            "a", "b", "inter",
            (F.col("na") + F.col("nb") - F.col("inter")).alias("union_n"),
            F.expr("(1000000 * inter) DIV (na + nb - inter)")
            .cast("long").alias("jaccard_ppm"),
        )
        .filter(F.col("jaccard_ppm") >= F.lit(t))
    )


def incremental_minhash_matches(
    base_df: DataFrame,
    delta_df: DataFrame,
    threshold_ppm: int = 120_000,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup dedup — the production ingestion pattern: a
    new delta batch probes the existing corpus's MinHash band index
    instead of re-mining all pairs (an O(|corpus|²-shaped) daily job
    becomes O(|delta| · bucket density)). A delta document is flagged
    when it collides-and-verifies against (a) any BASE document —
    probe side joins the write-once band index table, base×base pairs
    are never regenerated — or (b) an EARLIER delta document
    (match_id < id within the batch: the keep-the-min-id rule applied
    incrementally, so a batch full of internal dups keeps exactly its
    min-id representative, consistent with the batch operator).

    Same signature chain as ``minhash_dedup_pairs``
    (``gram_signature_rows`` — a change affects both or neither), same
    exact gram-Jaccard verify on candidates only, same ``max_bucket``
    hot-bucket valve. Jaccard reports as exact integer ppm. Assumes
    disjoint id spaces between base and delta (ingestion contract; a
    re-ingested id is the EXACT-dedup pass's job upstream).

    At scale the base side is a PERSISTED index table (id, band, key)
    + (id, grams): both written once at corpus build, partitioned by
    (band, key-hash) so the delta probe shuffles only the delta;
    here both derive from the given DataFrames through the same
    cached slim projection. Returns
    (doc_id, match_id, match_src 'base'|'delta', jaccard_ppm)."""
    t = int(threshold_ppm)
    base_sig = _gram_sig_table(base_df, k, n, text_col, id_col)
    delta_sig = _gram_sig_table(delta_df, k, n, text_col, id_col)
    bb = _banded(base_sig, k, bands)
    db = _banded(delta_sig, k, bands)
    if max_bucket is not None:
        # bucket size counted over the UNION view (index + delta), the
        # same population the batch valve sees
        sizes = bb.unionByName(db).groupBy("band", "key").agg(
            F.count("*").alias("__m")
        )
        keep = sizes.filter(F.col("__m") <= max_bucket).select("band", "key")
        bb = bb.join(keep, ["band", "key"])
        db = db.join(keep, ["band", "key"])
    cross = (
        db.alias("x")
        .join(bb.alias("y"), (F.col("x.band") == F.col("y.band"))
              & (F.col("x.key") == F.col("y.key")))
        .select(F.col("x.id").alias("id"), F.col("y.id").alias("mid"),
                F.lit("base").alias("match_src"))
    )
    intra = (
        db.alias("x")
        .join(db.alias("y"), (F.col("x.band") == F.col("y.band"))
              & (F.col("x.key") == F.col("y.key"))
              & (F.col("y.id") < F.col("x.id")))
        .select(F.col("x.id").alias("id"), F.col("y.id").alias("mid"),
                F.lit("delta").alias("match_src"))
    )
    cands = cross.unionByName(intra).distinct()
    grams = base_sig.select("id", F.col("grams").alias("g")).unionByName(
        delta_sig.select("id", F.col("grams").alias("g"))
    )
    return (
        cands.join(grams.select(F.col("id"), F.col("g").alias("gi")), "id")
        .join(grams.select(F.col("id").alias("mid"),
                           F.col("g").alias("gm")), "mid")
        .select(
            F.col("id").alias(id_col),
            F.col("mid").alias("match_id"),
            "match_src",
            F.expr(
                "(1000000 * size(array_intersect(gi, gm)))"
                " DIV size(array_union(gi, gm))"
            ).cast("long").alias("jaccard_ppm"),
        )
        .filter(F.col("jaccard_ppm") >= F.lit(t))
    )


def dedup_source_report(
    labels: DataFrame,
    docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source dedup-policy report over cluster labels
    (``dedup_representatives`` output): how much of each source the
    keep-one policy deletes (``dup_ppm``) and how much of it sits in
    CROSS-SOURCE clusters (``xsource_ppm`` — the syndication/mirror
    signal: a source whose near-dup mass is mostly shared with other
    sources is a copy, not an origin). The per-source counterpart of
    the corpus-level ``cluster_size_histogram``, and the table a
    100 TB pipeline reads before setting per-source weights.

    Ratios are exact integer ppm. Scale: labels join the slim
    (id, source) projection on the unique doc key; the per-cluster
    source spread is one groupBy(cluster) over int/string pairs
    (cluster keys are near-dup-bounded — the skew valve upstream caps
    them); the report is one groupBy(source). Nothing document-sized
    shuffles. Returns (source, n_docs, n_dups, dup_ppm, n_xsource,
    xsource_ppm)."""
    slim = docs.select(F.col(id_col).alias("id"),
                       F.col(source_col).alias("source"))
    lab = labels.select(F.col(id_col).alias("id"), "cluster_id", "keep")
    j = cache.track_if_large(docs, lab.join(slim, "id"))
    spreads = j.groupBy("cluster_id").agg(
        F.countDistinct("source").alias("__ns"),
    )
    return (
        j.join(spreads, "cluster_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0))
            .cast("long").alias("n_dups"),
            # __ns >= 2 already implies the cluster has >= 2 rows
            F.sum(F.when(F.col("__ns") >= 2, 1).otherwise(0))
            .cast("long").alias("n_xsource"),
        )
        .select(
            "source",
            "n_docs",
            "n_dups",
            F.expr("(1000000 * n_dups) DIV n_docs").cast("long")
            .alias("dup_ppm"),
            "n_xsource",
            F.expr("(1000000 * n_xsource) DIV n_docs").cast("long")
            .alias("xsource_ppm"),
        )
    )
