"""Deduplication operators for training-data pipelines.

Ten families, all shuffle-disciplined for 100 TB:

- exact:        hash-groupBy on content digest — one shuffle on the digest.
- MinHash LSH:  shingle → k md5-min signatures → band buckets → bucket
                self-join. Only docs sharing a band collide; the candidate
                join is an equi-join on (band_id, band_signature), never a
                cross join.
- SimHash:      16-bit per-doc signature (hamming buckets for near-dup text).
- n-gram Jaccard / containment / cross-corpus: inverted-index pair
                counting — explode shingles, equi-join on shingle, count
                shared per pair. Scales with total postings
                (documents × shingles), not documents².
- segment dedup: keep the first occurrence of each fixed-width span (CCNet).
- SemDeDup:     k-means clusters, cosine pairs within clusters, CC keepers.
- boilerplate:  drop every span present in too many documents (C4).
- ExactSubstr:  excise duplicated k-token windows at any alignment.
- edit distance: blocked Levenshtein pairs.
- winnowing:    MOSS fingerprints and the pairs that share them.

Hashes are md5-based so the DuckDB oracle reproduces every result exactly
(no xxhash divergence between engines).

An operator whose result still reads a frame it persisted returns
``(frame, pins)``; the caller releases the pins (the rule is stated at
`plans/common.py::materialize_release`).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    minhash_signature,
    simhash16,
    tokenize,
    word_shingles,
)


def dedup_exact(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Exact dedup by content digest: one row per distinct content with the
    smallest id as keeper and the duplicate count.

    Single shuffle on the digest; the digest (not the full content) is the
    grouping key so wide text never travels twice.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(content_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _md5_60bit(col):
    """First 15 hex digits of md5 as a bigint — a 60-bit hash computable
    identically in DuckDB (``('0x' || substr(md5(x),1,15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


#: Modulus for the MinHash multiply-mod hash family: the largest prime below
#: 2^30. With base hash and coefficients all < P, every intermediate
#: (a·h + b) stays under 2^61 — exact in Java longs AND in DuckDB BIGINTs
#: (which raise on overflow rather than wrap), so the oracle mirrors the
#: arithmetic digit for digit.
MINHASH_PRIME = 1_073_741_789


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the k MinHash components, derived
    from md5 of the component index — seedless, well-distributed (simple
    multiplier ladders correlate across components), and embedded verbatim
    as integer literals in the DuckDB oracle SQL."""
    import hashlib

    out = []
    for i in range(k):
        a = int(hashlib.md5(f"mh-a-{i}".encode()).hexdigest()[:15], 16) % MINHASH_PRIME or 1
        b = int(hashlib.md5(f"mh-b-{i}".encode()).hexdigest()[:15], 16) % MINHASH_PRIME
        out.append((a, b))
    return out


def _spread_narrow(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition narrow per-document rows across the cluster before a
    CPU-heavy per-document expression chain — but ONLY when the scan
    arrives narrower than the session's parallelism (r13 optimization,
    guide §2.5 "input skew ... repartition immediately after the read").
    A small corpus lands as 1-3 parquet splits, serializing per-gram md5
    work onto as many cores (q122 measured at 3 tasks total); a 100 TB
    scan has thousands of splits and must NOT pay a full-text shuffle it
    doesn't need — the condition makes the spread scale-adaptive instead
    of a constant local-mode tax. The partition probe compiles the plan
    (driver-side file listing) without running a job."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key_col))


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # Repartition the NARROW doc rows before the explode fans them out:
    # a single small parquet file arrives as one partition, and shingle
    # construction + hashing is the CPU-heavy part — spread it first.
    # (Pre-explode the rows are small, so this shuffle is the cheap place.)
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    # Materialize the token array in its OWN projection: word_shingles
    # references its tokens argument once per element_at inside a lambda,
    # and lambda bodies see the raw expression tree — inlining tokenize()
    # here would re-split the full text per shingle element (O(doc²) string
    # work; measured 5x on the bench corpus). As a multi-referenced
    # non-cheap alias, Catalyst's CollapseProject keeps it materialized.
    # NO size()>0 filter here: every consumer explodes the array (explode
    # drops empty arrays for free), and a filter would be pushed below these
    # projections with the aliases substituted back in — re-inlining the
    # whole tokenize+shingle tree into the pre-shuffle Filter, twice.
    return spread.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
    ).select("doc_id", word_shingles(F.col("toks"), n).alias("shingles"))


def minhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The MinHash LSH band INDEX for a corpus: (id, band_id, band_key),
    one row per document per band. This is the artifact a production
    dedup pipeline STORES (parquet, partitioned/bucketed by band_key):
    history is indexed once, and each new crawl increment only computes
    its own signatures and equi-joins against the stored index —
    incremental cost proportional to the new batch, never a re-scan of
    history. `minhash_lsh_pairs` derives in-corpus pairs from this same
    index; `minhash_index_join` derives cross-corpus (new vs history)
    candidates.

    Fully narrow until the caller's bucket join: shingles → one md5 base
    per shingle → k multiply-mod components (array folds) → band keys.
    Deterministic, so a SQL oracle reproduces every key.
    """
    assert k % bands == 0, "k must divide into equal bands"
    rows_per_band = k // bands

    def _mh_component(a: int, b: int):
        # 1-parameter lambda — see minhash_lsh_pairs for the transform()
        # two-parameter trap.
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)

    sh = _doc_shingles(df, id_col, text_col, shingle_n)
    based = sh.select(
        "doc_id",
        F.transform(
            "shingles", lambda s: _md5_60bit(s) % F.lit(MINHASH_PRIME)
        ).alias("hs"),
    )
    sig = based.select(
        "doc_id",
        *[
            F.array_min(F.transform("hs", _mh_component(a, b))).alias(f"mh{i}")
            for i, (a, b) in enumerate(minhash_coeffs(k))
        ],
    )
    stack_args = []
    for b in range(bands):
        cols = " , '|', ".join(
            f"cast(mh{i} as string)" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        stack_args.append(f"{b}, concat({cols})")
    return (
        sig.selectExpr(
            "doc_id", f"stack({bands}, {', '.join(stack_args)}) AS (band_id, band_sig)"
        )
        .filter(F.col("band_sig").isNotNull())
        .select(
            F.col("doc_id").alias(id_col),
            "band_id",
            _md5_60bit(F.col("band_sig")).alias("band_key"),
        )
    )


def minhash_index_join(
    new_index: DataFrame,
    hist_index: DataFrame,
    new_id: str = "new_id",
    hist_id: str = "hist_id",
) -> DataFrame:
    """Cross-corpus candidate pairs from two `minhash_band_index` frames:
    a new batch's index equi-joined against the STORED history index on
    (band_id, band_key). Only cross pairs are generated — history never
    pays its own quadratic fan-out (the q78 decontamination discipline),
    and the join cost tracks the NEW batch's bucket occupancy, which is
    the whole incremental-ingest story at 100 TB."""
    n = new_index.select(
        F.col(new_index.columns[0]).alias(new_id), "band_id", "band_key"
    )
    h = hist_index.select(
        F.col(hist_index.columns[0]).alias(hist_id), "band_id", "band_key"
    )
    return n.join(h, ["band_id", "band_key"]).select(new_id, hist_id).distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: (a_id, b_id) sharing ≥1 signature band.

    k signature components in ``bands`` bands of k/bands rows each; a band
    signature is the concat of its components. Docs sharing any band bucket
    become a candidate pair. Deterministic (md5 minima), so oracle-checkable.

    Scale: the only shuffles are the bucket groupBy/join; bucket skew (a
    degenerate shingle shared by millions of docs) is handled by AQE skew
    join; per-bucket pair explosion is the classic LSH tradeoff — tune
    (k, bands) for the target similarity threshold.
    """
    # Signature/banding discipline (array folds, one md5 base per shingle,
    # multiply-mod components, primitive-typed band keys, null-band drop)
    # lives in minhash_band_index — the same index a production pipeline
    # stores for incremental ingest.
    banded = minhash_band_index(df, id_col, text_col, k, bands, shingle_n).select(
        F.col(id_col).alias("doc_id"), "band_id", "band_key"
    )
    return minhash_index_pairs(banded, max_bucket=max_bucket)


def minhash_index_pairs(
    index: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """In-corpus candidate pairs from a `minhash_band_index` frame (first
    column = doc id). Bucket inverted index + double-explode pair
    generation (a flatMap), NOT a self-join: a self-join's build side
    would re-evaluate the whole scan→shingle→signature pipeline a second
    time (no exchange reuse across a broadcast boundary). One shuffle on
    the bucket key, the expensive subtree exists once. A bucket of d docs
    emits C(d,2) pairs — the LSH design keeps d small; a degenerate hot
    bucket (all-identical docs at corpus scale) is the classic blowup, so
    cap it with ``max_bucket`` if the corpus has pathological
    duplication."""
    banded = index.select(
        F.col(index.columns[0]).alias("doc_id"), "band_id", "band_key"
    )
    grouped = banded.groupBy("band_id", "band_key").agg(
        F.collect_list("doc_id").alias("ds")
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("ds") <= max_bucket)
    # Spread the bucket rows BEFORE the quadratic double-explode: AQE
    # coalesces the bucket aggregation's read by its (small) input size,
    # which would serialize the C(d,2) pair fan-out of every bucket onto
    # a couple of tasks. A round-robin repartition of the compact bucket
    # rows is cheap and never coalesced.
    grouped = grouped.repartition(
        index.sparkSession.sparkContext.defaultParallelism
    )
    pairs = (
        grouped.select(F.explode("ds").alias("a_id"), F.col("ds"))
        .select("a_id", F.explode("ds").alias("b_id"))
        .filter(F.col("a_id") < F.col("b_id"))
        .distinct()
    )
    return pairs


def _ngram_pair_counts(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, max_df: int | None
) -> tuple[DataFrame, list]:
    """The inverted-index body the n-gram pair operators share. Returns
    ``(counts, pins)``: ``counts`` is one row per document pair sharing a
    shingle, ``(a_id, b_id, n_inter, n_a, n_b, jaccard)`` with a_id <
    b_id, shingle-set sizes and Jaccard over the ``max_df``-filtered
    shingle space; ``pins`` are the shingle cache and the inverted index
    it still reads.

    ``max_df`` drops shingles appearing in more than that many documents
    (stop-shingles). This is THE scale knob: a shingle shared by d docs
    contributes d² join rows, so one degenerate common phrase can dominate
    the whole job; ultra-common shingles carry no near-dup signal anyway.
    """
    # Persist the computed shingle arrays BEFORE exploding: Generate
    # re-evaluates a computed child expression per OUTPUT row (measured 5x
    # the construction cost), and an exchange barrier doesn't help because
    # the optimizer pulls the projection back above it. Exploding from the
    # cached arrays is free; this cache is the operator's tokenized-corpus
    # index, the same materialization any inverted-index build pays.
    sh = _doc_shingles(df, id_col, text_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Postings carry a NUMERIC shingle hash — grouping/joining runs on a
    # bigint instead of a string (collation-free compares, tighter shuffle
    # rows). A 60-bit collision would merge two shingles; at dedup scales the
    # probability is negligible and the DuckDB oracle hashes identically.
    postings = sh.select(
        "doc_id", F.explode("shingles").alias("shingle")
    ).select("doc_id", _md5_60bit(F.col("shingle")).alias("sh_h"))
    # ONE shuffle (by shingle) builds the inverted index; the df cap is a
    # size() filter on the posting list — no separate doc_freq pass, and the
    # expensive scan→shingle→hash subtree exists exactly once in the plan
    # (both consumers below read this aggregation via exchange reuse).
    grouped = postings.groupBy("sh_h").agg(F.collect_list("doc_id").alias("ds"))
    if max_df is not None:
        grouped = grouped.filter(F.size("ds") <= max_df)
    # The inverted index feeds BOTH the pair stream and the size recount —
    # a diamond the optimizer will not deduplicate (verified: 3 full scans
    # in the executed plan without this). Persisting the index is the
    # algorithm's own materialization step, same as any IVF/LSH index
    # build; MEMORY_AND_DISK spills gracefully at corpus scale.
    grouped = grouped.persist(StorageLevel.MEMORY_AND_DISK)
    # Pair generation is a double explode of each posting list — a flatMap,
    # not a self-join: a shingle held by d docs emits exactly C(d,2) ordered
    # pairs with zero extra shuffle. With the df cap, d ≤ max_df bounds the
    # fan-out per shingle regardless of corpus size.
    pairs = (
        grouped.select(F.explode("ds").alias("a_id"), F.col("ds"))
        .select("a_id", F.explode("ds").alias("b_id"))
        .filter(F.col("a_id") < F.col("b_id"))
    )
    inter = pairs.groupBy("a_id", "b_id").agg(F.count(F.lit(1)).alias("n_inter"))
    # Sizes over the df-FILTERED shingle space (Jaccard is exact on the
    # filtered universe): re-derived from the same grouped index.
    sizes = (
        grouped.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    # sizes scales with |docs| — NOT broadcastable at 100 TB; AQE picks the
    # strategy (broadcast at small SF, shuffle join at scale).
    counts = (
        inter.join(sizes.alias("sa"), F.col("a_id") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("b_id") == F.col("sb.doc_id"))
        .select(
            "a_id",
            "b_id",
            "n_inter",
            F.col("sa.n_sh").alias("n_a"),
            F.col("sb.n_sh").alias("n_b"),
        )
    )
    jaccard = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return counts.withColumn("jaccard", jaccard), [sh, grouped]


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_df: int | None = None,
) -> tuple[DataFrame, list]:
    """Exact n-gram Jaccard near-dup pairs via an inverted-index join.

    jaccard(A,B) = |A∩B| / (|A|+|B|-|A∩B|); the intersection count comes from
    an equi-join on shingle (postings join), never a doc×doc cross join.
    Returns ``(pairs, pins)``: ``pairs`` is (a_id, b_id, jaccard double)
    for pairs ≥ threshold, and it reads the persisted ``pins`` (shingle
    cache, inverted index), which the caller releases. ``max_df`` is the
    stop-shingle cap of :func:`_ngram_pair_counts`; Jaccard is exact over
    the df-filtered shingle space.
    """
    counts, pins = _ngram_pair_counts(df, id_col, text_col, shingle_n, max_df)
    pairs = counts.select("a_id", "b_id", "jaccard").filter(
        F.col("jaccard") >= threshold
    )
    return pairs, pins


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    shingle_n: int = 3,
    max_df: int | None = None,
) -> tuple[DataFrame, list]:
    """Asymmetric n-gram containment pairs: c(A→B) = |A∩B| / |A| — the
    quote/inclusion detector Jaccard misses. A short document fully
    quoted inside a long one has tiny Jaccard (the union is dominated by
    the long side) but containment ≈ 1 in one direction; broadened-page
    and stitched-page artifacts look exactly like this. Output:
    (a_id, b_id, c_a_in_b, c_b_in_a, jaccard) for pairs where
    max(c_a_in_b, c_b_in_a) ≥ threshold.

    Same inverted-index body and ``max_df`` stop-shingle cap as
    :func:`ngram_jaccard_pairs` (only the final projection differs), so
    the 10×-audited scale properties carry over unchanged, and the same
    ``(pairs, pins)`` return.
    """
    counts, pins = _ngram_pair_counts(df, id_col, text_col, shingle_n, max_df)
    ni = F.col("n_inter").cast("double")
    pairs = counts.select(
        "a_id",
        "b_id",
        (ni / F.col("n_a").cast("double")).alias("c_a_in_b"),
        (ni / F.col("n_b").cast("double")).alias("c_b_in_a"),
        "jaccard",
    ).filter(F.greatest(F.col("c_a_in_b"), F.col("c_b_in_a")) >= threshold)
    return pairs, pins


def simhash_docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc 16-bit SimHash signature (hamming-close docs are near-dups).

    Fully NARROW per-doc array fold (functions/text.py::simhash16) over a
    materialized token array — no explode, no shuffle. The explode+groupBy
    alternative pays generator re-evaluation of the token expression per
    output row plus a doc_id shuffle; measured 7x slower at 50k docs.
    """
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    return spread.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
    ).select("doc_id", simhash16(F.col("toks")).alias("simhash"))


def ngram_jaccard_cross(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_df: int | None = None,
) -> tuple[DataFrame, list]:
    """Cross-corpus contamination detection: n-gram Jaccard pairs where one
    side is in ``df_a`` (e.g. the training corpus) and the other in ``df_b``
    (e.g. an eval/test set) — the decontamination sweep every training-data
    pipeline runs before a model sees the eval set.

    Same inverted-index shape as :func:`ngram_jaccard_pairs`, but the pair
    stream is the a-postings ⋈ b-postings equi-join on the shingle hash (no
    within-corpus pairs are ever generated, so a huge train side never pays
    its own quadratic fan-out). ``max_df`` caps the COMBINED document
    frequency, bounding the join fan-out per shingle at any corpus size.
    Returns ``(pairs, pins)``: ``pairs`` is (a_id, b_id, jaccard), and it
    reads the persisted ``pins`` (both shingle caches, the df filter, both
    postings), which the caller releases. Caller guarantees ids are
    disjoint across frames (tag upstream if not).
    """
    pins: list = []

    def posts(df: DataFrame, out_id: str) -> DataFrame:
        sh = _doc_shingles(df, id_col, text_col, shingle_n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        pins.append(sh)
        return sh.select(
            F.col("doc_id").alias(out_id), F.explode("shingles").alias("shingle")
        ).select(out_id, _md5_60bit(F.col("shingle")).alias("sh_h"))

    pa, pb = posts(df_a, "a_id"), posts(df_b, "b_id")
    if max_df is not None:
        freq = (
            pa.select("sh_h")
            .union(pb.select("sh_h"))
            .groupBy("sh_h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("sh_h")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        pins.append(freq)
        pa = pa.join(freq, "sh_h", "left_semi")
        pb = pb.join(freq, "sh_h", "left_semi")
    pa = pa.persist(StorageLevel.MEMORY_AND_DISK)
    pb = pb.persist(StorageLevel.MEMORY_AND_DISK)
    pins += [pa, pb]
    inter = (
        pa.join(pb, "sh_h")
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes_a = pa.groupBy("a_id").agg(F.count(F.lit(1)).alias("na"))
    sizes_b = pb.groupBy("b_id").agg(F.count(F.lit(1)).alias("nb"))
    pairs = (
        inter.join(sizes_a, "a_id")
        .join(sizes_b, "b_id")
        .select(
            "a_id",
            "b_id",
            (
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs, pins


def segment_dedup(
    df: DataFrame, id_col: str, text_col: str, seg_tokens: int = 10
) -> DataFrame:
    """Sub-document (CCNet paragraph-style) dedup: segment each document
    into fixed ``seg_tokens``-token spans, hash each span, keep only the
    corpus-wide FIRST occurrence of every distinct span (ordered by
    document id, then span position), and rebuild documents from their
    surviving spans. Mirrors the paragraph-hash dedup of CCNet
    (Wenzek et al. 2020) with a fixed-width span standing in for the
    newline-delimited paragraph.

    Returns one row per document:
    ``(id, n_segs, n_kept, kept_frac, kept_text)``.

    Plan shape: narrow segmentation (sequence + slice), one key-bounded
    shuffle on the span hash for the keep-first window (shuffle rows are
    ≤ seg_tokens wide), one shuffle back on the document id; re-assembly
    is per-document ``array_sort(collect_list(struct))``, never a global
    sort.
    """
    from pyspark.sql import Window

    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    starts = F.sequence(F.lit(1), F.size("w"), F.lit(seg_tokens))
    segs = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, seg_tokens))
    )
    ex = df.select(F.col(id_col).alias("_id"), w.alias("w")).select(
        "_id", F.posexplode(segs).alias("seg_idx", "seg")
    )
    win = Window.partitionBy(F.md5("seg")).orderBy("_id", "seg_idx")
    ranked = ex.withColumn("rn", F.row_number().over(win))
    kept_struct = F.when(F.col("rn") == 1, F.struct(F.col("seg_idx"), F.col("seg")))
    return (
        ranked.groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segs"),
            F.sum((F.col("rn") == 1).cast("int")).cast("bigint").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
                ),
            ).alias("kept_text"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_segs",
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_segs"), 6).alias("kept_frac"),
            "kept_text",
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    tau: float,
    iters: int = 2,
    seeding: str = "lowest_id",
    stats: dict | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with k-means (`operators/similarity.py::kmeans_fit`,
    deterministic seeding, ``iters`` Lloyd rounds), generate cosine pairs
    only WITHIN clusters, collapse pairs ≥ ``tau`` to connected
    components, and report one keeper (min id) per duplicate group.

    ``k`` is THE scale knob: per-cluster pair cost is (n/k)² per cluster,
    so k ∝ n (or k = √n for a balanced n^1.5 total) keeps the pair join
    bounded as the corpus grows — never all-pairs. The gated registry
    form (q101's neighbor q100) pins k so the oracle can unroll; scale
    callers pass k sized to their corpus AND ``seeding="kmeans_par"`` —
    at k ∝ n the default lowest-id seeds are fine for dedup (Lloyd only
    partitions the pair search), but farthest-first would be k-1
    sequential jobs; k-means|| keeps seeding a fixed number of
    distributed rounds (``stats`` passes through to `kmeans_fit`).

    Returns (id_col, cluster_id, keeper_id, is_keeper); NULL-embedding
    rows are excluded (no geometry — kmeans_fit posture).
    """
    from .components import connected_components
    from .similarity import kmeans_fit

    _base: list = []
    cents = kmeans_fit(
        df, id_col, vec_col, k=k, max_iter=iters, tol=0.0,
        seeding=seeding, stats=stats, base_out=_base,
    )
    # Reuse the trainer's persisted (vid, vd) corpus for the final
    # assignment (r14, guide §2.2): rebuilding it from ``df`` paid a
    # second full scan + double-cast + repartition exchange of the
    # vector corpus per call. Ownership transferred via base_out; the
    # pin is released with ``assigned`` below.
    v = _base[0].select(F.col("vid").alias("_sid"), "vd")
    nrm = F.sqrt(
        F.aggregate(
            F.transform("vd", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    from .similarity import LITERAL_ARGMIN_MAX_DOUBLES, _literal_argmin
    from ..bounded import bounded_collect

    cent_rows = bounded_collect(
        cents.select("cluster_id", "centroid"),
        k,
        "semantic_dedup centroid fetch",  # k rows, driver-sized by the k knob
    )
    cent_map = {int(r.cluster_id): list(r.centroid) for r in cent_rows}
    if cent_map and k * max(len(c) for c in cent_map.values()) <= LITERAL_ARGMIN_MAX_DOUBLES:
        # Literal-codebook argmin (r13 optimization — kmeans_fit
        # discipline): assignment becomes a pure map over v, removing the
        # broadcast build, the n-row argmin shuffle AND the n-row
        # join-back per run. Large-k (k ∝ n) callers fall through to the
        # broadcast join below, whose argmin is map-side combinable.
        assigned = v.select(
            "_sid",
            _literal_argmin(cent_map, F.col("vd"))["cluster_id"]
            .cast("int")
            .alias("cluster_id"),
            "vd",
            nrm.alias("nrm"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        dist = F.aggregate(
            F.zip_with("vd", "centroid", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        assigned = (
            # Slim argmin (see kmeans_fit): the vector joins back after the
            # min collapses the n·k fan-out instead of riding inside every
            # candidate struct.
            v.join(F.broadcast(cents.select("cluster_id", "centroid")))
            .select("_sid", F.struct(dist.alias("dist"), "cluster_id").alias("cand"))
            .groupBy("_sid")
            .agg(F.min("cand").alias("best"))
            .select("_sid", F.col("best.cluster_id").alias("cluster_id"))
            .join(v, "_sid")
            .select("_sid", "cluster_id", "vd", nrm.alias("nrm"))
            # Feeds both pair sides AND the final projection — compute once.
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    # The pair join's INPUT shuffle is cluster-table-sized but its OUTPUT
    # explodes quadratically per cluster — exactly the shape AQE's
    # coalescing mis-sizes (it sees ~100 MB of shuffle input and folds
    # the join to 1-2 partitions, serializing the quadratic work onto
    # one task; measured as a 25+ min 1.4-core stall at the 10x audit
    # scale vs minutes when spread). Explicit repartition(N, cl) on both
    # sides pins the partitioning — AQE never coalesces user-specified
    # repartitions — so per-cluster pair work spreads across the
    # executor fleet.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    a = assigned.select(
        F.col("_sid").alias("a_id"),
        F.col("cluster_id").alias("cl"),
        F.col("vd").alias("avd"),
        F.col("nrm").alias("anrm"),
    ).repartition(n_part, F.col("cl"))
    b = assigned.select(
        F.col("_sid").alias("b_id"),
        F.col("cluster_id").alias("cl"),
        F.col("vd").alias("bvd"),
        F.col("nrm").alias("bnrm"),
    ).repartition(n_part, F.col("cl"))
    dot = F.aggregate(
        F.zip_with("avd", "bvd", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, "cl")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(dot / (F.col("anrm") * F.col("bnrm")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= tau)
    )
    comp = connected_components(pairs.select("a_id", "b_id"), "a_id", "b_id")
    out = assigned.join(comp, assigned["_sid"] == comp["node"], "left").select(
        F.col("_sid").alias(id_col),
        "cluster_id",
        F.coalesce(F.col("component"), F.col("_sid")).alias("keeper_id"),
        (F.col("component").isNull() | (F.col("component") == F.col("_sid"))).alias(
            "is_keeper"
        ),
    )
    # CC already materialized comp (lineage-cut), so the final join is
    # the cache's LAST consumer — materialize the narrow (4-column)
    # result and release the wide vector cache immediately instead of
    # leaking it for the life of the SparkSession (the operator is
    # already eager via the training loop + CC rounds; localCheckpoint
    # blocks are freed by the ContextCleaner once the result is
    # unreferenced, unlike catalog-cache entries).
    out = out.localCheckpoint(eager=True)
    assigned.unpersist(blocking=False)
    _base[0].unpersist(blocking=False)
    return out


def boilerplate_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 10,
    max_doc_df: int = 2,
) -> tuple[DataFrame, list]:
    """C4-style boilerplate removal by DOCUMENT frequency: segment each
    document into fixed ``seg_tokens``-token spans, count how many
    DISTINCT documents each span occurs in, and drop EVERY occurrence of
    any span present in more than ``max_doc_df`` documents (C4 dropped
    any line occurring in >= 3 pages of the crawl; ref behavior class:
    corpus cleanup before training). The complement of
    :func:`segment_dedup`: that keeps the FIRST occurrence of a repeated
    span; this drops all of them, because a span repeated across many
    documents is boilerplate, not content.

    Returns ``(docs, pins)``: ``docs`` has one row per document,
    ``(id, n_segs, n_kept, kept_frac, kept_text)``, and it reads the
    persisted span postings in ``pins``, which the caller releases.

    Plan shape: narrow segmentation, one key-bounded shuffle for the
    per-span distinct-document count (span hash is the key, rows are
    hash-wide), one hash-keyed left join back onto the postings, one
    shuffle to the document id for re-assembly. Nothing is quadratic:
    cost tracks total spans, the df table tracks DISTINCT spans.
    """
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    starts = F.sequence(F.lit(1), F.size("w"), F.lit(seg_tokens))
    segs = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, seg_tokens))
    )
    ex = (
        df.select(F.col(id_col).alias("_id"), w.alias("w"))
        .select("_id", F.posexplode(segs).alias("seg_idx", "seg"))
        .withColumn("seg_h", F.md5("seg"))
        # Feeds BOTH the df-count build and the probe side — pin it so the
        # scan+segment subtree runs once.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    common = (
        ex.groupBy("seg_h")
        .agg(F.count_distinct(F.col("_id")).alias("doc_df"))
        .filter(F.col("doc_df") > max_doc_df)
        .select("seg_h", F.lit(1).alias("_drop"))
    )
    marked = ex.join(common, "seg_h", "left")
    kept_struct = F.when(
        F.col("_drop").isNull(), F.struct(F.col("seg_idx"), F.col("seg"))
    )
    docs = (
        marked.groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segs"),
            F.sum(F.col("_drop").isNull().cast("int")).cast("bigint").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
                ),
            ).alias("kept_text"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_segs",
            "n_kept",
            F.round(
                F.col("n_kept").cast("double") / F.col("n_segs").cast("double"), 6
            ).alias("kept_frac"),
            "kept_text",
        )
    )
    return docs, [ex]


def exactsubstr_excise(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    min_docs: int = 2,
) -> tuple[DataFrame, list]:
    """ExactSubstr span EXCISION (Lee et al. 2022, arXiv:2107.06499,
    "Deduplicating Training Data Makes Language Models Better", §4.1):
    remove from every document every token covered by a ``k``-token
    span that appears verbatim in at least ``min_docs`` distinct
    documents. The published suffix-array formulation finds duplicated
    spans of ANY length ≥ k; this fixed-``k`` rolling-window
    formulation is exactly equivalent for coverage — a duplicated span
    of length L ≥ k is the union of its L−k+1 duplicated k-windows, so
    the excised token set is identical — and, unlike a suffix array,
    it distributes: the only corpus-sized shuffle is the window-hash
    df-count (the q121 `boilerplate_filter` shape).

    Completes the dedup family's published-excision matrix:
    `boilerplate_filter` excises fixed segments by document frequency
    (C4), `winnow_match_pairs` DETECTS shared spans without excising
    (MOSS), `segment_dedup` keeps first occurrences of fixed segments;
    this excises at ANY alignment, from every occurrence. Spans
    repeated only WITHIN one document stay (min_docs counts DISTINCT
    documents) — self-repetition is structure, not crawl duplication.

    Returns ``(docs, pins)``: ``docs`` has one row per document,
    ``(id, n_tokens, n_dup_tokens, kept_frac, kept_text)``, and it reads
    the persisted window postings in ``pins``, which the caller releases.

    Plan shape: repartition-first (the in-array window expansion is
    CPU-bound — the q245 single-file-corpus lesson), per-doc window
    hashes built IN-ARRAY (O(n·k) char work, token-mass-linear; no
    (doc, window) row carries the token array), one hash-keyed
    df-count shuffle + left-semi probe (both off ONE persisted
    postings frame), then per-doc reassembly as TWO O(n + |intervals|)
    array folds: sorted duplicated starts → merged disjoint intervals
    → kept tokens sliced between them. Nothing is per-token×per-span
    quadratic, even for a fully-duplicated document (its merged
    interval list has length 1).

    The tokenize / window-hash / reassembly pieces are shared with the
    incremental streaming twin (`streaming/corpus.py::
    exactsubstr_ingest_sink` + `exactsubstr_from_spans`), so the
    stream≡batch equivalence is structural.
    """
    base = _es_base(df, id_col, text_col)
    postings = _es_postings(base, k).persist(StorageLevel.MEMORY_AND_DISK)
    # ^ feeds BOTH the df-count build and the probe side (q121 rule).
    dup_h = (
        postings.groupBy("gh")
        .agg(F.count_distinct("_id").alias("doc_df"))
        .filter(F.col("doc_df") >= min_docs)
        .select("gh")
    )
    starts = postings.join(dup_h, "gh", "left_semi").select("_id", "i")
    return _es_reassemble(base, starts, id_col, k), [postings]


def _es_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """ExactSubstr tokenize step: (_id, w, n) with the corpus
    repartitioned FIRST — the in-array window expansion is CPU-bound
    and must not inherit a 1-file parquet split (the q245 lesson)."""
    spark = df.sparkSession
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return (
        df.repartition(spark.sparkContext.defaultParallelism)
        .select(F.col(id_col).alias("_id"), w.alias("w"))
        .withColumn("n", F.size("w"))
    )


def _es_postings(base: DataFrame, k: int) -> DataFrame:
    """ExactSubstr window-hash postings (_id, i, gh), i 1-based: one md5
    per k-token window, built in-array so no (doc, window) row ever
    carries the token array. Docs shorter than k produce none (guarded —
    sequence(1, nw) with nw <= 0 would COUNT DOWN)."""
    nw = F.col("n") - F.lit(k - 1)
    ghs = F.transform(
        F.sequence(F.lit(1), nw),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, k))),
    )
    return (
        base.filter(nw >= 1)
        .select("_id", F.posexplode(ghs).alias("j", "gh"))
        .select("_id", (F.col("j") + 1).alias("i"), "gh")
    )


def exactsubstr_from_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    spans: DataFrame,
) -> DataFrame:
    """Materialize ExactSubstr excision output from an EXTERNAL
    duplicated-window log: ``spans`` holds (id_col, i) rows — 1-based
    starts of duplicated k-token windows, as accumulated by the
    incremental `streaming/corpus.py::exactsubstr_ingest_sink`. Applies
    the same tokenize + interval-merge reassembly as
    `exactsubstr_excise`, so feeding it the batch operator's own
    duplicated-window set reproduces that output row-for-row (the
    stream≡batch equivalence contract, tests/test_streaming.py)."""
    starts = spans.select(
        F.col(id_col).alias("_id"), F.col("i").cast("int").alias("i")
    ).distinct()
    return _es_reassemble(_es_base(df, id_col, text_col), starts, id_col, k)


def _es_reassemble(
    base: DataFrame, starts: DataFrame, id_col: str, k: int
) -> DataFrame:
    """ExactSubstr reassembly: (_id, i) duplicated-window starts → one
    row per document ``(id, n_tokens, n_dup_tokens, kept_frac,
    kept_text)`` via two O(n + |intervals|) array folds (merge sorted
    starts into disjoint covered intervals; slice kept tokens from the
    gaps)."""
    starts = starts.groupBy("_id").agg(
        F.array_sort(F.collect_list("i")).alias("ss")
    )
    # Merge sorted starts into disjoint covered intervals [s, s+k-1]
    # (adjacent intervals merge too — same token union, fewer folds).
    iv0 = F.array().cast("array<struct<s:int,e:int>>")
    last = lambda acc: F.element_at(acc, -1)  # noqa: E731
    ivs = F.aggregate(
        F.coalesce(F.col("ss"), F.array().cast("array<int>")),
        iv0,
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= last(acc)["e"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last(acc)["s"].alias("s"),
                        F.greatest(last(acc)["e"], s + F.lit(k - 1)).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc, F.array(F.struct(s.alias("s"), (s + F.lit(k - 1)).alias("e")))
            )
        ),
    )
    # Kept tokens = the gaps between covered intervals (plus the tail).
    kept = F.aggregate(
        ivs,
        F.struct(
            F.array().cast("array<string>").alias("parts"), F.lit(0).alias("prev")
        ),
        lambda acc, iv: F.struct(
            F.concat(
                acc["parts"],
                F.slice(F.col("w"), acc["prev"] + 1, iv["s"] - 1 - acc["prev"]),
            ).alias("parts"),
            iv["e"].alias("prev"),
        ),
        lambda acc: F.concat(
            acc["parts"],
            F.slice(
                F.col("w"),
                acc["prev"] + 1,
                F.greatest(F.lit(0), F.col("n") - acc["prev"]),
            ),
        ),
    )
    return (
        base.join(starts, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("n").cast("bigint").alias("n_tokens"),
            kept.alias("_kept"),
        )
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.size("_kept")).cast("bigint").alias(
                "n_dup_tokens"
            ),
            F.round(
                F.size("_kept").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("kept_frac"),
            F.concat_ws(" ", F.col("_kept")).alias("kept_text"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    len_bucket: int = 32,
    prefix_len: int = 8,
    rel_pct: int = 10,
    max_block: int | None = None,
) -> DataFrame:
    """Blocked character-EDIT-DISTANCE near-duplicate pairs: documents
    whose normalized texts differ by at most ``rel_pct`` percent of the
    longer length under Levenshtein distance — the string-metric member
    of the dedup family (record-linkage style: Fellegi-Sunter blocking +
    an exact edit metric), catching the char-level-typo/OCR-noise dup
    class that token-shingle Jaccard (q29) under-scores because one
    character edit rewrites a whole token's shingles, and MinHash (q28)
    can only approximate.

    Blocking (the family's banded-cap discipline — candidate generation
    is NEVER all-pairs): candidates share a (⌊char_len/len_bucket⌋,
    first ``prefix_len`` chars) block key. Like LSH bands this trades
    recall for a hard bound — a near-dup pair split by a block boundary
    or a leading edit is missed, by design; the block key is part of the
    operator's published contract so the DuckDB oracle reproduces the
    exact pair set. ``max_block`` drops blocks holding more documents
    (the stop-fingerprint rule of `winnow_match_pairs`): a template
    block would otherwise fan out quadratically AND pay O(len²) PER
    PAIR — the most expensive comparator in the family.

    Exactness: Levenshtein distance is an INTEGER (unit-cost
    insert/delete/substitute in both engines), the relative threshold
    ``dist·100 ≤ rel_pct·max(len_a, len_b)`` is integer arithmetic, and
    the output carries only integers — nothing floats, nothing rounds.

    Scale: per-block fan-out is ≤ C(max_block, 2) pairs; the distance
    computation is the only non-equi work and runs post-blocking on
    pairs, not the corpus. Both join sides are repartitioned on the
    block key and AQE coalescing is disabled for the pair join's
    shuffle (the `winnow_match_pairs` rule): AQE sizes the post-shuffle
    read by the SMALL fingerprint-like input and would pack the pair
    fan-out — and its O(len²)-PER-PAIR comparator, invisible to
    byte-based sizing — onto 1-2 tasks (measured: the 10× wave-26
    audit sat on a single task before this pin).
    """
    norm = F.lower(F.trim(F.col(text_col)))
    b = df.select(
        F.col(id_col).alias("_id"),
        norm.alias("t"),
        F.length(norm).alias("ln"),
        F.floor(F.length(norm) / F.lit(len_bucket)).cast("int").alias("lb"),
        F.substring(norm, 1, prefix_len).alias("pf"),
    )
    if max_block is not None:
        keep = (
            b.groupBy("lb", "pf")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") <= max_block)
            .select("lb", "pf")
        )
        b = b.join(keep, ["lb", "pf"], "left_semi")
    n_part = df.sparkSession.sparkContext.defaultParallelism
    a_side = b.select(
        "lb", "pf", F.col("_id").alias("a_id"), F.col("t").alias("ta"),
        F.col("ln").alias("la"),
    ).repartition(n_part, F.col("lb"), F.col("pf"))
    b_side = b.select(
        "lb", "pf", F.col("_id").alias("b_id"), F.col("t").alias("tb"),
        F.col("ln").alias("lb_len"),
    ).repartition(n_part, F.col("lb"), F.col("pf"))
    dist = F.levenshtein(F.col("ta"), F.col("tb"))
    len_max = F.greatest(F.col("la"), F.col("lb_len"))
    return (
        a_side.join(b_side, ["lb", "pf"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            dist.cast("bigint").alias("dist"),
            len_max.cast("bigint").alias("len_max"),
        )
        .filter(F.col("dist") * 100 <= F.lit(rel_pct) * F.col("len_max"))
    )


#: Winnowing position shift: fingerprints pack (hash, position) into one
#: bigint as ``hash * 2^20 + (2^20 - 1 - pos)`` so a single window MIN
#: implements the robust-winnowing rule (min hash, ties -> rightmost
#: position). Caps document length at 2^20 grams; wider documents need a
#: wider shift (and a >32-bit hash would then overflow the bigint).
_WINNOW_SHIFT = 1 << 20


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD 2003, the MOSS algorithm): hash every ``k``-char gram of the
    whitespace-stripped lowercased text, slide a window of ``w``
    consecutive gram hashes, and in each window select the minimum hash
    (ties -> rightmost occurrence). The distinct selected (hash, pos)
    pairs are the document's fingerprint set: any shared substring of
    length >= k + w - 1 between two documents is GUARANTEED to share at
    least one fingerprint, with expected density 2/(w+1) — the local
    fingerprinting scheme plagiarism/near-dup scanners use so matches
    survive insertions and reordering that break global MinHash.

    Returns the selected fingerprints, one row per distinct selection:
    ``(id, fp_hash, fp_pos)``.

    Plan shape: narrow pipeline — at most ONE shuffle, and only when the
    scan arrives narrower than the cluster (the ``_spread_narrow``
    load-balancing repartition of the raw doc rows; a wide 100 TB scan
    pays no shuffle at all). Winnowing is a per-document computation, so
    the whole selection runs in the array domain of one row — gram
    hashes via transform, window minima via array_min over w-wide
    slices, per-document dedup via array_distinct — and only the
    SELECTED fingerprints (density 2/(w+1)) are ever exploded into rows.
    The first cut used a per-document window function instead; correct,
    but it shuffled and sorted every gram row (47 M rows at the 10x
    audit, 129 s) for what one row can compute locally — the array form
    audits at a few seconds. Memory per row is O(doc chars); the
    2^20-gram position cap of the packed encoding bounds it at ~8 MB.
    Ties -> rightmost comes from packing (hash, pos) as
    ``hash * 2^20 + (2^20 - 1 - pos)`` so a single MIN picks
    min-hash-then-max-pos; hash is the 32-bit md5 prefix so the DuckDB
    oracle replays selections exactly.
    """
    # The per-gram md5 chain is the CPU-heavy part: spread the narrow doc
    # rows first so it runs at cluster parallelism, not scan-split count
    # (measured: q122 ran as 3 tasks total on the one-split bench corpus).
    df = _spread_narrow(df.select(id_col, text_col), id_col)
    s = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", "")
    # Loud failure on documents the packed (hash, pos) encoding cannot
    # represent: > 2^20 grams would drive the position term negative and
    # silently corrupt the window-min selection. Embedded in the string
    # expression itself (not a standalone assert column) so Catalyst's
    # column pruning can never drop the check.
    s = F.when(
        F.length(s) - (k - 1) >= F.lit(_WINNOW_SHIFT),
        F.raise_error(
            F.lit(
                "winnow_fingerprints: document exceeds 2^20 grams; the packed"
                " (hash, pos) encoding would corrupt fingerprint selection"
            )
        ).cast("string"),
    ).otherwise(s)
    base = df.select(F.col(id_col).alias("_id"), s.alias("s")).filter(
        F.length("s") >= k + w - 1
    )
    n_grams = F.length("s") - (k - 1)
    packed = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.conv(
            F.substring(F.md5(F.col("s").substr(i, F.lit(k))), 1, 8), 16, 10
        ).cast("bigint")
        * F.lit(_WINNOW_SHIFT)
        + (F.lit(_WINNOW_SHIFT - 1) - i),
    )
    sels = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("_packed") - (w - 1)),
            lambda j: F.array_min(F.slice(F.col("_packed"), j, w)),
        )
    )
    return (
        base.select("_id", packed.alias("_packed"))
        .select("_id", F.explode(sels).alias("sel"))
        .select(
            F.col("_id").alias(id_col),
            F.col("sel").cast("bigint").alias("packed"),
            F.expr(f"sel div {_WINNOW_SHIFT}").cast("bigint").alias("fp_hash"),
            (
                F.lit(_WINNOW_SHIFT - 1) - F.pmod(F.col("sel"), F.lit(_WINNOW_SHIFT))
            ).cast("bigint").alias("fp_pos"),
        )
    )


def winnow_match_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int | None = None,
) -> tuple[DataFrame, list]:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprint
    HASHES — the MOSS-style match step over :func:`winnow_fingerprints`'
    selections. Because winnowing guarantees any shared substring of
    >= k+w-1 chars shares a fingerprint, a pair's ``n_shared`` lower-
    bounds its count of independently-copied regions — the ranking
    plagiarism/near-dup triage actually uses.

    Returns ``(pairs, pins)``: ``pairs`` is ``(a_id, b_id, n_shared)``
    with a_id < b_id; with ``max_bucket`` it reads the persisted
    fingerprint table in ``pins``, which the caller releases.

    Plan shape: per-doc distinct fingerprint sets (narrow — the
    fingerprint op is zero-shuffle), one equi-join on fp_hash, one pair
    groupBy. Both join sides are pinned to an explicit repartition on
    the hash: a boilerplate fingerprint shared by m documents fans out
    m^2 pairs from a tiny shuffle input — the quadratic-output shape
    AQE would coalesce onto one task. ``max_bucket`` drops
    stop-fingerprints (> max_bucket docs) before the join, the same cap
    as the Jaccard path's ``max_df``.
    """
    fp = (
        winnow_fingerprints(df, id_col, text_col, k=k, w=w)
        .select(F.col(id_col).alias("_id"), "fp_hash")
        .distinct()
    )
    pins = []
    if max_bucket is not None:
        fp = fp.persist(StorageLevel.MEMORY_AND_DISK)
        pins.append(fp)
        keep = (
            fp.groupBy("fp_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") <= max_bucket)
            .select("fp_hash")
        )
        fp = fp.join(keep, "fp_hash", "left_semi")
    n_part = df.sparkSession.sparkContext.defaultParallelism
    a = fp.select(F.col("_id").alias("a_id"), "fp_hash").repartition(
        n_part, F.col("fp_hash")
    )
    b = fp.select(F.col("_id").alias("b_id"), "fp_hash").repartition(
        n_part, F.col("fp_hash")
    )
    pairs = (
        a.join(b, "fp_hash")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs, pins
