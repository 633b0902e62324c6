"""Similarity search over embedding columns (array<float>).

- cosine_topk_bruteforce: exact top-k neighbors. Correctness baseline and
  fine for ≤10^4 vectors; the join is a shuffled theta-join so it is O(n²) —
  never the scale path.
- sign_lsh_pairs: sign-projection LSH. Bucket = the first ``bits`` coordinate
  signs (an axis-aligned random-hyperplane family — deterministic and
  oracle-reproducible); candidate pairs only within a bucket, then exact
  cosine. At 100 TB this is the pattern: O(n) bucket assignment, equi-join on
  bucket, exact re-rank of a tiny candidate set. Swap the bucket function for
  learned/IVF centroids without touching the join shape.

All element arithmetic is cast to double BEFORE any fold so Spark and the
DuckDB oracle produce bit-identical sums (sequential left folds both sides).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..bounded import bounded_collect


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


#: Ceiling (in total literal doubles, k·dim) under which a driver-resident
#: centroid set is inlined as a LITERAL array instead of broadcast-joined.
#: The literal path makes nearest-centroid assignment a pure map (zero
#: shuffle, zero broadcast-build job, no join-back to refetch the vector);
#: past the ceiling the expression tree itself becomes the cost (analysis/
#: codegen scale with k·dim), so large codebooks — SemDeDup's k ∝ n
#: posture — keep the broadcast n·k join, whose argmin is map-side
#: combinable. Both paths fold the same zip_with/aggregate expression in
#: the same order, so distances and tie-breaks are bit-identical.
LITERAL_ARGMIN_MAX_DOUBLES = 8192


def _literal_argmin(cents: dict[int, list[float]], vec: Column) -> Column:
    """Nearest-centroid id for ``vec`` against a driver-resident centroid
    dict, as ONE scalar expression: array_min over per-centroid
    (dist, cluster_id) structs — identical ordering (and NaN placement) to
    the broadcast-join ``min(struct(dist, cluster_id))`` it replaces."""
    cand = F.array(
        *[
            F.struct(
                F.lit(cid).cast("int").alias("cluster_id"),
                F.lit(cvec).cast("array<double>").alias("cvec"),
            )
            for cid, cvec in sorted(cents.items())
        ]
    )
    return F.array_min(
        F.transform(
            cand,
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(vec, c["cvec"], lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                c["cluster_id"].alias("cluster_id"),
            ),
        )
    )


def with_vector_norm(
    df: DataFrame, vec_col: str, out_vec: str = "vec_d", out_norm: str = "norm"
) -> DataFrame:
    """Precompute the double-cast vector and its L2 norm once per row.

    Rows are spread across the default parallelism first — vector corpora
    often arrive as few fat files, and the downstream pair-join is
    CPU-bound on the dot products.
    """
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    v = _as_double(F.col(vec_col))
    return spread.withColumn(out_vec, v).withColumn(out_norm, _norm(F.col(out_vec)))


def cosine_topk_bruteforce(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    max_n: int | None = 50_000,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per vector: (vec_id, neighbor_id, cos, rn).

    Norms are precomputed per side; ranking tie-breaks on neighbor id so the
    result is a total order (deterministic at any parallelism).

    ``max_n`` guards the documented O(n²) theta-join: above it the pair
    count (n²) stops being a baseline and becomes an outage, so refuse and
    point at the scale paths instead of silently melting the cluster. The
    probe is ``limit(max_n+1).count()`` — an early-exit scan bounded by
    max_n rows, never a full count of the caller's plan. ``max_n=None``
    opts out for callers that have already sized the input.

    ``queries`` restricts the QUERY side (the rows whose top-k is
    computed) to a subset frame of the same (id, vec) shape; neighbor
    candidates still come from the full ``df``. This is the 100x recall-
    harness path: exact ground truth for a deterministic query SAMPLE
    costs |queries|·|df|, not |df|², and the results for any query in
    the sample are bit-identical to the full run's.
    """
    from pyspark.sql import Window

    if max_n is not None and df.limit(max_n + 1).count() > max_n:
        raise ValueError(
            f"cosine_topk_bruteforce is the O(n²) exactness baseline; "
            f"input exceeds max_n={max_n} rows. Use ivf_topk or "
            f"sign_lsh_pairs for corpus-sized inputs, or pass max_n=None "
            f"after sizing the input yourself."
        )
    base = with_vector_norm(df.select(F.col(id_col).alias("vid"), vec_col), vec_col)
    qbase = base
    if queries is not None:
        qbase = with_vector_norm(
            queries.select(F.col(id_col).alias("vid"), vec_col), vec_col
        )
    a = qbase.select(
        F.col("vid").alias("a_id"), F.col("vec_d").alias("a_vec"), F.col("norm").alias("a_norm")
    )
    b = base.select(
        F.col("vid").alias("b_id"), F.col("vec_d").alias("b_vec"), F.col("norm").alias("b_norm")
    )
    # The theta join is a BroadcastNestedLoopJoin and its PARALLELISM is
    # the streamed side's partition count — a single-file corpus arrives
    # as 1-2 partitions and serializes the whole O(|a|·|b|) dot-product
    # stage onto 1-2 cores (measured at the 10x audit: 158 s for a
    # 2k x 20k sampled run, ~0.25 cores utilized). Broadcast the QUERY
    # side explicitly (max_n-guarded, so it is bounded) and round-robin
    # the candidate side to full parallelism before the join.
    par = df.sparkSession.sparkContext.defaultParallelism
    pairs = b.repartition(par).join(F.broadcast(a), F.col("a_id") != F.col("b_id"))
    cos = (_dot(F.col("a_vec"), F.col("b_vec")) / (F.col("a_norm") * F.col("b_norm"))).alias(
        "cos_sim"
    )
    scored = pairs.select("a_id", "b_id", cos)
    w = Window.partitionBy("a_id").orderBy(F.col("cos_sim").desc(), F.col("b_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("b_id").alias("neighbor_id"),
            F.round(F.col("cos_sim"), 6).alias("cos_sim"),
            "rn",
        )
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine →
    (vec_id, cell, cos): the index-maintenance half of the IVF family
    (ivf_topk builds-and-queries in one shot; production TRAINS centroids
    once, then assigns forever — this is the forever part).

    ``centroids`` is (cent_id, <vec_col>) — typically ``kmeans_fit``'s
    output or the deterministic smallest-id seed. Assignment is the q164
    shape: O(n·c) broadcast join + ONE map-side-combinable max(struct)
    argmax, ties to the SMALLEST cent_id — identical to the rank-1
    window an oracle uses. The streaming twin
    (`streaming/corpus.py::ivf_assign_stream`) reproduces this argmax as
    a stateless per-row fold and is pinned equal by test.
    """
    # Zero-norm vectors/centroids are unindexable under cosine (NaN
    # distance, and the two argmax formulations order NaN differently) —
    # EXCLUDED on both the batch and streaming path, identically; count
    # them upstream (q178/q188) if they can occur.
    base = with_vector_norm(
        df.select(F.col(id_col).alias("vid"), vec_col), vec_col
    ).filter(F.col("norm") > 0)
    cents = (
        with_vector_norm(centroids.select(F.col("cent_id"), vec_col), vec_col)
        .filter(F.col("norm") > 0)
        .select("cent_id", F.col("vec_d").alias("c_vec"), F.col("norm").alias("c_nrm"))
    )
    cos = (_dot(F.col("vec_d"), F.col("c_vec")) / (F.col("norm") * F.col("c_nrm"))).alias(
        "c_cos"
    )
    scored = base.join(F.broadcast(cents)).select("vid", "cent_id", cos)
    assign = scored.groupBy("vid").agg(
        F.max(F.struct(F.col("c_cos"), (-F.col("cent_id")).alias("_neg"))).alias("m")
    )
    return assign.select(
        F.col("vid").alias(id_col),
        (-F.col("m._neg")).cast("bigint").alias("cell"),
        F.round(F.col("m.c_cos"), 6).alias("cos_sim"),
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_centroids: int | None = None,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, list]:
    """IVF (inverted-file) approximate top-k cosine neighbors.

    Tuning at scale: probe cost ≈ n · n_probe · (n / n_centroids), so
    n_centroids must grow ~sqrt(n) to keep cells bounded (the classic IVF
    sizing rule). ``n_centroids=None`` applies it: c = max(16, ceil(√n))
    from one cheap count — measured 24s → bounded at a 20k-vector corpus
    where a fixed c=16 left 1250-member cells. Pass an explicit value when
    an oracle or a tuned index layout pins the partition.

    Index build: centroids are the vectors of the ``n_centroids`` smallest
    ids — a deterministic seeding so the DuckDB oracle reproduces the cell
    partition exactly; pass ``centroids=`` (a ``kmeans_fit`` result:
    (cluster_id, centroid) rows) to swap in TRAINED centroids without
    changing any plan shape below. Every vector scores against the
    broadcast centroid set once (an O(n·c) map stage, no shuffle): rank 1
    assigns the vector to its cell, ranks ≤ n_probe form its probe list.

    Query: candidates come from an equi-join of probe lists against cell
    members — ~n·n_probe·(n/c) exact cosines instead of the n² theta-join
    of the brute-force baseline, and the only shuffle is on the (int) cell
    id. Recall loss is the standard IVF tradeoff, tuned by (c, n_probe).

    Returns ``(neighbors, pins)``: ``neighbors`` matches
    cosine_topk_bruteforce, (vec_id, neighbor_id, cos_sim, rn), and it
    reads the persisted assignment table in ``pins``, which the caller
    releases.
    """
    from pyspark.sql import Window

    base = with_vector_norm(df.select(F.col(id_col).alias("vid"), vec_col), vec_col)
    if centroids is not None:
        cents = centroids.select(
            F.col("cluster_id").cast("bigint").alias("cent_id"),
            F.transform("centroid", lambda x: x.cast("double")).alias("c_vec"),
        ).withColumn("c_norm", _norm(F.col("c_vec")))
    else:
        if n_centroids is None:
            import math

            n_centroids = max(16, math.isqrt(max(base.count(), 1) - 1) + 1)
        cents = (
            base.orderBy("vid")
            .limit(n_centroids)
            .select(
                F.col("vid").alias("cent_id"),
                F.col("vec_d").alias("c_vec"),
                F.col("norm").alias("c_norm"),
            )
        )
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vid",
        "vec_d",
        "norm",
        "cent_id",
        (
            _dot(F.col("vec_d"), F.col("c_vec")) / (F.col("norm") * F.col("c_norm"))
        ).alias("c_cos"),
    )
    wc = Window.partitionBy("vid").orderBy(F.col("c_cos").desc(), F.col("cent_id").asc())
    ranked = scored.withColumn("crn", F.row_number().over(wc)).filter(
        F.col("crn") <= n_probe
    )
    # cells + probes both read `ranked` — persist the index build (IVF's own
    # materialization step) instead of recomputing the assignment twice.
    ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
    cells = ranked.filter(F.col("crn") == 1).select(
        F.col("cent_id").alias("cell"),
        F.col("vid").alias("m_id"),
        F.col("vec_d").alias("m_vec"),
        F.col("norm").alias("m_norm"),
    )
    probes = ranked.select(
        "vid", F.col("vec_d").alias("q_vec"), F.col("norm").alias("q_norm"),
        F.col("cent_id").alias("cell"),
    )
    # Same AQE-coalescing guard as the LSH/SemDeDup pair joins: the cell
    # join's output is n·n_probe·(n/c) rows from a modest input shuffle —
    # pin the partitioning so the candidate scoring spreads.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    cand = (
        probes.repartition(n_part, F.col("cell"))
        .join(cells.repartition(n_part, F.col("cell")), "cell")
        .filter(F.col("vid") != F.col("m_id"))
    )
    cos = (_dot(F.col("q_vec"), F.col("m_vec")) / (F.col("q_norm") * F.col("m_norm"))).alias(
        "cos_sim"
    )
    scored2 = cand.select(F.col("vid"), F.col("m_id"), cos)
    w = Window.partitionBy("vid").orderBy(F.col("cos_sim").desc(), F.col("m_id").asc())
    neighbors = (
        scored2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("vid").alias("vec_id"),
            F.col("m_id").alias("neighbor_id"),
            F.round(F.col("cos_sim"), 6).alias("cos_sim"),
            "rn",
        )
    )
    return neighbors, [ranked]


def ivf_probe_sweep(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_centroids: int | None = None,
    probes: tuple[int, ...] = (1, 2, 4),
) -> tuple[DataFrame, list]:
    """``ivf_topk`` swept over the n_probe knob in ONE index pass:
    output (n_probe, vec_id, neighbor_id, rn) for every level in
    ``probes``. The candidate set at probe level p is a prefix of the
    level-max(probes) set (each member lives in exactly one cell, each
    query probes its top-max(p) cells), so the sweep scores candidates
    ONCE at the deepest level, tags each with the probe rank that
    produced it, and re-ranks per level with a filter — no re-assignment,
    no re-scoring, exactly the one-pass posture of the q146/q182/q185
    threshold sweeps. This is the tuning table the (c, n_probe) decision
    reads next to its recall harness. Same ``(neighbors, pins)`` return
    as ``ivf_topk``, with the leading ``n_probe`` column.
    """
    from pyspark.sql import Window

    max_p = max(probes)
    base = with_vector_norm(df.select(F.col(id_col).alias("vid"), vec_col), vec_col)
    if n_centroids is None:
        import math

        n_centroids = max(16, math.isqrt(max(base.count(), 1) - 1) + 1)
    cents = (
        base.orderBy("vid")
        .limit(n_centroids)
        .select(
            F.col("vid").alias("cent_id"),
            F.col("vec_d").alias("c_vec"),
            F.col("norm").alias("c_norm"),
        )
    )
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vid",
        "vec_d",
        "norm",
        "cent_id",
        (
            _dot(F.col("vec_d"), F.col("c_vec")) / (F.col("norm") * F.col("c_norm"))
        ).alias("c_cos"),
    )
    wc = Window.partitionBy("vid").orderBy(F.col("c_cos").desc(), F.col("cent_id").asc())
    ranked = (
        scored.withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= max_p)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cells = ranked.filter(F.col("crn") == 1).select(
        F.col("cent_id").alias("cell"),
        F.col("vid").alias("m_id"),
        F.col("vec_d").alias("m_vec"),
        F.col("norm").alias("m_norm"),
    )
    probes_df = ranked.select(
        "vid",
        F.col("vec_d").alias("q_vec"),
        F.col("norm").alias("q_norm"),
        F.col("cent_id").alias("cell"),
        "crn",
    )
    n_part = df.sparkSession.sparkContext.defaultParallelism
    cand = (
        probes_df.repartition(n_part, F.col("cell"))
        .join(cells.repartition(n_part, F.col("cell")), "cell")
        .filter(F.col("vid") != F.col("m_id"))
    )
    cos = (
        _dot(F.col("q_vec"), F.col("m_vec")) / (F.col("q_norm") * F.col("m_norm"))
    ).alias("cos_sim")
    scored2 = cand.select("vid", "m_id", "crn", cos)
    lv = F.explode(F.array(*[F.lit(int(p)) for p in sorted(probes)])).alias("n_probe")
    tagged = scored2.select(lv, "vid", "m_id", "crn", "cos_sim").filter(
        F.col("crn") <= F.col("n_probe")
    )
    w = Window.partitionBy("n_probe", "vid").orderBy(
        F.col("cos_sim").desc(), F.col("m_id").asc()
    )
    neighbors = (
        tagged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "n_probe",
            F.col("vid").alias("vec_id"),
            F.col("m_id").alias("neighbor_id"),
            F.round(F.col("cos_sim"), 6).alias("cos_sim"),
            "rn",
        )
    )
    return neighbors, [ranked]


def sign_bucket(vec: Column, bits: int = 12) -> Column:
    """LSH bucket id from the signs of the first ``bits`` coordinates."""
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(
            F.element_at(vec, i + 1).cast("double") > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return out.cast("int")


def sign_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int = 12,
    min_cos: float = 0.8,
) -> tuple[DataFrame, list]:
    """Near-duplicate embedding pairs: same sign-LSH bucket AND cosine ≥ min_cos.

    Returns ``(pairs, pins)``: ``pairs`` is a_id, b_id (a<b), bucket,
    cos_sim (rounded 6), and it reads the persisted bucketed base in
    ``pins``, which the caller releases.

    Tuning at scale: candidate pairs ≈ Σ bucket_size², so ``bits`` must grow
    with the corpus (≈ log2(n) keeps average bucket size constant); the
    exact per-pair cosine is a sequential fold (oracle-exact), so the pair
    count — not the bucket assignment — is the cost to engineer down.
    """
    base = with_vector_norm(df.select(F.col(id_col).alias("vid"), vec_col), vec_col)
    base = base.withColumn("bucket", sign_bucket(F.col("vec_d"), bits)).persist(
        StorageLevel.MEMORY_AND_DISK
    )  # both self-join sides read this — compute the norms/buckets once
    # Pin the bucket-join partitioning: the join's OUTPUT explodes with
    # Σ bucket_size² while its input shuffle is corpus-sized, so AQE's
    # input-sized coalescing can serialize the pair generation onto a
    # couple of tasks (the semantic_dedup stall class). User-specified
    # repartitions are never coalesced.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    a = base.select(
        F.col("vid").alias("a_id"),
        F.col("bucket"),
        F.col("vec_d").alias("a_vec"),
        F.col("norm").alias("a_norm"),
    ).repartition(n_part, F.col("bucket"))
    b = base.select(
        F.col("vid").alias("b_id"),
        F.col("bucket").alias("b_bucket"),
        F.col("vec_d").alias("b_vec"),
        F.col("norm").alias("b_norm"),
    ).repartition(n_part, F.col("b_bucket"))
    pairs = a.join(
        b, (F.col("bucket") == F.col("b_bucket")) & (F.col("a_id") < F.col("b_id"))
    )
    cos = _dot(F.col("a_vec"), F.col("b_vec")) / (F.col("a_norm") * F.col("b_norm"))
    pairs = pairs.select(
        "a_id", "b_id", "bucket", F.round(cos, 6).alias("cos_sim")
    ).filter(F.col("cos_sim") >= min_cos)
    return pairs, [base]


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-9,
    seeding: str = "lowest_id",
    stats: dict | None = None,
    base_out: list | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embedding column — the trainer behind
    `ivf_topk`'s coarse quantizer (its docstring defers centroid TRAINING
    here; the id-seeded variant stays the oracle-reproducible default).

    Driver-loop iterative pattern (same discipline as
    `operators/components.py`): the corpus-sized side stays distributed —
    one broadcast nested-loop assign (n·k narrow comparisons) plus one
    map-side-combinable ``min(struct)`` argmin per round — while the
    k-row centroid table round-trips through the driver
    (``k·dim`` doubles, index-sized by definition, the same driver-sized
    state every Spark k-means keeps). Lineage does NOT grow per round:
    each round's plan is (persisted base) ⋈ (literal centroids), so no
    checkpoint is needed, unlike CC's self-referencing joins.

    Seeding is deterministic either way (no RNG, so a fixed ``max_iter``
    run is bit-reproducible; centroid means go through decimal(25,6)
    partial sums and per-row double arithmetic is IEEE-identical across
    engines). ``seeding="lowest_id"`` takes the ``k`` lowest-``id_col``
    vectors, as in `plans/textops.py::q93_lloyd_step` — cheap and
    oracle-reproducible, but all k seeds can land in one dense region.
    ``seeding="farthest"`` is the deterministic k-means++ analogue
    (farthest-first traversal): start from the lowest-id vector, then
    repeatedly add the vector maximizing its distance to the nearest
    chosen seed (ties → lowest id) — k-1 extra distributed passes
    (max(struct) aggregations, no shuffle of the corpus), in exchange
    for seeds that span the space and an assignment that recovers
    well-separated clusters Lloyd alone cannot un-split. Its k-1
    SEQUENTIAL driver jobs make it a small-k tool only; at SemDeDup's
    k ∝ n posture use ``seeding="kmeans_par"`` — k-means|| (Bahmani
    2012) oversampling in a FIXED number of distributed rounds
    (~2 jobs/round + 1 weighting pass, independent of k), deterministic
    via the repo's md5 draw, reduced driver-side to k weighted seeds.
    Clusters that lose all members keep their previous centroid.

    Returns a k-row DataFrame ``(cluster_id, centroid array<double>,
    n_members)`` — cluster ids are 0..k-1 in seed (ascending id) order,
    ``n_members`` from the final assignment. ``stats`` (optional dict)
    receives ``iterations`` and ``last_shift`` (max squared centroid
    displacement of the final round; ≤ tol means converged).

    ``base_out`` (optional caller-owned list): receives the persisted,
    double-cast, repartitioned (vid, vd) corpus the trainer itself
    assigns against — ownership transfers to the caller, who MUST
    unpersist it (r14; guide §2.2: a caller that assigns against the
    final centroids right after training — SemDeDup — otherwise pays a
    second scan + cast + repartition exchange of the whole vector
    corpus to rebuild exactly this frame). Omitted → released here, as
    before.
    """
    spark = df.sparkSession
    base = (
        # Spread BEFORE the per-round map work: vector corpora often
        # arrive as one or two fat parquet files, and every training
        # round's n·k distance fold inherits the scan's partitioning —
        # measured as a whole audit run pinned to ~1 core. Same
        # discipline as with_vector_norm.
        df.repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col(id_col).alias("vid"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("vd"),
        )
        # NULL vectors carry no geometry: a NULL seed would crash the
        # driver-side centroid copy, and a NULL member would poison the
        # distance fold. Drop them — same posture as the ANN operators.
        .filter(F.col("vd").isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    if seeding not in ("lowest_id", "farthest", "kmeans_par"):
        raise ValueError(
            "seeding must be 'lowest_id', 'farthest' or 'kmeans_par', "
            f"got {seeding!r}"
        )
    try:
        out = _kmeans_loop(spark, base, k, max_iter, tol, stats, seeding)
        if base_out is not None:
            # Ownership transfer: the caller reuses the pinned corpus for
            # its own post-training assignment and releases it.
            base_out.append(base)
        return out
    finally:
        # Release the pinned corpus on EVERY path — a mid-training failure
        # must not leave the double-cast base cached for the session —
        # EXCEPT when ownership just transferred via base_out (success
        # path only; a raise never reaches the append above).
        if base_out is None or not any(p is base for p in base_out):
            base.unpersist()


def _kmeans_parallel_seeds(base, k, rounds=5, oversample=2.0, stats=None):
    """k-means|| seeding (Bahmani et al., "Scalable k-means++", VLDB
    2012): O(``rounds``) DISTRIBUTED passes instead of farthest-first's
    k-1 sequential driver jobs — the difference between 5 and 1000+
    sequential jobs at SemDeDup's k ∝ n posture.

    Each round: (1) one aggregation computes the current cost
    ψ = Σ d²(x, C); (2) each point joins the round's sampling gate
    independently with probability min(1, ℓ·d²(x,C)/ψ), ℓ =
    ``oversample``·k — expected ℓ new candidates per round, sampled in
    ONE distributed filter. Randomness is the repo's deterministic md5
    draw (md5(round ':' vid) → uniform in [0,1)), so the seed set is
    bit-reproducible run to run and engine to engine. A final pass
    weights every candidate by the number of points it is nearest to,
    and the weighted candidate set (O(k·rounds) rows, driver-sized)
    reduces to k seeds with a deterministic weighted k-means++ MAP rule
    (argmax of weight·d² instead of a draw, ties → lowest id) — pure
    driver arithmetic, zero extra jobs.

    Returns rows shaped like the other seeders (vid, vd), in selection
    order. ``stats`` receives ``seeding_rounds`` and
    ``seeding_candidates``.
    """
    first = base.orderBy("vid").limit(1).collect()
    if not first:
        return []
    cand = {first[0].vid: list(first[0].vd)}
    spark = base.sparkSession
    ell = max(1.0, oversample * k)

    def _cand_df():
        rows = [(vid, vec) for vid, vec in sorted(cand.items())]
        vid_t = base.schema["vid"].dataType.simpleString()
        return spark.createDataFrame(rows, f"cvid {vid_t}, cvec array<double>")

    d2 = F.aggregate(
        F.zip_with("vd", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    for rnd in range(rounds):
        # Materialize the slim per-point distances ONCE per round: both
        # the cost aggregation and the sampling filter read dmin, and
        # without the cut the n·|C| distance pass would run twice per
        # round. n rows x 16 B — executor-local, freed by GC. LAZY cut
        # (r13, the components.py rule): the psi probe directly below is
        # the round's first action, so it materializes the blocks and
        # reads the sum in one job instead of paying a dedicated
        # checkpoint job per seeding round.
        dmin = (
            base.join(F.broadcast(_cand_df()))
            .select("vid", d2.alias("d"))
            .groupBy("vid")
            .agg(F.min("d").alias("dmin"))
            .localCheckpoint(eager=False)
        )
        psi = bounded_collect(
            dmin.agg(F.sum("dmin").alias("s")), 1, "kmeans_par psi probe"
        )[0].s
        if psi is None or psi <= 0.0:
            break  # every point coincides with a candidate — done
        draw = (
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"kmpar:{rnd}:"), F.col("vid").cast("string")
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(1000000),
            )
            / 1000000.0
        )
        picked = bounded_collect(
            dmin.filter(
                draw < F.least(F.lit(1.0), F.lit(ell) * F.col("dmin") / F.lit(psi))
            )
            .join(base, "vid")
            .select("vid", "vd"),
            # expected <= ell rows (each point draws with probability
            # min(1, ell*dmin/psi), whose sum is <= ell); 8x + 64 slack
            # puts a legitimate fluctuation past the cap at Chernoff-
            # negligible odds while an O(n) bug still trips instantly
            8 * ell + 64,
            "kmeans_par candidate draw",
        )
        for r in picked:
            cand[r.vid] = list(r.vd)
    # Weight candidates by the size of their nearest-neighbor cell.
    weights = {vid: 0 for vid in cand}
    wrows = bounded_collect(
        base.join(F.broadcast(_cand_df()))
        .select("vid", F.struct(d2.alias("d"), "cvid").alias("c"))
        .groupBy("vid")
        .agg(F.min("c").alias("best"))
        .groupBy(F.col("best.cvid").alias("cvid"))
        .agg(F.count(F.lit(1)).alias("w")),
        len(cand),  # one row per candidate cell, grouped by cvid
        "kmeans_par cell weights",
    )
    for r in wrows:
        weights[r.cvid] = r.w
    if stats is not None:
        stats["seeding_rounds"] = rounds
        stats["seeding_candidates"] = len(cand)
    # Driver-side deterministic weighted k-means++ MAP reduction to k.
    order = sorted(cand, key=lambda v: (-weights[v], v))
    chosen_ids = [order[0]]
    rest = [v for v in order[1:]]
    mind = {
        v: sum((a - b) * (a - b) for a, b in zip(cand[v], cand[chosen_ids[0]]))
        for v in rest
    }
    while len(chosen_ids) < k and rest:
        nxt = max(rest, key=lambda v: (weights[v] * mind[v], -_id_rank(v)))
        if weights[nxt] * mind[nxt] <= 0.0:
            break  # remaining candidates are duplicates of chosen seeds
        chosen_ids.append(nxt)
        rest.remove(nxt)
        for v in rest:
            d = sum((a - b) * (a - b) for a, b in zip(cand[v], cand[nxt]))
            if d < mind[v]:
                mind[v] = d

    class _Row:
        __slots__ = ("vid", "vd")

        def __init__(self, vid, vd):
            self.vid = vid
            self.vd = vd

    return [_Row(v, cand[v]) for v in chosen_ids]


def _id_rank(v):
    """Total order for tie-breaks across int and string id types."""
    return v if isinstance(v, (int, float)) else int.from_bytes(str(v).encode()[:8].ljust(8, b"\0"), "big")


def _farthest_first_seeds(base, k):
    """Deterministic farthest-first traversal: k-1 distributed max-min
    passes, each a map-side-combinable max(struct) over the corpus with
    the current seed set broadcast as literals. Returns collected rows in
    selection order."""
    first = base.orderBy("vid").limit(1).collect()
    if not first:
        return []
    chosen = [first[0]]
    for _ in range(k - 1):
        # min distance to ANY chosen seed, per vector; pick the argmax.
        min_d = None
        for s in chosen:
            d = F.aggregate(
                F.zip_with("vd", F.lit(s.vd).cast("array<double>"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            min_d = d if min_d is None else F.least(min_d, d)
        far = bounded_collect(
            base.select(
                F.struct(
                    min_d.alias("d"), (-F.col("vid")).alias("nvid"), "vid", "vd"
                ).alias("c")
            )
            .agg(F.max("c").alias("m"))
            .select("m.d", "m.vid", "m.vd"),
            1,
            "farthest-first seed probe",
        )[0]
        if far.d == 0.0:
            break  # fewer than k distinct points — stop early
        chosen.append(far)
    return chosen


def _kmeans_loop(spark, base, k, max_iter, tol, stats, seeding="lowest_id"):
    if seeding == "farthest":
        seeds = _farthest_first_seeds(base, k)
    elif seeding == "kmeans_par":
        seeds = _kmeans_parallel_seeds(base, k, stats=stats)
    else:
        seeds = base.orderBy("vid").limit(k).collect()
    if not seeds:
        # Empty corpus (or an all-empty partition range at scale): no
        # clusters to train — return the empty frame, never raise.
        if stats is not None:
            stats["iterations"] = 0
            stats["last_shift"] = 0.0
        return spark.createDataFrame(
            [], "cluster_id int, centroid array<double>, n_members bigint"
        )
    cents: dict[int, list[float]] = {i: list(r.vd) for i, r in enumerate(seeds)}
    counts: dict[int, int] = {i: 0 for i in cents}
    dim = max(len(v) for v in cents.values())
    if len(cents) * dim <= LITERAL_ARGMIN_MAX_DOUBLES:
        # Literal-argmin rounds have a FIXED, known shape — one pure map
        # over the persisted base and one k·dim-row partial-aggregated
        # update — so run the loop under the iterative execution posture
        # (execution.loop_execution: AQE off, shuffle width derived from
        # the k·dim update-row count; r13 optimization). AQE was turning
        # each round's single exchange into extra query-stage jobs for a
        # reduce side it could only ever coalesce to 1. The broadcast
        # fallback (k ∝ n) keeps AQE: its per-round n-row argmin shuffle
        # and join-back are corpus-sized and deserve runtime sizing.
        from ..execution import loop_execution

        with loop_execution(spark, len(cents) * dim):
            return _lloyd_rounds(
                spark, base, cents, counts, max_iter, tol, stats
            )
    return _lloyd_rounds(spark, base, cents, counts, max_iter, tol, stats)


def _lloyd_rounds(spark, base, cents, counts, max_iter, tol, stats):
    it_done, shift = 0, float("inf")
    dim = max(len(v) for v in cents.values())
    for _ in range(max_iter):
        if len(cents) * dim <= LITERAL_ARGMIN_MAX_DOUBLES:
            # Literal-codebook argmin (r13 optimization, guide §2.4):
            # centroids already live on the driver between rounds, so
            # inlining them as a literal array makes assignment a pure map
            # over the persisted base — the round's only shuffle is the
            # k·dim-row partial-aggregated centroid update, where the
            # broadcast-join form paid a broadcast build, an n-row
            # argmin shuffle AND an n-row join-back per round (measured
            # on q94 at sf0.1: 15 jobs/32 stages → 9 jobs/18 stages).
            assigned = base.select(
                _literal_argmin(cents, F.col("vd"))["cluster_id"].alias("cid"),
                "vd",
            )
        else:
            cdf = spark.createDataFrame(
                [(cid, vec) for cid, vec in cents.items()],
                "cluster_id int, cvec array<double>",
            )
            dist = F.aggregate(
                F.zip_with("vd", "cvec", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            # Argmin over SLIM (dist, cluster_id) candidate rows — carrying
            # vd inside the min-struct copies the full vector into every
            # n·k fan-out row (measured: ~45 GB of transient row volume at
            # the 10x audit's k=447), so the vector joins back AFTER the
            # argmin collapses the fan-out to n rows. Tie-breaks unchanged:
            # (dist, cluster_id) already totally ordered the candidates.
            assigned = (
                base.join(F.broadcast(cdf))
                .select(
                    "vid", F.struct(dist.alias("dist"), "cluster_id").alias("cand")
                )
                .groupBy("vid")
                .agg(F.min("cand").alias("best"))
                .select("vid", F.col("best.cluster_id").alias("cid"))
                .join(base, "vid")
                .select("cid", "vd")
            )
        rows = bounded_collect(
            assigned.select("cid", F.posexplode("vd").alias("dim", "v"))
            .groupBy("cid", "dim")
            .agg(
                F.count(F.lit(1)).alias("n"),
                (F.sum(F.col("v").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1))).alias("m"),
            ),
            # one row per (cluster, dim) — k*dim index-sized driver state
            len(cents) * max(len(v) for v in cents.values()),
            "kmeans Lloyd centroid update",
        )
        new_cents = {cid: list(vec) for cid, vec in cents.items()}
        counts = {cid: 0 for cid in cents}
        for r in rows:
            new_cents[r.cid][r.dim] = r.m
            counts[r.cid] = r.n
        shift = max(
            sum((a - b) * (a - b) for a, b in zip(cents[cid], new_cents[cid]))
            for cid in cents
        )
        cents = new_cents
        it_done += 1
        if shift <= tol:
            break
    if stats is not None:
        stats["iterations"] = it_done
        stats["last_shift"] = shift
    return spark.createDataFrame(
        [(cid, cents[cid], counts[cid]) for cid in sorted(cents)],
        "cluster_id int, centroid array<double>, n_members bigint",
    )


def pq_train_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    codebooks_out: dict | None = None,
) -> DataFrame:
    """Product quantization (Jégou et al., PAMI 2011): split each vector
    into ``m`` contiguous subspaces, train an independent ``k``-code
    codebook per subspace, and encode every vector as ``m`` small code
    ids. A 64-dim float32 vector becomes 4 bytes — the memory-compression
    step that makes billion-vector ANN (IVF-PQ / FAISS-style) fit on a
    cluster at 100 TB corpus scale.

    Training is ONE job per Lloyd round for ALL subspaces at once: the
    exploded (id, sub, sub-vector) table assigns against the codebook as
    a pure map (the driver-resident ``m·k``-row codebook is inlined as a
    literal sub-indexed array — zero shuffle, zero broadcast build; past
    ``LITERAL_ARGMIN_MAX_DOUBLES`` it falls back to a broadcast join on
    the int ``sub`` key with a map-side-combinable ``min(struct)``
    argmin), and the decimal-exact component means group by
    (sub, code, dim) — never one training job per subspace. Codebooks
    round-trip through the driver between rounds (``m·k·dim`` doubles,
    index-sized — the kmeans_fit discipline, so lineage never grows).

    Deterministic end to end: seeds are the sub-vectors of the ``k``
    lowest-``id_col`` rows, ties in the argmin break on code id, and
    means use decimal(25,6) partial sums — so a fixed ``iters`` run is
    bit-reproducible and SQL-unrollable (the q101 oracle). Codes that
    lose every member keep their previous centroid. Vectors are assumed
    uniform-length; the ``dim % m`` remainder dims are dropped from every
    subspace symmetrically (dsub = dim // m).

    Returns (id_col, sub, code). ``codebooks_out`` (optional dict)
    receives ``{(sub, code): [centroid floats]}`` after training — the
    input `pq_adc_topk` needs.
    """
    spark = df.sparkSession
    base = (
        # Spread first — the per-round assignment folds inherit this
        # partitioning (see kmeans_fit).
        df.repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col(id_col).alias("vid"),
            _as_double(F.col(vec_col)).alias("vd"),
        )
        .filter(F.col("vd").isNotNull())
    )
    dsub = F.expr(f"size(vd) DIV {m}")
    sv = (
        base.withColumn("sub", F.explode(F.sequence(F.lit(0), F.lit(m - 1))))
        .select(
            "vid",
            "sub",
            F.slice("vd", F.col("sub") * dsub + 1, dsub).alias("svd"),
        )
        # Feeds one assignment pass per round plus the final encode.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    seeds = base.orderBy("vid").limit(k).collect()
    if not seeds:
        sv.unpersist(blocking=False)
        return sv.select(
            F.col("vid").alias(id_col), "sub", F.lit(0).cast("int").alias("code")
        ).limit(0)
    books: dict[tuple[int, int], list[float]] = {}
    for code, r in enumerate(seeds):
        d = len(r.vd) // m
        for sub in range(m):
            books[(sub, code)] = list(r.vd[sub * d : (sub + 1) * d])

    def _assign():
        # Literal-codebook argmin (r13 optimization — the kmeans_fit
        # discipline): the codebooks already live on the driver between
        # rounds, so inline them as a literal sub-indexed array of
        # (code, cvec) structs and assign with a pure map over the
        # persisted sub-vector table — no broadcast build, no n·m-row
        # argmin shuffle, no join-back to refetch svd. Subs are 0..m-1
        # contiguous by construction (element_at is 1-based). Falls back
        # to the broadcast m·k-row join past the literal ceiling — a
        # caller-sized codebook, not this gate's m·k=32.
        if sum(len(v) for v in books.values()) <= LITERAL_ARGMIN_MAX_DOUBLES:
            n_subs = 1 + max(s for s, _ in books)
            per_sub = F.array(
                *[
                    F.array(
                        *[
                            F.struct(
                                F.lit(code).cast("int").alias("code"),
                                F.lit(books[(sub, code)])
                                .cast("array<double>")
                                .alias("cvec"),
                            )
                            for code in sorted(c for s, c in books if s == sub)
                        ]
                    )
                    for sub in range(n_subs)
                ]
            )
            best = F.array_min(
                F.transform(
                    F.element_at(per_sub, F.col("sub") + 1),
                    lambda c: F.struct(
                        F.aggregate(
                            F.zip_with(
                                F.col("svd"), c["cvec"], lambda a, b: (a - b) * (a - b)
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ).alias("dist"),
                        c["code"].alias("code"),
                    ),
                )
            )
            return sv.select("vid", "sub", "svd", best["code"].alias("code"))
        cdf = spark.createDataFrame(
            [(sub, code, vec) for (sub, code), vec in books.items()],
            "sub int, code int, cvec array<double>",
        )
        dist = F.aggregate(
            F.zip_with("svd", "cvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (
            sv.join(F.broadcast(cdf), "sub")
            .select("vid", "sub", F.struct(dist.alias("dist"), "code").alias("cand"))
            .groupBy("vid", "sub")
            .agg(F.min("cand").alias("best"))
            .select("vid", "sub", F.col("best.code").alias("code"))
            .join(sv, ["vid", "sub"])
            .select("vid", "sub", "svd", "code")
        )

    def _train_and_encode():
        nonlocal books
        for _ in range(iters):
            assigned = _assign().select("sub", "code", "svd")
            rows = bounded_collect(
                assigned.select("sub", "code", F.posexplode("svd").alias("dim", "v"))
                .groupBy("sub", "code", "dim")
                .agg(
                    (
                        F.sum(F.col("v").cast("decimal(25,6)")).cast("double")
                        / F.count(F.lit(1))
                    ).alias("mn")
                ),
                # one row per (subspace, code, dim) — m*k*dsub codebook cells
                len(books) * max(len(v) for v in books.values()),
                "pq_train codebook update",
            )
            new_books = {key: list(vec) for key, vec in books.items()}
            for r in rows:
                new_books[(r.sub, r.code)][r.dim] = r.mn
            books = new_books
        if codebooks_out is not None:
            codebooks_out.update(books)
        out = _assign().select(F.col("vid").alias(id_col), "sub", "code")
        # The final encode is the cache's last consumer: materialize the
        # narrow (id, sub, code) result — n·m small ints, the whole point
        # of PQ — and release the sub-vector cache instead of leaking it
        # for the session's lifetime. The operator is already eager (one
        # collect per training round).
        return out.localCheckpoint(eager=True)

    if sum(len(v) for v in books.values()) <= LITERAL_ARGMIN_MAX_DOUBLES:
        # Literal-codebook rounds have a fixed, known shape (pure map +
        # m·k·dsub-row partial-aggregated update) — run them under the
        # iterative execution posture (execution.loop_execution: AQE off,
        # shuffle width derived from the codebook cell count; r13
        # optimization, the kmeans_fit discipline). The broadcast
        # fallback keeps AQE for its corpus-sized argmin shuffle.
        from ..execution import loop_execution

        with loop_execution(
            spark, len(books) * max(len(v) for v in books.values())
        ):
            out = _train_and_encode()
    else:
        out = _train_and_encode()
    sv.unpersist(blocking=False)
    return out


def pq_adc_topk(
    codes: DataFrame,
    codebooks: dict,
    query_vec: list[float],
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    exact, every database vector is its reconstruction from ``codebooks``
    (the `pq_train_encode` out-param), and the squared distance is the
    sum over subspaces of a PRE-COMPUTED (sub, code) → partial-distance
    lookup — ``m·k`` driver-side float ops per query, then one broadcast
    equi-join on (sub, code) and one sum per id. No vector arithmetic
    touches the corpus at query time; the codes table (m small ints per
    vector) is all that is scanned — the whole point of PQ at 100 TB.
    """
    spark = codes.sparkSession
    m = 1 + max(sub for sub, _ in codebooks)
    d = sum(len(codebooks[(sub, 0)]) for sub in range(m))
    if len(query_vec) < d:
        raise ValueError(f"query_vec has {len(query_vec)} dims; codebooks span {d}")
    lut, off = [], 0
    for sub in range(m):
        dsub = len(codebooks[(sub, 0)])
        qs = query_vec[off : off + dsub]
        for code in range(1 + max(c for s, c in codebooks if s == sub)):
            cv = codebooks[(sub, code)]
            lut.append(
                (sub, code, float(sum((a - b) * (a - b) for a, b in zip(qs, cv))))
            )
        off += dsub
    ldf = spark.createDataFrame(lut, "sub int, code int, pdist double")
    return (
        codes.join(F.broadcast(ldf), ["sub", "code"])
        .groupBy(id_col)
        # Quantized-exact sum (plans/common.py discipline): the m partial
        # distances arrive in nondeterministic partition order, and a raw
        # double sum would wobble in the low bits run-to-run AND against
        # the SQL oracle. decimal(25,6) partials make the total — and
        # therefore the top-k ORDER — bit-stable everywhere.
        .agg(F.sum(F.col("pdist").cast("decimal(25,6)")).cast("double").alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def _jl_signs(in_dim: int, out_dim: int, seed_tag: str) -> list[list[float]]:
    """Deterministic ±1 projection matrix, out_dim rows × in_dim cols —
    the sign of md5(f"{seed_tag}:{j}:{i}")'s first hex digit's low bit.
    Computed ONCE driver-side and embedded as literals in both the Spark
    plan and the SQL oracle (no runtime hashing; the matrix IS the
    shared constant)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed_tag}:{j}:{i}".encode()).hexdigest()[0], 16) % 2
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int,
    out_dim: int,
    seed_tag: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss sign projection: dim reduction that preserves
    pairwise distances within (1 ± ε) for ε ≈ √(ln n / out_dim) — the
    standard front-end that makes the downstream ANN stack (sign-LSH
    buckets, PQ subspaces, k-means assignment) pay out_dim instead of
    in_dim per comparison at 100 TB. Achlioptas (2003) showed ±1 entries
    suffice; a deterministic md5-derived matrix keeps the engine's
    no-RNG reproducibility discipline.

    Each output component is a sequential left-fold dot with one ±1 row,
    scaled by 1/out_dim^0.5 — here the scale divides by the EXACT integer
    out_dim via sqrt-free (dot/√k)² preserving trick being unnecessary:
    we divide by a Python-computed float sqrt constant, identical in the
    SQL oracle because the literal itself is shared. Narrow, zero
    shuffle, whole-stage codegen.

    Returns (id_col, proj array<double>). Rows whose vector is NULL or
    shorter than ``in_dim`` are dropped (no geometry to project); longer
    vectors project their first ``in_dim`` components.
    """
    signs = _jl_signs(in_dim, out_dim, seed_tag)
    scale = 1.0 / (out_dim ** 0.5)
    v = df.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("_vd"),
    ).filter(F.col("_vd").isNotNull() & (F.size("_vd") >= in_dim))
    comps = [
        (
            F.aggregate(
                F.zip_with(
                    F.slice("_vd", 1, in_dim),
                    F.array(*[F.lit(s) for s in row]),
                    lambda x, r: x * r,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(scale)
        )
        for row in signs
    ]
    return v.select(F.col(id_col), F.array(*comps).alias("proj"))
