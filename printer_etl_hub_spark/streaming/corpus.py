"""Continuous corpus ingestion: the streaming form of the corpus-prep
gates (q81's front half) for a documents STREAM — new crawl shards arrive
continuously, each micro-batch is quality-gated and deduplicated against
every document ever admitted, and survivors append to the training
corpus. Batch-equivalence contract: the SET of admitted content digests
equals the batch pipeline's distinct-digest set over the same rows
(which doc_id represents a digest is arrival-order dependent in a
stream, by nature).

All gates are pure Column expressions (`functions/text.py`) and run
unchanged on a stream; the dedup is Spark's streaming ``dropDuplicates``
state store. Without a watermark that state grows with the distinct
corpus forever — correct for dedup-against-all-history, and the state is
just the digest set (32 chars/doc: ~3 GiB per 100 M docs, RocksDB-backed
on a real cluster). Pass ``dedup_ttl`` + an event-time column to switch
to ``dropDuplicatesWithinWatermark`` when dedup-within-horizon is enough.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..bounded import bounded_collect
from ..functions.text import quality_features, tokenize


def _read_history(spark, path: str, batch_id: int) -> DataFrame | None:
    """Stored-index history read for an ingest sink, excluding the batch's
    own partition (re-delivery idempotence — the partition may already
    hold this batch's rows). Returns ``None`` ONLY when the index
    genuinely does not exist yet (first batch). Every OTHER failure —
    transient FS error, corrupt footer, permission problem — re-raises
    so the batch FAILS and retries, instead of silently treating a
    readable-but-broken history as empty and permanently dropping that
    batch's cross-batch pairs from the log (the exactly-once contract
    depends on each pair being discovered in its later member's batch;
    there is no second chance)."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException as exc:
        get_code = getattr(exc, "getCondition", None) or exc.getErrorClass
        code = get_code() or ""
        if code in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA") or (
            not code and "Path does not exist" in str(exc)
        ):
            return None
        raise
    return df.filter(F.col("batch_id") != F.lit(int(batch_id)))


def corpus_ingest_stream(
    docs: DataFrame,
    min_quality: float = 0.45,
    dedup_ttl: str | None = None,
    ts_col: str = "ingest_ts",
) -> DataFrame:
    """Quality-gate + streaming exact-dedup over a documents stream.

    Emits one row per first-seen content digest that passes the quality
    gate: (doc_id, dig, n_tokens, quality_score). Works identically on a
    batch frame (dropDuplicates degrades to the batch operator), which is
    what the equivalence test pins.
    """
    staged = docs.select(
        "doc_id", "text", tokenize(F.col("text")).alias("toks"),
        *([ts_col] if dedup_ttl is not None else []),
    )
    feats = quality_features(F.col("text"), F.col("toks"))
    gated = staged.select(
        "doc_id",
        F.md5(F.col("text")).alias("dig"),
        feats["n_tokens"].alias("n_tokens"),
        feats["quality_score"].alias("quality_score"),
        *([ts_col] if dedup_ttl is not None else []),
    ).filter(F.col("quality_score") >= min_quality)
    if dedup_ttl is not None:
        return gated.withWatermark(ts_col, dedup_ttl).dropDuplicatesWithinWatermark(
            ["dig"]
        )
    return gated.dropDuplicates(["dig"])


def minhash_ingest_sink(
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    min_quality: float | None = None,
    max_bucket: int | None = None,
):
    """foreachBatch sink: NEAR-dup ingest against a stored MinHash band
    index — the streaming form of the q108 batch flow (`operators/
    dedup.py::minhash_band_index` + `minhash_index_join`).

    Per micro-batch, in this order:
    1. optional quality gate (same Column gates as `corpus_ingest_stream`);
    2. the batch's band index (cost tracks the BATCH, never the corpus);
    3. cross pairs: batch index equi-joined against the STORED index —
       history never pays its own fan-out;
    4. in-batch pairs: bucket pairs within the batch's own index
       (`minhash_index_pairs`);
    5. append the batch's index rows and the discovered pairs.

    Because the stored-index join runs BEFORE the batch's rows are
    appended, every unordered pair is discovered exactly once — in the
    batch where its LATER member arrives — so the pair log needs no
    cross-batch dedup. Equivalence contract (pinned by
    ``tests/test_streaming.py``): after any partitioning of a corpus
    into micro-batches, the pair-log set equals
    ``minhash_lsh_pairs(whole_corpus)`` and the stored index equals
    ``minhash_band_index(whole_corpus)``.

    ``max_bucket`` caps bucket fan-out using counts over the COMBINED
    corpus-so-far index (batch ∪ stored history), so a hot bucket never
    fans out against history. Exact stream≡batch equivalence holds at
    ``max_bucket=None``; with a cap, corpus-so-far counts are ≤ the
    final batch-run counts, so the stream's pair log is a superset of
    the capped batch run's (equal whenever each bucket crosses the cap
    before its first surviving pair member arrives).

    Exactly-once on at-least-once delivery: each batch writes its rows
    under ``<dir>/batch_id=<n>`` with overwrite, so a foreachBatch
    re-delivery after restart replaces its own partition instead of
    appending duplicates (the same idempotence idiom as the MERGE sink).
    Downstream keeper selection (connected components over the pair log
    → min-id keeper) stays a batch-side concern: the log is the durable
    artifact, survivorship is a projection over it.

    Scale: the stored index is the artifact you bucket by ``band_key``
    on a real cluster so step 3 is a co-located join; per-batch cost is
    batch-signature build + one equi-join whose probe side is the batch.
    """
    from ..operators.dedup import (
        minhash_band_index,
        minhash_index_join,
        minhash_index_pairs,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df
        if min_quality is not None:
            feats = quality_features(
                F.col(text_col), tokenize(F.col(text_col))
            )
            docs = docs.filter(feats["quality_score"] >= F.lit(min_quality))
        idx = minhash_band_index(
            docs, id_col, text_col, k=k, bands=bands, shingle_n=shingle_n
        ).localCheckpoint(eager=True)  # feeds 3 consumers; batch-sized
        hist = _read_history(spark, index_dir, batch_id)
        if hist is not None:
            hist = hist.select(id_col, "band_id", "band_key")
        inb_idx, cross_new, cross_hist = idx, idx, hist
        if max_bucket is not None:
            # Bucket cap over the COMBINED corpus-so-far index (batch ∪
            # stored history): a bucket that went hot in an earlier batch
            # must not fan out against every future batch — capping only
            # the in-batch side (the pre-r6 behavior) left the history
            # cross join quadratic in the stored bucket size. Counts are
            # corpus-so-far, so the capped stream mirrors the batch
            # ``minhash_lsh_pairs(corpus, max_bucket)`` semantics as the
            # counts converge (exact equivalence holds at
            # max_bucket=None, or whenever a bucket crosses the cap
            # before its first surviving pair member arrives).
            combined = idx.select("band_id", "band_key")
            if hist is not None:
                combined = combined.unionByName(hist.select("band_id", "band_key"))
            keep = (
                combined.groupBy("band_id", "band_key")
                .agg(F.count(F.lit(1)).alias("n_docs"))
                .filter(F.col("n_docs") <= max_bucket)
                .select("band_id", "band_key")
            )
            inb_idx = idx.join(keep, ["band_id", "band_key"], "left_semi")
            cross_new = inb_idx
            if hist is not None:
                cross_hist = hist.join(keep, ["band_id", "band_key"], "left_semi")
        if cross_hist is not None:
            # Pin both sides of the quadratic-output bucket join: AQE
            # sizes the post-shuffle read by the (small) index input and
            # would coalesce the pair fan-out onto 1-2 tasks.
            n_part = spark.sparkContext.defaultParallelism
            cross = (
                minhash_index_join(
                    cross_new.repartition(n_part, F.col("band_key")),
                    cross_hist.repartition(n_part, F.col("band_key")),
                    new_id="_n",
                    hist_id="_h",
                )
                .select(
                    F.least("_n", "_h").alias("a_id"),
                    F.greatest("_n", "_h").alias("b_id"),
                )
                .distinct()
            )
        else:
            cross = None
        inb = minhash_index_pairs(inb_idx)
        pairs = inb if cross is None else inb.unionByName(cross).distinct()
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch_id={batch_id}")
        idx.write.mode("overwrite").parquet(f"{index_dir}/batch_id={batch_id}")

    return _sink


def winnow_ingest_sink(
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    min_quality: float | None = None,
    max_bucket: int | None = None,
):
    """foreachBatch sink: incremental WINNOWING match against a stored
    fingerprint index — the substring-level sibling of
    ``minhash_ingest_sink`` (that one catches whole-document near-dups;
    this one catches copied REGIONS, the plagiarism/boilerplate-reuse
    signal, via `operators/dedup.py::winnow_fingerprints`).

    Per micro-batch: optional quality gate; the batch's distinct
    (doc, fp_hash) fingerprint set (zero-shuffle op, cost tracks the
    batch); cross matches = batch fingerprints equi-joined against the
    STORED index grouped to pair counts (history never pays its own
    fan-out, and because the earlier member's FULL fingerprint set is
    already stored, the pair's n_shared is complete in the batch where
    its later member arrives — so the match log needs no cross-batch
    merge); in-batch matches the same way within the batch; append the
    batch's fingerprints and matches under ``batch_id=<n>`` partitions
    with overwrite (the re-delivery idempotence idiom shared by every
    sink here, and the reason the history read excludes the batch's own
    partition).

    Equivalence contract (pinned by ``tests/test_streaming.py``): after
    any micro-batch partitioning, the match log equals
    ``winnow_match_pairs(whole_corpus)`` with the same (k, w,
    min_shared), and the stored fingerprint set equals the one-shot
    ``winnow_fingerprints`` distinct-hash set.

    ``max_bucket`` drops stop-fingerprints using document counts over
    the COMBINED corpus-so-far set (batch ∪ stored history) — the 10x
    audit measured ~650 M projected pairs for the uncapped batch
    sibling vs 2.58 M capped, and a hot fingerprint in the STORED index
    is exactly the shape that otherwise fans out against every future
    batch. Same cap-equivalence caveat as ``minhash_ingest_sink``:
    exact stream≡batch equality at ``max_bucket=None``; under a cap the
    stream's log is a superset of the capped batch run's.
    """
    from ..operators.dedup import winnow_fingerprints

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df
        if min_quality is not None:
            feats = quality_features(F.col(text_col), tokenize(F.col(text_col)))
            docs = docs.filter(feats["quality_score"] >= F.lit(min_quality))
        fpb = (
            winnow_fingerprints(docs, id_col, text_col, k=k, w=w)
            .select(id_col, "fp_hash")
            .distinct()
            .localCheckpoint(eager=True)  # feeds history join, self join, write
        )
        hist = _read_history(spark, index_dir, batch_id)
        if hist is not None:
            hist = hist.select(F.col(id_col).alias("_h"), "fp_hash")
        fpb_j, hist_j = fpb, hist
        if max_bucket is not None:
            # Stop-fingerprint cap over the COMBINED corpus-so-far set
            # (batch ∪ stored history), mirroring the batch operator's
            # ``winnow_match_pairs(max_bucket=...)``: a boilerplate
            # fingerprint that accumulated in the stored index must not
            # fan out against every future batch (the 10x audit measured
            # ~650 M projected pairs uncapped vs 2.58 M capped for the
            # batch sibling).
            combined = fpb.select("fp_hash")
            if hist is not None:
                combined = combined.unionByName(hist.select("fp_hash"))
            keep = (
                combined.groupBy("fp_hash")
                .agg(F.count(F.lit(1)).alias("n_docs"))
                .filter(F.col("n_docs") <= max_bucket)
                .select("fp_hash")
            )
            fpb_j = fpb.join(keep, "fp_hash", "left_semi")
            if hist is not None:
                hist_j = hist.join(keep, "fp_hash", "left_semi")
        # Pin every side of the quadratic-output fingerprint joins: AQE
        # sizes the post-shuffle read by the (small) fingerprint input
        # and would coalesce the pair fan-out onto 1-2 tasks (the same
        # shape fix as the batch winnow_match_pairs).
        n_part = spark.sparkContext.defaultParallelism
        if hist_j is not None:
            cross = (
                fpb_j.select(F.col(id_col).alias("_n"), "fp_hash")
                .repartition(n_part, F.col("fp_hash"))
                .join(hist_j.repartition(n_part, F.col("fp_hash")), "fp_hash")
                .groupBy("_n", "_h")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
                .filter(F.col("n_shared") >= min_shared)
                .select(
                    F.least("_n", "_h").alias("a_id"),
                    F.greatest("_n", "_h").alias("b_id"),
                    "n_shared",
                )
            )
        else:
            cross = None
        ina = fpb_j.select(F.col(id_col).alias("a_id"), "fp_hash").repartition(
            n_part, F.col("fp_hash")
        )
        inb_side = fpb_j.select(F.col(id_col).alias("b_id"), "fp_hash").repartition(
            n_part, F.col("fp_hash")
        )
        inb = (
            ina.join(inb_side, "fp_hash")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )
        pairs = inb if cross is None else inb.unionByName(cross)
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch_id={batch_id}")
        fpb.write.mode("overwrite").parquet(f"{index_dir}/batch_id={batch_id}")

    return _sink


def exactsubstr_ingest_sink(
    postings_dir: str,
    dup_dir: str,
    spans_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    min_docs: int = 2,
):
    """foreachBatch sink: incremental ExactSubstr duplicated-span
    discovery against all history — the streaming twin of
    `operators/dedup.py::exactsubstr_excise` (Lee et al. 2022 §4.1),
    sharing its tokenize/window-hash construction verbatim. The
    substring-EXCISION sibling of `winnow_ingest_sink` (which detects
    shared regions but never excises): as crawl shards arrive, every
    k-token window that becomes verbatim-duplicated across ≥ min_docs
    distinct documents is logged — for EVERY document that carries it,
    including documents ingested long before their duplicate arrived.

    Three stores, all ``batch_id=<n>`` partitions written with overwrite
    (the shared re-delivery idempotence idiom — each batch's output is a
    deterministic function of the batch rows + PRIOR-batch history, so a
    re-delivered batch rewrites identical content):

    - ``postings_dir``: (doc_id, i, gh) window-hash postings per batch;
    - ``dup_dir``: hashes that CROSSED the min_docs threshold in this
      batch (a hash can only cross in a batch that contains it — df over
      distinct docs is monotone in arrivals);
    - ``spans_dir``: the duplicated-window log. Per batch it appends (a)
      every occurrence — historical AND new — of a NEWLY-crossed hash,
      and (b) the batch's own occurrences of hashes already in the dup
      store (third-and-later duplicates). The two legs are disjoint, so
      every duplicated occurrence is logged exactly once, in the batch
      where its hash's duplication became known.

    Equivalence contract (tests/test_streaming.py): after any micro-batch
    partitioning, the accumulated spans log equals the batch operator's
    duplicated-window occurrence set, so
    ``exactsubstr_from_spans(corpus, ..., spans)`` reproduces
    ``exactsubstr_excise(corpus)`` row-for-row.

    Cost shape per batch: the batch pays its own token-mass-linear
    window expansion; history is touched only through hash-keyed joins
    against the batch's hash set (the winnow-sink discipline — history
    never pays its own fan-out), plus one full-history distinct-doc
    count restricted to batch hashes. Out-of-order arrival is a
    non-event: df counts and span logs are order-independent sets.
    """
    from ..operators.dedup import _es_base, _es_postings

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        pb = (
            _es_postings(_es_base(batch_df, id_col, text_col), k)
            # feeds the df-count, both span legs, and its own store write
            .localCheckpoint(eager=True)
        )
        hist = _read_history(spark, postings_dir, batch_id)
        dup_hist = _read_history(spark, dup_dir, batch_id)
        batch_h = pb.select("gh").distinct()
        occ = pb.select("_id", "gh")
        hist_m = None
        if hist is not None:
            hist_m = (
                hist.select(F.col("_id"), "i", "gh")
                .join(batch_h, "gh", "left_semi")
                .localCheckpoint(eager=True)  # feeds df-count + span leg (a)
            )
            occ = occ.unionByName(hist_m.select("_id", "gh"))
        crossed = (
            occ.groupBy("gh")
            .agg(F.count_distinct("_id").alias("doc_df"))
            .filter(F.col("doc_df") >= min_docs)
            .select("gh")
        )
        if dup_hist is not None:
            dup_prev = dup_hist.select("gh")
            newly = crossed.join(dup_prev, "gh", "left_anti")
            # leg (b): batch occurrences of already-duplicated hashes
            reoccur = pb.join(dup_prev, "gh", "left_semi")
        else:
            newly = crossed
            reoccur = None
        newly = newly.localCheckpoint(eager=True)  # feeds 2-3 joins + write
        spans = pb.join(newly, "gh", "left_semi")
        if hist_m is not None:
            spans = spans.unionByName(hist_m.join(newly, "gh", "left_semi"))
        if reoccur is not None:
            spans = spans.unionByName(reoccur)
        spans.select(
            F.col("_id").alias(id_col), "i", "gh"
        ).write.mode("overwrite").parquet(f"{spans_dir}/batch_id={batch_id}")
        newly.write.mode("overwrite").parquet(f"{dup_dir}/batch_id={batch_id}")
        pb.select(F.col("_id"), "i", "gh").write.mode("overwrite").parquet(
            f"{postings_dir}/batch_id={batch_id}"
        )

    return _sink


def edit_ingest_sink(
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    len_bucket: int = 32,
    prefix_len: int = 8,
    rel_pct: int = 10,
    min_quality: float | None = None,
    max_block: int | None = None,
):
    """foreachBatch sink: incremental BLOCKED-EDIT-DISTANCE near-dup
    ingest against a stored block index — the string-metric sibling of
    ``minhash_ingest_sink`` (q257's incremental twin, VERDICT r10 #5):
    catches the char-level typo/OCR-noise duplicate class whose single
    edits rewrite whole shingles.

    Per micro-batch: optional quality gate; the batch's block rows
    ((⌊len/len_bucket⌋, first-prefix_len-chars) key + normalized text —
    cost tracks the BATCH); cross pairs = batch rows equi-joined
    against the STORED index on the block key with the integer
    Levenshtein gate ``dist·100 ≤ rel_pct·max(len)`` (history never
    pays its own fan-out, and a pair is discovered exactly once — in
    the batch where its LATER member arrives, because the stored side
    is read BEFORE this batch's rows are appended); in-batch pairs the
    same way within the batch; append block rows and pairs under
    ``batch_id=<n>`` partitions with overwrite (the re-delivery
    idempotence idiom shared by every sink here).

    A pair can live in only ONE block (the block key is a function of
    the document), so the pair log needs no distinct — unlike the
    banded MinHash sink.

    ``max_block`` drops hot blocks using document counts over the
    COMBINED corpus-so-far set (batch ∪ stored history) — the
    stop-block rule matters MORE here than anywhere else in the family
    because the comparator is O(len²) per pair (the 10× wave-26 audit).
    Same cap-equivalence caveat as ``minhash_ingest_sink``: exact
    stream≡batch pair-set equality at ``max_block=None``; under a cap
    the stream's log is a superset of the capped batch run's (equal
    whenever a block crosses the cap before its first surviving pair
    member arrives).

    Both sides of the pair join are repartitioned on the block key and
    thereby opted out of AQE coalescing (`edit_distance_pairs`' rule):
    AQE sizes the post-shuffle read by the small block-row input and
    would pack the quadratic fan-out — and its O(len²)-per-pair
    comparator, invisible to byte-based sizing — onto 1-2 tasks.

    Equivalence contract (tests/test_streaming.py): after any
    micro-batch partitioning, the pair log equals
    ``edit_distance_pairs(whole_corpus)`` with the same parameters,
    and the stored block rows equal the one-shot normalization.
    """

    def _block_rows(docs: DataFrame) -> DataFrame:
        norm = F.lower(F.trim(F.col(text_col)))
        return docs.select(
            F.col(id_col).alias("_id"),
            norm.alias("t"),
            F.length(norm).alias("ln"),
            F.floor(F.length(norm) / F.lit(len_bucket)).cast("int").alias("lb"),
            F.substring(norm, 1, prefix_len).alias("pf"),
        )

    def _pairs(a: DataFrame, b: DataFrame, in_batch: bool) -> DataFrame:
        n_part = a.sparkSession.sparkContext.defaultParallelism
        aa = a.select(
            "lb", "pf", F.col("_id").alias("x_id"), F.col("t").alias("tx"),
            F.col("ln").alias("lx"),
        ).repartition(n_part, F.col("lb"), F.col("pf"))
        bb = b.select(
            "lb", "pf", F.col("_id").alias("y_id"), F.col("t").alias("ty"),
            F.col("ln").alias("ly"),
        ).repartition(n_part, F.col("lb"), F.col("pf"))
        j = aa.join(bb, ["lb", "pf"])
        j = j.filter(
            F.col("x_id") < F.col("y_id")
            if in_batch
            else F.col("x_id") != F.col("y_id")
        )
        dist = F.levenshtein(F.col("tx"), F.col("ty"))
        len_max = F.greatest(F.col("lx"), F.col("ly"))
        return j.select(
            F.least("x_id", "y_id").alias("a_id"),
            F.greatest("x_id", "y_id").alias("b_id"),
            dist.cast("bigint").alias("dist"),
            len_max.cast("bigint").alias("len_max"),
        ).filter(F.col("dist") * 100 <= F.lit(rel_pct) * F.col("len_max"))

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df
        if min_quality is not None:
            feats = quality_features(F.col(text_col), tokenize(F.col(text_col)))
            docs = docs.filter(feats["quality_score"] >= F.lit(min_quality))
        rows = _block_rows(docs).localCheckpoint(eager=True)  # 3 consumers
        hist = _read_history(spark, index_dir, batch_id)
        if hist is not None:
            hist = hist.select("_id", "t", "ln", "lb", "pf")
        new_rows, hist_rows = rows, hist
        if max_block is not None:
            combined = rows.select("lb", "pf")
            if hist is not None:
                combined = combined.unionByName(hist.select("lb", "pf"))
            keep = (
                combined.groupBy("lb", "pf")
                .agg(F.count(F.lit(1)).alias("n_docs"))
                .filter(F.col("n_docs") <= max_block)
                .select("lb", "pf")
            )
            new_rows = rows.join(keep, ["lb", "pf"], "left_semi")
            if hist is not None:
                hist_rows = hist.join(keep, ["lb", "pf"], "left_semi")
        pairs = _pairs(new_rows, new_rows, in_batch=True)
        if hist_rows is not None:
            pairs = pairs.unionByName(_pairs(new_rows, hist_rows, in_batch=False))
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch_id={batch_id}")
        rows.write.mode("overwrite").parquet(f"{index_dir}/batch_id={batch_id}")

    return _sink


def _list_partial_store(spark, store_dir: str):
    """(newest base stamp or None, sorted live partial ids, all dirs) for
    a batch_id-partitioned partial store with ``base-<n>`` compaction
    generations. The READ RULE — newest COMMITTED base plus numeric
    partials with id > its stamp — is what makes compaction idempotent
    and crash-safe (see ewma_daily_sink's docstring).

    A base counts as committed only if its ``_SUCCESS`` marker exists
    (ADVICE r9: Spark's overwrite write is not atomic, so a crash
    DURING the base write leaves a torn dir that would otherwise
    become the newest base, shadow the re-delivered batch's partial,
    and silently serve incomplete history). Markerless base dirs are
    stale: invisible to the read rule here, swept — like every other
    non-current dir — by the next compaction's cleanup pass. Partials
    need no marker: a torn partial can only be the in-flight batch,
    which Structured Streaming re-delivers, and the sink overwrites a
    partial's own dir before any read includes it."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(store_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return None, [], []
    names = [st.getPath().getName() for st in fs.listStatus(path)]
    bases, partials = [], []
    for nm in names:
        if not nm.startswith("batch_id="):
            continue
        val = nm.split("=", 1)[1]
        if val.startswith("base-"):
            marker = jvm.org.apache.hadoop.fs.Path(f"{store_dir}/{nm}/_SUCCESS")
            if fs.exists(marker):
                bases.append(int(val[5:]))
        else:
            partials.append(int(val))
    base = max(bases) if bases else None
    live = sorted(i for i in partials if base is None or i > base)
    return base, live, names


def _delete_store_dirs(spark, store_dir: str, names) -> None:
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for nm in names:
        p = jvm.org.apache.hadoop.fs.Path(f"{store_dir}/{nm}")
        p.getFileSystem(conf).delete(p, True)


def _read_store(
    spark,
    store_dir: str,
    upto_exclusive: int | None = None,
    with_batch_id: bool = False,
):
    """Read a ``base-<n>``-compacted partial store under the newest-base
    + live-partials rule (optionally only partials with id <
    ``upto_exclusive`` — the prior-history read a state-dependent sink
    needs for re-delivery safety). With ``with_batch_id`` the frame
    carries an effective bigint recency column: base rows enter at the
    stamp, which every live partial postdates by construction. Returns
    ``None`` when the store holds nothing in range.

    A cutoff can only restrict the LIVE partials — the base fold is
    all-or-nothing. _compact_store's prior-only fold guarantees every
    base stamp < any re-deliverable batch id, so a cutoff at or below
    the base stamp means the caller broke that invariant and would
    silently read post-cutoff history out of the fold; fail loudly
    instead (ADVICE r11 #2)."""
    base, live, _ = _list_partial_store(spark, store_dir)
    if upto_exclusive is not None:
        if base is not None and base >= upto_exclusive:
            raise ValueError(
                f"_read_store({store_dir}): upto_exclusive={upto_exclusive} "
                f"is not after the base fold stamp {base}; the base would "
                "serve history newer than the cutoff. Re-delivery reads "
                "must only ever cut at ids newer than every fold."
            )
        live = [i for i in live if i < upto_exclusive]
    frames = []
    if base is not None:
        df = spark.read.parquet(f"{store_dir}/batch_id=base-{base}")
        if with_batch_id:
            df = df.withColumn("batch_id", F.lit(int(base)).cast("bigint"))
        frames.append(df)
    if live:
        df = spark.read.option("basePath", store_dir).parquet(
            *[f"{store_dir}/batch_id={i}" for i in live]
        )
        if with_batch_id:
            df = df.withColumn("batch_id", F.col("batch_id").cast("bigint"))
        else:
            df = df.drop("batch_id")
        frames.append(df)
    if not frames:
        return None
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr, allowMissingColumns=False)
    return out


def _write_late_marker(spark, out_dir: str, batch_id: int, n_late: int) -> None:
    """Record a per-batch late-event count under ``<out_dir>/late/``.

    The journey sinks (attribution, sequential patterns) document an
    ordered-arrival contract they cannot enforce: an event whose ts
    precedes its user's stored last-seen ts was processed out of order
    and the maintained table may silently diverge from the batch
    operator. The counter makes a violated contract OBSERVABLE
    (VERDICT r11 #3) — km_sink stays the only order-insensitive member
    by construction. One ``batch_id=<n>`` overwrite partition per
    batch, so re-delivery rewrites the identical marker; monitoring
    reads the total via :func:`read_late_total` (the batch id rides as
    the discovered partition column, never a data column — the two
    would collide on a parent-directory read).

    The marker dir is itself a compacting store: counts are mergeable
    sums, so the caller folds it with ``_compact_store`` on the same
    cadence as its state stores — without that, the stream accrues one
    marker file per micro-batch forever (the same lifetime-growth
    defect ADVICE r8/r10 had the data stores fix)."""
    spark.createDataFrame(
        [(int(n_late),)], "n_late bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/late/batch_id={batch_id}"
    )


def _compact_late(spark, out_dir: str, batch_id: int, compact_every: int) -> None:
    """Fold the late-marker partials (prior-only, the shared protocol):
    the folded base row carries the SUM of all folded batches' counts."""
    _compact_store(
        spark, f"{out_dir}/late", batch_id, compact_every,
        lambda: _read_store(spark, f"{out_dir}/late", batch_id).agg(
            F.sum("n_late").cast("bigint").alias("n_late")
        ),
    )


def read_late_total(spark, out_dir: str) -> int:
    """Total late-event count under the newest-base + live-partials
    read rule (NOT a raw parent-directory read, which double-counts
    folded partials a crash left behind before the sweep). 0 for a
    store that has never seen a batch."""
    df = _read_store(spark, f"{out_dir}/late")
    if df is None:
        return 0
    row = bounded_collect(
        df.agg(F.sum("n_late").alias("t")), 1, "read_late_total"
    )[0]
    return int(row.t or 0)


def _compact_store(spark, store_dir: str, batch_id: int, compact_every: int,
                   fold_fn) -> None:
    """Fold partials with id strictly BEFORE ``batch_id`` into a
    ``base-<stamp>`` generation once ``compact_every`` of them are
    live, then sweep folded and stale dirs. The fold never includes the
    current batch, so a re-delivered batch can still read the exact
    prior-only history (see ``attribution_sink``'s docstring for the
    stamp argument). ``fold_fn()`` must return the folded frame
    computed from the pre-fold read rule (base + prior partials)."""
    base, live, _ = _list_partial_store(spark, store_dir)
    prior = [i for i in live if i < batch_id]
    if len(prior) < compact_every:
        return
    stamp = max(prior)
    fold_fn().write.mode("overwrite").parquet(
        f"{store_dir}/batch_id=base-{stamp}"
    )
    _, _, names = _list_partial_store(spark, store_dir)
    keep = {f"batch_id=base-{stamp}"} | {
        f"batch_id={i}" for i in live if i >= batch_id
    }
    stale = [nm for nm in names if nm.startswith("batch_id=") and nm not in keep]
    _delete_store_dirs(spark, store_dir, stale)


def _daily_store_sink(
    daily_dir: str,
    out_dir: str,
    views: dict,
    ts_col: str = "ts",
    compact_every: int = 64,
    filter_null_ts: bool = True,
):
    """Shared builder behind the daily-store analytics sinks (EWMA,
    Holt, Holt-Winters, weekly Wilcoxon, Pettitt): per batch, the batch
    collapses to per-day PARTIAL counts under ``batch_id=<n>``
    (overwrite — re-delivery idempotence), the store re-aggregates
    (Σ partials per day, folding into a ``base-<n>`` + ``_SUCCESS``
    generation every ``compact_every`` live partials — the shared
    protocol documented on `ewma_daily_sink`), and every entry of
    ``views`` (subdir name → callable over the |days|-bounded daily
    frame, returning a DataFrame or ``(DataFrame, pin-or-pins)``)
    recomputes into ``<out_dir>/<name>``. Factored in round 12 — five
    sinks carried byte-identical copies of this body, and a fix to the
    store protocol had to be applied five times."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        src = batch_df
        if filter_null_ts:
            # ts IS NOT NULL: the holt/HW/wilcoxon/pettitt batch twins
            # pin this filter; q228/q230 (ewma/cusum) do NOT — they keep
            # the NULL-day group, so their sink must too
            src = src.filter(F.col(ts_col).isNotNull())
        partial = (
            src.select(F.date_trunc("day", F.col(ts_col)).cast("date").alias("day"))
            .groupBy("day")
            .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        )
        partial.write.mode("overwrite").parquet(f"{daily_dir}/batch_id={batch_id}")
        base, live, _ = _list_partial_store(spark, daily_dir)
        paths = [f"{daily_dir}/batch_id=base-{base}"] if base is not None else []
        paths += [f"{daily_dir}/batch_id={i}" for i in live]
        daily = (
            spark.read.parquet(*paths)
            .groupBy("day")
            .agg(F.sum("x").cast("bigint").alias("x"))
        )
        if len(live) >= compact_every:
            # Fold base + live partials (this batch included) into ONE
            # new base stamped with this batch id, then sweep EVERY
            # older dir — stale bases and shadowed partials included.
            # (Folding the current batch is safe HERE, unlike the
            # state-dependent sinks: per-day counts are pure merges and
            # a re-delivered batch's partial overwrite is shadowed by
            # the base that already contains it — counted exactly once
            # either way.)
            daily.write.mode("overwrite").parquet(
                f"{daily_dir}/batch_id=base-{batch_id}"
            )
            _, _, names = _list_partial_store(spark, daily_dir)
            stale = [
                nm
                for nm in names
                if nm.startswith("batch_id=") and nm != f"batch_id=base-{batch_id}"
            ]
            _delete_store_dirs(spark, daily_dir, stale)
            daily = spark.read.parquet(f"{daily_dir}/batch_id=base-{batch_id}")
        for name, fn in views.items():
            out = fn(daily)
            pins = []
            if isinstance(out, tuple):
                out, p = out
                pins = p if isinstance(p, list) else [p]
            out.write.mode("overwrite").parquet(f"{out_dir}/{name}")
            for p in pins:
                p.unpersist(blocking=False)

    return _sink


def ewma_daily_sink(
    daily_dir: str, out_dir: str, ts_col: str = "ts", compact_every: int = 64
):
    """foreachBatch sink: incrementally-maintained EWMA volume-anomaly
    table — the streaming twin of q228 (plans/relational.py), sharing
    its arithmetic verbatim via ``operators/timeseries.py``.

    Per micro-batch:
    1. the batch collapses to per-day PARTIAL counts (cost tracks the
       batch; raw events never accumulate);
    2. the partials land under ``<daily_dir>/batch_id=<n>`` with
       overwrite — the same exactly-once-on-at-least-once idiom as the
       MERGE/minhash sinks (a re-delivered batch replaces its own
       partition instead of double-counting);
    3. the daily store re-aggregates (Σ partials per day) and the TWO
       anomaly views recompute off it: ``ewma_anomaly_table`` →
       ``<out_dir>/current`` and ``cusum_table`` (q230's changepoint
       scan) → ``<out_dir>/cusum``.

    COMPACTION (ADVICE r8 #2 — without it the partial store grows one
    partition per micro-batch forever, so per-batch re-aggregation cost
    and file counts grow linearly with stream LIFETIME): once
    ``compact_every`` live partial partitions accumulate, the
    aggregated daily table is rewritten under a single reserved
    ``batch_id=base-<n>`` partition and the folded partials deleted, so
    steady-state read cost is |days| + ≤compact_every partials.
    Idempotence survives compaction because the READ rule, not the
    directory state, defines the store: only the NEWEST base plus
    numeric partials with id > that base's stamp are read. Structured
    Streaming re-delivers only the latest incomplete batch, and any
    base-<n> was written while batch n was in flight, so a re-delivered
    batch id is ≥ every base stamp: its partial overwrite either stays
    live (id > stamp, counted once from the partial) or is shadowed
    (id = stamp, counted once from the base). A crash between the
    base write and the partial deletes leaves stale dirs the read rule
    already ignores; a crash DURING the base write leaves a torn base
    with no ``_SUCCESS`` marker, which the read rule treats as absent
    (the prior base + partials still cover all history, since deletes
    only happen after the write commits). Both kinds of leftover are
    swept on the next compaction.

    Equivalence contract (tests/test_streaming.py): after any
    partitioning of an event set into micro-batches — compaction
    triggered or not — the final current table equals q228's batch
    output and the cusum table equals q230's, over the same rows.
    """
    from ..operators.timeseries import cusum_table, ewma_anomaly_table

    return _daily_store_sink(
        daily_dir, out_dir,
        {"current": ewma_anomaly_table, "cusum": cusum_table},
        ts_col=ts_col, compact_every=compact_every,
        # q228/q230 keep the NULL-day group — match the batch twins
        filter_null_ts=False,
    )


def holt_daily_sink(
    daily_dir: str, out_dir: str, ts_col: str = "ts", compact_every: int = 64
):
    """foreachBatch sink: incrementally-maintained Holt linear-trend
    table — the streaming twin of q258 (plans/relational.py), sharing
    its fold verbatim via `operators/timeseries.py::holt_table`. The
    trend-aware sibling of `ewma_daily_sink`: same per-day partial
    counts, same ``batch_id=<n>`` overwrite idempotence, same
    newest-base + ``_SUCCESS``-marker read rule and compaction protocol
    — only the view recomputed off the daily store differs (forecast +
    residual instead of EWMA ratio). Writes ``<out_dir>/current``.

    The recurrence consumes the WHOLE |days|-bounded daily series each
    batch (Holt is sequential by definition — an incremental level/trend
    checkpoint would break on late data rewriting an old day, which the
    daily store accepts by design), so per-batch view cost is O(|days|)
    after the store read: the same cost class as the EWMA/CUSUM views.

    Equivalence contract (tests/test_streaming.py): after any
    partitioning of an event set into micro-batches — compaction
    triggered or not — the final current table equals q258's batch
    output over the same rows.
    """
    from ..operators.timeseries import holt_table

    return _daily_store_sink(
        daily_dir, out_dir, {"current": holt_table},
        ts_col=ts_col, compact_every=compact_every,
    )


def wilcoxon_weekly_sink(
    daily_dir: str, out_dir: str, ts_col: str = "ts", compact_every: int = 64
):
    """foreachBatch sink: incrementally-maintained week-over-week
    Wilcoxon signed-rank table — the streaming twin of q282
    (plans/relational.py), sharing its statistic arithmetic verbatim
    via `operators/timeseries.py::wilcoxon_weekly_table`. Same per-day
    partial counts, ``batch_id=<n>`` overwrite idempotence, newest-base
    + ``_SUCCESS`` read rule and compaction protocol as the ewma/holt
    family — and like them ORDER-INSENSITIVE (per-day counts are
    mergeable sums; the statistic recomputes off the |days|-bounded
    store each batch). Writes ``<out_dir>/current``.

    Equivalence contract (tests/test_streaming.py): after ANY
    partitioning of an event set into micro-batches — ordered or not,
    compaction triggered or not — the final current table equals q282's
    batch output over the same rows.
    """
    from ..operators.timeseries import wilcoxon_weekly_table

    return _daily_store_sink(
        daily_dir, out_dir, {"current": wilcoxon_weekly_table},
        ts_col=ts_col, compact_every=compact_every,
    )


def pettitt_daily_sink(
    daily_dir: str, out_dir: str, ts_col: str = "ts", compact_every: int = 64
):
    """foreachBatch sink: incrementally-maintained Pettitt changepoint
    table — the streaming twin of q289 (plans/relational.py), sharing
    its statistic verbatim via `operators/timeseries.py::pettitt_table`
    on the shared daily-store protocol (`_daily_store_sink`). Like the
    rest of the daily family it is ORDER-INSENSITIVE: per-day counts
    are mergeable sums and the whole statistic recomputes off the
    |days|-bounded store each batch. Writes ``<out_dir>/current``.

    Equivalence contract (tests/test_streaming.py): after ANY
    partitioning — ordered or not, compaction triggered or not — the
    final current table equals q289's batch output over the same rows.
    """
    from ..operators.timeseries import pettitt_table

    return _daily_store_sink(
        daily_dir, out_dir, {"current": pettitt_table},
        ts_col=ts_col, compact_every=compact_every,
    )


def holt_winters_daily_sink(
    daily_dir: str, out_dir: str, ts_col: str = "ts", compact_every: int = 64
):
    """foreachBatch sink: incrementally-maintained Holt-Winters additive
    seasonal table — the streaming twin of q271 (plans/relational.py),
    sharing its fold verbatim via `operators/timeseries.py::
    holt_winters_table`. The season-aware sibling of `holt_daily_sink`:
    same per-day partial counts, same ``batch_id=<n>`` overwrite
    idempotence, same newest-base + ``_SUCCESS`` read rule and
    compaction protocol — only the view recomputed off the daily store
    differs (level + trend + dow seasonal instead of level + trend).
    Writes ``<out_dir>/current``.

    Equivalence contract (tests/test_streaming.py): after any
    partitioning of an event set into micro-batches — compaction
    triggered or not — the final current table equals q271's batch
    output over the same rows.
    """
    from ..operators.timeseries import holt_winters_table

    return _daily_store_sink(
        daily_dir, out_dir, {"current": holt_winters_table},
        ts_col=ts_col, compact_every=compact_every,
    )


def ljung_box_daily_sink(
    daily_dir: str, out_dir: str, ts_col: str = "ts", compact_every: int = 64
):
    """foreachBatch sink: incrementally-maintained Ljung-Box lag
    battery — the streaming twin of q295 (plans/relational.py),
    sharing its statistic verbatim via
    `operators/timeseries.py::ljung_box_table` on the shared
    daily-store protocol (`_daily_store_sink`). ORDER-INSENSITIVE like
    the rest of the daily family: per-day counts are mergeable sums
    and the statistic recomputes off the |days|-bounded store each
    batch. Writes ``<out_dir>/current``.

    Equivalence contract (tests/test_streaming.py): after ANY
    partitioning — ordered or not, compaction triggered or not, crash
    debris or not — the final current table equals q295's batch
    output over the same rows.
    """
    from ..operators.timeseries import ljung_box_table

    return _daily_store_sink(
        daily_dir, out_dir, {"current": ljung_box_table},
        ts_col=ts_col, compact_every=compact_every,
    )


def durbin_watson_daily_sink(
    daily_dir: str, out_dir: str, ts_col: str = "ts", compact_every: int = 64
):
    """foreachBatch sink: incrementally-maintained Durbin-Watson
    residual-autocorrelation readout — the streaming twin of q297,
    sharing `operators/timeseries.py::durbin_watson_table` on the
    shared daily-store protocol. Order-insensitive (daily family).
    Writes ``<out_dir>/current``; equivalence contract as the rest of
    the family (tests/test_streaming.py).
    """
    from ..operators.timeseries import durbin_watson_table

    return _daily_store_sink(
        daily_dir, out_dir, {"current": durbin_watson_table},
        ts_col=ts_col, compact_every=compact_every,
    )


def runs_daily_sink(
    daily_dir: str, out_dir: str, ts_col: str = "ts", compact_every: int = 64
):
    """foreachBatch sink: incrementally-maintained Wald-Wolfowitz runs
    readout — the streaming twin of q299, sharing
    `operators/timeseries.py::runs_table` on the shared daily-store
    protocol. Order-insensitive (daily family). Writes
    ``<out_dir>/current``; equivalence contract as the rest of the
    family (tests/test_streaming.py).
    """
    from ..operators.timeseries import runs_table

    return _daily_store_sink(
        daily_dir, out_dir, {"current": runs_table},
        ts_col=ts_col, compact_every=compact_every,
    )


def attribution_sink(
    state_dir: str,
    trans_dir: str,
    out_dir: str,
    id_col: str = "user_id",
    ts_col: str = "ts",
    eid_col: str = "event_id",
    type_col: str = "event_type",
    conv_type: str = "purchase",
    compact_every: int = 64,
    events_dir: str | None = None,
):
    """foreachBatch sink: incrementally-maintained Markov removal-effect
    attribution — the streaming twin of q263 (plans/relational.py),
    sharing its chain solve verbatim via
    `operators/attribution.py::attribution_frames`. Journeys span
    micro-batches: a per-user JOURNEY-STATE store (last node seen,
    converted flag) lets each batch contribute exactly its own
    transitions — the cross-batch edge (state.last_node → first batch
    node) included — and post-conversion events are dropped for good
    once a user's first purchase lands.

    Stores: ``state_dir`` and ``trans_dir`` hold ``batch_id=<n>``
    partitions written with overwrite (re-delivery rewrites identical
    content — both are deterministic functions of the batch rows +
    PRIOR-batch state, which `_read_history` excludes this batch from).
    The state read rule is newest-row-per-user over all prior
    partitions. Open journeys are NOT logged as lost in the partials
    (they are still open); instead the table build derives one
    last_node → lost edge per unconverted user from the CURRENT state,
    so the solved chain equals the batch operator's — which is exactly
    the contract: under ts-ordered arrival (the funnel family's
    ordered-arrival assumption), the final ``<out_dir>/current`` table
    equals q263's batch output over the same rows
    (tests/test_streaming.py), open journeys counted lost-as-of-now.

    Cost shape per batch: one batch-sized window pass + a user-keyed
    state join; the table rebuild reads the compacted transition store
    (≤ |states|² rows per live dir) and solves the (chains ×
    states)-sized system — corpus-independent. The ordered-arrival
    contract is AUDITED, not assumed (VERDICT r11 #3): the state
    keeps each user's last-seen (ts, event_id), every batch counts
    events arriving strictly behind that ORDER KEY (ties on ts break
    by event_id, exactly q263's journey sort — a ts-tie with an
    inverted id is disorder too), and the count lands in
    ``<out_dir>/late/batch_id=<n>``.

    REPAIR (VERDICT r12 #2 — a violated contract used to be logged
    and then the wrong state served anyway): pass ``events_dir`` and
    the sink keeps an append-only per-batch EVENT LOG and acts on the
    audit. When a batch carries late events, the affected users'
    journeys are recomputed from their FULL logged history (q263
    semantics: sort by (ts, event_id), truncate at first purchase) and
    the batch's transition partition carries SIGNED correction rows —
    (new full-journey counts) − (prior full-journey counts) — so the
    folded store again sums to every user's true sorted-journey
    contribution, and ``current`` equals the batch operator AFTER
    disorder, not just until it (tests/test_streaming.py). The
    subtraction is sound inductively: every earlier batch either kept
    the user ordered (incremental = sorted delta) or repaired them
    (restoring the invariant), so the prior log replays to exactly
    the baked-in contribution. Repair cost ∝ the affected users' log
    rows — zero on an ordered feed. ``events_dir=None`` keeps the
    old detect-only behavior (route disordered feeds through the
    batch query). The log write is batch-sized per batch; its fold
    rewrites the accumulated log (O(history) every compact_every
    batches) — at lake scale, point ``events_dir`` at the immutable
    raw-event store (date-partitioned) instead of letting the sink
    own a second copy, and the repair read prunes to the affected
    users the same way. The repair path requires the log to cover
    the stream from its FIRST batch (it raises loudly otherwise —
    a mid-stream log cannot replay prior journeys).

    COMPACTION (ADVICE r10 #3 — without it both stores accumulate one
    ``batch_id=<n>`` partition per micro-batch forever, so per-batch
    rebuild cost, the newest-row-per-user window, and file-listing
    counts grow linearly with stream LIFETIME): the ewma/holt
    ``base-<n>`` + ``_SUCCESS`` protocol, with one twist — the fold
    covers only partials STRICTLY BEFORE the current batch, and the
    base is stamped with the newest folded id. Folding the current
    batch in would be wrong here (unlike ewma's pure-merge store):
    this sink's outputs are functions of the PRIOR-batch state, so a
    re-delivered batch b must be able to re-read history that excludes
    b — which base-<m> with m < b preserves exactly (the folded set is
    precisely the partials the read rule served before the fold).
    Transition counts fold as mergeable sums; the state store folds as
    newest-row-per-user, and base rows re-enter the recency order at
    the stamp (every live partial postdates it by construction).
    Steady-state read cost: ≤ compact_every+1 dirs per store.

    ts IS NOT NULL matches q263's batch scan (ADVICE r10 #1): the
    journey order key is nullable, and an unstamped event would
    reorder journeys differently in Spark (NULLS FIRST) than in the
    oracle (NULLS LAST).
    """
    from pyspark.sql import Window

    from ..operators.attribution import ATTR_CONV, ATTR_LOST, ATTR_START
    from ..operators.attribution import attribution_frames

    def _read_state(spark, upto_exclusive: int | None = None):
        df = _read_store(spark, state_dir, upto_exclusive, with_batch_id=True)
        if df is None:
            return None
        return df.select(
            "_u", "last_node", "converted", "last_ts", "last_eid", "batch_id"
        )

    def _newest_per_user(df):
        wl = Window.partitionBy("_u").orderBy(F.desc("batch_id"))
        return (
            df.withColumn("_r", F.row_number().over(wl))
            .filter(F.col("_r") == 1)
            .drop("_r")
        )

    def _read_trans(spark, upto_exclusive: int | None = None):
        df = _read_store(spark, trans_dir, upto_exclusive)
        if df is None:
            return None
        return df.select("prev", "nxt", "n")

    def _compact(spark, batch_id: int) -> None:
        _compact_store(
            spark, trans_dir, batch_id, compact_every,
            lambda: _read_trans(spark, batch_id)
            .groupBy("prev", "nxt")
            .agg(F.sum("n").cast("bigint").alias("n")),
        )
        _compact_store(
            spark, state_dir, batch_id, compact_every,
            lambda: _newest_per_user(_read_state(spark, batch_id)).select(
                "_u", "last_node", "converted", "last_ts", "last_eid"
            ),
        )
        if events_dir is not None:
            # the log folds as a plain union — events are immutable facts
            _compact_store(
                spark, events_dir, batch_id, compact_every,
                lambda: _read_store(spark, events_dir, batch_id),
            )

    def _journey_frames(ev_all: DataFrame):
        """Full-journey recompute for the repair path — q263's batch
        scan verbatim over the given users' complete event history:
        sort by (ts, event_id), truncate at the first purchase, emit
        (START → n1, consecutive) edges and the end-of-journey state
        row. NO lost edges — those are always derived from current
        state at readout."""
        w = Window.partitionBy("_u").orderBy("_ts", "_eid")
        pre = (
            ev_all.withColumn("rn", F.row_number().over(w))
            .withColumn(
                "conv_rn",
                F.min(F.when(F.col("_t") == conv_type, F.col("rn"))).over(
                    Window.partitionBy("_u")
                ),
            )
            .filter(F.col("conv_rn").isNull() | (F.col("rn") <= F.col("conv_rn")))
            .withColumn(
                "node",
                F.when(
                    F.col("rn") == F.col("conv_rn"), F.lit(ATTR_CONV)
                ).otherwise(F.col("_t")),
            )
            .localCheckpoint(eager=True)  # feeds trans AND state below
        )
        w2 = Window.partitionBy("_u").orderBy("rn")
        steps = (
            pre.withColumn("nxt", F.lead("node").over(w2))
            .filter(F.col("nxt").isNotNull())
            .select(F.col("node").alias("prev"), "nxt")
        )
        entries = pre.filter(F.col("rn") == 1).select(
            F.lit(ATTR_START).alias("prev"), F.col("node").alias("nxt")
        )
        trans = (
            steps.unionByName(entries)
            .groupBy("prev", "nxt")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        state = (
            pre.withColumn("mx", F.max("rn").over(Window.partitionBy("_u")))
            .filter(F.col("rn") == F.col("mx"))
            .select(
                "_u",
                F.col("node").alias("last_node"),
                (F.col("node") == ATTR_CONV).alias("converted"),
                F.col("_ts").alias("last_ts"),
                F.col("_eid").alias("last_eid"),
            )
        )
        return trans, state

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        ev = batch_df.filter(
            F.col(type_col).isNotNull() & F.col(ts_col).isNotNull()
        ).select(
            F.col(id_col).alias("_u"),
            F.col(ts_col).alias("_ts"),
            F.col(eid_col).alias("_eid"),
            F.col(type_col).alias("_t"),
        )
        if events_dir is not None:
            # log FIRST, unconditionally (converted users' drops
            # included — truncation happens at replay): a deterministic
            # function of the batch rows, so re-delivery rewrites it
            ev.write.mode("overwrite").parquet(
                f"{events_dir}/batch_id={batch_id}"
            )
        hist = _read_state(spark, upto_exclusive=batch_id)
        st = (
            _newest_per_user(hist).drop("batch_id") if hist is not None else None
        )
        n_late = 0
        late_u = None
        if st is not None:
            joined = ev.join(st, "_u", "left")
            # ordered-arrival audit BEFORE the converted filter: any
            # batch event stamped strictly behind its user's stored
            # last-seen (ts, event_id) order key arrived out of order —
            # disorder among already-converted users is still a
            # contract violation
            late_pred = F.col("last_ts").isNotNull() & (
                (F.col("_ts") < F.col("last_ts"))
                | (
                    (F.col("_ts") == F.col("last_ts"))
                    & (F.col("_eid") < F.col("last_eid"))
                )
            )
            n_late = joined.filter(late_pred).count()
            if n_late and events_dir is not None:
                # late users are a per-batch anomaly set, not a corpus:
                # pin it driver-small and broadcast the prune joins
                late_u = (
                    joined.filter(late_pred)
                    .select("_u")
                    .distinct()
                    .localCheckpoint(eager=True)
                )
                joined = joined.join(F.broadcast(late_u), "_u", "left_anti")
            ev_inc = (
                joined.filter(~F.coalesce(F.col("converted"), F.lit(False)))
                .select("_u", "_ts", "_eid", "_t", "last_node")
            )
        else:
            ev_inc = ev.withColumn("last_node", F.lit(None).cast("string"))
        _write_late_marker(spark, out_dir, batch_id, n_late)
        ev = ev_inc
        w = Window.partitionBy("_u").orderBy("_ts", "_eid")
        # conv_rn via whole-partition min on the same user partitioning —
        # one shuffle, mirroring q263's batch scan
        pre = (
            ev.withColumn("rn", F.row_number().over(w))
            .withColumn(
                "conv_rn",
                F.min(F.when(F.col("_t") == conv_type, F.col("rn"))).over(
                    Window.partitionBy("_u")
                ),
            )
            .filter(F.col("conv_rn").isNull() | (F.col("rn") <= F.col("conv_rn")))
            .withColumn(
                "node",
                F.when(F.col("rn") == F.col("conv_rn"), F.lit(ATTR_CONV)).otherwise(
                    F.col("_t")
                ),
            )
            .localCheckpoint(eager=True)  # feeds steps/entries/state write
        )
        w2 = Window.partitionBy("_u").orderBy("rn")
        steps = (
            pre.withColumn("nxt", F.lead("node").over(w2))
            .filter(F.col("nxt").isNotNull())
            .select(F.col("node").alias("prev"), "nxt")
        )
        entries = pre.filter(F.col("rn") == 1).select(
            F.coalesce(F.col("last_node"), F.lit(ATTR_START)).alias("prev"),
            F.col("node").alias("nxt"),
        )
        trans = (
            steps.unionByName(entries)
            .groupBy("prev", "nxt")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        new_state = (
            pre.withColumn("mx", F.max("rn").over(Window.partitionBy("_u")))
            .filter(F.col("rn") == F.col("mx"))
            .select(
                "_u",
                F.col("node").alias("last_node"),
                (F.col("node") == ATTR_CONV).alias("converted"),
                F.col("_ts").alias("last_ts"),
                F.col("_eid").alias("last_eid"),
            )
        )
        if late_u is not None:
            # REPAIR: replay the affected users' full logged history.
            # prior (cutoff) read → the contribution already baked into
            # the store; uncut read (this batch's log partition landed
            # above) → the true sorted-journey contribution. The signed
            # difference rides as this batch's correction rows.
            prior_log = _read_store(spark, events_dir, batch_id)
            if prior_log is None:
                raise ValueError(
                    f"attribution_sink: late events in batch {batch_id} "
                    f"but {events_dir} holds no prior history — the "
                    "repair log must cover the stream from its first "
                    "batch"
                )
            prune = lambda df: df.join(F.broadcast(late_u), "_u", "semi")
            old_trans, _ = _journey_frames(prune(prior_log))
            new_trans, rep_state = _journey_frames(
                prune(_read_store(spark, events_dir))
            )
            corr = (
                new_trans.unionByName(
                    old_trans.withColumn("n", (-F.col("n")).cast("bigint"))
                )
                .groupBy("prev", "nxt")
                .agg(F.sum("n").cast("bigint").alias("n"))
                .filter(F.col("n") != 0)
            )
            trans = trans.unionByName(corr)
            new_state = new_state.unionByName(rep_state)
        trans.write.mode("overwrite").parquet(f"{trans_dir}/batch_id={batch_id}")
        new_state.write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={batch_id}"
        )
        # table build: pooled store (base + live partials) + lost-as-of-now
        # edges from the CURRENT state (this batch included)
        all_trans = (
            _read_trans(spark)
            .groupBy("prev", "nxt")
            .agg(F.sum("n").cast("bigint").alias("n"))
            # a repair can zero a pair out entirely; a 0-count edge must
            # not survive to seed a phantom channel/state in the chain
            .filter(F.col("n") != 0)
        )
        cur = _newest_per_user(_read_state(spark))
        lost = (
            cur.filter(~F.col("converted"))
            .groupBy(F.col("last_node").alias("prev"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .select("prev", F.lit(ATTR_LOST).alias("nxt"), "n")
        )
        # The sink runs on a streaming thread, and the deferred-pin ledger
        # is thread-scoped (query-at-a-time); the write materializes the
        # result here, so the pins release immediately after
        res, pins = attribution_frames(all_trans.unionByName(lost))
        res.write.mode("overwrite").parquet(f"{out_dir}/current")
        for fr in pins:
            fr.unpersist(blocking=False)
        # fold prior partials AFTER the table is current: the fold never
        # includes this batch, so a re-delivery of it still reads the
        # exact pre-fold history (see docstring)
        _compact(spark, batch_id)
        _compact_late(spark, out_dir, batch_id, compact_every)

    return _sink


def deadline_funnel_sink(
    state_dir: str,
    out_dir: str,
    id_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    compact_every: int = 64,
    events_dir: str | None = None,
):
    """foreachBatch sink: incrementally-maintained deadline funnel — the
    streaming twin of q277 (plans/relational.py; windowFunnel
    semantics: view → click → purchase, each step within 7 days of the
    previous, depth = MAX over every window start). Completes the
    journey-sink family: attribution (q263) and seq-patterns (q269)
    had twins, the funnel did not.

    Per-user state: (d_max, views, qclicks, last_tsm) — the maximum
    depth reached, the view timestamps still inside a live 7-day
    window, and the QUALIFIED click timestamps (clicks that landed
    inside some view's window — only those can complete depth 3).
    Under ts-ordered arrival the window prune is safe (a future event's
    deadline horizon only moves forward), dedup of the batch operator's
    DISTINCT (user, ts, type) is by list membership at the window
    boundary, and depth is monotone — so after any ts-ordered
    micro-batch split ``<out_dir>/current`` equals q277's batch output
    exactly (tests/test_streaming.py). Matching is strict on
    microseconds exactly like q277's 1-PRECEDING range frame (a click
    at a view's microsecond is not 'after' it).

    The per-user step is inherently sequential (list state + strict-
    order matching), so it runs as ONE applyInPandas pass per batch —
    the q263-sink cost class: a user-keyed state join plus a
    batch-sized Python stage; the state store uses the shared
    newest-row-per-user read rule and prior-only base-fold compaction.
    Ordered-arrival contract AUDITED like the other journey sinks:
    per-batch late-event counts land in ``<out_dir>/late/batch_id=<n>``.

    REPAIR (VERDICT r12 #2): pass ``events_dir`` and the sink keeps a
    per-batch event log (attribution_sink's protocol — see its
    docstring for the log/fold/scale posture) and acts on the audit:
    a late-stamped event marks its user affected, and the affected
    users' state is recomputed FROM SCRATCH over their full logged
    history in the same ``_step`` pass (funnel state is absolute
    per-user, so unlike the attribution store no signed corrections
    are needed — the newest state row simply wins). After any
    disorder, ``current`` again equals q277's batch output
    (tests/test_streaming.py). ``events_dir=None`` = detect-only.
    """
    import pandas as pd

    from pyspark.sql import Window

    from ..plans.relational import _DF_WINDOW_US, _FUNNEL

    s1, s2, s3 = _FUNNEL
    state_schema = (
        "_u bigint, d_max int, views array<bigint>, qclicks array<bigint>, "
        "last_tsm bigint"
    )

    def _read_state(spark, upto_exclusive: int | None = None):
        df = _read_store(spark, state_dir, upto_exclusive, with_batch_id=True)
        if df is None:
            return None
        return df.select(
            "_u", "d_max", "views", "qclicks", "last_tsm", "batch_id"
        )

    def _newest(df):
        wl = Window.partitionBy("_u").orderBy(F.desc("batch_id"))
        return (
            df.withColumn("_r", F.row_number().over(wl))
            .filter(F.col("_r") == 1)
            .drop("_r", "batch_id")
        )

    def _step(pdf: pd.DataFrame) -> pd.DataFrame:
        u = int(pdf["_u"].iloc[0])
        first = pdf.iloc[0]

        def _lst(v):
            # Arrow hands arrays back as ndarray/list, absent state as
            # None/NaN — `v or []` would raise on a non-empty ndarray
            if v is None or (isinstance(v, float) and pd.isna(v)):
                return []
            return sorted(int(x) for x in v)

        d_max = 0 if pd.isna(first["d_max"]) else int(first["d_max"])
        views = _lst(first["views"])
        qclicks = _lst(first["qclicks"])
        last = None if pd.isna(first["last_tsm"]) else int(first["last_tsm"])
        for tsm, t in sorted(
            zip(pdf["tsm"].astype("int64"), pdf["_t"]), key=lambda p: p[0]
        ):
            lo = tsm - _DF_WINDOW_US
            views = [v for v in views if v >= lo]
            qclicks = [v for v in qclicks if v >= lo]
            if t == s1:
                d_max = max(d_max, 1)
                if tsm not in views:
                    views.append(tsm)
            elif t == s2:
                if any(v < tsm for v in views):
                    d_max = max(d_max, 2)
                    if tsm not in qclicks:
                        qclicks.append(tsm)
            elif t == s3:
                if any(c < tsm for c in qclicks):
                    d_max = 3
            last = tsm if last is None else max(last, tsm)
        return pd.DataFrame(
            {
                "_u": [u],
                "d_max": [d_max],
                "views": [sorted(views)],
                "qclicks": [sorted(qclicks)],
                "last_tsm": [last],
            }
        )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ev = (
            batch_df.filter(
                F.col(ts_col).isNotNull()
                & F.col(id_col).isNotNull()
                & F.col(type_col).isin(*_FUNNEL)
            )
            .select(
                F.col(id_col).alias("_u"),
                F.unix_micros(F.col(ts_col)).alias("tsm"),
                F.col(type_col).alias("_t"),
            )
            .distinct()
        )
        if events_dir is not None:
            ev.write.mode("overwrite").parquet(
                f"{events_dir}/batch_id={batch_id}"
            )
        hist = _read_state(spark, upto_exclusive=batch_id)
        st = _newest(hist) if hist is not None else None
        n_late = 0
        late_u = None
        if st is not None:
            joined = ev.join(st, "_u", "left")
            late_pred = F.col("last_tsm").isNotNull() & (
                F.col("tsm") < F.col("last_tsm")
            )
            n_late = joined.filter(late_pred).count()
            if n_late and events_dir is not None:
                late_u = (
                    joined.filter(late_pred)
                    .select("_u")
                    .distinct()
                    .localCheckpoint(eager=True)
                )
                joined = joined.join(F.broadcast(late_u), "_u", "left_anti")
        else:
            joined = (
                ev.withColumn("d_max", F.lit(None).cast("int"))
                .withColumn("views", F.lit(None).cast("array<bigint>"))
                .withColumn("qclicks", F.lit(None).cast("array<bigint>"))
                .withColumn("last_tsm", F.lit(None).cast("bigint"))
            )
        _write_late_marker(spark, out_dir, batch_id, n_late)
        new_state = joined.groupBy("_u").applyInPandas(_step, state_schema)
        if late_u is not None:
            # REPAIR: recompute the affected users' state from scratch
            # over their full logged history (this batch's log partition
            # included — it landed above). distinct() mirrors q277's
            # DISTINCT (user, ts, type) across batch boundaries.
            full_log = _read_store(spark, events_dir)
            if _read_store(spark, events_dir, batch_id) is None:
                raise ValueError(
                    f"deadline_funnel_sink: late events in batch "
                    f"{batch_id} but {events_dir} holds no prior "
                    "history — the repair log must cover the stream "
                    "from its first batch"
                )
            rep_in = (
                full_log.join(F.broadcast(late_u), "_u", "semi")
                .distinct()
                .withColumn("d_max", F.lit(None).cast("int"))
                .withColumn("views", F.lit(None).cast("array<bigint>"))
                .withColumn("qclicks", F.lit(None).cast("array<bigint>"))
                .withColumn("last_tsm", F.lit(None).cast("bigint"))
            )
            rep_state = rep_in.groupBy("_u").applyInPandas(_step, state_schema)
            new_state = new_state.unionByName(rep_state)
        new_state.write.mode("overwrite").parquet(
            f"{state_dir}/batch_id={batch_id}"
        )
        # current table: q277's 3-row readout off the merged state
        cur = _newest(_read_state(spark))
        agg = cur.agg(
            F.sum(F.when(F.col("d_max") >= 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n1"),
            F.sum(F.when(F.col("d_max") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n2"),
            F.sum(F.when(F.col("d_max") >= 3, 1).otherwise(0))
            .cast("bigint")
            .alias("n3"),
        )
        rows = []
        for i, (step, prev) in enumerate(
            [("n1", None), ("n2", "n1"), ("n3", "n2")], start=1
        ):
            rate = (
                F.lit(None).cast("double")
                if prev is None
                else F.round(
                    F.col(step).cast("double")
                    / F.nullif(F.col(prev), F.lit(0)).cast("double"),
                    9,
                )
            )
            rows.append(
                agg.select(
                    F.lit(i).cast("int").alias("step"),
                    F.lit(_FUNNEL[i - 1]).alias("event_type"),
                    F.col(step).alias("n_reached"),
                    rate.alias("rate_vs_prev"),
                )
            )
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        out.orderBy("step").write.mode("overwrite").parquet(
            f"{out_dir}/current"
        )
        _compact_store(
            spark, state_dir, batch_id, compact_every,
            lambda: _newest(_read_state(spark, batch_id)),
        )
        if events_dir is not None:
            _compact_store(
                spark, events_dir, batch_id, compact_every,
                lambda: _read_store(spark, events_dir, batch_id),
            )
        _compact_late(spark, out_dir, batch_id, compact_every)

    return _sink


def km_sink(
    user_dir: str,
    out_dir: str,
    id_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    conv_type: str = "purchase",
    compact_every: int = 64,
):
    """foreachBatch sink: incrementally-maintained Kaplan-Meier
    time-to-conversion curve — the streaming twin of q270
    (plans/relational.py), sharing its table build verbatim via
    `operators/timeseries.py::kaplan_meier_table`.

    Unlike the journey sinks (attribution, seq-patterns), this one has
    NO ordered-arrival contract: the per-user state is (first_day,
    conv_day, last_day), and min/first-conversion/max are pure MERGES —
    a late or out-of-order event folds in correctly whenever it
    arrives. Per batch: the batch's per-user partial lands under
    ``batch_id=<n>`` (overwrite — re-delivery idempotence), the store
    merges per user (min/min/max across partials), and the curve
    recomputes off the |users|-bounded merged frame. Store partials
    fold with the shared prior-only ``base-<stamp>`` compaction
    protocol (the fold IS the merge — the read rule's result is
    generation-invariant by associativity of min/max).

    Equivalence contract (tests/test_streaming.py): after ANY
    micro-batch partitioning — ordered or not, compaction triggered or
    not — ``<out_dir>/current`` equals q270's batch output over the
    same rows; re-delivering the last batch is a no-op.
    """
    from ..operators.timeseries import kaplan_meier_table

    def _merged(spark, upto_exclusive: int | None = None):
        df = _read_store(spark, user_dir, upto_exclusive)
        if df is None:
            return None
        return df.groupBy("_u").agg(
            F.min("first_day").alias("first_day"),
            F.max("last_day").alias("last_day"),
            F.min("conv_day").alias("conv_day"),
        )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = (
            batch_df.filter(F.col(ts_col).isNotNull())
            .select(
                F.col(id_col).alias("_u"),
                F.date_trunc("day", F.col(ts_col)).cast("date").alias("day"),
                (F.col(type_col) == conv_type).alias("is_conv"),
            )
            .groupBy("_u")
            .agg(
                F.min("day").alias("first_day"),
                F.max("day").alias("last_day"),
                F.min(F.when(F.col("is_conv"), F.col("day"))).alias("conv_day"),
            )
        )
        partial.write.mode("overwrite").parquet(f"{user_dir}/batch_id={batch_id}")
        per_u = _merged(spark)
        kaplan_meier_table(per_u).write.mode("overwrite").parquet(
            f"{out_dir}/current"
        )
        _compact_store(
            spark, user_dir, batch_id, compact_every,
            lambda: _merged(spark, batch_id),
        )

    return _sink


def ab_sink(
    user_dir: str,
    out_dir: str,
    id_col: str = "user_id",
    type_col: str = "event_type",
    conv_type: str = "purchase",
    compact_every: int = 64,
):
    """foreachBatch sink: incrementally-maintained experiment readout —
    the streaming twin of BOTH q250 (conversion chi²) and q279
    (Welch t on per-user activity), sharing their statistic arithmetic
    verbatim via `operators/experiment.py`. The live dashboard behind
    an A/B test: every micro-batch refreshes ``<out_dir>/chi2`` (q250's
    row) and ``<out_dir>/welch`` (q279's row).

    Like `km_sink` — and unlike the journey sinks — this member is
    ORDER-INSENSITIVE BY CONSTRUCTION: the per-user state is
    (event count, any-conversion flag), and SUM/MAX are pure merges, so
    a late or out-of-order event folds in correctly whenever it
    arrives; the arm assignment depends only on the user id, so it is
    split-invariant too. Per batch: per-user partials land under
    ``batch_id=<n>`` (overwrite — re-delivery idempotence), the store
    merges per user (Σ count, max conv across partials), the two tables
    recompute off the |users|-bounded merged frame. Partials fold with
    the shared prior-only ``base-<stamp>`` compaction protocol (the
    fold IS the merge — generation-invariant by associativity).

    Equivalence contract (tests/test_streaming.py): after ANY
    micro-batch partitioning — ordered or not, compaction triggered or
    not — ``chi2`` equals q250's batch output, ``welch`` equals q279's,
    and ``effect`` equals q302's (Cohen's d / Hedges' g, round 13)
    over the same rows; re-delivering the last batch is a no-op.
    """
    from ..operators.experiment import (
        ab_arm,
        cohens_d_table,
        conversion_chi2_table,
        welch_table,
    )

    def _merged(spark, upto_exclusive: int | None = None):
        df = _read_store(spark, user_dir, upto_exclusive)
        if df is None:
            return None
        return df.groupBy("_u").agg(
            F.sum("x").cast("bigint").alias("x"),
            F.max("conv").cast("int").alias("conv"),
        )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = (
            batch_df.filter(F.col(id_col).isNotNull())
            .select(
                F.col(id_col).alias("_u"),
                (F.col(type_col) == conv_type).cast("int").alias("p"),
            )
            .groupBy("_u")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("x"),
                F.max("p").cast("int").alias("conv"),
            )
        )
        partial.write.mode("overwrite").parquet(f"{user_dir}/batch_id={batch_id}")
        per_u = _merged(spark)
        armed = per_u.select(
            ab_arm(F.col("_u")).alias("arm_a"), "x", "conv"
        ).localCheckpoint(eager=True)  # feeds both tables, one store read
        conversion_chi2_table(armed).write.mode("overwrite").parquet(
            f"{out_dir}/chi2"
        )
        welch_table(armed).write.mode("overwrite").parquet(f"{out_dir}/welch")
        cohens_d_table(armed).write.mode("overwrite").parquet(
            f"{out_dir}/effect"
        )
        _compact_store(
            spark, user_dir, batch_id, compact_every,
            lambda: _merged(spark, batch_id),
        )

    return _sink


def cmh_sink(
    cell_dir: str,
    out_dir: str,
    id_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    conv_type: str = "purchase",
    compact_every: int = 64,
):
    """foreachBatch sink: incrementally-maintained Cochran-Mantel-
    Haenszel stratified readout — the streaming twin of q303
    (plans/relational.py), sharing its statistic verbatim via
    `operators/experiment.py::cmh_table`. Like `ab_sink`/`km_sink`,
    ORDER-INSENSITIVE BY CONSTRUCTION: the state is per-(stratum, arm)
    conversion/non-conversion COUNTS — pure mergeable sums over
    event-level units, so any micro-batch partitioning folds
    identically. Per batch: ≤7×4-row cell partials land under
    ``batch_id=<n>`` (overwrite — re-delivery idempotence), the store
    merges by sum, ``<out_dir>/current`` recomputes off the ≤7-row
    merged frame; partials fold with the shared prior-only base-fold
    protocol (the fold IS the merge).

    Equivalence contract (tests/test_streaming.py): after ANY
    partitioning — ordered or not, compaction triggered or not —
    ``current`` equals q303's batch output over the same rows;
    re-delivering the last batch is a no-op.
    """
    from ..operators.experiment import ab_arm, cmh_table

    def _merged(spark, upto_exclusive: int | None = None):
        df = _read_store(spark, cell_dir, upto_exclusive)
        if df is None:
            return None
        return df.groupBy("stratum").agg(
            F.sum("a").cast("bigint").alias("a"),
            F.sum("b").cast("bigint").alias("b"),
            F.sum("c").cast("bigint").alias("c"),
            F.sum("d").cast("bigint").alias("d"),
        )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        units = batch_df.filter(
            F.col(id_col).isNotNull() & F.col(ts_col).isNotNull()
        ).select(
            ab_arm(F.col(id_col)).alias("arm_a"),
            F.weekday(F.date_trunc("day", F.col(ts_col)).cast("date"))
            .cast("int")
            .alias("stratum"),
            F.when(F.col(type_col) == conv_type, 1).otherwise(0).alias("conv"),
        )
        partial = units.groupBy("stratum").agg(
            F.sum(F.when(F.col("arm_a") & (F.col("conv") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when(F.col("arm_a") & (F.col("conv") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("b"),
            F.sum(F.when(~F.col("arm_a") & (F.col("conv") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("c"),
            F.sum(F.when(~F.col("arm_a") & (F.col("conv") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("d"),
        )
        partial.write.mode("overwrite").parquet(f"{cell_dir}/batch_id={batch_id}")
        cmh_table(_merged(spark)).write.mode("overwrite").parquet(
            f"{out_dir}/current"
        )
        _compact_store(
            spark, cell_dir, batch_id, compact_every,
            lambda: _merged(spark, batch_id),
        )

    return _sink


def seq_patterns_sink(
    state_dir: str,
    firsts_dir: str,
    counts_dir: str,
    out_dir: str,
    id_col: str = "user_id",
    ts_col: str = "ts",
    eid_col: str = "event_id",
    type_col: str = "event_type",
    compact_every: int = 64,
):
    """foreachBatch sink: incrementally-maintained contiguous
    sequential-pattern table — the streaming twin of q269
    (plans/relational.py): (n, pattern, support, occurrences) for every
    event-type n-gram with n ≤ 3, maintained while journeys SPAN
    micro-batches.

    Cross-batch stitching: a per-user TAIL state (last two events)
    re-enters each batch as two virtual rows BEFORE the batch's events,
    so the window pass sees the stitched sequence; an n-gram counts to
    this batch iff its LAST element is a batch event (grams fully
    inside the tail were counted when they arrived — each occurrence is
    counted exactly once, in the batch where it completes).

    Support (distinct users) cannot be maintained as a mergeable count;
    it is maintained as an append-only FIRSTS store of (n, pattern,
    user) first-walk rows: the batch's walked pairs anti-join history
    (excluding the batch's own partition — re-delivery idempotence), so
    a user contributes one row per pattern ever. Σ-size is bounded by
    |patterns|·|users| ≤ alphabet³·|users| — the same artifact class as
    the per-user state stores. Occurrence partials are mergeable sums.

    All three stores use ``batch_id=<n>`` overwrite partitions, the
    newest-base + ``_SUCCESS`` read rule, and the prior-only
    ``base-<stamp>`` compaction protocol (`_compact_store`): counts
    fold as sums, firsts fold as DISTINCT rows, state folds as
    newest-row-per-user. Ordered-arrival contract (the attribution
    sink's): route disordered feeds through the batch query. The
    contract is audited (VERDICT r11 #3): the tail state carries the
    user's last-seen ts and each batch's earlier-stamped event count
    lands in ``<out_dir>/late/batch_id=<n>``.

    Equivalence contract (tests/test_streaming.py): after any
    ts-ordered micro-batch partitioning, ``<out_dir>/current`` equals
    q269's batch output over the same rows, compaction triggered or
    not; re-delivering the last batch is a no-op.
    """
    from pyspark.sql import Window

    def _newest_state(df):
        wl = Window.partitionBy("_u").orderBy(F.desc("batch_id"))
        return (
            df.withColumn("_r", F.row_number().over(wl))
            .filter(F.col("_r") == 1)
            .drop("_r", "batch_id")
        )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        ev = batch_df.filter(
            F.col(type_col).isNotNull() & F.col(ts_col).isNotNull()
        ).select(
            F.col(id_col).alias("_u"),
            F.col(ts_col).alias("_ts"),
            F.col(eid_col).alias("_eid"),
            F.col(type_col).alias("_t"),
        )
        w = Window.partitionBy("_u").orderBy("_ts", "_eid")
        seq = ev.withColumn("rn", F.row_number().over(w))
        st = _read_store(spark, state_dir, upto_exclusive=batch_id,
                         with_batch_id=True)
        n_late = 0
        if st is not None:
            st = _newest_state(st.select("_u", "p2", "p1", "last_ts", "batch_id"))
            # ordered-arrival audit (VERDICT r11 #3): batch events
            # stamped earlier than the user's stored last-seen ts
            # arrived out of order — the stitched tail is then wrong
            n_late = (
                ev.join(st.select("_u", "last_ts"), "_u")
                .filter(F.col("_ts") < F.col("last_ts"))
                .count()
            )
            virt = st.select(
                "_u", F.lit(-1).alias("rn"), F.col("p2").alias("_t")
            ).filter(F.col("_t").isNotNull()).unionByName(
                st.select("_u", F.lit(0).alias("rn"), F.col("p1").alias("_t"))
                .filter(F.col("_t").isNotNull())
            )
            combined = seq.select("_u", "rn", "_t").unionByName(virt)
        else:
            combined = seq.select("_u", "rn", "_t")
        _write_late_marker(spark, out_dir, batch_id, n_late)
        w2 = Window.partitionBy("_u").orderBy("rn")
        grams = (
            combined.withColumn("e2", F.lead("_t").over(w2))
            .withColumn("e3", F.lead("_t", 2).over(w2))
            .withColumn("last2_rn", F.col("rn") + 1)
            .withColumn("last3_rn", F.col("rn") + 2)
            .localCheckpoint(eager=True)  # feeds 3 gram scans + state
        )
        uni = seq.select(
            F.lit(1).alias("n"), F.col("_t").alias("pattern"), "_u"
        )
        bi = grams.filter(
            F.col("e2").isNotNull() & (F.col("last2_rn") >= 1)
        ).select(
            F.lit(2).alias("n"),
            F.concat_ws(">", "_t", "e2").alias("pattern"),
            "_u",
        )
        tri = grams.filter(
            F.col("e3").isNotNull() & (F.col("last3_rn") >= 1)
        ).select(
            F.lit(3).alias("n"),
            F.concat_ws(">", "_t", "e2", "e3").alias("pattern"),
            "_u",
        )
        walked = uni.unionByName(bi).unionByName(tri)
        occ = walked.groupBy("n", "pattern").agg(
            F.count(F.lit(1)).cast("bigint").alias("occ")
        )
        occ.write.mode("overwrite").parquet(f"{counts_dir}/batch_id={batch_id}")
        pairs = walked.select("n", "pattern", "_u").distinct()
        hist_firsts = _read_store(spark, firsts_dir, upto_exclusive=batch_id)
        if hist_firsts is not None:
            new_firsts = pairs.join(
                hist_firsts.select("n", "pattern", "_u"),
                ["n", "pattern", "_u"],
                "left_anti",
            )
        else:
            new_firsts = pairs
        new_firsts.write.mode("overwrite").parquet(
            f"{firsts_dir}/batch_id={batch_id}"
        )
        # per-user tail after this batch: the last two events seen, tail
        # users with no batch events keep their stored state (their rows
        # are absent from this partition; the newest-row rule serves the
        # older partition)
        wlast = Window.partitionBy("_u").orderBy(F.desc("rn"))
        tail = (
            combined.withColumn("_r", F.row_number().over(wlast))
            .filter(F.col("_r") <= 2)
            .groupBy("_u")
            .agg(
                F.max(F.when(F.col("_r") == 1, F.col("_t"))).alias("p1"),
                F.max(F.when(F.col("_r") == 2, F.col("_t"))).alias("p2"),
            )
            .join(seq.select("_u").distinct(), "_u", "left_semi")
            # last-seen ts for the ordered-arrival audit: the max-rn
            # batch event's ts IS the max ts (rn orders by ts, eid)
            .join(seq.groupBy("_u").agg(F.max("_ts").alias("last_ts")), "_u")
        )
        tail.write.mode("overwrite").parquet(f"{state_dir}/batch_id={batch_id}")
        # current table: pooled occurrence partials + firsts-store support
        all_occ = (
            _read_store(spark, counts_dir)
            .groupBy("n", "pattern")
            .agg(F.sum("occ").cast("bigint").alias("occurrences"))
        )
        support = (
            _read_store(spark, firsts_dir)
            .groupBy("n", "pattern")
            .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        )
        all_occ.join(support, ["n", "pattern"]).select(
            F.col("n").cast("int").alias("n"), "pattern", "support",
            "occurrences",
        ).write.mode("overwrite").parquet(f"{out_dir}/current")
        # association-rules view (q272's twin) off the SAME stores: the
        # n=1 firsts ARE the user-level unary supports, the n=2 firsts
        # the pair supports, and n_users is the distinct-user count of
        # the firsts store — no extra state, just a projection
        firsts_all = _read_store(spark, firsts_dir)
        uni_supp = (
            firsts_all.filter(F.col("n") == 1)
            .groupBy(F.col("pattern").alias("e"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("supp"))
        )
        n_users_f = firsts_all.filter(F.col("n") == 1).agg(
            F.countDistinct("_u").cast("bigint").alias("n_users")
        )
        pair_supp = (
            firsts_all.filter(F.col("n") == 2)
            .groupBy("pattern")
            .agg(F.count(F.lit(1)).cast("bigint").alias("supp_pair"))
            .select(
                F.split(F.col("pattern"), ">").getItem(0).alias("antecedent"),
                F.split(F.col("pattern"), ">").getItem(1).alias("consequent"),
                "supp_pair",
            )
        )
        dec19 = "decimal(19,0)"
        assoc = (
            pair_supp.join(
                F.broadcast(
                    uni_supp.select(
                        F.col("e").alias("antecedent"),
                        F.col("supp").alias("supp_a"),
                    )
                ),
                "antecedent",
            )
            .join(
                F.broadcast(
                    uni_supp.select(
                        F.col("e").alias("consequent"),
                        F.col("supp").alias("supp_b"),
                    )
                ),
                "consequent",
            )
            .join(F.broadcast(n_users_f))
            .select(
                "antecedent",
                "consequent",
                "supp_pair",
                "supp_a",
                "supp_b",
                "n_users",
                F.round(
                    F.col("supp_pair").cast("double")
                    / F.col("supp_a").cast("double"),
                    9,
                ).alias("confidence"),
                F.round(
                    (
                        F.col("supp_pair").cast(dec19)
                        * F.col("n_users").cast(dec19)
                    ).cast("double")
                    / (
                        F.col("supp_a").cast(dec19)
                        * F.col("supp_b").cast(dec19)
                    ).cast("double"),
                    9,
                ).alias("lift"),
            )
        )
        assoc.write.mode("overwrite").parquet(f"{out_dir}/assoc")
        _compact_store(
            spark, counts_dir, batch_id, compact_every,
            lambda: _read_store(spark, counts_dir, batch_id)
            .groupBy("n", "pattern")
            .agg(F.sum("occ").cast("bigint").alias("occ")),
        )
        _compact_store(
            spark, firsts_dir, batch_id, compact_every,
            lambda: _read_store(spark, firsts_dir, batch_id).select(
                "n", "pattern", "_u"
            ).distinct(),
        )
        _compact_store(
            spark, state_dir, batch_id, compact_every,
            lambda: _newest_state(
                _read_store(spark, state_dir, batch_id, with_batch_id=True)
                .select("_u", "p2", "p1", "last_ts", "batch_id")
            ),
        )
        _compact_late(spark, out_dir, batch_id, compact_every)

    return _sink


def hist_quantile_sink(
    store_dir: str,
    out_dir: str,
    lo: float,
    hi: float,
    bins: int = 256,
    ps: tuple[float, ...] = (0.5, 0.95, 0.99),
    value_col: str = "value",
    compact_every: int = 64,
):
    """foreachBatch sink: incrementally-maintained histogram-sketch
    quantiles — the streaming twin of q253 (plans/relational.py),
    sharing its bin/interpolation arithmetic verbatim via
    ``operators/histogram.py``. This is the mergeability claim of the
    histogram sketch made operational: per micro-batch the new values
    collapse to ≤ ``bins`` partial counters, the store merges them, and
    the quantile table recomputes from ``bins`` integers — the stream
    never re-touches old values.

    The (lo, hi) range is FROZEN at deploy time (the calibration-pass /
    frozen-model split of kn_routing_stream and ivf_assign_stream);
    out-of-range values clamp into the edge bins via the shared
    ``bin_expr``. Store layout, idempotence, and compaction are the
    ewma_daily_sink protocol exactly: ``batch_id=<n>`` partial
    partitions with overwrite (re-delivery replaces, never
    double-counts), the newest-base read rule, and a fold into
    ``batch_id=base-<n>`` every ``compact_every`` live partials — so
    steady-state read cost is ≤ bins·(compact_every+1) rows however
    long the stream runs.

    Writes ``<out_dir>/current`` with (p, est, n). Equivalence contract
    (tests/test_streaming.py): after any partitioning of an event set
    into micro-batches, the final table equals q253's sketch estimates
    over the same rows when (lo, hi) equal that batch's min/max.
    """
    from ..operators.histogram import bin_expr, hist_quantile_table

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = (
            batch_df.filter(F.col(value_col).isNotNull())
            .select(
                bin_expr(
                    F.col(value_col), F.lit(float(lo)), F.lit(float(hi)), bins
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        partial.write.mode("overwrite").parquet(f"{store_dir}/batch_id={batch_id}")
        base, live, _ = _list_partial_store(spark, store_dir)
        paths = [f"{store_dir}/batch_id=base-{base}"] if base is not None else []
        paths += [f"{store_dir}/batch_id={i}" for i in live]
        hist = (
            spark.read.parquet(*paths)
            .groupBy("bin")
            .agg(F.sum("c").cast("bigint").alias("c"))
        )
        if len(live) >= compact_every:
            hist.write.mode("overwrite").parquet(
                f"{store_dir}/batch_id=base-{batch_id}"
            )
            _, _, names = _list_partial_store(spark, store_dir)
            stale = [
                nm
                for nm in names
                if nm.startswith("batch_id=") and nm != f"batch_id=base-{batch_id}"
            ]
            _delete_store_dirs(spark, store_dir, stale)
            hist = spark.read.parquet(f"{store_dir}/batch_id=base-{batch_id}")
        rng = hist.agg(F.sum("c").cast("bigint").alias("n")).select(
            F.lit(float(lo)).alias("lo"), F.lit(float(hi)).alias("hi"), "n"
        )
        out = hist_quantile_table(hist, rng, bins, ps).join(F.broadcast(rng.select("n")))
        out.write.mode("overwrite").parquet(f"{out_dir}/current")

    return _sink


def hist_quantile_windowed_stream(
    events: DataFrame,
    lo: float,
    hi: float,
    bins: int = 64,
    window: str = "1 day",
    watermark: str = "1 day",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Event-time-windowed histogram sketch under LATE DATA — the q253
    twin with real watermark semantics (the global `hist_quantile_sink`
    is order-blind by mergeability; this one answers "p95 per DAY" where
    a day must eventually CLOSE). Emits (window_start, bin, c) in APPEND
    mode: a window's ≤ ``bins`` counters emit exactly once, after the
    watermark passes its end — so late rows inside the horizon are still
    merged into their event-time window before it seals, and rows later
    than the watermark are dropped by Spark's standard eviction rule
    instead of corrupting an already-published day.

    Shares `operators/histogram.py::bin_expr` with q253 and the global
    sink; per-window quantiles come from the grouped twin of the shared
    interpolation (`hist_quantile_table_grouped`) applied batch-side to
    the emitted log — state here is O(windows-in-flight × bins)
    integers, never data-sized, and the (lo, hi) range is frozen at
    deploy time exactly like the global sink.

    Equivalence contract (tests/test_streaming.py): the emitted bins for
    a sealed window equal the batch bin counts over exactly the rows the
    watermark admitted, and the grouped quantile table over them equals
    the shared-arithmetic batch computation on that admitted subset; a
    deliberately too-late row is observably ABSENT.
    """
    from ..operators.histogram import bin_expr

    return (
        events.withWatermark(ts_col, watermark)
        .filter(F.col(value_col).isNotNull())
        .groupBy(
            F.window(F.col(ts_col), window).alias("w"),
            bin_expr(
                F.col(value_col).cast("double"),
                F.lit(float(lo)),
                F.lit(float(hi)),
                bins,
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .select(F.col("w.start").alias("window_start"), "bin", "c")
    )


def ivf_assign_stream(
    vec_stream: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming IVF index maintenance: assign each arriving vector to
    its nearest FROZEN centroid by cosine → (vec_id, cell, cos_sim) in
    append mode. The online half of the IVF family — centroids are
    trained offline (``kmeans_fit`` / the smallest-id seed) and shipped
    as a static DataFrame, exactly the q190 frozen-model deployment
    split; new embeddings stream through and land in their cell, so the
    index follows the corpus without retraining.

    STATELESS by construction: the argmax over centroids is a per-row
    fold over a 1-row broadcast centroid ARRAY (c·d work per vector) —
    no streaming aggregation, no state store, append mode, any
    watermark. The fold's replace rule (strictly-greater cosine, ties
    to the smaller cent_id) selects the max over the SET regardless of
    array order, so it is pinned equal to the batch
    ``operators/similarity.py::ivf_assign`` max(struct) argmax
    (tests/test_streaming.py). Zero-norm vectors are excluded on both
    paths, identically (unindexable under cosine).
    """
    from ..operators.similarity import with_vector_norm

    cents = with_vector_norm(centroids.select("cent_id", vec_col), vec_col).filter(
        F.col("norm") > 0
    )
    cent_arr = cents.select(
        F.collect_list(
            F.struct(
                F.col("cent_id").cast("bigint").alias("cent_id"),
                F.col("vec_d").alias("c_vec"),
                F.col("norm").alias("c_nrm"),
            )
        ).alias("_cents")
    ).withColumn("_k", F.lit(1))
    vecs = (
        vec_stream.select(
            F.col(id_col).alias("vid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec_d"),
        )
        .withColumn(
            "nrm", F.sqrt(F.aggregate("vec_d", F.lit(0.0), lambda a, x: a + x * x))
        )
        .filter(F.col("nrm") > 0)
        .withColumn("_k", F.lit(1))
    )

    def _step(acc, c):
        dot = F.aggregate(
            F.zip_with(F.col("vec_d"), c["c_vec"], lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        cos = dot / (F.col("nrm") * c["c_nrm"])
        better = (cos > acc["c_cos"]) | (
            (cos == acc["c_cos"]) & (c["cent_id"] < acc["cell"])
        )
        return F.when(
            better,
            F.struct(cos.alias("c_cos"), c["cent_id"].alias("cell")),
        ).otherwise(acc)

    best = F.aggregate(
        F.col("_cents"),
        F.struct(
            F.lit(-2.0).alias("c_cos"), F.lit(None).cast("bigint").alias("cell")
        ),
        _step,
    )
    return (
        vecs.join(F.broadcast(cent_arr), "_k")
        .select("vid", best.alias("_b"))
        # an empty (or all-zero-norm) centroid set leaves the fold at its
        # init struct — drop those rows so the degenerate case matches the
        # batch ivf_assign exactly (empty output), instead of leaking
        # (NULL, -2.0) sentinel rows (review r9)
        .filter(F.col("_b.cell").isNotNull())
        .select(
            F.col("vid").alias(id_col),
            F.col("_b.cell").alias("cell"),
            F.round(F.col("_b.c_cos"), 6).alias("cos_sim"),
        )
    )


def kn_routing_stream(
    docs: DataFrame,
    model: DataFrame,
    corpus_mean: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style LM-fluency routing applied to a document STREAM via a
    stream-static join: each streamed document's bigrams score against
    the FROZEN ``kn_bigram_model`` table (operators/lm.py), the per-doc
    mean is a streaming aggregation (update mode), and the head/middle/
    tail band compares against ``corpus_mean`` — the threshold trained
    offline and shipped as a literal, exactly the production split
    between q190 (training-time: model and threshold from the corpus
    itself) and deployment (new documents against the frozen pair).

    Output: (doc_id, n_bigrams, mean_kn_p, band). No state store beyond
    the per-doc aggregation; the model is a static DataFrame Spark
    broadcasts or shuffles like any dimension. Stream≡batch contract
    (tests/test_streaming.py): over file-replayed micro-batches the
    final per-doc rows equal `kn_score_with_model` on the whole corpus
    + the q190 banding, and — when the model was trained on that same
    corpus — q143's scores bit-exactly.
    """
    from ..operators.lm import kn_score_with_model

    scored = kn_score_with_model(docs, model, id_col=id_col, text_col=text_col)
    band = (
        F.when(F.col("mean_kn_p") >= F.lit(corpus_mean), F.lit("head"))
        .when(F.col("mean_kn_p") >= F.lit(0.5) * F.lit(corpus_mean), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.select("doc_id", "n_bigrams", "mean_kn_p", band.alias("band"))
