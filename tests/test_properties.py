"""Property-style differential tests: normalization Columns vs pure-Python
oracles over adversarial inputs (Hebrew, control chars, numerics, blanks) —
SURVEY.md §5.4. One Spark job per function (vectorized), not per example.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from printer_etl_hub_spark.functions.normalize import (
    canonicalize_id,
    dash_if_blank,
    norm_text,
    norm_ws,
    safe_bigint,
)

from conftest import collect_released

CASES = [
    "",
    " ",
    "  a  B\tc ",
    "שלום  עולם",
    "42",
    " 42.0 ",
    "42.9",
    "-17",
    "1e3",
    "abc\ndef\rghi",
    "\x01ctl\x1f",
    "nan",
    "inf",
    "  -  ",
    "0007",
    "12.0.1",
    "٣٤",  # arabic-indic digits
    "x" * 200,
    "Mixed עברית and English  123 ",
]


#: Java regex \s (Spark) and RE2 \s (DuckDB) are the ASCII class below.
#: Python's \s and str.strip() additionally count \x1c-\x1f as whitespace —
#: the engine contract is Spark==DuckDB, so the oracle pins the ASCII class.
WS = r"[ \t\n\x0b\f\r]"


def _re_strip(s):
    return re.sub(f"^{WS}+|{WS}+$", "", s)


def py_norm_ws(s):
    return re.sub(f"{WS}+", " ", _re_strip(s)).lower()


def _engine_float(s):
    """float() pinned to the engines' numeric-literal grammar: Python parses
    Unicode digits and '1_0'; Spark/DuckDB casts don't."""
    if not s.isascii() or "_" in s:
        raise ValueError(s)
    return float(s)


def py_canonicalize_id(s):
    try:
        f = _engine_float(s)
        if f in (float("inf"), float("-inf")) or f != f:
            raise ValueError
        return str(int(f))
    except (ValueError, OverflowError):
        return re.sub(r"[\n\r]+", " ", _re_strip(s))


def py_dash_if_blank(s):
    t = _re_strip(s)
    return t if t else "-"


def py_norm_text(s):
    t = re.sub(f"{WS}+", " ", _re_strip(s))
    return t or None


def py_safe_bigint(s):
    try:
        v = int(_engine_float(s))
    except (ValueError, OverflowError):
        return None
    # bigint range: the engine's try_cast chain nulls outside int64
    return v if -(2**63) <= v < 2**63 else None


def _run(spark, col_fn):
    df = spark.createDataFrame([(c,) for c in CASES], "v string")
    return [r[0] for r in df.select(col_fn(F.col("v")).alias("o")).collect()]


def test_norm_ws_matches_python(spark):
    assert _run(spark, norm_ws) == [py_norm_ws(c) for c in CASES]


def test_canonicalize_id_matches_python(spark):
    got = _run(spark, canonicalize_id)
    want = [py_canonicalize_id(c) for c in CASES]
    for c, g, w in zip(CASES, got, want):
        assert g == w, f"canonicalize_id({c!r}): spark={g!r} python={w!r}"


def test_dash_if_blank_matches_python(spark):
    assert _run(spark, dash_if_blank) == [py_dash_if_blank(c) for c in CASES]


def test_norm_text_matches_python(spark):
    assert _run(spark, norm_text) == [py_norm_text(c) for c in CASES]


def test_safe_bigint_matches_python(spark):
    got = _run(spark, safe_bigint)
    want = [py_safe_bigint(c) for c in CASES]
    for c, g, w in zip(CASES, got, want):
        assert g == w, f"safe_bigint({c!r}): spark={g!r} python={w!r}"


# ---------------------------------------------------------------------------
# Tabular header resolution (S1-S3) — pure-driver properties
# ---------------------------------------------------------------------------
def test_resolve_headers_noise_invariance():
    """Any case/whitespace noise on spec'd headers still resolves every
    logical column, injectively, regardless of column order."""
    import itertools
    import random

    from printer_etl_hub_spark.sources.tabular import EMPLOYEE_SPEC, resolve_headers

    rng = random.Random(7)
    base = ["Employee ID", "שם", "Phone Number"]

    def noisy(h: str) -> str:
        out = "  " + h.upper() + " "
        return out.replace(" ", "  ") if rng.random() < 0.5 else out

    for perm in itertools.permutations(base):
        actual = [noisy(h) for h in perm]
        m = resolve_headers(actual, EMPLOYEE_SPEC)
        assert set(m) == set(EMPLOYEE_SPEC)
        assert len(set(m.values())) == len(m)  # injective
        assert all(v in actual for v in m.values())


def test_dedup_headers_unique_and_prefixed():
    import random

    from printer_etl_hub_spark.sources.tabular import dedup_headers

    rng = random.Random(11)
    for _ in range(50):
        headers = [rng.choice("abc") for _ in range(rng.randint(1, 12))]
        out = dedup_headers(headers)
        assert len(set(out)) == len(out)
        assert all(o == h or o.startswith(h + "_") for h, o in zip(headers, out))
        # first occurrence keeps its bare name
        for name in set(headers):
            assert out[headers.index(name)] == name


def test_redact_pii_leaves_no_pii(spark):
    """After redaction, no email/IPv4 pattern survives in any adversarial
    composition (PII at string edges, back-to-back, inside noise)."""
    from printer_etl_hub_spark.functions.text import EMAIL_RE, IPV4_RE, redact_pii

    samples = [
        "a@b.co",
        "x a@b.co y c.d@e.org z",
        "10.0.0.1",
        "edge@case.io 255.255.255.255",
        "a@b.co10.0.0.1+15550000000",
        "text with no pii at all",
        "tricky @ not-an-email 999.999.999.999",  # dotted quad still matches shape
        "שלום a@b.co עולם",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s STRING")
    out = [r.p for r in df.select(redact_pii(F.col("s")).alias("p")).collect()]
    for s in out:
        assert not re.search(EMAIL_RE, s), s
        assert not re.search(IPV4_RE, s), s


def test_zorder_key_bounds(spark):
    """Z keys stay within [0, 2^(k*bits)) and are non-constant on
    non-constant input."""
    from printer_etl_hub_spark.sources.layout import zorder_key
    from printer_etl_hub_spark.tables import load_tables

    from conftest import SF_SMOKE

    ev = load_tables(spark, SF_SMOKE)["events"].select("user_id", "value")
    z = zorder_key(ev, ["user_id", "value"], bits=6)
    stats = ev.select(z.alias("z")).agg(
        F.min("z").alias("lo"), F.max("z").alias("hi"), F.countDistinct("z").alias("n")
    ).first()
    assert 0 <= stats.lo <= stats.hi < (1 << 12)
    assert stats.n > 10


def test_connected_components_random_graphs_vs_union_find(spark):
    """Random graphs (varying density, incl. long paths + stars) must match
    a driver-side union-find oracle exactly."""
    import random

    from printer_etl_hub_spark.operators.components import connected_components

    def uf_components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    rng = random.Random(42)
    cases = []
    for trial in range(3):
        n = 40
        m = rng.randint(n // 2, 2 * n)
        cases.append([(rng.randrange(n), rng.randrange(n)) for _ in range(m)])
    cases.append([(i, i + 1) for i in range(30)])          # path
    cases.append([(0, i) for i in range(1, 30)])           # star
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "a_id BIGINT, b_id BIGINT")
        got = {
            (r.node, r.component)
            for r in connected_components(df, "a_id", "b_id").collect()
        }
        want = set(uf_components(edges).items())
        assert got == want


def test_repetition_and_chunking_match_python(spark):
    """q84 repetition metrics and q85 chunk geometry vs pure-Python
    references over adversarial docs (all-same tokens, single token,
    exactly-chunk-sized, high repetition, unicode)."""
    import math

    docs = [
        "a a a a a a a a",                      # max repetition
        "one",                                  # single token (no 2-grams → excluded from q84)
        "a b " * 32,                            # exactly 64 tokens
        "x y " * 33,                            # 66 tokens → chunk boundary straddle
        " ".join(f"t{i}" for i in range(200)),  # all distinct
        "שלום עולם שלום עולם שלום",             # unicode bigram repeats
        "p q r " * 40,                          # 120 tokens, period-3
    ]
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    # --- q84 semantics over this frame (reuse the registry fn's body via a
    # direct rebuild so we don't need a parquet dir)
    from printer_etl_hub_spark.functions.text import tokenize

    w = tokenize(F.col("text"))
    d = df.select("doc_id", w.alias("w")).filter(F.size("w") >= 2)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("w"), i), F.element_at(F.col("w"), i + 1)
        ),
    )
    d = d.withColumn("g", grams)
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct("g"), lambda x: F.size(F.filter("g", lambda y: y == x))
        )
    )
    got = {
        r.doc_id: (r.dup_word, r.dup_2gram, r.top_2gram)
        for r in d.select(
            "doc_id",
            F.round(1.0 - F.size(F.array_distinct("w")) / F.size("w"), 6).alias("dup_word"),
            F.round(1.0 - F.size(F.array_distinct("g")) / F.size("g"), 6).alias("dup_2gram"),
            F.round(top_cnt / F.size("g"), 6).alias("top_2gram"),
        ).collect()
    }
    for i, doc in enumerate(rows):
        toks = doc[1].strip().lower().split()
        if len(toks) < 2:
            assert i not in got
            continue
        g = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        want = (
            round(1.0 - len(set(toks)) / len(toks), 6),
            round(1.0 - len(set(g)) / len(g), 6),
            round(max(g.count(x) for x in set(g)) / len(g), 6),
        )
        assert all(math.isclose(a, b, abs_tol=1e-9) for a, b in zip(got[i], want)), (i, got[i], want)

    # --- q85 chunk geometry: starts at 0, stride, …; last chunk short but
    # never empty; chunk token counts cover the doc exactly once per window.
    size, stride = 64, 48
    starts_of = lambda n: list(range(0, n, stride)) if n >= 1 else []
    chunked = (
        df.select("doc_id", tokenize(F.col("text")).alias("w"))
        .filter(F.size("w") >= 1)
        .select(
            "doc_id",
            "w",
            F.size("w").alias("n"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), (F.floor((F.size("w") - 1) / stride)).cast("int")),
                    lambda k: k * stride,
                )
            ).alias("chunk_id", "start"),
        )
        .select("doc_id", "n", "chunk_id", F.size(F.slice("w", F.col("start") + 1, size)).alias("clen"))
    )
    by_doc: dict = {}
    for r in chunked.collect():
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.clen, r.n))
    for i, doc in enumerate(rows):
        toks = doc[1].strip().lower().split()
        if not toks:
            continue
        chunks = sorted(by_doc[i])
        starts = starts_of(len(toks))
        assert len(chunks) == len(starts), (i, chunks)
        for (cid, clen, n), s in zip(chunks, starts):
            assert clen == min(size, len(toks) - s) and clen >= 1, (i, cid, clen)


def test_ngram_collision_matches_python(spark):
    """q86 collision counting vs a brute-force Python set intersection on
    small synthetic corpora with planted verbatim overlaps."""
    base = " ".join(f"w{i}" for i in range(30))            # 30 tokens
    overlap13 = " ".join(f"w{i}" for i in range(5, 18))    # a 13-gram of base
    docs = [
        (0, base),                                          # train (parity depends on md5)
        (1, overlap13 + " zzz qqq " + " ".join(f"u{i}" for i in range(10))),
        (2, " ".join(f"v{i}" for i in range(20))),          # disjoint
        (3, base),                                          # duplicate of base
        (4, "short doc under thirteen tokens"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    from printer_etl_hub_spark.functions.text import tokenize
    import hashlib

    n = 13
    parity = lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 2
    py_grams = {}
    for i, t in docs:
        toks = t.strip().lower().split()
        py_grams[i] = {
            " ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)
        } if len(toks) >= n else set()
    train = set().union(*[py_grams[i] for i, _ in docs if parity(i) == 0]) if any(
        parity(i) == 0 for i, _ in docs
    ) else set()
    want = {
        i: (len(py_grams[i]), len(py_grams[i] & train))
        for i, _ in docs
        if parity(i) == 1 and py_grams[i]
    }

    # Rebuild the q86 plan over this frame (same expressions as the registry fn).
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("bigint")
    w = tokenize(F.col("text"))
    grams = F.when(
        F.size("w") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (n - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, n))),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = (
        df.select("doc_id", w.alias("w"), F.pmod(h, 2).alias("_par"))
        .filter(F.size("w") >= n)
        .select("doc_id", "_par", grams.alias("grams"))
    )
    train_g = d.filter(F.col("_par") == 0).select(F.explode("grams").alias("g")).distinct()
    ev = d.filter(F.col("_par") == 1).select("doc_id", F.size("grams").alias("ng"), "grams")
    hits = (
        ev.select("doc_id", F.explode("grams").alias("g"))
        .join(train_g, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    got = {
        r.doc_id: (r.ng, r.nc or 0)
        for r in ev.select("doc_id", "ng").join(hits, "doc_id", "left").collect()
    }
    assert got == want, (got, want)


def test_segment_dedup_matches_python(spark):
    """q91's operator vs a brute-force Python keep-first-occurrence over
    small corpora with planted repeated segments."""
    from printer_etl_hub_spark.operators.dedup import segment_dedup

    boiler = " ".join(f"b{i}" for i in range(10))          # exactly one segment
    docs = [
        (0, boiler + " " + " ".join(f"x{i}" for i in range(13))),
        (1, boiler + " " + " ".join(f"y{i}" for i in range(7))),   # repeats boiler
        (2, " ".join(f"z{i}" for i in range(4))),                  # short tail only
        (3, boiler),                                               # all-duplicate doc
        (4, " ".join(f"x{i}" for i in range(13))),         # tail differs from doc 0's
    ]
    seen: set[str] = set()
    want = {}
    for i, t in docs:
        toks = t.strip().lower().split()
        segs = [" ".join(toks[j:j + 10]) for j in range(0, len(toks), 10)]
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        want[i] = (len(segs), len(kept), " ".join(kept))

    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.n_segs, r.n_kept, r.kept_text)
        for r in segment_dedup(df, "doc_id", "text").collect()
    }
    assert got == want, (got, want)
    # Corpus-level conservation: total kept == number of distinct segments.
    assert sum(v[1] for v in got.values()) == len(seen)


def test_bloom_flags_are_superset_of_exact_collisions(spark):
    """q90's Bloom filter admits false positives but NEVER false
    negatives: per eval doc, n_flagged >= q86's exact n_collided, over
    the identical doc set and gram counts."""
    from conftest import SF_SMOKE
    from printer_etl_hub_spark.plans import REGISTRY

    exact = {
        r.doc_id: (r.n_grams, r.n_collided)
        for r in REGISTRY["q86_ngram_collision"].fn(spark, SF_SMOKE).collect()
    }
    bloom = {
        r.doc_id: (r.n_grams, r.n_flagged)
        for r in REGISTRY["q90_bloom_decontam"].fn(spark, SF_SMOKE).collect()
    }
    assert set(exact) == set(bloom)
    for doc, (ng, nc) in exact.items():
        bg, bf = bloom[doc]
        assert bg == ng, (doc, ng, bg)
        assert bf >= nc, f"doc {doc}: bloom flagged {bf} < exact {nc} (false negative)"


def test_lloyd_step_matches_numpy(spark):
    """q93's assign + re-estimate vs a numpy reference at smoke scale:
    identical nearest-seed assignment counts and centroids to 1e-6."""
    import numpy as np

    from conftest import SF_SMOKE
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.plans.textops import LLOYD_K
    from printer_etl_hub_spark.tables import load_tables

    rows = (
        load_tables(spark, SF_SMOKE)["embeddings"]
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    seed_ids = sorted(vecs)[:LLOYD_K]
    seeds = np.stack([vecs[i] for i in seed_ids])
    assign: dict[int, list[np.ndarray]] = {}
    for vid in sorted(vecs):
        d = ((seeds - vecs[vid]) ** 2).sum(axis=1)
        best = seed_ids[int(np.argmin(d))]  # ties: lowest seed_id via argmin order
        assign.setdefault(best, []).append(vecs[vid])

    got = REGISTRY["q93_lloyd_step"].fn(spark, SF_SMOKE).collect()
    got_counts = {r.cluster_id: r.n_vecs for r in got if r.dim == 0}
    want_counts = {cid: len(members) for cid, members in assign.items()}
    assert got_counts == want_counts
    for r in got:
        want_c = float(np.stack(assign[r.cluster_id]).mean(axis=0)[r.dim])
        assert abs(r.centroid - want_c) < 1e-6, (r.cluster_id, r.dim)


def test_segment_dedup_random_corpora_vs_python(spark):
    """Randomized corpora (tiny vocab → heavy span collisions, ragged
    lengths incl. sub-span docs) against the Python keep-first-occurrence
    reference — one batched Spark round-trip for all corpora."""
    import random

    from printer_etl_hub_spark.operators.dedup import segment_dedup

    rng = random.Random(42)
    rows = []
    want = {}
    did = 0
    for _ in range(6):  # independent corpora, separated by id ranges
        seen: set[str] = set()
        base = did
        for _ in range(rng.randint(2, 8)):
            n = rng.randint(1, 35)
            toks = [f"w{rng.randint(0, 3)}" for _ in range(n)]
            # plant exact repeats of earlier docs' prefixes sometimes
            text = " ".join(toks)
            rows.append((did, base, text))
            segs = [" ".join(toks[j:j + 10]) for j in range(0, len(toks), 10)]
            kept = [s for s in segs if s not in seen and not seen.add(s)]
            want[did] = (len(segs), len(kept), " ".join(kept))
            did += 1
    # Each corpus runs separately (keep-first is corpus-global state).
    df = spark.createDataFrame(rows, "doc_id bigint, corpus bigint, text string")
    for base in sorted({r[1] for r in rows}):
        sub = df.filter(F.col("corpus") == base).drop("corpus")
        got = {
            r.doc_id: (r.n_segs, r.n_kept, r.kept_text)
            for r in segment_dedup(sub, "doc_id", "text").collect()
        }
        assert got == {k: v for k, v in want.items() if k in got}, base
        assert set(got) == {r[0] for r in rows if r[1] == base}


def test_containment_pairs_invariants(spark):
    """Structural invariants of ngram_containment_pairs over a mixed
    corpus: every ratio in (0, 1]; jaccard ≤ min(c_a_in_b, c_b_in_a)
    (the union dominates both set sizes); and a full clone pair scores
    1.0 in BOTH directions."""
    from printer_etl_hub_spark.operators.dedup import ngram_containment_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base),
        (2, base),  # exact clone of 1
        (3, "x0 x1 " + base + " y0 y1"),  # contains 1's grams
        (4, "totally different words with no shared trigrams at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.a_id, r.b_id): r
        for r in collect_released(
            ngram_containment_pairs(df, "doc_id", "text", threshold=0.5)
        )
    }
    for r in got.values():
        assert 0.0 < r.c_a_in_b <= 1.0 and 0.0 < r.c_b_in_a <= 1.0
        assert r.jaccard <= min(r.c_a_in_b, r.c_b_in_a) + 1e-12
    clone = got[(1, 2)]
    assert clone.c_a_in_b == 1.0 and clone.c_b_in_a == 1.0 and clone.jaccard == 1.0
    assert all(4 not in k for k in got)  # the unrelated doc pairs with nobody


@contextmanager
def _shuffle_width(spark, n: int):
    """Run the body at ``spark.sql.shuffle.partitions = n`` — the width
    the dist_* helpers range-partition at — restoring it on exit."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_dist_rank_is_total_order_permutation(spark):
    """dist_rank must emit exactly the permutation 1..n consistent with
    the (metric, id) sort — across ties and across range-partition
    boundaries — and never lose or duplicate a row."""
    from printer_etl_hub_spark.plans.common import dist_rank, flush_pending_release

    rows = [(i, (i * 7919) % 13) for i in range(1, 501)]  # many ties
    df = spark.createDataFrame(rows, "id long, m long")
    with _shuffle_width(spark, 8):
        ranked, pin = dist_rank(df, ["m", "id"], out="r")
        got = sorted((r.r, r.m, r.id) for r in ranked.collect())
    pin.unpersist()
    flush_pending_release()
    assert [g[0] for g in got] == list(range(1, 501))
    want = sorted(rows, key=lambda t: (t[1], t[0]))
    assert [(m, i) for _, m, i in got] == [(m, i) for i, m in want]


def test_dist_rank_default_nparts_tracks_session(spark):
    """dist_rank derives its range-partition count from the session's
    configured shuffle width — the 100 TB knob turns itself — and the
    RESULTS are identical at any width (range partitions are globally
    ordered, offsets exact)."""
    from printer_etl_hub_spark.plans.common import dist_rank, flush_pending_release

    rows = [(i, (i * 31) % 7) for i in range(1, 201)]
    df = spark.createDataFrame(rows, "id long, m long")

    results = {}
    widths = {}
    for conf_parts in (3, 11):
        with _shuffle_width(spark, conf_parts):
            ranked, pin = dist_rank(df, ["m", "id"], out="r")
            widths[conf_parts] = pin.rdd.getNumPartitions()
            results[conf_parts] = sorted(
                (r.r, r.m, r.id) for r in ranked.collect()
            )
        pin.unpersist()
        flush_pending_release()
    # The partition width follows the session config...
    assert widths == {3: 3, 11: 11}, widths
    # ...and the emitted ranks are width-independent.
    assert results[3] == results[11]
    assert [g[0] for g in results[3]] == list(range(1, 201))


def test_pending_release_ledger_is_single_threaded(spark):
    """materialize_release's deferred-pin ledger: a SECOND thread calling
    while another thread's pins are still pending must fail loudly
    (cross-thread flush would unpersist a live query's cache); with the
    ledger drained, ownership transfers freely."""
    import threading

    from printer_etl_hub_spark.plans import common

    df = spark.range(5).persist()
    common.flush_pending_release()
    common.materialize_release(df, df)  # pins now pending, owned here
    errs: list = []

    def other():
        try:
            common.materialize_release(df, df)
        except RuntimeError as exc:
            errs.append(exc)

    th = threading.Thread(target=other)
    th.start()
    th.join()
    assert errs and "query-at-a-time" in str(errs[0])
    common.flush_pending_release()
    # Drained ledger → another thread may take ownership.
    errs2: list = []

    def other_ok():
        try:
            common.materialize_release(df, df)
        except RuntimeError as exc:  # pragma: no cover
            errs2.append(exc)

    th2 = threading.Thread(target=other_ok)
    th2.start()
    th2.join()
    assert not errs2
    common.flush_pending_release()
    df.unpersist()


def _pin_docs(spark):
    return spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i j"),
            (3, "x y z w q r s t u v"),
            (4, "a b c d e x y z w q"),
        ],
        "doc_id long, text string",
    )


def _pin_vecs(spark):
    rows = [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(4)]) for i in range(12)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _pin_operators():
    """Every lazy operator that persists a frame its result still reads,
    called with arguments that take its persisting path."""
    from printer_etl_hub_spark.operators import dedup, harvest, similarity

    def cross(s):
        d = _pin_docs(s)
        return dedup.ngram_jaccard_cross(
            d.filter("doc_id <= 2"), d.filter("doc_id > 2"), "doc_id", "text", max_df=3
        )

    def payloads(s):
        return s.createDataFrame(
            [(1, '{"a": {"b": 1}, "c": [2, {"d": "x"}]}'), (2, '{"e": 3}')],
            "id long, payload string",
        )

    return {
        "ngram_jaccard_pairs": lambda s: dedup.ngram_jaccard_pairs(
            _pin_docs(s), "doc_id", "text"
        ),
        "ngram_containment_pairs": lambda s: dedup.ngram_containment_pairs(
            _pin_docs(s), "doc_id", "text"
        ),
        "ngram_jaccard_cross": cross,
        "boilerplate_filter": lambda s: dedup.boilerplate_filter(
            _pin_docs(s), "doc_id", "text", 5, 1
        ),
        "exactsubstr_excise": lambda s: dedup.exactsubstr_excise(
            _pin_docs(s), "doc_id", "text", k=4
        ),
        "winnow_match_pairs": lambda s: dedup.winnow_match_pairs(
            _pin_docs(s), "doc_id", "text", k=4, w=2, max_bucket=3
        ),
        "sign_lsh_pairs": lambda s: similarity.sign_lsh_pairs(
            _pin_vecs(s), "vec_id", "embedding", bits=2, min_cos=0.5
        ),
        "ivf_topk": lambda s: similarity.ivf_topk(
            _pin_vecs(s), "vec_id", "embedding", k=2, n_centroids=3
        ),
        "ivf_probe_sweep": lambda s: similarity.ivf_probe_sweep(
            _pin_vecs(s), "vec_id", "embedding", k=2, n_centroids=3, probes=(1, 2)
        ),
        "harvest_json": lambda s: harvest.harvest_json(
            payloads(s), "payload", ("id",), max_depth=3
        ),
    }


@pytest.mark.parametrize("op", sorted(_pin_operators()))
def test_operator_returns_every_pin(spark, op):
    """The pin rule (plans/common.py::materialize_release): a lazy
    operator returns ``(frame, pins)`` and ``pins`` is everything it
    cached. Once the caller's action has run and the pins are
    unpersisted, the session's cache is empty."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    frame, pins = _pin_operators()[op](spark)
    frame.collect()
    assert pins and all(p.is_cached for p in pins)
    for p in pins:
        p.unpersist()
    assert cache.isEmpty()


def test_dist_cumsum_matches_sequential_prefix_sum(spark):
    """dist_cumsum must equal the sequential prefix sum in the global
    order — across range-partition boundaries, for several columns at
    once — and never lose or duplicate a row."""
    from printer_etl_hub_spark.plans.common import (
        dist_cumsum,
        flush_pending_release,
    )

    rows = [(i, (i * 13) % 97, (i * 7) % 11) for i in range(1, 301)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    with _shuffle_width(spark, 7):
        cum, pin = dist_cumsum(df, ["id"], ["a", "b"])
        got = sorted((r.id, r.a_cum, r.b_cum) for r in cum.collect())
    pin.unpersist()
    flush_pending_release()
    ea = eb = 0
    want = []
    for i, a, b in rows:
        ea += a
        eb += b
        want.append((i, ea, eb))
    assert got == want


def test_dist_rank_grouped_matches_per_group_row_number(spark):
    """dist_rank(..., group_cols=) must equal row_number() OVER
    (PARTITION BY g ORDER BY ...) — per group, 1-based, no gaps —
    including groups that span several range partitions; its columns are
    the input's, in order, plus the rank."""
    from pyspark.sql import Window

    from printer_etl_hub_spark.plans.common import (
        dist_rank,
        flush_pending_release,
    )

    rows = [(i, f"g{i % 3}", (i * 37) % 50) for i in range(1, 401)]
    df = spark.createDataFrame(rows, "id long, g string, m long")
    with _shuffle_width(spark, 9):
        ranked, pin = dist_rank(df, ["m", "id"], out="r", group_cols=["g"])
        assert ranked.columns == ["id", "g", "m", "r"]
        got = {(r.g, r.m, r.id): r.r for r in ranked.collect()}
    pin.unpersist()
    flush_pending_release()
    w = Window.partitionBy("g").orderBy("m", "id")
    from pyspark.sql import functions as F2

    want = {
        (r.g, r.m, r.id): r.r
        for r in df.withColumn("r", F2.row_number().over(w)).collect()
    }
    assert got == want


def test_stratified_split_proportions_exact(spark):
    """q232: per-source split sizes are exactly floor(0.8n)/floor(0.9n)-
    derived — every stratum within ±1 doc of 80/10/10 — and reruns are
    identical (deterministic digest order)."""
    from printer_etl_hub_spark.plans import REGISTRY

    rows = REGISTRY["q232_stratified_split"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, {})[r.split] = r.n_docs
    assert by_src
    for src, d in by_src.items():
        n = sum(d.values())
        train = d.get("train", 0)
        val = d.get("val", 0)
        assert train == int(0.8 * n) or train == int(0.8 * n + 1e-9), (src, d)
        assert train + val == int(0.9 * n) or train + val == int(0.9 * n + 1e-9)
    rows2 = REGISTRY["q232_stratified_split"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_join_cardinality_forecast_is_exact(spark):
    """q234's histogram-product forecast must equal the ACTUAL join
    output cardinality (it is exact arithmetic, not an estimate)."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.tables import load_tables

    sf = "/root/testdata/sf0.001"
    got = {
        r.join_name: r.out_rows
        for r in REGISTRY["q234_join_cardinality"].fn(spark, sf).collect()
    }
    t = load_tables(spark, sf)
    actual = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    assert got["lineitem*orders"] == actual
    actual2 = (
        t["events"]
        .join(t["customer"], F.col("user_id") == F.col("c_custkey"))
        .count()
    )
    assert got["events*customer"] == actual2


def test_gini_bounds_and_uniform_zero(spark):
    """q226's Gini lies in [0,1); a perfectly uniform synthetic stream
    scores ~0 (closed-form check of the rank formula)."""
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.plans.common import (
        dist_rank,
        flush_pending_release,
    )

    row = REGISTRY["q226_user_gini"].fn(spark, "/root/testdata/sf0.001").collect()[0]
    assert 0.0 <= row.gini < 1.0
    # Uniform counts → G = 0 exactly by the formula.
    per = spark.createDataFrame([(i, 5) for i in range(1, 41)], "user_id long, x long")
    ranked, pin = dist_rank(per, ["x", "user_id"], out="i")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("t"),
    ).collect()[0]
    pin.unpersist()
    flush_pending_release()
    g = (2.0 * s.t - (s.n + 1) * s.sx) / (s.n * s.sx)
    assert abs(g) < 1e-12


import pytest as _pytest


@_pytest.mark.parametrize(
    "seed,n_rows,n_groups,width",
    [
        (1, 1, 1, 1),      # single row, single partition
        (2, 7, 1, 16),     # one group across many partitions
        (3, 64, 9, 3),     # more groups than partitions
        (4, 200, 2, 32),   # two huge strata (the skew case)
        (5, 50, 50, 8),    # every row its own group
    ],
)
def test_dist_helpers_randomized_shapes(spark, seed, n_rows, n_groups, width):
    """dist_rank (global and grouped) / dist_cumsum against their
    sequential references across adversarial shape corners: single
    partition, group-spans-partitions, skewed strata, singleton groups.
    Deterministic LCG data (no RNG flakiness); includes negative and
    duplicate order keys."""
    from printer_etl_hub_spark.plans.common import (
        dist_cumsum,
        dist_rank,
        flush_pending_release,
    )

    x = seed
    rows = []
    for i in range(1, n_rows + 1):
        x = (x * 1103515245 + 12345) % (2**31)
        rows.append((i, f"g{x % n_groups}", (x % 23) - 11))  # dup + negative keys
    df = spark.createDataFrame(rows, "id long, g string, m long")

    with _shuffle_width(spark, width):
        ranked, pin = dist_rank(df, ["m", "id"], out="r")
        got = sorted((r.r, r.m, r.id) for r in ranked.collect())
    pin.unpersist(); flush_pending_release()
    want = sorted(rows, key=lambda t: (t[2], t[0]))
    assert [g[0] for g in got] == list(range(1, n_rows + 1))
    assert [(m, i) for _, m, i in got] == [(m, i) for i, _, m in want]

    with _shuffle_width(spark, width):
        granked, gpin = dist_rank(df, ["m", "id"], out="r", group_cols=["g"])
        got_g = {(r.g, r.id): r.r for r in granked.collect()}
    gpin.unpersist(); flush_pending_release()
    want_g: dict = {}
    for i, g, m in sorted(rows, key=lambda t: (t[1], t[2], t[0])):
        want_g[(g, i)] = sum(1 for k in want_g if k[0] == g) + 1
    assert got_g == want_g

    cdf = df.select("id", F.col("m").alias("a"))
    with _shuffle_width(spark, width):
        cum, cpin = dist_cumsum(cdf, ["id"], ["a"])
        got_c = sorted((r.id, r.a_cum) for r in cum.collect())
    cpin.unpersist(); flush_pending_release()
    run, want_c = 0, []
    for i, _, m in rows:
        run += m
        want_c.append((i, run))
    assert got_c == want_c


def test_budget_allocation_sums_exactly(spark):
    """q200's largest-remainder apportionment: Σalloc ≡ the budget
    EXACTLY, every allocation within 1 of its real-valued share, and
    weights sum to ~1."""
    from printer_etl_hub_spark.plans import REGISTRY

    rows = REGISTRY["q200_budget_allocation"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    total = sum(r.alloc_tokens for r in rows)
    assert total == 1_000_000, total
    wsum = sum(r.weight for r in rows)
    assert abs(wsum - 1.0) < 1e-6
    for r in rows:
        share = 1_000_000 * r.weight
        assert share - 1.0 <= r.alloc_tokens <= share + 1.0


def test_pca_power_matches_numpy(spark):
    """q245's 2-iteration power method vs numpy at smoke scale: the
    produced vector must equal numpy's identical 2-step recurrence to
    1e-5 (the DECIMAL(38,18) quantization is the only divergence
    source), and its Rayleigh quotient must dominate every OTHER numpy
    eigenvalue — i.e. the iteration is actually converging on the top
    eigenpair, not just producing a deterministic vector."""
    import numpy as np

    from conftest import SF_SMOKE
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.tables import load_tables

    rows = (
        load_tables(spark, SF_SMOKE)["embeddings"].select("embedding").collect()
    )
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    c = np.cov(x, rowvar=False, bias=True)  # population covariance, like q245
    v = np.full(x.shape[1], 0.125)
    for _ in range(2):
        w = c @ v
        v = w / np.sqrt((w * w).sum())
    lam = float(v @ c @ v)

    got = REGISTRY["q245_pca_power"].fn(spark, SF_SMOKE).collect()
    assert len(got) == x.shape[1]
    for r in got:
        assert abs(r.loading - v[r.dim]) < 1e-5, (r.dim, r.loading, v[r.dim])
        assert abs(r.lam - lam) < 1e-5
    # Rayleigh-quotient sanity: power iteration on a PSD matrix increases
    # the quotient monotonically, so after 2 steps λ must sit strictly
    # above the flat start's quotient and at or below the true top
    # eigenvalue. (The synthetic embeddings are near-isotropic, so 2
    # pinned iterations need NOT beat the second eigenvalue — the
    # contract is identical pinned steps, not convergence.)
    eig = np.sort(np.linalg.eigvalsh(c))
    v0 = np.full(x.shape[1], 0.125)
    lam0 = float(v0 @ c @ v0)
    assert lam0 < lam <= eig[-1] + 1e-12


def test_cooc_window_matches_python(spark):
    """q243's in-array windowed pair construction vs a direct Python
    scan of the same corpus: identical (x, y) → (n_d1, n_d2, n_d3)
    distance-bucketed counts for the whole (unfiltered) pair universe
    restricted to the query's top-25 output."""
    from collections import Counter

    from conftest import SF_SMOKE
    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.tables import load_tables

    docs = load_tables(spark, SF_SMOKE)["documents"].select("text").collect()
    counts: Counter = Counter()
    for r in docs:
        toks = (r.text or "").strip().lower().split()
        for i in range(len(toks)):
            for d in (1, 2, 3):
                if i + d < len(toks):
                    x, y = sorted((toks[i], toks[i + d]))
                    counts[(x, y, d)] += 1

    got = REGISTRY["q243_cooc_window"].fn(spark, SF_SMOKE).collect()
    assert got, "top-25 must be non-empty at smoke scale"
    for r in got:
        want = tuple(counts.get((r.x, r.y, d), 0) for d in (1, 2, 3))
        assert (r.n_d1, r.n_d2, r.n_d3) == want, (r.x, r.y)
        assert r.n_total == sum(want) and r.n_total >= 5


def test_brand_affinity_bounds_and_symmetry(spark):
    """q241 invariants: n_co <= min(n_a, n_b) (co-buyers are a subset of
    each side's buyers), 0 < cosine <= 1, lift > 0, and brand_a < brand_b
    canonical ordering throughout."""
    from conftest import SF_SMOKE
    from printer_etl_hub_spark.plans import REGISTRY

    rows = REGISTRY["q241_brand_affinity"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.brand_a < r.brand_b
        assert 0 < r.n_co <= min(r.n_a, r.n_b)
        assert 0.0 < r.cosine <= 1.0
        assert r.lift > 0.0


def test_rank_tau_pair_accounting(spark):
    """q246 invariants: concordant + discordant + tied = C(n_top, 2) per
    source, tau in [-1, 1], and n_top <= 50."""
    from conftest import SF_SMOKE
    from printer_etl_hub_spark.plans import REGISTRY

    rows = REGISTRY["q246_rank_tau"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_top <= 50
        assert r.concordant + r.discordant + r.tied == r.n_top * (r.n_top - 1) // 2
        assert -1.0 <= r.tau <= 1.0


def test_markov_stationary_conserves_mass(spark):
    """q251 invariants: the self-loop completion keeps P stochastic, so
    every iterate conserves probability mass — sum(pi0) = sum(pi3) = 1
    up to the round(9) output quantization — and every pi is in [0,1]."""
    from conftest import SF_SMOKE
    from printer_etl_hub_spark.plans import REGISTRY

    rows = REGISTRY["q251_markov_stationary"].fn(spark, SF_SMOKE).collect()
    assert rows
    assert abs(sum(r.pi0 for r in rows) - 1.0) < 1e-6
    assert abs(sum(r.pi3 for r in rows) - 1.0) < 1e-6
    assert all(0.0 <= r.pi3 <= 1.0 for r in rows)


def test_seasonality_strength_bounds(spark):
    """q252: eta-squared is a variance RATIO — in [0, 1] whenever total
    variance is non-zero (NULL only in the all-days-equal degenerate)."""
    from conftest import SF_SMOKE
    from printer_etl_hub_spark.plans import REGISTRY

    r = REGISTRY["q252_seasonality_strength"].fn(spark, SF_SMOKE).collect()[0]
    assert r.n_days > 0
    assert r.eta2_dow is None or -1e-9 <= r.eta2_dow <= 1.0 + 1e-9


