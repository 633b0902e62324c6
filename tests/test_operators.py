"""Unit tests for DataFrame operators (argmax, pivot, upsert, dedup,
similarity, multimodal, fetch)."""

from __future__ import annotations

from pyspark.sql import functions as F

from printer_etl_hub_spark.operators import (
    argmax_per_group,
    cosine_topk_bruteforce,
    dedup_exact,
    ivf_topk,
    first_per_slot_pivot,
    merge_upsert,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    sign_lsh_pairs,
    simhash_docs,
    top_k_per_group,
    varbind_pivot,
)
from printer_etl_hub_spark.operators.multimodal import decode_media, frame_sample
from printer_etl_hub_spark.sources.fetch import fetch_stage

from conftest import collect_released


def test_varbind_pivot(spark):
    rows = [(1, 5, "3"), (1, 9, "42"), (2, 5, "3"), (2, 9, "77")]
    df = spark.createDataFrame(rows, "idx int, colno int, value string")
    out = varbind_pivot(df, ["idx"], "colno", [5, 9]).orderBy("idx").collect()
    assert [(r["idx"], r["c5"], r["c9"]) for r in out] == [(1, "3", "42"), (2, "3", "77")]


def test_first_per_slot_pivot(spark):
    rows = [
        ("p1", "Black", 10, 1),
        ("p1", "Black", 99, 2),  # later → ignored
        ("p1", "Cyan", 20, 3),
        ("p2", "Black", 30, 1),
    ]
    df = spark.createDataFrame(rows, "id string, color string, pct int, seq int")
    out = first_per_slot_pivot(
        df, ["id"], "color", ["Black", "Cyan"], [F.col("seq")], "pct"
    ).orderBy("id").collect()
    assert [(r["id"], r["Black"], r["Cyan"]) for r in out] == [("p1", 10, 20), ("p2", 30, None)]


def test_argmax_and_topk(spark):
    rows = [("a", 1, "x"), ("a", 9, "y"), ("b", 5, "z")]
    df = spark.createDataFrame(rows, "k string, rank int, payload string")
    am = argmax_per_group(df, ["k"], F.struct(F.col("rank")), {"best": F.col("payload")})
    assert {(r["k"], r["best"]) for r in am.collect()} == {("a", "y"), ("b", "z")}
    tk = top_k_per_group(df, ["k"], [F.col("rank").desc()], 1)
    assert {(r["k"], r["payload"]) for r in tk.collect()} == {("a", "y"), ("b", "z")}


def test_merge_upsert(spark):
    target = spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)], "id int, name string, bal double")
    updates = spark.createDataFrame([(1, 99.0)], "id int, bal double")
    out = merge_upsert(target, updates, "id", ["bal"], changed_flag="chg").orderBy("id").collect()
    assert [(r["id"], r["bal"], r["chg"]) for r in out] == [(1, 99.0, True), (2, 20.0, False)]


def test_dedup_exact(spark):
    df = spark.createDataFrame([(1, "same"), (2, "same"), (3, "diff")], "id int, txt string")
    out = dedup_exact(df, "id", "txt").collect()
    by_keeper = {r["keeper_id"]: r["n_copies"] for r in out}
    assert by_keeper == {1: 2, 3: 1}


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again tonight"),  # near-dup of 1
    (3, "completely different words describing another document entirely here now"),
]


def test_minhash_and_jaccard(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    jac = collect_released(ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5))
    assert [(r["a_id"], r["b_id"]) for r in jac] == [(1, 2)]
    mh = minhash_lsh_pairs(df, "doc_id", "text", k=12, bands=4).collect()
    assert (1, 2) in {(r["a_id"], r["b_id"]) for r in mh}
    assert all(r["a_id"] < r["b_id"] for r in mh)


def test_simhash_close_for_near_dups(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    sh = {r["doc_id"]: r["simhash"] for r in simhash_docs(df, "doc_id", "text").collect()}
    ham_12 = bin(sh[1] ^ sh[2]).count("1")
    ham_13 = bin(sh[1] ^ sh[3]).count("1")
    assert ham_12 < ham_13


def test_cosine_topk_and_lsh(spark):
    vecs = [
        (1, [1.0, 0.1, 0.1, 0.1]),
        (2, [0.9, 0.2, 0.1, 0.1]),     # close to 1, same sign pattern
        (3, [-1.0, 0.5, -0.3, 0.2]),
        (4, [-0.9, 0.6, -0.2, 0.3]),   # close to 3, same sign pattern
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
    tk = cosine_topk_bruteforce(df, "vec_id", "embedding", k=1).collect()
    nn = {r["vec_id"]: r["neighbor_id"] for r in tk}
    assert nn[1] == 2 and nn[2] == 1 and nn[3] == 4 and nn[4] == 3
    pairs = collect_released(
        sign_lsh_pairs(df, "vec_id", "embedding", bits=4, min_cos=0.8)
    )
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    assert (1, 2) in got and (3, 4) in got


def test_ivf_topk_recall_vs_bruteforce(spark):
    # 2 well-separated clusters; with n_probe covering both cells, IVF must
    # reproduce the exact brute-force neighbor lists
    import math
    # even ids = cluster A, odd ids = cluster B, so the deterministic
    # smallest-id centroid seed (ids 0 and 1) spans both clusters
    vecs = []
    for i in range(10):
        a = 0.1 * i
        vecs.append((2 * i, [math.cos(a), math.sin(a), 0.5, 0.1]))         # cluster A
        vecs.append((2 * i + 1, [-math.cos(a), -math.sin(a), -0.5, 0.3]))  # cluster B
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
    bf = {
        (r["vec_id"], r["rn"]): r["neighbor_id"]
        for r in cosine_topk_bruteforce(df, "vec_id", "embedding", k=2).collect()
    }
    ivf = {
        (r["vec_id"], r["rn"]): r["neighbor_id"]
        for r in collect_released(
            ivf_topk(df, "vec_id", "embedding", k=2, n_centroids=4, n_probe=4)
        )
    }
    # full-probe IVF == exact
    assert ivf == bf
    # restricted probe still finds within-cluster neighbors
    ivf1 = ivf_topk(df, "vec_id", "embedding", k=1, n_centroids=2, n_probe=1)
    for r in collect_released(ivf1):
        assert r["vec_id"] % 2 == r["neighbor_id"] % 2


def test_decode_media_and_frame_sample(spark):
    df = spark.createDataFrame([(1, bytearray(b"hello")), (2, bytearray(b""))],
                               "media_id long, payload binary")
    out = {r["media_id"]: r for r in decode_media(df, "media_id", "payload").collect()}
    assert out[1]["byte_len"] == 5
    assert out[1]["content_md5"] == __import__("hashlib").md5(b"hello").hexdigest()
    assert out[2]["byte_len"] == 0
    fs = frame_sample(
        spark.createDataFrame([(1, 5)], "media_id long, n_frames int"),
        "media_id", "n_frames", every=2,
    ).collect()
    assert [r["frame_idx"] for r in fs] == [0, 2, 4]


def test_fetch_stage_offline_default(spark):
    df = spark.createDataFrame([("10.0.0.1",), ("10.0.0.2",)], "ip string")

    def transport(ip, opts):
        if ip.endswith("2"):
            raise TimeoutError("unreachable")
        return {"status": "online", "pct": 42}

    out = fetch_stage(
        df, "ip", transport,
        "ip string, status string, pct int",
        offline_default={"status": "offline", "pct": None},
        max_retries=1,
    ).collect()
    by_ip = {r["ip"]: (r["status"], r["pct"]) for r in out}
    assert by_ip["10.0.0.1"] == ("online", 42)
    assert by_ip["10.0.0.2"] == ("offline", None)


def test_resize_and_feature_pipeline(spark):
    """media → resize → features → ANN: the full multimodal pipeline shape
    with stub kernels feeding the REAL similarity operators."""
    from printer_etl_hub_spark.operators.multimodal import extract_features, resize_media

    media = spark.createDataFrame(
        [(1, bytearray(b"cat picture")), (2, bytearray(b"cat picture")),
         (3, bytearray(b"dog picture")), (4, bytearray(b""))],
        "media_id long, payload binary",
    )
    rs = {r["media_id"]: r for r in resize_media(media, "media_id", "payload", 32, 32).collect()}
    assert rs[1]["width"] == 32 and len(rs[1]["payload"]) == 32 * 32 // 64
    assert rs[4]["resized"] is False and len(rs[4]["payload"]) == 0
    feats = extract_features(media, "media_id", "payload", dim=8)
    nn = cosine_topk_bruteforce(feats, "media_id", "embedding", k=1).collect()
    by = {r["vec_id"]: (r["neighbor_id"], r["cos_sim"]) for r in nn}
    # identical payloads → identical embeddings → cosine 1.0 neighbors
    assert by[1][0] == 2 and abs(by[1][1] - 1.0) < 1e-6
    assert by[2][0] == 1


def test_asof_join_edges(spark):
    """Backward-inclusive as-of: tie at equal ts attaches; rows with no
    preceding right row get null; keys don't leak across."""
    import datetime as dt

    from printer_etl_hub_spark.operators.asof import asof_join

    T = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, "u1", T(5)), (2, "u1", T(10)), (3, "u2", T(1)), (4, "u3", T(9))],
        "event_id int, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u1", T(5), 50.0), ("u1", T(7), 70.0), ("u2", T(2), 20.0)],
        "user_id string, ts timestamp, v double",
    )
    out = {
        r["event_id"]: r["last_v"]
        for r in asof_join(left, right, "user_id", "ts", ["v"], "last_").collect()
    }
    assert out[1] == 50.0     # tie at ts=5 is inclusive
    assert out[2] == 70.0     # latest preceding, not first
    assert out[3] is None     # right row is later than left
    assert out[4] is None     # no right rows for key


def test_range_join_bucketed_edges(spark):
    """Inclusive bounds; intervals spanning multiple buckets match once;
    points outside all intervals drop."""
    import datetime as dt

    from printer_etl_hub_spark.operators.rangejoin import range_join_bucketed

    T = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    pts = spark.createDataFrame(
        [(1, T(0)), (2, T(10)), (3, T(25)), (4, T(59))],
        "pid int, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [(100, T(0), T(10)), (200, T(5), T(30))],  # overlap; 200 spans 4 buckets at w=10
        "iid int, s timestamp, e timestamp",
    )
    out = sorted(
        (r["pid"], r["iid"])
        for r in range_join_bucketed(pts, "ts", ivs, "s", "e", 10).collect()
    )
    assert out == [(1, 100), (2, 100), (2, 200), (3, 200)]


def test_harvest_json_discovers_nested_leaves(spark):
    from printer_etl_hub_spark.operators.harvest import harvest_json

    df = spark.createDataFrame(
        [
            (1, '{"severity": "critical", "meta": {"code": "E4-100", "extra": {"deep": 7}}, "arr": [{"desc": "jam"}, 5]}'),
            (2, '{"plain": 1}'),
        ],
        "id INT, payload STRING",
    )
    got = {
        (r.id, r.path, r.vtype, r.val)
        for r in collect_released(harvest_json(df, "payload", ("id",), max_depth=4))
    }
    assert (1, "severity", "STRING", "critical") in got
    assert (1, "meta.code", "STRING", "E4-100") in got
    assert (1, "meta.extra.deep", "BIGINT", "7") in got
    assert (1, "arr[0].desc", "STRING", "jam") in got
    assert (1, "arr[1]", "BIGINT", "5") in got
    assert (2, "plain", "BIGINT", "1") in got

    # F27 key-family filter: severity/code/desc substring match on leaf key
    fam = {
        r.path
        for r in collect_released(
            harvest_json(
                df, "payload", ("id",), max_depth=4,
                key_substrings=("severity", "code", "desc"),
            )
        )
    }
    assert fam == {"severity", "meta.code", "arr[0].desc"}


def test_connected_components_chain_and_clique(spark):
    from printer_etl_hub_spark.operators.components import connected_components

    # chain 1-2-3-4 (diameter 3) + clique {10,11,12} + isolated pair {20,21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a_id BIGINT, b_id BIGINT",
    )
    got = {
        (r.node, r.component)
        for r in connected_components(edges, "a_id", "b_id").collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_rejects_non_bigint_ids(spark):
    """A non-bigint id column raises a TypeError naming its type, before
    any job runs."""
    import pytest

    from printer_etl_hub_spark.operators.components import connected_components

    edges = spark.createDataFrame([("x", "y")], "a_id STRING, b_id STRING")
    with pytest.raises(TypeError, match="a_id: string, b_id: string"):
        connected_components(edges, "a_id", "b_id")


def test_hll_rollup_merge_is_lossless(spark):
    """Register-wise HLL merge must reproduce the direct single-pass
    estimate exactly (q76's correctness claim)."""
    from conftest import SF_SMOKE

    from printer_etl_hub_spark.plans.relational import q76_hll_ladder

    rows = q76_hll_ladder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.est_users_merged == r.est_users_direct, r


def test_connected_components_long_chain_pointer_jump(spark, monkeypatch):
    """A 100-node chain (diameter 99) must converge within the pointer-jump
    round budget (~log2) — plain one-hop propagation would need 99 rounds
    and previously mislabeled silently. The loop width is forced above 1
    so the distributed rounds run."""
    from printer_etl_hub_spark.operators.components import connected_components

    monkeypatch.setattr("printer_etl_hub_spark.execution.LOOP_ROWS_PER_PARTITION", 50)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 100)], "a_id BIGINT, b_id BIGINT"
    )
    stats: dict = {}
    got = {
        (r.node, r.component)
        for r in connected_components(
            edges, "a_id", "b_id", max_iter=12, stats=stats
        ).collect()
    }
    assert got == {(i, 1) for i in range(1, 101)}
    assert 1 <= stats["rounds"] <= 12


def test_connected_components_multi_partition_union_find(spark, monkeypatch):
    """r14: the partition-local union-find init must be a pure
    contraction under ANY edge partitioning — scatter a long chain and
    two cliques round-robin across 7 partitions so every partition holds
    disconnected fragments and the distributed rounds must merge ACROSS
    partitions. Labels must equal the component minimum exactly, and the
    rounds telemetry must stay inside the pointer-jump budget. The loop
    width is forced above 1 so the union-find only seeds the rounds."""
    from printer_etl_hub_spark.operators.components import connected_components

    monkeypatch.setattr("printer_etl_hub_spark.execution.LOOP_ROWS_PER_PARTITION", 50)

    chain = [(i, i + 1) for i in range(1, 100)]
    cliques = [(200 + i, 200 + j) for i in range(5) for j in range(i + 1, 5)]
    cliques += [(300 + i, 300 + j) for i in range(4) for j in range(i + 1, 4)]
    edges = spark.createDataFrame(
        chain + cliques, "a_id BIGINT, b_id BIGINT"
    ).repartition(7)  # round-robin: fragments land in every partition
    stats: dict = {}
    got = {
        (r.node, r.component)
        for r in connected_components(
            edges, "a_id", "b_id", max_iter=12, stats=stats
        ).collect()
    }
    want = {(i, 1) for i in range(1, 101)}
    want |= {(200 + i, 200) for i in range(5)}
    want |= {(300 + i, 300) for i in range(4)}
    assert got == want
    assert 1 <= stats["rounds"] <= 12


def test_connected_components_width_one_is_one_union_find(spark):
    """A graph that fits one loop partition is labeled by the union-find
    alone: the one task sees every edge, so its roots are the component
    minima. The operator runs no convergence probe and no round — the
    edge cut's count (two jobs under AQE) and the labels' checkpoint are
    its only jobs — even with the edges dealt round-robin over 7
    partitions, so no partition holds a connected fragment."""
    from conftest import count_jobs

    from printer_etl_hub_spark.operators.components import connected_components

    chain = [(i, i + 1) for i in range(1, 100)]
    clique = [(200 + i, 200 + j) for i in range(5) for j in range(i + 1, 5)]
    rows = chain + clique
    dealt = [r for k in range(7) for r in rows[k::7]]
    edges = spark.createDataFrame(
        spark.sparkContext.parallelize(dealt, 7), "a_id BIGINT, b_id BIGINT"
    )
    stats: dict = {}
    comp, n_jobs = count_jobs(
        spark, "cc_width_one",
        lambda: connected_components(edges, "a_id", "b_id", stats=stats),
    )
    got = {(r.node, r.component) for r in comp.collect()}
    want = {(i, 1) for i in range(1, 101)} | {(200 + i, 200) for i in range(5)}
    assert got == want
    assert stats == {"rounds": 0, "edges": len(chain) + len(clique)}
    assert n_jobs <= 3, n_jobs


def test_salted_join_equals_plain_join(spark):
    """Salt scatter must not change the join result (inner and left, with
    a hot key dominating the big side)."""
    from printer_etl_hub_spark.operators.skewjoin import salted_join

    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 900), (3, 901)],  # key 1 is hot
        "k INT, payload INT",
    )
    small = spark.createDataFrame(
        [(1, "one"), (2, "two"), (4, "four")], "k INT, name STRING"
    )
    for how in ("inner", "left"):
        got = {
            (r.k, r.payload, r.name)
            for r in salted_join(big, small, "k", n_salts=4, how=how).collect()
        }
        want = {
            (r.k, r.payload, r.name)
            for r in big.join(small, "k", how).select("k", "payload", "name").collect()
        }
        assert got == want, how


def test_bruteforce_topk_refuses_oversized_input(spark):
    """The O(n²) exactness baseline must refuse corpus-sized frames —
    above max_n the theta-join is an outage, not a baseline."""
    import pytest

    from printer_etl_hub_spark.operators.similarity import cosine_topk_bruteforce

    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="max_n"):
        cosine_topk_bruteforce(df, "doc_id", "embedding", k=2, max_n=5)
    # At or under the cap it still runs.
    assert cosine_topk_bruteforce(df, "doc_id", "embedding", k=2, max_n=10).count() > 0
    # max_n=None opts out of the guard (caller has sized the input).
    assert cosine_topk_bruteforce(df, "doc_id", "embedding", k=2, max_n=None).count() > 0


def test_registry_gate_window_is_complete_and_oracled():
    """The driver gates the first 50 REGISTRY entries: every one of them
    must carry an oracle (no structurally-red rows). Round 13 executes
    the round-12 pre-committed backfill plan (VERDICT r12 item #1): the
    27 r7-remainder queries lead, then the 13 round-12 additions
    q279-q291 (first external CORRECTNESS rows), then the r8 cohort in
    numeric order through q158."""
    import re

    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.plans.registry import GATE_ORDER

    window = list(REGISTRY)[:50]
    assert window == GATE_ORDER
    unoracled = [n for n in window if REGISTRY[n].oracle_sql is None]
    assert not unoracled, unoracled
    nums = [int(re.match(r"q(\d+)_", w).group(1)) for w in window]
    assert nums == (
        [72, 77] + list(range(82, 92)) + list(range(93, 98))
        + [108, 124] + list(range(141, 149))       # the 27 r7 leftovers
        + list(range(279, 292))        # the round-12 additions
        + list(range(149, 159))        # r8 cohort — 50 slots exactly
    ), nums


def test_kmeans_fit_converges_on_separated_blobs(spark):
    """Three well-separated blobs: the driver-loop Lloyd trainer must
    stop before max_iter (shift <= tol), recover the blob means exactly
    (each blob's points are symmetric around its center), and keep an
    empty cluster's seed centroid with n_members=0."""
    from printer_etl_hub_spark.operators.similarity import kmeans_fit

    # 3 blobs of 4 points each around (0,0), (100,0), (0,100) — and k=4,
    # so one seed-cluster must end up empty (all four seeds come from the
    # first blob but three survive as blob winners).
    def blob(cx, cy, base_id):
        off = [(-1.0, 0.0), (1.0, 0.0), (0.0, -1.0), (0.0, 1.0)]
        return [(base_id + i, [cx + dx, cy + dy]) for i, (dx, dy) in enumerate(off)]

    rows = blob(0.0, 0.0, 0) + blob(100.0, 0.0, 10) + blob(0.0, 100.0, 20)
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    stats: dict = {}
    out = {
        r.cluster_id: (list(r.centroid), r.n_members)
        for r in kmeans_fit(
            df, "vec_id", "embedding", k=4, max_iter=15, tol=1e-12, stats=stats
        ).collect()
    }
    assert stats["iterations"] < 15 and stats["last_shift"] <= 1e-12, stats
    assert len(out) == 4
    centroids = {tuple(round(x, 6) for x in c) for c, _ in out.values()}
    # All four seeds start inside blob 0, so the two far blobs must each
    # capture exactly one migrated centroid at the blob mean; blob 0 ends
    # split between the remaining two seeds (k-means local optimum).
    assert {(100.0, 0.0), (0.0, 100.0)} <= centroids, out
    assert sum(n for _, n in out.values()) == 12, out
    # Conservation: the member-weighted centroid mean equals the global
    # data mean — each centroid is exactly its members' mean.
    for d in range(2):
        weighted = sum(c[d] * n for c, n in out.values()) / 12
        assert abs(weighted - 100.0 / 3) < 1e-9, (d, weighted, out)


def test_ivf_topk_accepts_trained_centroids(spark):
    """ivf_topk(centroids=kmeans_fit(...)) — the trained-quantizer path:
    same output shape as the id-seeded build, and exact twins must still
    find each other at rank 1 with cos_sim 1.0 (twins share a cell under
    ANY quantizer since they score identically against every centroid)."""
    import random

    from printer_etl_hub_spark.operators.similarity import ivf_topk, kmeans_fit

    rng = random.Random(7)
    originals = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    rows = originals + [(i + 100, vec[:]) for i, vec in originals]  # exact twins
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = kmeans_fit(df, "vec_id", "embedding", k=4, max_iter=5)
    out = ivf_topk(df, "vec_id", "embedding", k=2, n_probe=2, centroids=cents)
    top1 = {
        r.vec_id: (r.neighbor_id, r.cos_sim) for r in collect_released(out) if r.rn == 1
    }
    assert len(top1) == 60
    for vid, (nid, cos) in top1.items():
        twin = vid + 100 if vid < 100 else vid - 100
        assert nid == twin and cos == 1.0, (vid, nid, cos)


def test_kmeans_farthest_seeding_recovers_separated_blobs(spark):
    """With all low ids inside one blob, lowest_id seeding provably
    splits it (see the test above); farthest-first traversal must place
    one seed per blob and recover the three exact blob means."""
    from printer_etl_hub_spark.operators.similarity import kmeans_fit

    def blob(cx, cy, base_id):
        off = [(-1.0, 0.0), (1.0, 0.0), (0.0, -1.0), (0.0, 1.0)]
        return [(base_id + i, [cx + dx, cy + dy]) for i, (dx, dy) in enumerate(off)]

    rows = blob(0.0, 0.0, 0) + blob(100.0, 0.0, 10) + blob(0.0, 100.0, 20)
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    stats: dict = {}
    out = {
        tuple(round(x, 6) for x in r.centroid): r.n_members
        for r in kmeans_fit(
            df, "vec_id", "embedding", k=3, max_iter=10, tol=1e-12,
            seeding="farthest", stats=stats,
        ).collect()
    }
    assert stats["last_shift"] <= 1e-12
    assert out == {(0.0, 0.0): 4, (100.0, 0.0): 4, (0.0, 100.0): 4}, out


def test_kmeans_parallel_seeding_recovers_blobs_and_is_deterministic(spark):
    """k-means|| seeding must (a) place seeds across well-separated blobs
    (the failure mode lowest_id provably has), (b) be bit-deterministic
    across runs (md5 draws, no RNG), and (c) run a FIXED number of
    seeding rounds independent of k — the scale contract that replaces
    farthest-first's k-1 sequential jobs."""
    from printer_etl_hub_spark.operators.similarity import kmeans_fit

    def blob(cx, cy, base_id):
        off = [(-1.0, 0.0), (1.0, 0.0), (0.0, -1.0), (0.0, 1.0)]
        return [(base_id + i, [cx + dx, cy + dy]) for i, (dx, dy) in enumerate(off)]

    rows = blob(0.0, 0.0, 0) + blob(100.0, 0.0, 10) + blob(0.0, 100.0, 20)
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    stats: dict = {}
    got1 = kmeans_fit(
        df, "vec_id", "embedding", k=3, max_iter=10, tol=1e-12,
        seeding="kmeans_par", stats=stats,
    ).collect()
    out = {tuple(round(x, 6) for x in r.centroid): r.n_members for r in got1}
    assert out == {(0.0, 0.0): 4, (100.0, 0.0): 4, (0.0, 100.0): 4}, out
    assert stats["seeding_rounds"] == 5  # fixed, not k-dependent
    assert stats["seeding_candidates"] >= 3
    got2 = kmeans_fit(
        df, "vec_id", "embedding", k=3, max_iter=10, tol=1e-12,
        seeding="kmeans_par",
    ).collect()
    assert sorted(map(str, got1)) == sorted(map(str, got2))  # bit-stable


def test_kmeans_parallel_seeding_handles_degenerate_corpora(spark):
    """All-identical points: psi=0 after the first candidate, the round
    loop exits early, and training returns one populated cluster (the
    MAP reduction must not pad with duplicate seeds)."""
    from printer_etl_hub_spark.operators.similarity import kmeans_fit

    df = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(6)], "vec_id bigint, embedding array<double>"
    )
    got = kmeans_fit(
        df, "vec_id", "embedding", k=3, max_iter=4, seeding="kmeans_par"
    ).collect()
    assert len(got) == 1 and got[0].n_members == 6
    assert [round(x, 6) for x in got[0].centroid] == [1.0, 2.0]


def test_pq_encode_compresses_and_adc_matches_reconstruction(spark):
    """PQ codes reconstruct through the codebooks, and ADC top-k equals
    exact distances against the reconstructed vectors (same partial sums,
    different association order → tolerance compare; ties share codes so
    ordering agrees exactly)."""
    from printer_etl_hub_spark.operators.similarity import (
        pq_adc_topk,
        pq_train_encode,
    )

    rows = [
        (i, [((i * 37 + j * 11) % 23) / 7.0 for j in range(8)]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vid long, vec array<double>")
    books: dict = {}
    codes = pq_train_encode(df, "vid", "vec", m=2, k=4, iters=2, codebooks_out=books)
    collected = codes.collect()
    assert len(collected) == 40  # 20 vectors x 2 subspaces
    assert {(r.vid, r.sub) for r in collected} == {
        (i, s) for i in range(20) for s in range(2)
    }
    code_map = {(r.vid, r.sub): r.code for r in collected}

    q = [0.3 * j for j in range(8)]
    top = pq_adc_topk(codes, books, q, "vid", k=5).collect()
    dists = {}
    for i in range(20):
        rec = books[(0, code_map[(i, 0)])] + books[(1, code_map[(i, 1)])]
        dists[i] = sum((a - b) * (a - b) for a, b in zip(q, rec))
    expect = sorted(dists.items(), key=lambda kv: (kv[1], kv[0]))[:5]
    assert [r.vid for r in top] == [v for v, _ in expect]
    for r, (_, ed) in zip(top, expect):
        # the operator's per-vector sum quantizes partials at 1e-6
        # (cross-engine determinism), so compare at that granularity
        assert abs(r.adc_dist - ed) < 1e-5


def test_pq_encode_empty_input_returns_empty(spark):
    from printer_etl_hub_spark.operators.similarity import pq_train_encode

    df = spark.createDataFrame([], "vid long, vec array<double>")
    assert pq_train_encode(df, "vid", "vec", m=2, k=4).count() == 0


def test_cms_overestimates_and_bounds_error(spark):
    """Count-Min property: est >= true for EVERY item, and the total
    overshoot respects the (e/w)*N bound with room to spare on a small
    stream."""
    from printer_etl_hub_spark.operators.cms import cms_build, cms_estimate

    rows = [(f"tok{i % 13}",) for i in range(500)]
    items = spark.createDataFrame(rows, "word string")
    sketch = cms_build(items, "word", depth=4, width=64)
    vocab = items.groupBy("word").count().withColumnRenamed("count", "true_cnt")
    est = cms_estimate(sketch, vocab, "word", depth=4, width=64).collect()
    assert len(est) == 13
    for r in est:
        assert r.est_cnt >= r.true_cnt, (r.word, r.est_cnt, r.true_cnt)
        # e/w * N with w=64, N=500 → ~21; generous cap at 2x bound
        assert r.est_cnt - r.true_cnt <= 42
    # grid is fixed-size: at most depth*width cells regardless of stream
    assert sketch.count() <= 4 * 64


def test_cms_estimate_zero_for_unseen_item(spark):
    from printer_etl_hub_spark.operators.cms import cms_build, cms_estimate

    items = spark.createDataFrame([("a",), ("b",)], "word string")
    sketch = cms_build(items, "word", depth=4, width=256)
    cand = spark.createDataFrame([("zebra-unseen",)], "word string")
    [r] = cms_estimate(sketch, cand, "word", depth=4, width=256).collect()
    # with w=256 and only 2 items, at least one of the 4 probed cells is
    # almost surely untouched → min() sees a 0
    assert r.est_cnt == 0


def test_jl_projection_preserves_relative_distances(spark):
    """JL property sanity: after a 64→16 sign projection, the NEAREST
    original pair stays much closer than the FARTHEST one (distance
    ordering is approximately preserved — the distortion the lemma
    bounds), and the projection is deterministic."""
    from printer_etl_hub_spark.operators.similarity import jl_project

    rows = [
        (1, [1.0] * 64),
        (2, [1.0] * 63 + [1.1]),           # near-twin of 1
        (3, [(-1.0) ** i * 5.0 for i in range(64)]),  # far from both
    ]
    df = spark.createDataFrame(rows, "vid long, vec array<double>")
    out = {r.vid: r.proj for r in jl_project(df, "vid", "vec", 64, 16).collect()}
    assert all(len(v) == 16 for v in out.values())

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    assert d2(out[1], out[2]) < d2(out[1], out[3]) / 10
    out2 = {r.vid: r.proj for r in jl_project(df, "vid", "vec", 64, 16).collect()}
    assert out == out2


def test_jl_projection_drops_short_and_null_vectors(spark):
    from printer_etl_hub_spark.operators.similarity import jl_project

    rows = [(1, [1.0] * 64), (2, [1.0] * 10), (3, None)]
    df = spark.createDataFrame(rows, "vid long, vec array<double>")
    got = jl_project(df, "vid", "vec", 64, 16).collect()
    assert [r.vid for r in got] == [1]


def test_hot_keys_finds_skewed_key_with_share(spark):
    from printer_etl_hub_spark.operators.profile import hot_keys

    rows = [("hot",)] * 80 + [(f"k{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, "user string")
    top = hot_keys(df, "user", k=3).collect()
    assert top[0].key == "hot" and top[0].cnt == 80
    assert abs(top[0].share - 0.8) < 1e-9
    assert top[1].cnt == 1  # everything else is flat


def test_bin_expr_null_and_degenerate_contracts(spark):
    """Pins bin_expr's documented edge behavior (ADVICE r9): a NULL
    value yields a NULL bin (it must NOT clamp to bin 0 and be
    counted — Spark's greatest/least skip NULLs, so this needs the
    explicit gate), out-of-range values clamp into the edge bins, and
    a zero-width range (lo == hi) sends every non-NULL value to bin 0."""
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.operators.histogram import bin_expr

    df = spark.createDataFrame(
        [(0.0,), (5.0,), (9.999,), (-3.0,), (42.0,), (None,)], "v double"
    )
    rows = df.select(
        "v", bin_expr(F.col("v"), F.lit(0.0), F.lit(10.0), 10).alias("bin")
    ).collect()
    got = {r.v: r.bin for r in rows}
    assert got[0.0] == 0 and got[5.0] == 5 and got[9.999] == 9
    assert got[-3.0] == 0 and got[42.0] == 9  # edge-bin clamps
    assert got[None] is None  # NULL propagates, never counted

    degen = df.select(
        "v", bin_expr(F.col("v"), F.lit(7.0), F.lit(7.0), 10).alias("bin")
    ).collect()
    assert {r.bin for r in degen if r.v is not None} == {0}
    assert [r.bin for r in degen if r.v is None] == [None]


def test_partition_histogram_counts_all_rows(spark):
    from printer_etl_hub_spark.operators.profile import partition_histogram

    df = spark.range(1000).repartition(8)
    hist = partition_histogram(df).collect()
    assert sum(r.n_rows for r in hist) == 1000
    assert len(hist) <= 8


def test_exactsubstr_excise_semantics(spark):
    """Pins the ExactSubstr contract (Lee et al. 2022) the oracle sweep
    can't state directly: (1) a span duplicated across documents is
    excised from EVERY occurrence, at ANY alignment; (2) a span
    repeated only WITHIN one document stays (min_docs counts distinct
    docs); (3) docs shorter than k are untouched; (4) a fully
    duplicated doc excises to empty kept_text; (5) overlapping
    duplicated windows merge — interior tokens aren't double-counted."""
    from printer_etl_hub_spark.operators.dedup import exactsubstr_excise

    shared = "alpha beta gamma delta"  # the 4-token duplicated span
    docs = [
        # d1/d2 share `shared` at DIFFERENT alignments (prefix vs middle)
        (1, f"{shared} one two three four five"),
        (2, f"zero {shared} six seven eight nine"),
        # d3 repeats a 4-gram twice WITHIN itself only — must stay whole
        (3, "red blue green yellow pad red blue green yellow"),
        # d4 shorter than k
        (4, "tiny doc"),
        # d5/d6 fully duplicated
        (5, "just the same words here again ok now"),
        (6, "just the same words here again ok now"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r.doc_id: r
        for r in collect_released(
            exactsubstr_excise(df, "doc_id", "text", k=4, min_docs=2)
        )
    }
    assert len(got) == 6  # one row per doc, always
    assert got[1].kept_text == "one two three four five"
    assert got[1].n_dup_tokens == 4 and got[1].n_tokens == 9
    assert got[2].kept_text == "zero six seven eight nine"
    assert got[2].n_dup_tokens == 4
    assert got[3].n_dup_tokens == 0 and got[3].kept_frac == 1.0
    assert got[3].kept_text == "red blue green yellow pad red blue green yellow"
    assert got[4].n_dup_tokens == 0 and got[4].kept_text == "tiny doc"
    for d in (5, 6):
        assert got[d].kept_text == "" and got[d].kept_frac == 0.0
        assert got[d].n_dup_tokens == got[d].n_tokens == 8


def test_minhash_index_join_finds_only_cross_corpus_pairs(spark):
    """The stored-index flow: a new batch joined against the history
    index yields exactly the in-corpus LSH pairs that CROSS the split —
    and nothing within either side."""
    from printer_etl_hub_spark.operators.dedup import (
        minhash_band_index,
        minhash_index_join,
    )

    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    hist = df.filter("doc_id = 1")
    new = df.filter("doc_id >= 2")
    hi = minhash_band_index(hist, "doc_id", "text", k=12, bands=4)
    ni = minhash_band_index(new, "doc_id", "text", k=12, bands=4)
    cross = {
        (r.new_id, r.hist_id) for r in minhash_index_join(ni, hi).collect()
    }
    # docs 1 and 2 are near-dups (shared shingle bands); 3 is unrelated
    assert cross == {(2, 1)}


def test_scd2_apply_history_and_idempotence(spark):
    """SCD2 contract: a changed key closes its version and inserts a
    replacement, history survives later batches untouched, and applying
    the SAME batch twice is a no-op (the second pass sees no attr
    diffs)."""
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.operators.upsert import scd2_apply

    dim = spark.createDataFrame(
        [(1, "A"), (2, "B")], "k int, v string"
    ).select(
        "k", "v",
        F.lit("2025-01-01").cast("date").alias("effective_from"),
        F.lit("9999-12-31").cast("date").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    batch = spark.createDataFrame([(1, "A2"), (3, "C")], "k int, v string")
    out1 = scd2_apply(dim, batch, "k", ["v"], "2026-01-01")
    rows = {(r.k, r.v, str(r.effective_to), r.is_current) for r in out1.collect()}
    assert rows == {
        (1, "A", "2026-01-01", False),   # closed old version
        (1, "A2", "9999-12-31", True),   # replacement
        (2, "B", "9999-12-31", True),    # untouched
        (3, "C", "9999-12-31", True),    # brand-new key
    }
    out2 = scd2_apply(out1, batch, "k", ["v"], "2026-06-01")
    rows2 = {(r.k, r.v, str(r.effective_to), r.is_current) for r in out2.collect()}
    assert rows2 == rows  # same snapshot again → no version churn


def test_scd2_apply_rejects_duplicate_keys_and_empty_attrs(spark):
    """A duplicate key in the batch would fan out through the left join
    into multiple open versions — the guard must raise, not corrupt the
    dimension. Empty attrs is a caller bug, not a silent no-op."""
    import pytest

    from pyspark.sql import functions as F

    from printer_etl_hub_spark.operators.upsert import scd2_apply

    dim = spark.createDataFrame([(1, "A")], "k int, v string").select(
        "k", "v",
        F.lit("2025-01-01").cast("date").alias("effective_from"),
        F.lit("9999-12-31").cast("date").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    dup = spark.createDataFrame([(1, "A2"), (1, "A3")], "k int, v string")
    with pytest.raises(ValueError, match="duplicate key"):
        scd2_apply(dim, dup, "k", ["v"], "2026-01-01")
    # check_unique=False is the caller's explicit acceptance of the
    # precondition — the guard job must not run (no raise here).
    scd2_apply(dim, dup, "k", ["v"], "2026-01-01", check_unique=False)
    with pytest.raises(ValueError, match="attrs"):
        scd2_apply(dim, spark.createDataFrame([(1, "A2")], "k int, v string"), "k", [], "2026-01-01")


def test_cms_build_weighted_equals_raw(spark):
    """cms_build(weight_col=) over pre-aggregated counts must reproduce
    the raw-occurrence grid cell-for-cell (the q105 single-pass form)."""
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.operators.cms import cms_build

    raw = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",), ("c",), ("c",)], "w string"
    )
    agg = raw.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    g1 = {(r.i, r.col): r.c for r in cms_build(raw, "w", depth=3, width=16).collect()}
    g2 = {
        (r.i, r.col): r.c
        for r in cms_build(agg, "w", depth=3, width=16, weight_col="n").collect()
    }
    assert g1 == g2 and g1


def test_leakage_safe_split_reuses_precomputed_components(spark):
    """The components= path must be a pure projection over the supplied
    CC table and produce EXACTLY the same split as the self-computing
    path — the q81-reuse contract the docstring promises."""
    from printer_etl_hub_spark.operators.components import connected_components
    from printer_etl_hub_spark.operators.dedup import ngram_jaccard_pairs
    from printer_etl_hub_spark.plans.textops import _J_MAX_DF, leakage_safe_split
    from printer_etl_hub_spark.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    pairs, pins = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.8, max_df=_J_MAX_DF
    )
    comp = connected_components(pairs, "a_id", "b_id")
    for p in pins:
        p.unpersist()
    fed = {
        (r.doc_id, r.group_id, r.split)
        for r in leakage_safe_split(docs, components=comp).collect()
    }
    self_computed = {
        (r.doc_id, r.group_id, r.split)
        for r in leakage_safe_split(docs, threshold=0.8, max_df=_J_MAX_DF).collect()
    }
    assert fed == self_computed and fed
    # every duplicate group lands entirely on one side
    by_group: dict = {}
    for _, g, s in fed:
        by_group.setdefault(g, set()).add(s)
    assert all(len(v) == 1 for v in by_group.values())


def test_semantic_dedup_kmeans_par_recovers_duplicate_structure(spark):
    """Identical vectors always share a cluster regardless of seeding, so
    the keeper structure of an exact-duplicate corpus is seeding-
    invariant: kmeans_par must recover exactly one keeper per duplicate
    group, matching the default-seeded run."""
    from printer_etl_hub_spark.operators.dedup import semantic_dedup

    rows = []
    for g in range(5):
        # orthogonal one-hot directions: cross-group cosine is exactly 0,
        # so only true copies can pair at any tau
        vec = [2.0 if d == g else 0.0 for d in range(5)]
        for c in range(4):
            rows.append((g * 100 + c, vec))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    stats: dict = {}
    par = semantic_dedup(
        df, "vec_id", "embedding", k=4, tau=0.999, iters=2,
        seeding="kmeans_par", stats=stats,
    ).collect()
    assert stats["seeding_rounds"] == 5
    keepers = {r.vec_id for r in par if r.is_keeper}
    assert keepers == {0, 100, 200, 300, 400}
    default = semantic_dedup(
        df, "vec_id", "embedding", k=4, tau=0.999, iters=2
    ).collect()
    assert {r.vec_id for r in default if r.is_keeper} == keepers


def test_boilerplate_filter_drops_common_spans_everywhere(spark):
    """A span in > max_doc_df distinct documents disappears from ALL of
    them (q91's keep-first dedup would have kept the first copy); spans
    at or under the threshold survive untouched."""
    from printer_etl_hub_spark.operators.dedup import boilerplate_filter

    footer = " ".join(f"f{i}" for i in range(10))  # one full 10-token span
    rows = [
        (1, f"{footer} a b c d e f g h i j"),
        (2, f"{footer} k l m n o p q r s t"),
        (3, f"{footer} u v w x y z aa bb cc dd"),
        (4, "solo1 solo2 solo3 solo4 solo5 solo6 solo7 solo8 solo9 solo10"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: r
        for r in collect_released(boilerplate_filter(df, "doc_id", "text", 10, 2))
    }
    assert len(out) == 4
    for d in (1, 2, 3):
        assert out[d].n_segs == 2
        assert out[d].n_kept == 1
        assert footer not in out[d].kept_text
    assert out[4].n_kept == 1 and out[4].kept_text.startswith("solo1")


def test_winnow_fingerprints_shared_substring_guarantee(spark):
    """Winnowing's contract (Schleimer et al. 2003 thm 1): two documents
    sharing a substring of length >= k + w - 1 chars share at least one
    selected fingerprint HASH — even when the copy sits at different
    positions inside otherwise-different documents."""
    from printer_etl_hub_spark.operators.dedup import winnow_fingerprints

    copied = "xxcopiedblockyy"  # 15 chars >= k + w - 1 = 11
    rows = [
        (1, f"aaaaaaaaaaaaaaaaaa{copied}bbbbbbbb"),
        (2, f"cc{copied}dddddddddddddddddddddddd"),
        (3, "entirely unrelated content with no shared block at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fp = winnow_fingerprints(df, "doc_id", "text", k=8, w=4).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert by_doc[1] & by_doc[2], "shared >=k+w-1 substring must share a fingerprint"
    # density sanity: selections are a strict subset of the windows
    n_windows = {d: len(t.replace(" ", "")) - 8 + 1 - 3 for d, t in
                 ((r[0], r[1]) for r in rows)}
    for d, hashes in by_doc.items():
        assert 0 < len(hashes) <= n_windows[d]


def test_winnow_fingerprints_positions_decode_and_tie_rightmost(spark):
    """The packed encoding round-trips: every fingerprint's (hash, pos)
    re-hashes to the k-gram at that position, and a text that repeats
    one gram (hash tie inside a window) selects the RIGHTMOST tied
    occurrence — the robust-winnowing rule."""
    from printer_etl_hub_spark.operators.dedup import winnow_fingerprints

    text = "abcdefgh" * 4  # heavy self-repetition => guaranteed hash ties
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    fp = winnow_fingerprints(df, "doc_id", "text", k=8, w=4).collect()
    import hashlib

    s = text
    for r in fp:
        gram = s[r.fp_pos - 1 : r.fp_pos - 1 + 8]
        want = int(hashlib.md5(gram.encode()).hexdigest()[:8], 16)
        assert r.fp_hash == want
        assert r.packed == r.fp_hash * (1 << 20) + ((1 << 20) - 1 - r.fp_pos)
    # every window of w=4 consecutive grams contains a selected position
    n_windows = len(s) - 8 + 1 - 3
    sel_pos = sorted({r.fp_pos for r in fp})
    for wstart in range(1, n_windows + 1):
        assert any(wstart <= p <= wstart + 3 for p in sel_pos)


def test_winnow_fingerprints_oversized_doc_fails_loudly(spark):
    """The packed (hash, pos) encoding caps documents at 2^20 grams; a
    longer document used to silently corrupt the window-min selection
    (negative position term). It must now raise, not mis-fingerprint
    (round-6 advice item #2)."""
    import pytest

    from printer_etl_hub_spark.operators.dedup import winnow_fingerprints

    big = "x" * 1_050_000  # > 2^20 grams after whitespace stripping
    df = spark.createDataFrame([(1, big)], "doc_id long, text string")
    with pytest.raises(Exception, match=r"2\^20 grams"):
        winnow_fingerprints(df, "doc_id", "text", k=8, w=4).collect()
    # a normal document still fingerprints fine through the guard
    ok = spark.createDataFrame(
        [(2, "a perfectly ordinary document body")], "doc_id long, text string"
    )
    assert winnow_fingerprints(ok, "doc_id", "text", k=8, w=4).count() > 0


def test_ngram_containment_asymmetric_quote_inclusion(spark):
    """A short document quoted whole inside a long one: containment must
    fire in the contained direction (≈1) while Jaccard stays small —
    the case symmetric thresholds structurally miss."""
    from printer_etl_hub_spark.operators.dedup import ngram_containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(60))
    long_doc = f"{filler} {short} " + " ".join(f"v{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, short), (2, long_doc)], "doc_id long, text string"
    )
    rows = collect_released(
        ngram_containment_pairs(df, "doc_id", "text", threshold=0.9)
    )
    assert len(rows) == 1
    r = rows[0]
    assert (r.a_id, r.b_id) == (1, 2)
    # every 3-gram of the short doc appears in the long doc
    assert r.c_a_in_b == 1.0
    assert r.c_b_in_a < 0.1
    assert r.jaccard < 0.1
    # the same pair is invisible to the symmetric detector at any
    # comparable threshold
    assert collect_released(ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5)) == []


def test_ivf_probe_sweep_matches_ivf_topk_and_is_monotone(spark):
    """Contract: the sweep's level p must equal ivf_topk(n_probe=p)
    row-for-row (same index, same ranking), and candidate coverage —
    hence hits against any fixed truth — is monotone in p."""
    from printer_etl_hub_spark.operators.similarity import ivf_probe_sweep

    df = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(200)
    )
    sweep, pins = ivf_probe_sweep(
        df, "vec_id", "embedding", k=3, n_centroids=8, probes=(1, 2, 4)
    )
    got = {
        p: {(r.vec_id, r.neighbor_id, r.rn) for r in rows}
        for p, rows in (
            (p, sweep.filter(F.col("n_probe") == p).collect()) for p in (1, 2, 4)
        )
    }
    for pin in pins:
        pin.unpersist()
    for p in (1, 2, 4):
        ref = {
            (r.vec_id, r.neighbor_id, r.rn)
            for r in collect_released(
                ivf_topk(df, "vec_id", "embedding", k=3, n_centroids=8, n_probe=p)
            )
        }
        assert got[p] == ref, f"sweep level {p} diverges from ivf_topk"


def test_attribution_solve_matches_duckdb_on_random_chains(spark):
    """Property gate for the pandas chain solve (`_solve_chain`): on 12
    seeded RANDOM transition-count frames — varying channel counts,
    sparsity, a conversion-free chain (the ANSI NULL degenerate), and
    count magnitudes up to 10^9 — `attribution_frames` must equal the
    UNROLLED DuckDB oracle (`plans/relational.py::_attr_chain_sql`, the
    exact SQL tail q263's gate runs) cell-for-cell. This is what lets
    the solve run imperatively per chain: the DECIMAL(38,18) replication
    is re-proven on arbitrary chains every run, not just on the events
    table."""
    import math
    import random

    import duckdb
    import pandas as pd

    from printer_etl_hub_spark.operators.attribution import attribution_frames
    from printer_etl_hub_spark.plans.relational import _attr_chain_sql

    def cells_equal(a, b):
        if a is None and b is None:
            return True
        if isinstance(a, float) and isinstance(b, float):
            return (math.isnan(a) and math.isnan(b)) or a == b
        return a == b

    con = duckdb.connect()
    for seed in range(12):
        rng = random.Random(seed)
        n_ch = rng.randint(1, 8)
        chans = [f"ch{i}" for i in range(n_ch)]
        rows = []
        # every channel is entered from start or another channel; random
        # outgoing edges to channels / conv / lost with random counts
        for c in chans:
            rows.append(("__start__", c, rng.randint(1, 10**9)))
            for nxt in rng.sample(chans, k=rng.randint(0, n_ch - 1) if n_ch > 1 else 0):
                if nxt != c:
                    rows.append((c, nxt, rng.randint(1, 10**6)))
            if seed % 4 != 3:  # seed%4==3 → conversion-free chain
                if rng.random() < 0.8:
                    rows.append((c, "__conv__", rng.randint(1, 10**4)))
            rows.append((c, "__lost__", rng.randint(1, 10**5)))
        rows = list({(p, n): c for p, n, c in rows}.items())
        rows = [(p, n, c) for (p, n), c in rows]
        pdf = pd.DataFrame(rows, columns=["prev", "nxt", "n"])
        trans = spark.createDataFrame(pdf.astype({"n": "int64"}))
        res, pins = attribution_frames(trans)
        got = res.toPandas().sort_values("channel").reset_index(drop=True)
        for p in pins:
            p.unpersist()
        con.register("trans_tbl", pdf)
        want = con.execute(
            "WITH trans AS (SELECT * FROM trans_tbl),\n" + _attr_chain_sql()
        ).df()
        want = want.sort_values("channel").reset_index(drop=True)
        assert list(got.columns) == list(want.columns), (seed, got.columns)
        assert len(got) == len(want) == n_ch, (seed, len(got), len(want))
        for col in got.columns:
            for i, (x, y) in enumerate(zip(got[col], want[col])):
                x = None if x is None or (isinstance(x, float) and pd.isna(x)) else x
                y = None if y is None or (isinstance(y, float) and pd.isna(y)) else y
                assert cells_equal(x, y), (seed, col, i, x, y)


def test_decimal_cast_replication_pinned_live(spark):
    """Pin the `_solve_chain` docstring's claim against the LIVE JVM
    every run: Spark's double→DECIMAL(38,18) cast equals
    Decimal(repr(x)).quantize(1e-18, HALF_UP) (shortest-round-trip
    string + HALF_UP), and decimal→double equals float(Decimal). 20k
    doubles across magnitudes, fresh seed per Spark version bump."""
    from decimal import ROUND_HALF_UP, Decimal

    df = spark.range(20_000).select(
        (F.rand(seed=11) * F.pow(F.lit(10.0), F.rand(seed=12) * F.lit(-20.0))).alias(
            "x"
        )
    )
    s = df.select(
        "x",
        F.col("x").cast("decimal(38,18)").cast("string").alias("c"),
        F.col("x").cast("decimal(38,18)").cast("double").alias("d"),
    ).toPandas()
    q = Decimal("1e-18")
    for x, c, d in zip(s["x"], s["c"], s["d"]):
        assert Decimal(repr(x)).quantize(q, ROUND_HALF_UP) == Decimal(c), (x, c)
        assert float(Decimal(c)) == d, (c, d)
