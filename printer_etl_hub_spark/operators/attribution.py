"""Markov removal-effect attribution core shared by the batch query and
the streaming sink.

`attribution_frames` solves the absorbing chain for a TRANSITION-COUNT
frame — q263 (plans/relational.py) builds those counts in one pass over
events, `streaming/corpus.py::attribution_sink` accumulates them
incrementally from a journey-state store — so the stream≡batch
equivalence is structural: identical probabilities, identical 16 pinned
absorption rounds (DECIMAL(38,18) product sums, the q251 discipline),
identical removal semantics (a deleted channel's in-edges leak to lost,
never renormalized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Pinned absorption-iteration count (see q263's exactness contract).
ATTR_ROUNDS = 16
ATTR_START = "__start__"
ATTR_CONV = "__conv__"
ATTR_NONE = "__none__"
ATTR_LOST = "__lost__"


def _solve_chain(pdf):
    """One chain's 16 absorption rounds, run imperatively per group with
    the ENGINE'S decimal semantics replicated bit-for-bit:

    - per-term product ``p * a`` is an IEEE-754 double multiply (Python
      floats ARE doubles; Arrow transfers them exactly);
    - the cast to DECIMAL(38,18) is ``Decimal(repr(x)).quantize(1e-18,
      HALF_UP)`` — Spark's Cast goes through ``Double.toString`` (the
      shortest decimal string that round-trips), which is what Python's
      ``repr`` produces, then rounds HALF_UP at scale 18. Verified
      empirically against the JVM cast on 4M doubles across magnitudes
      incl. values near the 1e-18 quantum: 0 mismatches
      (tests/test_operators.py pins a live sample each run);
    - the per-(prev) sum is an EXACT Decimal sum (order-insensitive,
      like the engine's decimal aggregate);
    - the cast back to double is ``float(Decimal)`` — correctly-rounded
      nearest, matching the JVM's decimal→double (verified on 500k
      sums);
    - the ``r + c`` update is one IEEE double add.
    """
    import pandas as pd

    from decimal import Decimal, ROUND_HALF_UP

    q18 = Decimal("1e-18")
    chain = pdf["chain"].iloc[0]
    rrows = pdf[pdf["kind"] == "r"]
    qrows = pdf[pdf["kind"] == "q"]
    r = dict(zip(rrows["state"], rrows["val"]))
    edges = list(zip(qrows["state"], qrows["nxt"], qrows["val"]))
    a = dict(r)
    for _ in range(ATTR_ROUNDS):
        acc: dict[str, Decimal] = {}
        for prev, nxt, p in edges:
            term = Decimal(repr(p * a[nxt])).quantize(q18, ROUND_HALF_UP)
            acc[prev] = acc.get(prev, Decimal(0)) + term
        a = {
            s: rv + (float(acc[s]) if s in acc else 0.0) for s, rv in r.items()
        }
    return pd.DataFrame({"chain": [chain], "a": [a[ATTR_START]]})


def attribution_frames(trans: DataFrame):
    """The chain solve: returns (result_frame, pins) where ``pins`` are
    the persisted shared subtrees the lazy result still references —
    the caller releases them after its action. ``prev``/``nxt`` use the
    sentinel states ATTR_START / ATTR_CONV / ATTR_LOST; channels are
    every non-sentinel state.

    All frames downstream of ``trans`` are ≤ (|channels|+1)·|states|²
    rows — an INDEX-scale problem, never corpus-scale — so the 16
    synchronous rounds run per chain inside ONE ``applyInPandas`` group
    (`_solve_chain`, which replicates the engine's DECIMAL(38,18)
    semantics bit-for-bit; the unrolled DuckDB oracle and a
    random-chain property test gate it). The previous shape — 16
    driver-synchronized join+agg rounds with periodic localCheckpoint —
    was plan-correct but paid ~16× the fixed per-job cost on frames of
    a few dozen rows (VERDICT r10 #4: 9.6 s of q263's 9.96 s at sf0.1
    was the solve); this is one shuffle keyed by chain, parallel over
    |channels|+1 groups, each group ≤ |states|² edges × 16 rounds of
    in-memory arithmetic."""
    from pyspark import StorageLevel

    spark = trans.sparkSession
    # Materialize the transition counts ONCE (r13 optimization, guide §5):
    # ``trans`` is ≤ |states|²-row index-scale by construction, but its
    # SUBTREE is the corpus pass (q263: three user-keyed windows over
    # events + a shuffle), and five downstream consumers (tot, p→r,
    # p→q_ch, channels twice) would re-execute it per consumer — the
    # caller's persist on the event prefix kept the SCAN cheap but still
    # re-ran the windows and the counting shuffle each time. One eager
    # localCheckpoint collapses every re-execution to a tiny LogicalRDD
    # read (measured on q263 at sf0.1, together with the astart cut
    # below: 97 stages → 45, wall 6.9 s → 2.5 s).
    trans = trans.localCheckpoint(eager=True)
    tot = trans.groupBy("prev").agg(F.sum("n").cast("bigint").alias("tot"))
    p = trans.join(F.broadcast(tot), "prev").select(
        "prev",
        "nxt",
        (F.col("n").cast("double") / F.col("tot").cast("double")).alias("p"),
    )
    channels = (
        trans.select(F.col("prev").alias("ch"))
        .unionByName(trans.select(F.col("nxt").alias("ch")))
        .filter(~F.col("ch").isin(ATTR_START, ATTR_CONV, ATTR_LOST))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    chains = channels.select(F.col("ch").alias("chain")).unionByName(
        spark.range(1).select(F.lit(ATTR_NONE).alias("chain"))
    )
    states = channels.select(F.col("ch").alias("state")).unionByName(
        spark.range(1).select(F.lit(ATTR_START).alias("state"))
    )
    r = p.filter(F.col("nxt") == ATTR_CONV).select(
        F.col("prev").alias("state"), F.col("p").alias("r")
    )
    # One tagged frame carries each chain's whole subproblem to its
    # group: 'r' rows are the rbase (state, restart-probability) table,
    # 'q' rows the chain's surviving transition edges. The cross joins
    # are channel-count × states²-bounded (the BNLJ whitelist class).
    rbase = (
        chains.join(states)
        .filter(F.col("state") != F.col("chain"))
        .join(r, "state", "left")
        .select(
            "chain",
            F.lit("r").alias("kind"),
            "state",
            F.lit(None).cast("string").alias("nxt"),
            F.coalesce("r", F.lit(0.0)).alias("val"),
        )
    )
    q_ch = (
        p.join(states.withColumnRenamed("state", "nxt"), "nxt")
        .join(chains)
        .filter((F.col("prev") != F.col("chain")) & (F.col("nxt") != F.col("chain")))
        .select(
            "chain",
            F.lit("q").alias("kind"),
            F.col("prev").alias("state"),
            "nxt",
            F.col("p").alias("val"),
        )
    )
    astart = (
        rbase.unionByName(q_ch)
        .groupBy("chain")
        .applyInPandas(_solve_chain, "chain string, a double")
        # |chains| rows; consumed twice (p_base probe + per_ch) — one
        # eager cut keeps the pandas solve and its join jungle single-run.
        .localCheckpoint(eager=True)
    )
    p_base = astart.filter(F.col("chain") == ATTR_NONE).select(
        F.col("a").alias("p_base")
    )
    per_ch = (
        astart.filter(F.col("chain") != ATTR_NONE)
        .join(F.broadcast(p_base))
        .select(
            F.col("chain").alias("channel"),
            "p_base",
            F.col("a").alias("p_removed"),
            ((F.col("p_base") - F.col("a")) / F.nullif("p_base", F.lit(0.0))).alias(
                "re"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    re_tot = per_ch.agg(
        F.sum(F.col("re").cast("decimal(38,18)")).cast("double").alias("re_tot")
    )
    res = (
        per_ch.join(F.broadcast(re_tot))
        .select(
            "channel",
            F.round("p_base", 9).alias("p_base"),
            F.round("p_removed", 9).alias("p_removed"),
            F.round("re", 9).alias("removal_effect"),
            F.round(F.col("re") / F.nullif("re_tot", F.lit(0.0)), 9).alias(
                "attribution"
            ),
        )
        .orderBy("channel")
    )
    return res, (channels, per_ch)
