"""Time-series operators shared by the batch query pack and the
streaming sinks.

The EWMA table here is q228's core (plans/relational.py) factored out so
the streaming twin (`streaming/corpus.py::ewma_daily_sink`) applies the
IDENTICAL arithmetic to an incrementally-maintained daily store — the
stream≡batch equivalence test pins them together. Weights are
Python-evaluated constants (pow() at query time is not bit-portable; a
pinned literal is) and per-day terms sum through DECIMAL(38,18).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EWMA_ALPHA = 0.3
EWMA_LAGS = 14
#: w_j = α·(1−α)^(j−1), j = 1..EWMA_LAGS — pinned Python floats.
EWMA_W = [EWMA_ALPHA * (1 - EWMA_ALPHA) ** (j - 1) for j in range(1, EWMA_LAGS + 1)]
EWMA_WSUM = sum(EWMA_W)


def cusum_table(daily: DataFrame):
    """(day: date, x: bigint) → ((day: 'yyyy-MM-dd', n_events, cusum,
    is_peak), pinned) — q230's Page-style changepoint scan, factored
    here so the streaming daily-store sink emits the identical table.
    Sₜ is computed SCALED by n (Σ n·xᵢ − t·Σx, all DECIMAL(38,0)
    integers) and divided once — zero float accumulation; the
    single-partition window runs on the |days|-bounded daily frame
    only. The returned ``pinned`` frame feeds both the rows and the
    peak; release it via materialize_release (the dist_rank convention)
    or unpersist after the sink's write.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    tot = daily.agg(
        F.sum("x").cast("bigint").alias("_s"),
        F.count(F.lit(1)).cast("bigint").alias("_n"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        daily.join(F.broadcast(tot))
        .withColumn("_cx", F.sum(F.col("x").cast("decimal(38,0)")).over(w))
        .withColumn("_t", F.sum(F.lit(1).cast("decimal(38,0)")).over(w))
    )
    sn = (
        F.col("_n").cast("decimal(38,0)") * F.col("_cx")
        - F.col("_t") * F.col("_s").cast("decimal(38,0)")
    )
    scored = cum.select(
        "day",
        F.col("x").alias("n_events"),
        (sn.cast("double") / F.col("_n").cast("double")).alias("_cusum"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    peak = scored.agg(F.max(F.abs(F.col("_cusum"))).alias("_peak"))
    res = scored.join(F.broadcast(peak)).select(
        F.date_format(F.col("day").cast("timestamp"), "yyyy-MM-dd").alias("day"),
        "n_events",
        F.round(F.col("_cusum"), 6).alias("cusum"),
        (F.abs(F.col("_cusum")) == F.col("_peak")).alias("is_peak"),
    )
    return res, scored


def ewma_anomaly_table(daily: DataFrame) -> DataFrame:
    """(day: date, x: bigint) → (day: 'yyyy-MM-dd', n_events, ewma,
    ratio) for every day with a FULL 14-day prior window. The daily
    frame is bounded by the time range, not the corpus, so the 14-way
    self-join is |days|·14 rows at any scale.
    """
    lags = F.explode(
        F.array(*[F.lit(int(j)) for j in range(1, EWMA_LAGS + 1)])
    ).alias("j")
    probe = daily.select(F.col("day"), F.col("x"), lags).withColumn(
        "prev_day", F.date_sub(F.col("day"), F.col("j"))
    )
    w = F.element_at(F.array(*[F.lit(float(wj)) for wj in EWMA_W]), F.col("j"))
    j = probe.join(
        daily.select(F.col("day").alias("prev_day"), F.col("x").alias("px")),
        "prev_day",
    )
    return (
        j.groupBy("day", "x")
        .agg(
            F.count(F.lit(1)).alias("_nl"),
            F.sum((w * F.col("px").cast("double")).cast("decimal(38,18)")).alias(
                "_ws"
            ),
        )
        .filter(F.col("_nl") == EWMA_LAGS)
        .select(
            F.date_format(F.col("day").cast("timestamp"), "yyyy-MM-dd").alias(
                "day"
            ),
            F.col("x").alias("n_events"),
            F.round(
                F.col("_ws").cast("double") / F.lit(float(EWMA_WSUM)), 6
            ).alias("ewma"),
            F.round(
                F.col("x").cast("double")
                / (F.col("_ws").cast("double") / F.lit(float(EWMA_WSUM))),
                6,
            ).alias("ratio"),
        )
    )


HOLT_ALPHA = 0.5
HOLT_BETA = 0.5


def holt_table(daily: DataFrame) -> DataFrame:
    """(day: date, x: bigint) → (day: 'yyyy-MM-dd', x, forecast, resid,
    level, trend) — Holt's linear-trend (double exponential) smoothing,
    q258's core factored here so the streaming daily-store sink
    (`streaming/corpus.py::holt_daily_sink`) emits the IDENTICAL table
    off its incrementally-maintained store. level₁ = x₁, trend₁ = 0;
    level_t = α·x + (1−α)(level+trend); trend_t = β(level_t − level) +
    (1−β)·trend; rows emitted for every day after the first.

    α = β = 1/2 are dyadic, so with integer daily counts every value is
    an exact binary double in any engine. The recurrence is inherently
    sequential: it folds over the |days|-bounded sorted array on one
    row (the q251 pinned-iteration discipline) — never a window or a
    join per step, and the ONLY corpus-sized stage is the caller's
    daily pre-agg.
    """
    arr = daily.agg(F.array_sort(F.collect_list(F.struct("day", "x"))).alias("s"))
    out_t = (
        "array<struct<day:date,x:bigint,forecast:double,resid:double,"
        "level:double,trend:double>>"
    )
    acc0 = F.struct(
        F.lit(0).alias("i"),
        F.lit(0.0).alias("l"),
        F.lit(0.0).alias("tr"),
        F.array().cast(out_t).alias("out"),
    )

    def _step(acc, e):
        x = e["x"].cast("double")
        fc = acc["l"] + acc["tr"]
        l_new = F.lit(HOLT_ALPHA) * x + F.lit(1.0 - HOLT_ALPHA) * fc
        tr_new = F.lit(HOLT_BETA) * (l_new - acc["l"]) + F.lit(
            1.0 - HOLT_BETA
        ) * acc["tr"]
        row = F.struct(
            e["day"].alias("day"),
            e["x"].alias("x"),
            F.round(fc, 6).alias("forecast"),
            F.round(x - fc, 6).alias("resid"),
            F.round(l_new, 6).alias("level"),
            F.round(tr_new, 6).alias("trend"),
        )
        return F.when(
            acc["i"] == 0,
            F.struct(
                F.lit(1).alias("i"),
                x.alias("l"),
                F.lit(0.0).alias("tr"),
                acc["out"].alias("out"),
            ),
        ).otherwise(
            F.struct(
                (acc["i"] + 1).alias("i"),
                l_new.alias("l"),
                tr_new.alias("tr"),
                F.concat(acc["out"], F.array(row)).alias("out"),
            )
        )

    folded = arr.select(
        F.explode(F.aggregate(F.col("s"), acc0, _step)["out"]).alias("r")
    )
    return folded.select(
        F.col("r.day").cast("string").alias("day"),
        "r.x",
        "r.forecast",
        "r.resid",
        "r.level",
        "r.trend",
    )


def holt_winters_table(daily: DataFrame) -> DataFrame:
    """(day: date, x: bigint) → (day: 'yyyy-MM-dd', x, forecast, resid,
    level, trend, season) — Holt-Winters ADDITIVE triple smoothing with
    a 7-slot CALENDAR-anchored weekly season, q271's core factored here
    so the streaming daily-store sink (`streaming/corpus.py::
    holt_winters_daily_sink`) emits the IDENTICAL table. α = β = γ =
    1/2 (dyadic — every intermediate an exact binary double on integer
    counts); day 1 initializes level = x₁, trend = 0, all slots 0;
    rows emit from day 2. Slots key on dayofweek (Sunday = 0 — the
    oracle's dow()), not position: a gap day must not rotate the week
    out from under the seasonals. Same |days|-bounded single-row fold
    as `holt_table` — never a window or join per step.
    """
    arr = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "x"))).alias("s")
    )
    out_t = (
        "array<struct<day:date,x:bigint,forecast:double,resid:double,"
        "level:double,trend:double,season:double>>"
    )
    half = F.lit(0.5)
    acc0 = F.struct(
        F.lit(0).alias("i"),
        F.lit(0.0).alias("l"),
        F.lit(0.0).alias("tr"),
        *[F.lit(0.0).alias(f"s{j}") for j in range(7)],
        F.array().cast(out_t).alias("out"),
    )

    def _step(acc, e):
        x = e["x"].cast("double")
        slot = F.dayofweek(e["day"]) - 1  # 0..6, Sunday = 0
        s_cur = F.lit(0.0)
        for j in range(6, -1, -1):
            s_cur = F.when(slot == j, acc[f"s{j}"]).otherwise(s_cur)
        fc = acc["l"] + acc["tr"] + s_cur
        l_new = half * (x - s_cur) + half * (acc["l"] + acc["tr"])
        tr_new = half * (l_new - acc["l"]) + half * acc["tr"]
        s_new = half * (x - l_new) + half * s_cur
        row = F.struct(
            e["day"].alias("day"),
            e["x"].alias("x"),
            F.round(fc, 6).alias("forecast"),
            F.round(x - fc, 6).alias("resid"),
            F.round(l_new, 6).alias("level"),
            F.round(tr_new, 6).alias("trend"),
            F.round(s_new, 6).alias("season"),
        )
        init = F.struct(
            F.lit(1).alias("i"),
            x.alias("l"),
            F.lit(0.0).alias("tr"),
            *[F.lit(0.0).alias(f"s{j}") for j in range(7)],
            acc["out"].alias("out"),
        )
        upd = F.struct(
            (acc["i"] + 1).alias("i"),
            l_new.alias("l"),
            tr_new.alias("tr"),
            *[
                F.when(slot == j, s_new).otherwise(acc[f"s{j}"]).alias(f"s{j}")
                for j in range(7)
            ],
            F.concat(acc["out"], F.array(row)).alias("out"),
        )
        return F.when(acc["i"] == 0, init).otherwise(upd)

    folded = arr.select(
        F.explode(F.aggregate(F.col("s"), acc0, _step)["out"]).alias("r")
    )
    return folded.select(
        F.col("r.day").cast("string").alias("day"),
        "r.x",
        "r.forecast",
        "r.resid",
        "r.level",
        "r.trend",
        "r.season",
    )


def kaplan_meier_table(per_u: DataFrame) -> DataFrame:
    """(user-keyed frame with first_day, last_day, conv_day: date) →
    (t_days, n_risk, d_converted, c_censored, survival) — q270's
    product-limit estimator factored here so the streaming
    per-user-store sink (`streaming/corpus.py::km_sink`) emits the
    IDENTICAL curve. Duration = first event → first conversion
    (censored at the corpus max-day for never-converters); risk sets
    integer, each survival factor one correctly-rounded double division,
    product folded in t order over the |days|-bounded array on one row
    (windowed products are engine-order-dependent — the q258 sequential
    discipline)."""
    mx = per_u.agg(F.max("last_day").alias("max_day"))
    lab = per_u.join(F.broadcast(mx)).select(
        F.col("conv_day").isNotNull().alias("converted"),
        F.when(
            F.col("conv_day").isNotNull(),
            F.datediff(F.col("conv_day"), F.col("first_day")),
        )
        .otherwise(F.datediff(F.col("max_day"), F.col("first_day")))
        .cast("bigint")
        .alias("t_days"),
    )
    ev = lab.groupBy("t_days").agg(
        F.sum(F.when(F.col("converted"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.sum(F.when(F.col("converted"), 0).otherwise(1))
        .cast("bigint")
        .alias("c"),
    )
    out_t = (
        "array<struct<t_days:bigint,n_risk:bigint,d_converted:bigint,"
        "c_censored:bigint,survival:double>>"
    )
    one = ev.agg(
        F.array_sort(F.collect_list(F.struct("t_days", "d", "c"))).alias("arr"),
        F.sum(F.col("d") + F.col("c")).cast("bigint").alias("n_tot"),
    )
    acc0 = F.struct(
        F.col("n_tot").alias("left"),
        F.lit(1.0).alias("s"),
        F.array().cast(out_t).alias("out"),
    )

    def _step(acc, e):
        n_risk = acc["left"]
        s_new = acc["s"] * (
            (n_risk - e["d"]).cast("double") / n_risk.cast("double")
        )
        row = F.struct(
            e["t_days"].alias("t_days"),
            n_risk.alias("n_risk"),
            e["d"].alias("d_converted"),
            e["c"].alias("c_censored"),
            F.round(s_new, 9).alias("survival"),
        )
        return F.struct(
            (n_risk - e["d"] - e["c"]).alias("left"),
            s_new.alias("s"),
            F.concat(acc["out"], F.array(row)).alias("out"),
        )

    folded = one.select(
        F.aggregate(F.col("arr"), acc0, _step)["out"].alias("out")
    )
    return folded.select(F.explode("out").alias("r")).select("r.*")


def wilcoxon_weekly_table(daily: DataFrame):
    """q282's Wilcoxon signed-rank arithmetic from a (day, x) daily
    frame — factored here so the streaming twin
    (`streaming/corpus.py::wilcoxon_weekly_sink`) applies the IDENTICAL
    statistic to the incrementally-maintained daily store. See the q282
    docstring (plans/relational.py) for the exactness argument: integer
    diffs, doubled |d| midranks via dist_cumsum, exact DECIMAL(38,0)
    W2+/tie terms, one fixed-order double z.

    Returns ``(one_row_df, pin)`` — release the pin through
    materialize_release (batch) or unpersist after the write (sink).
    """
    from ..plans.common import doubled_midranks, tie_term

    prev = daily.select(
        F.date_add(F.col("day"), 7).alias("day"), F.col("x").alias("x_prev")
    )
    pairs = daily.join(prev, "day").select(
        (F.col("x") - F.col("x_prev")).alias("d")
    )
    n_pairs = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    nz = pairs.filter(F.col("d") != 0).select(
        F.abs(F.col("d")).alias("a"), (F.col("d") > 0).alias("pos")
    )
    hist = nz.groupBy("a").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("n_pos"),
    )
    w2, pin = doubled_midranks(hist, "a")
    dec19 = "decimal(19,0)"
    dec = "decimal(38,0)"
    agg = w2.agg(
        F.sum("n_v").cast("bigint").alias("n"),
        F.sum(F.col("n_pos").cast(dec19) * F.col("w2")).cast(dec).alias("w2_plus"),
        tie_term().alias("tie_t"),
    )
    j = agg.join(F.broadcast(n_pairs))
    nn = F.coalesce(F.col("n"), F.lit(0)).cast(dec19)
    mean2 = (nn * (nn + 1) / 2).cast(dec)  # n(n+1) is even — exact integer
    nd = F.coalesce(F.col("n"), F.lit(0)).cast("double")
    var2 = (nd * (nd + 1.0) * (2.0 * nd + 1.0)) / F.lit(6.0) - F.coalesce(
        F.col("tie_t"), F.lit(0).cast(dec)
    ).cast("double") / F.lit(12.0)
    z = (F.col("w2_plus") - mean2).cast("double") / F.nullif(
        F.sqrt(var2), F.lit(0.0)
    )
    res = j.select(
        "n_pairs",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_nonzero"),
        F.coalesce(F.col("w2_plus"), F.lit(0).cast(dec))
        .cast("string")
        .alias("w2_plus"),
        F.coalesce(F.col("tie_t"), F.lit(0).cast(dec))
        .cast("string")
        .alias("tie_t"),
        F.when(F.coalesce(F.col("n"), F.lit(0)) > 0, F.round(z, 9)).alias("z"),
    )
    return res, pin


def pettitt_table(daily: DataFrame):
    """q289's Pettitt changepoint arithmetic from a (day, x) daily frame
    — factored here so the streaming twin
    (`streaming/corpus.py::pettitt_daily_sink`) applies the IDENTICAL
    statistic to the incrementally-maintained daily store. See the q289
    docstring (plans/relational.py) for the identity and its sign pin.

    Returns ``(one_row_df, pins)`` — release every pin through
    materialize_release (batch) or unpersist after the write (sink).
    """
    from ..plans.common import dist_cumsum

    hist = daily.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("n_v"))
    cum, pin1 = dist_cumsum(hist, ["x"], ["n_v"])
    n_days = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    v = (
        cum.join(F.broadcast(n_days))
        .select(
            "x",
            (F.col("n_days") + F.col("n_v") - 2 * F.col("n_v_cum"))
            .cast("bigint")
            .alias("v"),
        )
    )
    dv = daily.join(v, "x").select("day", "v")
    u, pin2 = dist_cumsum(dv, ["day"], ["v"])
    res = (
        u.orderBy(F.abs(F.col("v_cum")).desc(), F.col("day").asc())
        .limit(1)
        .join(F.broadcast(n_days))
        .select(
            "n_days",
            # STRING date (the q258 convention): the pandas bridge
            # types date columns differently per engine
            F.date_format("day", "yyyy-MM-dd").alias("t_star_day"),
            F.col("v_cum").cast("bigint").alias("u_t_star"),
            F.abs(F.col("v_cum")).cast("bigint").alias("k_stat"),
        )
    )
    return res, [pin1, pin2]

def _d18(col):
    """Order-insensitive exact sum of a double expression through
    DECIMAL(38,18) (the statistic-term discipline)."""
    return F.sum(col.cast("decimal(38,18)")).cast("double")


def _indexed_daily(daily: DataFrame):
    """(day, x) + a 1-based day-order index via dist_rank (never a
    single-partition window) and the 1-row (n, s) totals. Shared core
    of the Ljung-Box / Durbin-Watson / runs tables."""
    from ..plans.common import dist_rank

    idx, pin = dist_rank(daily, ["day"], out="i")
    totals = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    return idx, totals, pin


#: Ljung-Box lag battery (a week of daily lags).
LB_MAX_LAG = 7


def ljung_box_table(daily: DataFrame):
    """q295's Ljung-Box arithmetic from a (day, x) daily frame —
    factored here so the streaming twin
    (`streaming/corpus.py::ljung_box_daily_sink`) applies the
    IDENTICAL statistic to the incrementally-maintained daily store.
    See the q295 docstring (plans/relational.py) for the integer
    c_i = n·x_i − S cancellation and the explode-shift join shape.

    Returns ``(df, pin)`` — release through materialize_release
    (batch) or unpersist after the write (sink)."""
    idx, totals, pin = _indexed_daily(daily)
    dec19 = "decimal(19,0)"
    c = idx.join(F.broadcast(totals)).select(
        "i",
        (F.col("n").cast(dec19) * F.col("x").cast(dec19) - F.col("s").cast(dec19))
        .cast(dec19)
        .alias("c"),
    )
    shifted = c.select(
        F.explode(F.sequence(F.lit(1), F.lit(LB_MAX_LAG))).alias("lag"),
        (F.col("i") + F.col("lag")).alias("i"),
        F.col("c").alias("c_prev"),
    ).select("lag", F.col("i").alias("i"), "c_prev")
    pairs = c.join(shifted, "i")
    num = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c_prev").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("num"),
    )
    den = c.agg(
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("den")
    )
    r = num.join(F.broadcast(den)).join(F.broadcast(totals)).select(
        "lag",
        "n_pairs",
        (
            F.col("num").cast("double")
            / F.nullif(F.col("den"), F.lit(0).cast("decimal(38,0)")).cast("double")
        ).alias("rho"),
        "n",
    )
    rj = r.select(F.col("lag").alias("j"), F.col("rho").alias("rho_j"), "n")
    lb = (
        r.join(F.broadcast(rj.drop("n")), F.col("j") <= F.col("lag"))
        .groupBy("lag", "n_pairs", "rho", "n")
        .agg(
            F.sum(
                (
                    F.col("rho_j")
                    * F.col("rho_j")
                    / (F.col("n").cast("double") - F.col("j").cast("double"))
                ).cast("decimal(38,18)")
            )
            .cast("double")
            .alias("ssum")
        )
    )
    res = lb.select(
        F.col("lag").cast("int").alias("lag"),
        "n_pairs",
        F.round(F.col("rho"), 9).alias("rho"),
        F.round(
            F.col("n").cast("double")
            * (F.col("n").cast("double") + F.lit(2.0))
            * F.col("ssum"),
            9,
        ).alias("lb_stat"),
    ).orderBy("lag")
    return res, pin


def durbin_watson_table(daily: DataFrame):
    """q297's Durbin-Watson arithmetic from a (day, x) daily frame —
    factored for the streaming twin
    (`streaming/corpus.py::durbin_watson_daily_sink`). See the q297
    docstring for the integer sufficient statistics and residual
    expression. Returns ``(one_row_df, pin)``."""
    idx, _totals, pin = _indexed_daily(daily)
    dec19 = "decimal(19,0)"
    dec25 = "decimal(25,0)"
    stats = idx.agg(
        F.count(F.lit(1)).cast(dec19).alias("n"),
        F.sum(F.col("i").cast(dec19)).cast(dec19).alias("si"),
        F.sum(F.col("x").cast(dec19)).cast(dec19).alias("sx"),
        F.sum(F.col("i").cast(dec19) * F.col("x").cast(dec19))
        .cast(dec25)
        .alias("six"),
        F.sum(F.col("i").cast(dec19) * F.col("i").cast(dec19))
        .cast(dec25)
        .alias("sii"),
    )
    dec38 = "decimal(38,0)"
    b_num = (
        (F.col("n") * F.col("six")).cast(dec38)
        - (F.col("si") * F.col("sx")).cast(dec38)
    ).cast(dec38)
    b_den = (
        (F.col("n") * F.col("sii")).cast(dec38)
        - (F.col("si") * F.col("si")).cast(dec38)
    ).cast(dec38)
    params = stats.select(
        F.col("n").cast("bigint").alias("n_days"),
        (
            b_num.cast("double")
            / F.nullif(b_den, F.lit(0).cast(dec38)).cast("double")
        ).alias("slope"),
        "sx",
        "si",
        F.col("n").cast("double").alias("nd"),
    ).select(
        "n_days",
        "slope",
        (
            (F.col("sx").cast("double") - F.col("slope") * F.col("si").cast("double"))
            / F.col("nd")
        ).alias("intercept"),
    )
    e = idx.join(F.broadcast(params)).select(
        "i",
        (
            F.col("x").cast("double")
            - F.col("intercept")
            - F.col("slope") * F.col("i").cast("double")
        ).alias("e"),
        "n_days",
        "slope",
        "intercept",
    )
    shifted = e.select((F.col("i") + 1).alias("i"), F.col("e").alias("e_prev"))
    dsq = e.join(shifted, "i").agg(
        _d18(
            (F.col("e") - F.col("e_prev")) * (F.col("e") - F.col("e_prev"))
        ).alias("num")
    )
    esq = e.groupBy("n_days", "slope", "intercept").agg(
        _d18(F.col("e") * F.col("e")).alias("den")
    )
    res = esq.join(F.broadcast(dsq)).select(
        "n_days",
        F.round(F.col("slope"), 9).alias("slope"),
        F.round(F.col("intercept"), 9).alias("intercept"),
        F.round(F.col("num") / F.nullif(F.col("den"), F.lit(0.0)), 9).alias("dw"),
    )
    return res, pin


def runs_table(daily: DataFrame):
    """q299's Wald-Wolfowitz runs arithmetic from a (day, x) daily
    frame — factored for the streaming twin
    (`streaming/corpus.py::runs_daily_sink`). See the q299 docstring
    for the lower-median pick and the integer run counting. Returns
    ``(one_row_df, pins)``."""
    from ..plans.common import dist_rank

    idx, totals, pin = _indexed_daily(daily)
    byval, pin2 = dist_rank(idx.select("day", "x"), ["x", "day"], out="vr")
    med = (
        byval.join(F.broadcast(totals))
        .filter(F.col("vr") == F.floor((F.col("n").cast("double") + 1.0) / 2.0))
        .select(F.col("x").alias("med"))
    )
    signed = (
        idx.join(F.broadcast(med))
        .filter(F.col("x") != F.col("med"))
        .select("day", (F.col("x") > F.col("med")).alias("up"))
    )
    srank, pin3 = dist_rank(signed, ["day"], out="j")
    shifted = srank.select((F.col("j") + 1).alias("j"), F.col("up").alias("up_prev"))
    changes = srank.join(shifted, "j", "left").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.when(F.col("up"), 1).otherwise(0)).cast("bigint").alias("n_above"),
        F.sum(
            F.when(
                F.col("up_prev").isNull() | (F.col("up") != F.col("up_prev")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("runs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = (F.col("m") - F.col("n_above")).cast("double")
    md = F.col("m").cast("double")
    mu = F.lit(1.0) + F.lit(2.0) * n1 * n2 / F.nullif(md, F.lit(0.0))
    var = (
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - md)
        / F.nullif(md * md * (md - F.lit(1.0)), F.lit(0.0))
    )
    z = (F.col("runs").cast("double") - mu) / F.nullif(
        F.sqrt(F.nullif(var, F.lit(0.0))), F.lit(0.0)
    )
    res = changes.select(
        "n_above",
        (F.col("m") - F.col("n_above")).alias("n_below"),
        "runs",
        F.round(mu, 9).alias("mu"),
        F.when(F.col("m") > 1, F.round(z, 9)).alias("z"),
    )
    return res, [pin, pin2, pin3]
