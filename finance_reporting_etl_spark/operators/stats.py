"""Statistical evaluation operators: exact AUC, chi-square cells,
Welch's t, Spearman rank correlation, autocorrelation, Kaplan-Meier.

The model-eval / experimentation layer of the pipeline: every operator
here reduces to exact integer counting plus a handful of closed-form
float expressions, so each carries a full DuckDB oracle. House float
rules apply throughout: counts and rank statistics stay integral as
long as possible (the doubled-rank trick keeps tie-averaged ranks in
BIGINT), float appears only in final ratios, and anything summed
across an unordered aggregation is either integral or rounded after a
single closed-form step (PLANS.md #10).

Scale notes: the AUC / Spearman / ACF spines are bounded domains (a
rounded score domain <= 1e6+1 cells; a calendar of days), so their
single-partition windows are the documented bounded class, not
data-sized sorts. Chi-square and Welch aggregate to cells/groups
map-side and emit per-cell tables, never a cross-engine float SUM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from finance_reporting_etl_spark.functions.scalars import det_round


def mann_whitney_auc(
    scored: DataFrame, score_col: str = "score", label_col: str = "y"
) -> DataFrame:
    """Exact ROC AUC via the Mann-Whitney rank statistic.

    Aggregates to one row per DISTINCT score first (the score domain is
    bounded — rounded scores, <= 1e6+1 values — so the ordering window
    runs over the domain spine, not the data), then applies the
    tie-averaged rank-sum identity. Doubled ranks keep everything in
    BIGINT: with cum_before = #rows scoring strictly less and n_s ties
    at score s, 2*avg_rank = 2*cum_before + n_s + 1, so

        AUC = (sum_pos(2*avg_rank) - n_pos*(n_pos+1)) / (2*n_pos*n_neg)

    is a single integer-exact division. Input: one row per scored
    example with a {0,1} label column.
    """
    per = scored.groupBy(score_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s"),
        F.sum(label_col).cast("bigint").alias("n_pos_s"),
    )
    w = Window.orderBy(score_col).rowsBetween(Window.unboundedPreceding, -1)
    ranked = per.withColumn(
        "cum_before", F.coalesce(F.sum("n_s").over(w), F.lit(0)).cast("bigint")
    )
    agg = ranked.agg(
        F.sum("n_s").cast("bigint").alias("n"),
        F.sum("n_pos_s").cast("bigint").alias("n_pos"),
        F.sum(
            F.col("n_pos_s")
            * (F.lit(2) * F.col("cum_before") + F.col("n_s") + F.lit(1))
        )
        .cast("bigint")
        .alias("rank2_pos"),
    )
    return agg.select(
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        det_round(
            (
                F.col("rank2_pos") - F.col("n_pos") * (F.col("n_pos") + F.lit(1))
            ).cast("double")
            # single-class input (n_pos or n_neg = 0) has no defined AUC:
            # nullif makes both engines emit NULL instead of Spark-side
            # NaN vs oracle NULL hash divergence (ADVICE r5).
            / F.nullif(
                F.lit(2.0)
                * F.col("n_pos")
                * (F.col("n") - F.col("n_pos")),
                F.lit(0.0),
            ),
            6,
        ).alias("auc"),
    )


def chi_square_cells(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """Chi-square-of-independence contributions, one row per
    contingency cell (the per-cell table IS the result — summing the
    scalar would be the cross-engine float-SUM trap).

    Per cell: observed O, expected RC/N, and the contribution written
    as (N*O - R*C)^2 / (N*R*C) — the numerator difference is computed
    in exact BIGINT before the single cast to double, so both engines
    square identical integers.
    """
    o = df.groupBy(row_col, col_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    r = o.groupBy(row_col).agg(F.sum("o").cast("bigint").alias("r_tot"))
    c = o.groupBy(col_col).agg(F.sum("o").cast("bigint").alias("c_tot"))
    n = o.agg(F.sum("o").cast("bigint").alias("n_tot"))
    cells = (
        o.join(F.broadcast(r), row_col)
        .join(F.broadcast(c), col_col)
        .crossJoin(F.broadcast(n))
    )
    resid = F.col("n_tot") * F.col("o") - F.col("r_tot") * F.col("c_tot")
    return cells.select(
        row_col,
        col_col,
        "o",
        det_round(
            F.col("r_tot") * F.col("c_tot") / F.col("n_tot").cast("double"), 6
        ).alias("expected"),
        det_round(
            (resid.cast("double") * resid.cast("double"))
            / (
                F.col("n_tot").cast("double")
                * F.col("r_tot")
                * F.col("c_tot")
            ),
            6,
        ).alias("chi2_contrib"),
    )


def welch_t_from_cents(
    df: DataFrame, group_col: str, cents_col: str, group_a: str, group_b: str
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups of an exact
    integer-cents measure: one output row with means, the t statistic
    and the Satterthwaite degrees of freedom.

    Group sums n / S / Q (count, sum, sum of squares) are exact BIGINT
    (cents^2 stays far under 2^63 for 2-decimal fixture values), so the
    closed-form float tail — mean = S/n, var = (Q - S*mean)/(n-1) — is
    deterministic on both engines.
    """
    g = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents_col).cast("bigint").alias("s"),
            F.sum(F.col(cents_col) * F.col(cents_col))
            .cast("bigint")
            .alias("q"),
        )
    )

    def side(tag: str, name: str):
        return g.filter(F.col(group_col) == name).select(
            F.col("n").alias(f"n_{tag}"),
            F.col("s").alias(f"s_{tag}"),
            F.col("q").alias(f"q_{tag}"),
        )

    j = side("a", group_a).crossJoin(side("b", group_b))
    mean_a = F.col("s_a").cast("double") / F.col("n_a")
    mean_b = F.col("s_b").cast("double") / F.col("n_b")
    # n=1 has no sample variance: nullif(n-1, 0) makes the whole t/df
    # tail NULL on both engines instead of a NaN/NULL split (ADVICE r5).
    dof_a = F.nullif((F.col("n_a") - F.lit(1)).cast("double"), F.lit(0.0))
    dof_b = F.nullif((F.col("n_b") - F.lit(1)).cast("double"), F.lit(0.0))
    var_a = (F.col("q_a") - F.col("s_a") * mean_a) / dof_a
    var_b = (F.col("q_b") - F.col("s_b") * mean_b) / dof_b
    se2_a = var_a / F.col("n_a")
    se2_b = var_b / F.col("n_b")
    # zero-variance groups would make t's denominator sqrt(0): nullif
    # keeps the 0/0 case NULL on both engines.
    t = (mean_a - mean_b) / F.nullif(F.sqrt(se2_a + se2_b), F.lit(0.0))
    df_w = (
        (se2_a + se2_b)
        * (se2_a + se2_b)
        / F.nullif(
            se2_a * se2_a / dof_a + se2_b * se2_b / dof_b,
            F.lit(0.0),
        )
    )
    return j.select(
        F.col("n_a"),
        F.col("n_b"),
        det_round(mean_a / 100.0, 6).alias("mean_a"),
        det_round(mean_b / 100.0, 6).alias("mean_b"),
        det_round(t, 6).alias("t_stat"),
        det_round(df_w, 6).alias("df_welch"),
    )


def doubled_avg_rank(df: DataFrame, value_col: str, out_col: str) -> DataFrame:
    """Append 2*tie-averaged-rank of ``value_col`` as an exact BIGINT
    (2*avg_rank = 2*(#strictly smaller) + #ties + 1). Implemented as
    rank() + count-over-ties so it needs ONE ordering window; the
    caller's value domain (days, groups) bounds the sort.
    """
    wo = Window.orderBy(value_col)
    wt = Window.partitionBy(value_col)
    # rank() = #strictly-smaller + 1, so 2*avg = 2*rank + ties - 1
    return df.withColumn(
        out_col,
        (
            F.lit(2) * F.rank().over(wo)
            + F.count(F.lit(1)).over(wt)
            - F.lit(1)
        ).cast("bigint"),
    )


def spearman_from_doubled_ranks(
    df: DataFrame, rx2: str, ry2: str
) -> DataFrame:
    """Spearman rho from two doubled-rank BIGINT columns: Pearson on
    the doubled ranks (the factor 2 cancels). All five sums are exact
    integers; rho is one closed-form float expression.
    """
    a = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(rx2).cast("bigint").alias("sx"),
        F.sum(ry2).cast("bigint").alias("sy"),
        F.sum(F.col(rx2) * F.col(ry2)).cast("bigint").alias("sxy"),
        F.sum(F.col(rx2) * F.col(rx2)).cast("bigint").alias("sxx"),
        F.sum(F.col(ry2) * F.col(ry2)).cast("bigint").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return a.select(
        "n", det_round(num / F.nullif(den, F.lit(0.0)), 6).alias("spearman_rho")
    )


def acf_table(
    series: DataFrame, order_col: str, cents_col: str, max_lag: int
) -> DataFrame:
    """Autocorrelation of a regularly-spaced integer-cents series at
    lags 1..max_lag: ACF(k) = sum(y_t*y_{t-k}) / sum(y_t^2) with
    y_t = n*x_t - S (n-scaled centering keeps the centered values
    integral; the n^2 factors cancel in the ratio).

    y products are cast to double before multiplying — n*x can reach
    ~1e10 cents at large SF and y^2 would overflow BIGINT; the double
    products lose nothing that survives round(,6) of a ratio. The lag
    window runs over the calendar spine (bounded single partition).
    """
    tot = series.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(cents_col).cast("bigint").alias("s_tot"),
    )
    y = series.crossJoin(F.broadcast(tot)).select(
        F.col(order_col),
        "n_days",
        (
            (F.col("n_days") * F.col(cents_col) - F.col("s_tot")).cast(
                "double"
            )
        ).alias("y"),
    )
    w = Window.orderBy(order_col)
    lag_cols = [
        F.lag("y", k).over(w).alias(f"y_lag{k}") for k in range(1, max_lag + 1)
    ]
    lagged = y.select("n_days", "y", *lag_cols)
    # ONE aggregation pass computes the denominator and every lag's
    # numerator/count, then stack() melts the single row to one row per
    # lag — not max_lag separate jobs over the same window.
    aggs = [
        F.first("n_days").alias("n_days"),
        F.sum(F.col("y") * F.col("y")).alias("den"),
    ]
    for k in range(1, max_lag + 1):
        aggs.append(F.sum(F.col("y") * F.col(f"y_lag{k}")).alias(f"num{k}"))
        aggs.append(F.count(f"y_lag{k}").cast("bigint").alias(f"cnt{k}"))
    one = lagged.agg(*aggs)
    stack_args = ", ".join(
        f"{k}, num{k}, cnt{k}" for k in range(1, max_lag + 1)
    )
    return one.select(
        "n_days",
        "den",
        F.expr(f"stack({max_lag}, {stack_args}) AS (lag, num, n_terms)"),
    ).select(
        "lag",
        "n_days",
        "n_terms",
        det_round(F.col("num") / F.col("den"), 6).alias("acf"),
    )


def kaplan_meier(
    df: DataFrame, duration_col: str, event_col: str
) -> DataFrame:
    """Kaplan-Meier survival curve over integer durations with right
    censoring: one row per distinct duration that saw >= 1 event, with
    the at-risk count, event count, and the product-limit estimate
    S(t) = exp(cumsum(ln(1 - d_i/n_i))) over event times.

    Exits (events + censorings) aggregate per distinct duration first,
    so the ordering window runs over the duration domain (bounded
    spine). Each ln term is the log of an exact integer ratio; the
    cumulative float sum is a sequential running frame on both engines
    and the final estimate is rounded to 6.
    """
    per = df.groupBy(duration_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exit"),
        F.sum(event_col).cast("bigint").alias("d"),
    )
    tot = per.agg(F.sum("n_exit").cast("bigint").alias("n_all"))
    w = Window.orderBy(duration_col).rowsBetween(Window.unboundedPreceding, -1)
    at_risk = (
        per.crossJoin(F.broadcast(tot))
        .withColumn(
            "n_risk",
            (
                F.col("n_all")
                - F.coalesce(F.sum("n_exit").over(w), F.lit(0))
            ).cast("bigint"),
        )
        .filter(F.col("d") > 0)
    )
    wc = Window.orderBy(duration_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # n_risk == d (everyone remaining exits here) can only be the LAST
    # event row; ln(0) is engine-divergent (NULL / -inf / ANSI error),
    # so that row pins survival to 0.0 directly and contributes no term.
    term = F.when(
        F.col("n_risk") > F.col("d"),
        F.log(
            (F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk")
        ),
    )
    return at_risk.select(
        F.col(duration_col),
        "n_risk",
        "d",
        F.when(F.col("n_risk") == F.col("d"), F.lit(0.0))
        .otherwise(det_round(F.exp(F.sum(term).over(wc)), 6))
        .alias("survival"),
    )


def historical_var_cvar(
    df: DataFrame,
    group_cols: list[str],
    cents_col: str,
    tail_num: int = 1,
    tail_den: int = 20,
) -> DataFrame:
    """Historical Value-at-Risk and CVaR (expected shortfall) on the
    LOW tail of an exact integer-cents observation column, one row per
    group.

    The tail size is pure integer arithmetic — k = ceil(n * tail_num /
    tail_den) = (n*tail_num + tail_den - 1) div tail_den — and the
    statistics are order-statistic exact: VaR is the k-th smallest
    observation (the lower empirical quantile, no interpolation — the
    convention that keeps both engines bit-identical), CVaR the mean
    of the k smallest. Ties in value need no tiebreak: the multiset of
    k smallest values is unique regardless of row order. Shape: one
    shuffle on the group key; the ordering window is per group, so the
    largest group bounds the sort at scale.
    """
    g = Window.partitionBy(*group_cols)
    wr = Window.partitionBy(*group_cols).orderBy(F.col(cents_col).asc())
    d = (
        df.withColumn("__rn", F.row_number().over(wr))
        .withColumn("__n", F.count(F.lit(1)).over(g))
        .withColumn(
            "__k",
            F.expr(
                f"(__n * {int(tail_num)} + {int(tail_den)} - 1)"
                f" div {int(tail_den)}"
            ),
        )
        .filter(F.col("__rn") <= F.col("__k"))
    )
    return d.groupBy(*group_cols).agg(
        F.first("__n").alias("n_obs"),
        F.first("__k").alias("k_tail"),
        det_round(F.max(cents_col) / 100.0, 2).alias("var_value"),
        det_round(
            F.sum(cents_col).cast("double") / F.first("__k") / 100.0, 6
        ).alias("cvar_value"),
    )


def sprt_constants(
    p0: float, p1: float, alpha: float, beta: float
) -> dict[str, float]:
    """The four SPRT constants, computed ONCE in Python and printed
    into BOTH engines (the PLANS.md #33 float-constant-parity rule):
    per-conversion / per-non-conversion log-likelihood increments and
    Wald's decision bounds log((1-beta)/alpha), log(beta/(1-alpha))."""
    import math

    return {
        "l1": math.log(p1 / p0),
        "l0": math.log((1.0 - p1) / (1.0 - p0)),
        "upper": math.log((1.0 - beta) / alpha),
        "lower": math.log(beta / (1.0 - alpha)),
    }


def sprt_decision(
    obs: DataFrame,
    arm_col: str,
    order_col: str,
    tiebreak_col: str,
    converted_col: str,
    arms: list[str],
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald's Sequential Probability Ratio Test over an event-ordered
    Bernoulli stream, one decision row per experiment arm: the
    early-stopping engine behind sequential A/B testing (stop the
    moment the evidence crosses either bound instead of waiting for a
    fixed horizon).

    Exactness: the running state is INTEGER — both the observation
    index t and the running conversion count ride ONE
    :func:`~finance_reporting_etl_spark.operators.ranking.distributed_cumsum`
    pass per arm (packed as conv*2^32 + 1, unpacked with shifts), so
    no single-partition window ever sees the data-sized stream. The
    log-likelihood ratio is then a per-row CLOSED FORM from those
    integers, llr = conv*l1 + (t-conv)*l0, with l0/l1 printed from one
    Python source into both engines — no float accumulates across an
    unordered aggregation, so the crossing decision is bit-stable.

    The decision row is t* = the first t whose llr leaves (lower,
    upper), else the final t ('continue'); selected by an integer MIN
    aggregate joined back on (arm, t), never a stream-sized sort.

    ``order_col`` must be an integer sort key (epoch micros); arms is
    the small fixed list of arm labels (the per-arm loop is over this
    constant, not data). Packing bound: conv <= t < 2^32 per arm.
    """
    from finance_reporting_etl_spark.operators.ranking import distributed_cumsum

    k = sprt_constants(p0, p1, alpha, beta)
    outs = []
    for arm in arms:
        d = obs.filter(F.col(arm_col) == arm).select(
            F.col(order_col).alias("__t_us"),
            F.col(tiebreak_col).alias("__tb"),
            (
                F.col(converted_col).cast("bigint") * F.lit(4294967296).cast("bigint")
                + F.lit(1)
            ).alias("__packed"),
        )
        c = distributed_cumsum(d, "__packed", "__t_us", ["__tb"], out_col="__cum")
        c = c.select(
            F.lit(arm).alias("arm"),
            F.expr("shiftrightunsigned(__cum, 32)").cast("bigint").alias("__conv"),
            F.expr("__cum & 4294967295").cast("bigint").alias("__t"),
        ).withColumn(
            "__llr",
            F.col("__conv") * F.lit(k["l1"])
            + (F.col("__t") - F.col("__conv")) * F.lit(k["l0"]),
        )
        crossed = (F.col("__llr") >= F.lit(k["upper"])) | (
            F.col("__llr") <= F.lit(k["lower"])
        )
        stop = c.agg(
            F.coalesce(
                F.min(F.when(crossed, F.col("__t"))), F.max("__t")
            ).alias("__t_star")
        )
        outs.append(
            c.join(
                F.broadcast(stop), F.col("__t") == F.col("__t_star"), "inner"
            ).select(
                "arm",
                F.col("__t").alias("n_obs"),
                F.col("__conv").alias("n_conv"),
                det_round("__llr", 6).alias("llr"),
                F.when(F.col("__llr") >= F.lit(k["upper"]), F.lit("accept_h1"))
                .when(F.col("__llr") <= F.lit(k["lower"]), F.lit("accept_h0"))
                .otherwise(F.lit("continue"))
                .alias("decision"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def sprt_oracle_sql(
    obs_sql: str,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> str:
    """DuckDB twin of :func:`sprt_decision`: same constants (printed
    from the same Python source via repr — bit-identical doubles), the
    cumsum as a per-arm window, the same closed-form llr and the same
    first-crossing-else-final selection. ``obs_sql`` must yield
    (arm, t_us, tb, converted)."""
    k = sprt_constants(p0, p1, alpha, beta)
    return f"""
    WITH o AS ({obs_sql}),
    c AS (
        SELECT arm,
               CAST(sum(converted) OVER w AS BIGINT) AS conv,
               CAST(row_number() OVER w AS BIGINT) AS t
        FROM o
        WINDOW w AS (PARTITION BY arm ORDER BY t_us, tb
                     ROWS UNBOUNDED PRECEDING)
    ), l AS (
        SELECT arm, conv, t,
               conv * {k["l1"]!r} + (t - conv) * {k["l0"]!r} AS llr
        FROM c
    ), s AS (
        SELECT arm,
               coalesce(min(CASE WHEN llr >= {k["upper"]!r}
                                   OR llr <= {k["lower"]!r}
                                 THEN t END), max(t)) AS t_star
        FROM l GROUP BY 1
    )
    SELECT l.arm, l.t AS n_obs, l.conv AS n_conv,
           (CASE WHEN isnan(CAST((l.llr) AS DOUBLE)) OR abs(CAST((l.llr) AS DOUBLE)) >= 4611686018427.388 THEN (l.llr) ELSE floor((l.llr) * 1000000.0 + 0.5) / 1000000.0 END) AS llr,
           CASE WHEN l.llr >= {k["upper"]!r} THEN 'accept_h1'
                WHEN l.llr <= {k["lower"]!r} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM l JOIN s ON l.arm = s.arm AND l.t = s.t_star
    """


def ols_beta_alpha_r2(
    pairs: DataFrame, key_cols: list[str], x_col: str, y_col: str
) -> DataFrame:
    """Per-key simple OLS (beta, alpha, r^2) over EXACT INTEGER (x, y)
    pairs — the CAPM estimator when fed ppm returns vs a market series,
    and the generic slope/intercept fit for any integer-scaled pair.

    The five moment sums accumulate in DECIMAL(38,0) (exact at any
    scale and partition order — n*sxy for ppm-sized values overflows
    BIGINT near 1e19, the bollinger lesson), the normal-equation
    numerators n*sxy - sx*sy stay exact integers, and float appears
    only in the final closed-form divisions — identical per-row IEEE
    ops on both engines, so round(,6) is bit-stable. Division guards:
    a key with zero x-variance (or < 2 rows) emits NULL beta/alpha/r2
    via nullif, not NaN (the mann_whitney ADVICE pattern).
    """
    xd = F.col(x_col).cast("decimal(38,0)")
    yd = F.col(y_col).cast("decimal(38,0)")
    a = pairs.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum(xd).alias("__sx"),
        F.sum(yd).alias("__sy"),
        F.sum(xd * yd).alias("__sxy"),
        F.sum(xd * xd).alias("__sxx"),
        F.sum(yd * yd).alias("__syy"),
    )
    n = F.col("n_obs").cast("decimal(38,0)")
    cov = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
    varx = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    vary = (n * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast("double")
    beta = cov / F.nullif(varx, F.lit(0.0))
    alpha = (
        F.col("__sy").cast("double") - beta * F.col("__sx").cast("double")
    ) / F.col("n_obs").cast("double")
    r2 = (cov * cov) / F.nullif(varx * vary, F.lit(0.0))
    return a.select(
        *key_cols,
        "n_obs",
        det_round(beta, 6).alias("beta"),
        det_round(alpha, 6).alias("alpha"),
        det_round(r2, 6).alias("r2"),
    )


def markov_absorption_fixed(
    trans_counts: DataFrame,
    src_col: str,
    dst_col: str,
    count_col: str,
    states: list[str],
    absorb: str,
    steps: int = 3,
) -> DataFrame:
    """Fixed-horizon absorption probabilities of a finite Markov chain
    — P(hit the absorbing state within k steps | start here) for
    k = 1..steps — the Markov attribution readout one level above the
    raw transition matrix (event_transition_matrix says where users go
    NEXT; this says how likely they are to ever convert soon).

    ``states`` is the FIXED small list of non-absorbing states (the
    event-type alphabet, not data), which is what makes the recursion
    hash-stable: each round's vector p_k lives as ONE broadcast row
    with a column per state, and p_{k+1} is a single left-to-right
    closed-form expression

        p_absorb + sum_s p_<s> * pk_<s>   (states order fixed)

    — never an unordered float SUM across rows. Transition
    probabilities are count ratios (exact ints -> one division). The
    chain must not transition OUT of ``absorb`` in the input (filter
    upstream); rows whose src has zero outgoing mass are dropped.
    """
    p_cols = [f"p_{s}" for s in states]
    tot = F.sum(count_col)
    wide = (
        trans_counts.groupBy(F.col(src_col).alias("src"))
        .agg(
            *[
                (
                    F.coalesce(
                        F.max(F.when(F.col(dst_col) == s, F.col(count_col))),
                        F.lit(0),
                    ).cast("double")
                    / tot.cast("double")
                ).alias(f"p_{s}")
                for s in states
            ],
            (
                F.coalesce(
                    F.max(F.when(F.col(dst_col) == absorb, F.col(count_col))),
                    F.lit(0),
                ).cast("double")
                / tot.cast("double")
            ).alias("p_absorb"),
        )
    )

    def vec_row(df: DataFrame, val_col: str, prefix: str) -> DataFrame:
        return df.agg(
            *[
                F.max(F.when(F.col("src") == s, F.col(val_col))).alias(
                    f"{prefix}_{s}"
                )
                for s in states
            ]
        )

    out = wide.withColumn("p_1", F.col("p_absorb"))
    for k in range(2, steps + 1):
        prev = vec_row(out, f"p_{k - 1}", "__v")
        expr = F.col("p_absorb")
        for s in states:
            expr = expr + F.col(f"p_{s}") * F.coalesce(
                F.col(f"__v_{s}"), F.lit(0.0)
            )
        out = out.crossJoin(F.broadcast(prev)).withColumn(f"p_{k}", expr)
        out = out.drop(*[f"__v_{s}" for s in states])
    return out.select(
        F.col("src").alias("start_state"),
        *[det_round(F.col(f"p_{k}"), 6).alias(f"p_{k}") for k in range(1, steps + 1)],
    )


def mahalanobis2_outliers(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    chi2_cut: float = 13.815510557964274,
) -> DataFrame:
    """Bivariate Mahalanobis outlier counts per group — multivariate
    anomaly detection with NO iterative model: the 2x2 covariance
    inverse is a closed form, so d^2 = (s_yy*dx^2 - 2*s_xy*dx*dy +
    s_xx*dy^2) / det is one expression per row. Inputs must be
    INTEGERS (cents, hours): the ten moments accumulate exactly in
    DECIMAL(38,0), are cast to double once, and every row's d^2 is an
    identical float closed form in both engines — so even the
    threshold comparison (default: chi-square_2 at 0.999) is
    bit-stable. Rows in groups with singular covariance (det <= 0,
    e.g. a constant column) are not flagged. Shape: one moment
    aggregation + one broadcast-able group join; no window at all.
    """
    xd = F.col(x_col).cast("decimal(38,0)")
    yd = F.col(y_col).cast("decimal(38,0)")
    m = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("decimal(38,0)").cast("double").alias("__n"),
        F.sum(xd).cast("double").alias("__sx"),
        F.sum(yd).cast("double").alias("__sy"),
        F.sum(xd * xd).cast("double").alias("__sxx"),
        F.sum(xd * yd).cast("double").alias("__sxy"),
        F.sum(yd * yd).cast("double").alias("__syy"),
    )
    j = df.join(F.broadcast(m), group_cols)
    mx = F.col("__sx") / F.col("__n")
    my = F.col("__sy") / F.col("__n")
    cxx = F.col("__sxx") / F.col("__n") - mx * mx
    cxy = F.col("__sxy") / F.col("__n") - mx * my
    cyy = F.col("__syy") / F.col("__n") - my * my
    det = cxx * cyy - cxy * cxy
    dx = F.col(x_col).cast("double") - mx
    dy = F.col(y_col).cast("double") - my
    d2 = (cyy * dx * dx - F.lit(2.0) * cxy * dx * dy + cxx * dy * dy) / det
    flagged = ((det > 0) & (d2 > F.lit(chi2_cut))).cast("int")
    return (
        j.withColumn("__f", flagged)
        .groupBy(*group_cols)
        .agg(
            F.first("n_events").alias("n_events"),
            F.sum("__f").cast("bigint").alias("n_outliers"),
            det_round(
                F.sum("__f").cast("double") / F.first("n_events").cast("double"),
                6,
            ).alias("outlier_rate"),
        )
    )


def kendall_tau_b(
    series: DataFrame, order_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Exact tie-corrected Kendall rank correlation (tau-b) of a
    BOUNDED series — the concordance complement to Spearman
    (spearman_from_doubled_ranks): tau counts pair agreements, so it
    is robust to any monotone transform and has the cleaner
    interpretation P(concordant) - P(discordant).

    Every count is exact integer over the pair set: concordant C,
    discordant D, x-ties, y-ties, joint ties; tau_b = (C - D) /
    sqrt((n0 - n1)(n0 - n2)) is one closed-form float. The pair join
    is ``o1 < o2`` against a BROADCAST copy — Spark plans a
    BroadcastNestedLoopJoin, never a CartesianProduct — and the input
    must be domain-bounded (a calendar of days: ~2.5k rows -> ~3M
    pairs regardless of data scale). Emits one row.
    """
    a = series.select(
        F.col(order_col).alias("o1"),
        F.col(x_col).alias("x1"),
        F.col(y_col).alias("y1"),
    )
    b = series.select(
        F.col(order_col).alias("o2"),
        F.col(x_col).alias("x2"),
        F.col(y_col).alias("y2"),
    )
    pairs = a.join(F.broadcast(b), F.col("o1") < F.col("o2"))
    conc = (
        ((F.col("x1") < F.col("x2")) & (F.col("y1") < F.col("y2")))
        | ((F.col("x1") > F.col("x2")) & (F.col("y1") > F.col("y2")))
    ).cast("bigint")
    disc = (
        ((F.col("x1") < F.col("x2")) & (F.col("y1") > F.col("y2")))
        | ((F.col("x1") > F.col("x2")) & (F.col("y1") < F.col("y2")))
    ).cast("bigint")
    tie_x = ((F.col("x1") == F.col("x2")) & (F.col("y1") != F.col("y2"))).cast(
        "bigint"
    )
    tie_y = ((F.col("y1") == F.col("y2")) & (F.col("x1") != F.col("x2"))).cast(
        "bigint"
    )
    tie_xy = ((F.col("x1") == F.col("x2")) & (F.col("y1") == F.col("y2"))).cast(
        "bigint"
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(conc).cast("bigint").alias("concordant"),
        F.sum(disc).cast("bigint").alias("discordant"),
        F.sum(tie_x).cast("bigint").alias("__tx"),
        F.sum(tie_y).cast("bigint").alias("__ty"),
        F.sum(tie_xy).cast("bigint").alias("__txy"),
    )
    n1 = F.col("__tx") + F.col("__txy")
    n2 = F.col("__ty") + F.col("__txy")
    denom = F.sqrt(
        (F.col("n_pairs") - n1).cast("double")
        * (F.col("n_pairs") - n2).cast("double")
    )
    return agg.select(
        "n_pairs",
        "concordant",
        "discordant",
        det_round(
            (F.col("concordant") - F.col("discordant")).cast("double")
            / F.nullif(denom, F.lit(0.0)),
            6,
        ).alias("tau_b"),
    )


def average_precision_exact(
    scored: DataFrame, score_col: str = "score", label_col: str = "y"
) -> DataFrame:
    """Exact average precision (PR-AUC companion to
    :func:`mann_whitney_auc`) with group-level tie handling.

    Like the AUC operator, aggregates to one row per DISTINCT score
    first — the ordering window runs over the bounded score-domain
    spine, never the data. Ties are handled at group granularity: all
    positives sharing a score take the precision at their GROUP's
    cumulative boundary (the threshold-sweep definition of AP, which
    is well-defined without a per-row tie-break):

        AP = (1/P) * sum_groups n_pos_g * precision(cum_tp_g / cum_n_g)

    precision is kept as one exact truncating integer division into
    parts-per-billion, so both engines agree bit-for-bit. Emits
    (n_rows, n_pos, ap_ppb).
    """
    per = scored.groupBy(score_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s"),
        F.sum(label_col).cast("bigint").alias("n_pos_s"),
    )
    w = Window.orderBy(F.col(score_col).desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per.withColumn(
        "cum_n", F.sum("n_s").over(w).cast("bigint")
    ).withColumn("cum_tp", F.sum("n_pos_s").over(w).cast("bigint"))
    return ranked.agg(
        F.sum("n_s").cast("bigint").alias("n_rows"),
        F.sum("n_pos_s").cast("bigint").alias("n_pos"),
        F.expr(
            "sum(n_pos_s * ((cum_tp * 1000000000) div cum_n))"
            " div nullif(sum(n_pos_s), 0)"
        )
        .cast("bigint")
        .alias("ap_ppb"),
    )
