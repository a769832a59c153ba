"""Distributed tree learning on DataFrames (SURVEY §2 X-tier ML).

The scalable structure (shared with LightGBM-style histogram learners):
candidate thresholds are NEVER evaluated by rescanning the data. One
aggregate produces per-(feature, value) class counts; a prefix sum in
value order then yields every threshold's left/right contingency table
at once — O(data) for the scan plus O(distinct values) for scoring.
Depth-k trees repeat this per node on the node's rows, so cost grows
with depth, never with the number of candidate thresholds.

Exactness contract (the oracle story): class counts are integers
(exact under any partial-aggregation order), the Gini expressions are
closed-form doubles on those integers (bit-identical across engines),
and the argmax is totally ordered by (rounded gain DESC, feature, thr)
— so an independent SQL engine re-derives the same tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType
from finance_reporting_etl_spark.functions.scalars import det_round


def _scored_candidates(xy: DataFrame, group_cols: list[str]) -> DataFrame:
    """The shared per-value-count / prefix-sum / Gini-scoring pass
    behind every stump entry point (ADVICE r4 dedup — one copy keeps
    the expression trees bit-identical with the SQL oracles).

    ``group_cols`` is the partitioning for counts, prefix sums and
    scoring: ``["feature"]`` for a single model, ``["fold",
    "feature"]`` for one-pass bagged training. Input is melted
    (*group_cols, v, y) with y in {0,1}; output is one row per
    (*group_cols, threshold) with the full contingency table:
    (*group_cols, thr, nl, posl, nr, posr, n, pos, gini_gain),
    threshold semantics ``v <= thr`` goes left.
    """
    g = xy.groupBy(*group_cols, "v").agg(
        F.count(F.lit(1)).alias("n_v"), F.sum("y").cast("bigint").alias("pos_v")
    )
    wc = (
        Window.partitionBy(*group_cols)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = Window.partitionBy(*group_cols)
    c = g.select(
        *group_cols,
        "v",
        F.sum("n_v").over(wc).alias("nl"),
        F.sum("pos_v").over(wc).alias("posl"),
        F.sum("n_v").over(wf).alias("n"),
        F.sum("pos_v").over(wf).alias("pos"),
    )
    s = c.filter(F.col("nl") < F.col("n")).select(
        *group_cols,
        F.col("v").alias("thr"),
        "nl",
        "posl",
        (F.col("n") - F.col("nl")).alias("nr"),
        (F.col("pos") - F.col("posl")).alias("posr"),
        "n",
        "pos",
    )

    def _gini(pos: str, n: str):
        pd_ = F.col(pos).cast("double") / F.col(n)
        qd = (F.col(n) - F.col(pos)).cast("double") / F.col(n)
        return F.lit(1.0) - pd_ * pd_ - qd * qd

    parent = _gini("pos", "n")
    left = (F.col("nl").cast("double") / F.col("n")) * (
        F.lit(1.0)
        - (F.col("posl").cast("double") / F.col("nl"))
        * (F.col("posl").cast("double") / F.col("nl"))
        - ((F.col("nl") - F.col("posl")).cast("double") / F.col("nl"))
        * ((F.col("nl") - F.col("posl")).cast("double") / F.col("nl"))
    )
    right = (F.col("nr").cast("double") / F.col("n")) * (
        F.lit(1.0)
        - (F.col("posr").cast("double") / F.col("nr"))
        * (F.col("posr").cast("double") / F.col("nr"))
        - ((F.col("nr") - F.col("posr")).cast("double") / F.col("nr"))
        * ((F.col("nr") - F.col("posr")).cast("double") / F.col("nr"))
    )
    return s.select(
        *group_cols,
        "thr",
        "nl",
        "posl",
        "nr",
        "posr",
        "n",
        "pos",
        det_round(parent - (left + right), 6).alias("gini_gain"),
    )


def stump_candidates(xy: DataFrame) -> DataFrame:
    """All split candidates with Gini gain for a melted (feature, v, y)
    frame (y in {0,1}); one row per (feature, threshold v), threshold
    semantics ``v <= thr`` goes left. Columns:
    (feature, thr, n_left, n_right, gini_gain)."""
    return _scored_candidates(xy, ["feature"]).select(
        "feature",
        "thr",
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        "gini_gain",
    )


def best_stump_row(xy: DataFrame):
    """The single best split of a melted (feature, v, y) frame, or
    ``None`` when no feature has two distinct values. The 1-row
    collect is model parameters, not data."""
    rows = (
        stump_candidates(xy)
        .orderBy(F.desc("gini_gain"), "feature", "thr")
        .limit(1)
        .collect()
    )
    return rows[0] if rows else None


def melt_features(df: DataFrame, feature_cols: dict[str, str], y_col: str) -> DataFrame:
    """Long form for the stump: one (feature, v, y) row per input row
    per feature. ``feature_cols`` maps feature name -> source column."""
    parts = [
        df.select(
            F.lit(name).alias("feature"),
            F.col(col).cast("double").alias("v"),
            F.col(y_col).alias("y"),
        )
        for name, col in feature_cols.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def train_depth2_tree(
    df: DataFrame, feature_cols: dict[str, str], y_col: str
) -> DataFrame:
    """Depth-2 tree: root split, then the best split inside each leaf.
    Returns (node, feature, thr, n_left, n_right, gini_gain) with node
    in {'root', 'L', 'R'}; a leaf with no valid split emits no row.

    Two bounded driver collects (root + nothing else — the leaf
    frames are lazy filters of the input); each level is one
    melt-aggregate-prefix-sum pass over that node's rows."""
    xy = melt_features(df, feature_cols, y_col)
    root = best_stump_row(xy)
    spark = df.sparkSession
    schema = (
        "node string, feature string, thr double, n_left bigint, "
        "n_right bigint, gini_gain double"
    )
    if root is None:
        return spark.createDataFrame([], schema)
    rows = [
        (
            "root",
            root["feature"],
            float(root["thr"]),
            root["n_left"],
            root["n_right"],
            float(root["gini_gain"]),
        )
    ]
    split_col = feature_cols[root["feature"]]
    for node, cond in (
        ("L", F.col(split_col).cast("double") <= float(root["thr"])),
        ("R", F.col(split_col).cast("double") > float(root["thr"])),
    ):
        best = best_stump_row(melt_features(df.filter(cond), feature_cols, y_col))
        if best is not None:
            rows.append(
                (
                    node,
                    best["feature"],
                    float(best["thr"]),
                    best["n_left"],
                    best["n_right"],
                    float(best["gini_gain"]),
                )
            )
    return spark.createDataFrame(rows, schema)


def best_stumps_by_fold(xyf: DataFrame) -> list:
    """Per-fold best stumps in ONE pass: input is a melted
    (fold, feature, v, y) frame; the per-value counts, prefix sums and
    Gini scoring all partition by (fold, feature), and a per-fold rank
    window picks each fold's argmax — so training an N-member bagged
    ensemble costs the same shuffle count as training one member,
    instead of N sequential jobs. Returns the collected best rows
    (fold, feature, thr, nl, posl, nr, posr, gini_gain), one per fold
    that has a valid split — bounded driver traffic (model params)."""
    scored = _scored_candidates(xyf, ["fold", "feature"]).select(
        "fold", "feature", "thr", "nl", "posl", "nr", "posr", "gini_gain"
    )
    wr = Window.partitionBy("fold").orderBy(
        F.desc("gini_gain"), "feature", "thr"
    )
    return (
        scored.withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .collect()
    )


def bagged_stump_ensemble_eval(
    df: DataFrame,
    feature_cols: dict[str, str],
    y_col: str = "y",
    fold_col: str = "fold",
    n_folds: int = 3,
) -> DataFrame:
    """Train one stump per fold in ONE pass (:func:`best_stumps_by_fold`)
    and score every member plus the majority-vote ensemble against all
    rows. Returns (model, feature, thr, n_train, accuracy) with one row
    per member and one 'ensemble' row.

    Scoring is pure column CASE logic on the collected parameter rows
    (model params are the ONLY driver traffic); accuracies are
    exact-count divisions rounded in Spark SQL (HALF_UP, matching
    DuckDB's half-away-from-zero — Python round() is banker's rounding
    and would diverge on exact 5e-7 ties)."""
    melted = None
    for name, col in feature_cols.items():
        part = df.select(
            fold_col,
            F.lit(name).alias("feature"),
            F.col(col).cast("double").alias("v"),
            F.col(y_col).alias("y"),
        )
        melted = part if melted is None else melted.unionAll(part)
    if fold_col != "fold":
        melted = melted.withColumnRenamed(fold_col, "fold")
    models_by_fold = {r["fold"]: r for r in best_stumps_by_fold(melted)}
    # a fold can come back empty (no rows hashed into it) or splitless
    # (constant features); fail with the fold named rather than a bare
    # KeyError later (ADVICE r4)
    absent = [k for k in range(n_folds) if k not in models_by_fold]
    if absent:
        raise ValueError(
            f"bagging folds {absent} produced no trainable stump "
            f"(empty fold or constant features); got folds "
            f"{sorted(models_by_fold)}"
        )
    models = [models_by_fold[k] for k in range(n_folds)]
    # fold sizes ride the model rows for free: the per-(fold, feature)
    # contingency totals in _scored_candidates cover every fold row,
    # so nl + nr == fold row count — no extra scan (round-5 review)
    fold_sizes = {k: int(m["nl"] + m["nr"]) for k, m in enumerate(models)}

    def pred(m):
        val = F.col(feature_cols[m["feature"]])
        left = F.lit(1) if 2 * m["posl"] > m["nl"] else F.lit(0)
        right = F.lit(1) if 2 * m["posr"] > m["nr"] else F.lit(0)
        return F.when(val.cast("double") <= float(m["thr"]), left).otherwise(right)

    preds = [pred(m).alias(f"p{k}") for k, m in enumerate(models)]
    majority = (n_folds // 2) + 1
    ens = F.when(
        sum(F.col(f"p{k}") for k in range(n_folds)) >= majority, 1
    ).otherwise(0)
    ev = df.select(F.col(y_col).alias("y"), *preds).withColumn("pe", ens)
    agg = ev.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col(f"p{k}") == F.col("y")).cast("int")).alias(f"c{k}")
            for k in range(n_folds)
        ],
        F.sum((F.col("pe") == F.col("y")).cast("int")).alias("ce"),
    ).head()
    n = agg["n"]
    rows = [
        (
            f"model_{k}",
            models[k]["feature"],
            float(models[k]["thr"]),
            int(fold_sizes[k]),
            int(agg[f"c{k}"]),
        )
        for k in range(n_folds)
    ]
    rows.append(("ensemble", None, None, int(n), int(agg["ce"])))
    raw = df.sparkSession.createDataFrame(
        rows,
        "model string, feature string, thr double, n_train bigint, n_correct bigint",
    )
    return raw.select(
        "model",
        "feature",
        "thr",
        "n_train",
        det_round(F.col("n_correct").cast("double") / F.lit(int(n)), 6).alias(
            "accuracy"
        ),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins (moved from the catalog in round 5; the same
# pattern operators/graph.py uses for its unrolled-iteration oracles).
# Each builds the SQL an independent engine runs to re-learn the
# model and hash-verify the Spark training path end to end. The
# tree/bagging builders are fixture-shaped (lineitem quantity/
# discount features, returnflag label) by design: they are the
# catalog queries' oracle halves, kept beside the operators they
# twin so the expression trees stay in lockstep.
# ---------------------------------------------------------------------------


def stump_candidates_oracle_sql(src: str) -> str:
    """DuckDB twin of operators.ml.stump_candidates over a melted
    (feature, v, y) relation ``src``: every candidate split with its
    Gini gain, identical expression tree to the Spark side."""
    return f"""
    SELECT feature, thr, nl AS n_left, nr AS n_right,
           (CASE WHEN isnan(CAST(((1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                    - (CAST(n - pos AS DOUBLE) / n) * (CAST(n - pos AS DOUBLE) / n))
               - (CAST(nl AS DOUBLE) / n
                  * (1.0 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                         - (CAST(nl - posl AS DOUBLE) / nl) * (CAST(nl - posl AS DOUBLE) / nl))
                  + CAST(nr AS DOUBLE) / n
                  * (1.0 - (CAST(posr AS DOUBLE) / nr) * (CAST(posr AS DOUBLE) / nr)
                         - (CAST(nr - posr AS DOUBLE) / nr) * (CAST(nr - posr AS DOUBLE) / nr)))) AS DOUBLE)) OR abs(CAST(((1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                    - (CAST(n - pos AS DOUBLE) / n) * (CAST(n - pos AS DOUBLE) / n))
               - (CAST(nl AS DOUBLE) / n
                  * (1.0 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                         - (CAST(nl - posl AS DOUBLE) / nl) * (CAST(nl - posl AS DOUBLE) / nl))
                  + CAST(nr AS DOUBLE) / n
                  * (1.0 - (CAST(posr AS DOUBLE) / nr) * (CAST(posr AS DOUBLE) / nr)
                         - (CAST(nr - posr AS DOUBLE) / nr) * (CAST(nr - posr AS DOUBLE) / nr)))) AS DOUBLE)) >= 4611686018427.388 THEN ((1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                    - (CAST(n - pos AS DOUBLE) / n) * (CAST(n - pos AS DOUBLE) / n))
               - (CAST(nl AS DOUBLE) / n
                  * (1.0 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                         - (CAST(nl - posl AS DOUBLE) / nl) * (CAST(nl - posl AS DOUBLE) / nl))
                  + CAST(nr AS DOUBLE) / n
                  * (1.0 - (CAST(posr AS DOUBLE) / nr) * (CAST(posr AS DOUBLE) / nr)
                         - (CAST(nr - posr AS DOUBLE) / nr) * (CAST(nr - posr AS DOUBLE) / nr)))) ELSE floor(((1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                    - (CAST(n - pos AS DOUBLE) / n) * (CAST(n - pos AS DOUBLE) / n))
               - (CAST(nl AS DOUBLE) / n
                  * (1.0 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                         - (CAST(nl - posl AS DOUBLE) / nl) * (CAST(nl - posl AS DOUBLE) / nl))
                  + CAST(nr AS DOUBLE) / n
                  * (1.0 - (CAST(posr AS DOUBLE) / nr) * (CAST(posr AS DOUBLE) / nr)
                         - (CAST(nr - posr AS DOUBLE) / nr) * (CAST(nr - posr AS DOUBLE) / nr)))) * 1000000.0 + 0.5) / 1000000.0 END) AS gini_gain
    FROM (
        SELECT feature, v AS thr, nl, posl, n - nl AS nr, pos - posl AS posr,
               n, pos
        FROM (
            SELECT feature, v,
                   CAST(sum(n_v) OVER w AS BIGINT) AS nl,
                   CAST(sum(pos_v) OVER w AS BIGINT) AS posl,
                   CAST(sum(n_v) OVER (PARTITION BY feature) AS BIGINT) AS n,
                   CAST(sum(pos_v) OVER (PARTITION BY feature) AS BIGINT) AS pos
            FROM (SELECT feature, v, CAST(count(*) AS BIGINT) AS n_v,
                         CAST(sum(y) AS BIGINT) AS pos_v
                  FROM {src} GROUP BY 1, 2)
            WINDOW w AS (PARTITION BY feature ORDER BY v
                         ROWS UNBOUNDED PRECEDING)
        ) WHERE nl < n
    )"""


def depth2_tree_oracle_sql() -> str:
    melt = (
        "SELECT 'quantity' AS feature, q AS v, y FROM {src} "
        "UNION ALL SELECT 'discount', d, y FROM {src}"
    )
    return f"""
    WITH base AS (
        SELECT CAST(l_quantity AS DOUBLE) AS q,
               CAST(l_discount AS DOUBLE) AS d,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ),
    mroot AS ({melt.format(src="base")}),
    root AS (
        SELECT * FROM ({stump_candidates_oracle_sql("mroot")})
        QUALIFY row_number() OVER (ORDER BY gini_gain DESC, feature, thr) = 1
    ),
    lb AS (
        SELECT b.* FROM base b CROSS JOIN root r
        WHERE (CASE WHEN r.feature = 'quantity' THEN b.q ELSE b.d END) <= r.thr
    ),
    rb AS (
        SELECT b.* FROM base b CROSS JOIN root r
        WHERE (CASE WHEN r.feature = 'quantity' THEN b.q ELSE b.d END) > r.thr
    ),
    ml_ AS ({melt.format(src="lb")}),
    lbest AS (
        SELECT * FROM ({stump_candidates_oracle_sql("ml_")})
        QUALIFY row_number() OVER (ORDER BY gini_gain DESC, feature, thr) = 1
    ),
    mr_ AS ({melt.format(src="rb")}),
    rbest AS (
        SELECT * FROM ({stump_candidates_oracle_sql("mr_")})
        QUALIFY row_number() OVER (ORDER BY gini_gain DESC, feature, thr) = 1
    )
    SELECT 'root' AS node, feature, thr, n_left, n_right, gini_gain FROM root
    UNION ALL
    SELECT 'L', feature, thr, n_left, n_right, gini_gain FROM lbest
    UNION ALL
    SELECT 'R', feature, thr, n_left, n_right, gini_gain FROM rbest
    """


def stump_full_oracle_sql(src: str) -> str:
    """DuckDB stump candidates KEEPING leaf class counts, before the
    argmax that picks the best split."""
    return f"""
    SELECT feature, thr, nl, posl, nr, posr,
           (CASE WHEN isnan(CAST(((1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                    - (CAST(n - pos AS DOUBLE) / n) * (CAST(n - pos AS DOUBLE) / n))
               - (CAST(nl AS DOUBLE) / n
                  * (1.0 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                         - (CAST(nl - posl AS DOUBLE) / nl) * (CAST(nl - posl AS DOUBLE) / nl))
                  + CAST(nr AS DOUBLE) / n
                  * (1.0 - (CAST(posr AS DOUBLE) / nr) * (CAST(posr AS DOUBLE) / nr)
                         - (CAST(nr - posr AS DOUBLE) / nr) * (CAST(nr - posr AS DOUBLE) / nr)))) AS DOUBLE)) OR abs(CAST(((1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                    - (CAST(n - pos AS DOUBLE) / n) * (CAST(n - pos AS DOUBLE) / n))
               - (CAST(nl AS DOUBLE) / n
                  * (1.0 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                         - (CAST(nl - posl AS DOUBLE) / nl) * (CAST(nl - posl AS DOUBLE) / nl))
                  + CAST(nr AS DOUBLE) / n
                  * (1.0 - (CAST(posr AS DOUBLE) / nr) * (CAST(posr AS DOUBLE) / nr)
                         - (CAST(nr - posr AS DOUBLE) / nr) * (CAST(nr - posr AS DOUBLE) / nr)))) AS DOUBLE)) >= 4611686018427.388 THEN ((1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                    - (CAST(n - pos AS DOUBLE) / n) * (CAST(n - pos AS DOUBLE) / n))
               - (CAST(nl AS DOUBLE) / n
                  * (1.0 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                         - (CAST(nl - posl AS DOUBLE) / nl) * (CAST(nl - posl AS DOUBLE) / nl))
                  + CAST(nr AS DOUBLE) / n
                  * (1.0 - (CAST(posr AS DOUBLE) / nr) * (CAST(posr AS DOUBLE) / nr)
                         - (CAST(nr - posr AS DOUBLE) / nr) * (CAST(nr - posr AS DOUBLE) / nr)))) ELSE floor(((1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                    - (CAST(n - pos AS DOUBLE) / n) * (CAST(n - pos AS DOUBLE) / n))
               - (CAST(nl AS DOUBLE) / n
                  * (1.0 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                         - (CAST(nl - posl AS DOUBLE) / nl) * (CAST(nl - posl AS DOUBLE) / nl))
                  + CAST(nr AS DOUBLE) / n
                  * (1.0 - (CAST(posr AS DOUBLE) / nr) * (CAST(posr AS DOUBLE) / nr)
                         - (CAST(nr - posr AS DOUBLE) / nr) * (CAST(nr - posr AS DOUBLE) / nr)))) * 1000000.0 + 0.5) / 1000000.0 END) AS gini_gain
    FROM (
        SELECT feature, v AS thr, nl, posl, n - nl AS nr, pos - posl AS posr,
               n, pos
        FROM (
            SELECT feature, v,
                   CAST(sum(n_v) OVER w AS BIGINT) AS nl,
                   CAST(sum(pos_v) OVER w AS BIGINT) AS posl,
                   CAST(sum(n_v) OVER (PARTITION BY feature) AS BIGINT) AS n,
                   CAST(sum(pos_v) OVER (PARTITION BY feature) AS BIGINT) AS pos
            FROM (SELECT feature, v, CAST(count(*) AS BIGINT) AS n_v,
                         CAST(sum(y) AS BIGINT) AS pos_v
                  FROM {src} GROUP BY 1, 2)
            WINDOW w AS (PARTITION BY feature ORDER BY v
                         ROWS UNBOUNDED PRECEDING)
        ) WHERE nl < n
    )"""


def bagging_oracle_sql() -> str:
    b256 = (
        "CAST((instr('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)"
        " || '-' || CAST(l_linenumber AS VARCHAR) || 'bag'), 1, 1)) - 1) * 16"
        " + (instr('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)"
        " || '-' || CAST(l_linenumber AS VARCHAR) || 'bag'), 2, 1)) - 1)"
        " AS BIGINT)"
    )
    melt = (
        "SELECT 'quantity' AS feature, q AS v, y FROM {src} "
        "UNION ALL SELECT 'discount', d, y FROM {src}"
    )
    parts = [
        f"""WITH base AS (
        SELECT CAST(l_quantity AS DOUBLE) AS q,
               CAST(l_discount AS DOUBLE) AS d,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               {b256} % 3 AS fold
        FROM lineitem
    )"""
    ]
    for k in range(3):
        parts.append(f"f{k} AS (SELECT * FROM base WHERE fold = {k})")
        parts.append(f"m{k}_ AS ({melt.format(src=f'f{k}')})")
        parts.append(
            f"""b{k} AS (
            SELECT * FROM ({stump_full_oracle_sql(f'm{k}_')})
            QUALIFY row_number() OVER (ORDER BY gini_gain DESC, feature, thr) = 1
        )"""
        )
    pred = lambda k: (  # noqa: E731
        f"CASE WHEN (CASE WHEN s{k}.feature = 'quantity' THEN b.q ELSE b.d END)"
        f" <= s{k}.thr"
        f" THEN CASE WHEN 2 * s{k}.posl > s{k}.nl THEN 1 ELSE 0 END"
        f" ELSE CASE WHEN 2 * s{k}.posr > s{k}.nr THEN 1 ELSE 0 END END"
    )
    parts.append(
        f"""ev AS (
        SELECT b.y, {pred(0)} AS p0, {pred(1)} AS p1, {pred(2)} AS p2
        FROM base b CROSS JOIN b0 s0 CROSS JOIN b1 s1 CROSS JOIN b2 s2
    )"""
    )
    selects = []
    for k in range(3):
        selects.append(
            f"""SELECT 'model_{k}' AS model,
               (SELECT feature FROM b{k}) AS feature,
               (SELECT thr FROM b{k}) AS thr,
               (SELECT CAST(count(*) AS BIGINT) FROM f{k}) AS n_train,
               (CASE WHEN isnan(CAST((CAST(sum(CASE WHEN p{k} = y THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*)) AS DOUBLE)) OR abs(CAST((CAST(sum(CASE WHEN p{k} = y THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(CASE WHEN p{k} = y THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*)) ELSE floor((CAST(sum(CASE WHEN p{k} = y THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*)) * 1000000.0 + 0.5) / 1000000.0 END) AS accuracy
        FROM ev"""
        )
    selects.append(
        """SELECT 'ensemble' AS model,
               CAST(NULL AS VARCHAR) AS feature,
               CAST(NULL AS DOUBLE) AS thr,
               (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_train,
               (CASE WHEN isnan(CAST((CAST(sum(CASE WHEN (CASE WHEN p0 + p1 + p2 >= 2
                                              THEN 1 ELSE 0 END) = y
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*)) AS DOUBLE)) OR abs(CAST((CAST(sum(CASE WHEN (CASE WHEN p0 + p1 + p2 >= 2
                                              THEN 1 ELSE 0 END) = y
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(CASE WHEN (CASE WHEN p0 + p1 + p2 >= 2
                                              THEN 1 ELSE 0 END) = y
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*)) ELSE floor((CAST(sum(CASE WHEN (CASE WHEN p0 + p1 + p2 >= 2
                                              THEN 1 ELSE 0 END) = y
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*)) * 1000000.0 + 0.5) / 1000000.0 END) AS accuracy
        FROM ev"""
    )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def negative_sampling(
    interactions: DataFrame,
    n_items: int,
    k: int = 5,
    user_col: str = "user_id",
    item_col: str = "item_id",
    salt: str = "neg",
    margin: int = 4,
    users: DataFrame | None = None,
) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training:
    for every user in ``interactions``, ``k`` items the user has NOT
    interacted with. Candidates come from hashed ring probing —
    item = md5(user, slot, salt) mod n_items + 1 over 2k + margin
    slots — so the draw is a pure function of (user, slot): stable
    across runs/engines and NEVER a per-row RNG (which would be
    irreproducible under retries). The anti-join against the user's
    own interactions runs on (user, item) — per-user work is O(k),
    never O(catalog). Items are assumed keyed 1..n_items (TPC-H
    partkeys). Heavy users whose probes all collide with positives
    yield fewer than k rows (deterministically, both engines).
    Probes that collide onto the same item are deduped to the lowest
    slot, so the k negatives are k DISTINCT items (round-5 review).
    Pass ``users`` (a small upstream dimension, e.g. the customer or
    orders table) when ``interactions`` is a heavy join — deriving the
    user list from it would evaluate that subtree twice (PLANS.md #27
    lesson). Returns (user, rank, item) with rank 1..k in slot
    order."""
    if users is None:
        users = interactions.select(F.col(user_col).alias("u")).distinct()
    else:
        users = users.select(F.col(user_col).alias("u")).distinct()
    m = 2 * k + margin
    cand = users.select(
        "u", F.explode(F.sequence(F.lit(1), F.lit(m))).alias("slot")
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws("-", F.col("u"), F.col("slot"), F.lit(salt)).cast(
                    "binary"
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    cand = cand.withColumn("item", h % F.lit(n_items) + 1)
    pos = interactions.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("item")
    ).distinct()
    neg = (
        cand.join(pos, ["u", "item"], "left_anti")
        # two slots can hash onto the same item: keep the lowest slot so
        # the ranked negatives are distinct items
        .groupBy("u", "item")
        .agg(F.min("slot").alias("slot"))
    )
    w = Window.partitionBy("u").orderBy("slot")
    return (
        neg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("u").alias(user_col),
            F.col("rank").cast("long").alias("rank"),
            "item",
        )
    )


def stratified_kfold(
    df: DataFrame,
    stratum_cols: list[str],
    id_col: str,
    k: int = 5,
    salt: str = "kfold",
) -> DataFrame:
    """Deterministic stratified k-fold assignment: within each stratum,
    rows are ordered by md5(id || salt) (a uniform pseudo-random but
    reproducible shuffle — the same device as ``md5_bucket``/
    ``negative_sampling``) and dealt round-robin, so every stratum's
    fold sizes differ by at most one and the assignment is a pure
    function of (stratum membership, id). No RNG, no collect; one
    shuffle on the stratum key. The ordering window runs per stratum,
    never globally — at 100 TB the largest stratum bounds the sort,
    and cross-validation folds stay class-balanced by construction
    (plain hash-mod folds only balance in expectation).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(*stratum_cols).orderBy(h.asc(), F.col(id_col).asc())
    return df.withColumn(
        "fold", ((F.row_number().over(w) - F.lit(1)) % F.lit(k)).cast("int")
    )


def naive_bayes_confusion(
    docs: DataFrame,
    id_col: str,
    label_col: str,
    tokens_col: str,
    train_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Multinomial naive Bayes with Laplace smoothing, trained on the
    ``train_col``=1 rows and scored on the rest; emits the
    (actual, predicted) confusion counts — the classic counts-only
    text classifier (language ID, topic routing) that trains in two
    aggregations.

    Cross-engine exactness: every per-token log-probability is
    QUANTIZED to integer micro-nats (round(ln(p) * scale) as BIGINT)
    at the (token, class) grain — a Heaps-bounded table — so document
    scores are INTEGER sums (order-free, exact) plus an integer prior,
    and the argmax (score desc, class asc) is bit-stable. Unordered
    float accumulation never happens; ln() evaluates once per
    vocab x class cell on identical doubles in both engines.

    OOV policy: test tokens unseen in training are dropped (standard
    multinomial NB); test docs with zero in-vocab tokens score by
    prior alone. Shape: token counts shuffle on (class, token);
    scoring is one explode + one broadcast-able join against the
    vocab x class table + one integer groupBy — no data-sized window.
    """
    tr = docs.filter(F.col(train_col) == 1)
    te = docs.filter(F.col(train_col) != 1)

    tr_tok = tr.select(
        F.col(label_col).alias("__y"), F.explode(tokens_col).alias("__tok")
    )
    counts = tr_tok.groupBy("__y", "__tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    totals = counts.groupBy("__y").agg(F.sum("__c").cast("bigint").alias("__tot"))
    vocab = counts.select("__tok").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("__v"))

    dense = (
        vocab.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(vsize))
        .join(counts, ["__y", "__tok"], "left")
        .select(
            "__y",
            "__tok",
            F.round(
                F.log(
                    (F.coalesce(F.col("__c"), F.lit(0)) + F.lit(1)).cast("double")
                    / (F.col("__tot") + F.col("__v")).cast("double")
                )
                * F.lit(scale)
            )
            .cast("bigint")
            .alias("__lp"),
        )
    )

    n_train = tr.agg(F.count(F.lit(1)).cast("bigint").alias("__nt"))
    prior = (
        tr.groupBy(F.col(label_col).alias("__y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("__nd"))
        .crossJoin(F.broadcast(n_train))
        .select(
            "__y",
            F.round(
                F.log(F.col("__nd").cast("double") / F.col("__nt").cast("double"))
                * F.lit(scale)
            )
            .cast("bigint")
            .alias("__pr"),
        )
    )

    te_tok = te.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__actual"),
        F.explode(tokens_col).alias("__tok"),
    )
    tok_scores = (
        te_tok.join(dense, "__tok")
        .groupBy("__id", "__actual", "__y")
        .agg(F.sum("__lp").cast("bigint").alias("__s"))
    )
    # prior-only fallback keeps zero-in-vocab docs scoreable: every
    # test doc crosses the small class list, left-joined to its token
    # evidence.
    classes = prior.select("__y")
    scored = (
        te.select(F.col(id_col).alias("__id"), F.col(label_col).alias("__actual"))
        .crossJoin(F.broadcast(classes))
        .join(tok_scores, ["__id", "__actual", "__y"], "left")
        .join(F.broadcast(prior), "__y")
        .select(
            "__id",
            "__actual",
            "__y",
            (F.coalesce(F.col("__s"), F.lit(0)) + F.col("__pr")).alias("__score"),
        )
    )
    pw = Window.partitionBy("__id").orderBy(
        F.col("__score").desc(), F.col("__y").asc()
    )
    pred = scored.withColumn("__r", F.row_number().over(pw)).filter(
        F.col("__r") == 1
    )
    return (
        pred.groupBy(
            F.col("__actual").alias("actual"), F.col("__y").alias("predicted")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# Shared closed-form text for the 2-feature OLS normal equations: ONE
# template evaluated by Spark (F.expr) AND printed into the DuckDB
# oracle, so the float op sequence over the (exact-sum-derived) double
# moments is literally the same parse tree in both engines — the
# strongest form of the PLANS.md float-parity rule. Moment names:
# n, sx1, sx2, sy, s11, s12, s22, s1y, s2y, syy (all DOUBLE columns).
_OLS2_DET = (
    "(n*(s11*s22 - s12*s12) - sx1*(sx1*s22 - s12*sx2)"
    " + sx2*(sx1*s12 - s11*sx2))"
)
_OLS2_DET0 = (
    "(sy*(s11*s22 - s12*s12) - sx1*(s1y*s22 - s12*s2y)"
    " + sx2*(s1y*s12 - s11*s2y))"
)
_OLS2_DET1 = (
    "(n*(s1y*s22 - s12*s2y) - sy*(sx1*s22 - s12*sx2)"
    " + sx2*(sx1*s2y - s1y*sx2))"
)
_OLS2_DET2 = (
    "(n*(s11*s2y - s1y*s12) - sx1*(sx1*s2y - s1y*sx2)"
    " + sy*(sx1*s12 - s11*sx2))"
)
_OLS2_FORMS = {
    "b0": f"({_OLS2_DET0} / nullif({_OLS2_DET}, 0.0))",
    "b1": f"({_OLS2_DET1} / nullif({_OLS2_DET}, 0.0))",
    "b2": f"({_OLS2_DET2} / nullif({_OLS2_DET}, 0.0))",
}
_OLS2_SSE = (
    f"(syy - {_OLS2_FORMS['b0']}*sy - {_OLS2_FORMS['b1']}*s1y"
    f" - {_OLS2_FORMS['b2']}*s2y)"
)
_OLS2_R2 = f"(1.0 - {_OLS2_SSE} / nullif(syy - sy*sy/n, 0.0))"


def _ols2_moments_select(group_sql: str) -> str:
    """The moment CTE body shared by the oracle: exact HUGEINT sums of
    the integer (x1, x2, y) triple, cast to DOUBLE once."""
    return f"""
        SELECT {group_sql},
               CAST(CAST(count(*) AS HUGEINT) AS DOUBLE) AS n,
               CAST(CAST(sum(CAST(x1 AS HUGEINT)) AS HUGEINT) AS DOUBLE) AS sx1,
               CAST(CAST(sum(CAST(x2 AS HUGEINT)) AS HUGEINT) AS DOUBLE) AS sx2,
               CAST(CAST(sum(CAST(y  AS HUGEINT)) AS HUGEINT) AS DOUBLE) AS sy,
               CAST(CAST(sum(CAST(x1 AS HUGEINT)*x1) AS HUGEINT) AS DOUBLE) AS s11,
               CAST(CAST(sum(CAST(x1 AS HUGEINT)*x2) AS HUGEINT) AS DOUBLE) AS s12,
               CAST(CAST(sum(CAST(x2 AS HUGEINT)*x2) AS HUGEINT) AS DOUBLE) AS s22,
               CAST(CAST(sum(CAST(x1 AS HUGEINT)*y) AS HUGEINT) AS DOUBLE) AS s1y,
               CAST(CAST(sum(CAST(x2 AS HUGEINT)*y) AS HUGEINT) AS DOUBLE) AS s2y,
               CAST(CAST(sum(CAST(y AS HUGEINT)*y) AS HUGEINT) AS DOUBLE) AS syy
    """


def ols2_cramer(
    xy: DataFrame, group_cols: list[str], x1_col: str, x2_col: str, y_col: str
) -> DataFrame:
    """Per-group OLS with TWO features + intercept, solved in closed
    form by Cramer's rule on the 3x3 normal equations — multivariate
    regression as ONE aggregation, no iterative solver and no
    driver-side linear algebra (the PCA-eigh escape hatch isn't needed
    at d=2 because the determinants are expressible SQL).

    Exactness contract: inputs must be INTEGERS (cents/units/bp) whose
    pairwise per-row products fit in BIGINT (|x·y| < 2^63 — true for
    any cents/units/bp source; ANSI mode raises rather than corrupts
    if violated); the products are computed as one bigint multiply per
    row (measured ~35% faster than the previous per-row DECIMAL
    multiplies over the same rows) and the ten moment sums accumulate
    in DECIMAL(38,0) (exact in any partition order — identical
    integers to the old decimal-product form), are cast to DOUBLE
    once, and every downstream float op comes from the ``_OLS2_*``
    templates — the SAME SQL text Spark F.expr parses and the oracle
    executes, so both engines run an identical float op sequence.
    Emits b0/b1/b2 (round 6), r2 (round 6), n_obs; a singular system
    (collinear features, zero-variance y) yields NULLs via nullif,
    never NaN.
    """
    dec = "decimal(38,0)"
    d = F.col(x1_col).cast("bigint")
    e = F.col(x2_col).cast("bigint")
    y = F.col(y_col).cast("bigint")
    m = xy.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.count(F.lit(1)).cast(dec).cast("double").alias("n"),
        F.sum(d.cast(dec)).cast("double").alias("sx1"),
        F.sum(e.cast(dec)).cast("double").alias("sx2"),
        F.sum(y.cast(dec)).cast("double").alias("sy"),
        F.sum((d * d).cast(dec)).cast("double").alias("s11"),
        F.sum((d * e).cast(dec)).cast("double").alias("s12"),
        F.sum((e * e).cast(dec)).cast("double").alias("s22"),
        F.sum((d * y).cast(dec)).cast("double").alias("s1y"),
        F.sum((e * y).cast(dec)).cast("double").alias("s2y"),
        F.sum((y * y).cast(dec)).cast("double").alias("syy"),
    )
    return m.select(
        *group_cols,
        "n_obs",
        det_round(F.expr(_OLS2_FORMS["b0"]), 6).alias("b0"),
        det_round(F.expr(_OLS2_FORMS["b1"]), 6).alias("b1"),
        det_round(F.expr(_OLS2_FORMS["b2"]), 6).alias("b2"),
        det_round(F.expr(_OLS2_R2), 6).alias("r2"),
    )


def ols2_oracle_sql(src_sql: str, group_sql: str) -> str:
    """DuckDB twin of :func:`ols2_cramer`. ``src_sql`` must yield the
    group column(s) plus integer (x1, x2, y); ``group_sql`` is the
    group column list text (e.g. ``"p_brand"``)."""
    return f"""
    WITH src AS ({src_sql}),
    m AS (
        {_ols2_moments_select(group_sql)},
               CAST(count(*) AS BIGINT) AS n_obs
        FROM src GROUP BY {group_sql}
    )
    SELECT {group_sql}, n_obs,
           (CASE WHEN isnan(CAST(({_OLS2_FORMS["b0"]}) AS DOUBLE)) OR abs(CAST(({_OLS2_FORMS["b0"]}) AS DOUBLE)) >= 4611686018427.388 THEN ({_OLS2_FORMS["b0"]}) ELSE floor(({_OLS2_FORMS["b0"]}) * 1000000.0 + 0.5) / 1000000.0 END) AS b0,
           (CASE WHEN isnan(CAST(({_OLS2_FORMS["b1"]}) AS DOUBLE)) OR abs(CAST(({_OLS2_FORMS["b1"]}) AS DOUBLE)) >= 4611686018427.388 THEN ({_OLS2_FORMS["b1"]}) ELSE floor(({_OLS2_FORMS["b1"]}) * 1000000.0 + 0.5) / 1000000.0 END) AS b1,
           (CASE WHEN isnan(CAST(({_OLS2_FORMS["b2"]}) AS DOUBLE)) OR abs(CAST(({_OLS2_FORMS["b2"]}) AS DOUBLE)) >= 4611686018427.388 THEN ({_OLS2_FORMS["b2"]}) ELSE floor(({_OLS2_FORMS["b2"]}) * 1000000.0 + 0.5) / 1000000.0 END) AS b2,
           (CASE WHEN isnan(CAST(({_OLS2_R2}) AS DOUBLE)) OR abs(CAST(({_OLS2_R2}) AS DOUBLE)) >= 4611686018427.388 THEN ({_OLS2_R2}) ELSE floor(({_OLS2_R2}) * 1000000.0 + 0.5) / 1000000.0 END) AS r2
    FROM m
    """


# Granger-causality F-test templates over the SAME ten moment names as
# _OLS2 (shared Spark<->oracle text). Restricted model regresses y on
# x1 (own lag) + intercept; unrestricted adds x2 (the candidate cause's
# lag); with q = 1 restriction, F = (RSS_r - RSS_u) * (n - 3) / RSS_u.
_GRANGER_RSS_R = (
    "((syy - sy*sy/n)"
    " - (s1y - sx1*sy/n)*(s1y - sx1*sy/n) / nullif(s11 - sx1*sx1/n, 0.0))"
)
_GRANGER_F = (
    f"((({_GRANGER_RSS_R}) - ({_OLS2_SSE})) * (n - 3.0))"
    f" / nullif({_OLS2_SSE}, 0.0)"
)


def granger_f(xy: DataFrame, x1_col: str, x2_col: str, y_col: str) -> DataFrame:
    """Granger-style lag F-test: does adding ``x2_col`` (the candidate
    cause's lag) to an AR(1) model of ``y_col`` on ``x1_col`` (its own
    lag) reduce residual variance more than chance? Inputs must be
    INTEGERS (the ols2_cramer exactness contract); the ten moment sums
    accumulate in DECIMAL(38,0), both RSS values and the F statistic
    are closed forms over their one-time double casts, evaluated from
    the SAME ``_GRANGER_*``/``_OLS2_*`` SQL text in both engines. One
    1-row scalar aggregate; the caller supplies the lagged frame."""
    d = F.col(x1_col).cast("decimal(38,0)")
    e = F.col(x2_col).cast("decimal(38,0)")
    y = F.col(y_col).cast("decimal(38,0)")
    m = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.count(F.lit(1)).cast("decimal(38,0)").cast("double").alias("n"),
        F.sum(d).cast("double").alias("sx1"),
        F.sum(e).cast("double").alias("sx2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(d * d).cast("double").alias("s11"),
        F.sum(d * e).cast("double").alias("s12"),
        F.sum(e * e).cast("double").alias("s22"),
        F.sum(d * y).cast("double").alias("s1y"),
        F.sum(e * y).cast("double").alias("s2y"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    return m.select(
        "n_obs",
        det_round(F.expr(_OLS2_FORMS["b1"]), 6).alias("beta_own_lag"),
        det_round(F.expr(_OLS2_FORMS["b2"]), 6).alias("beta_cause_lag"),
        det_round(F.expr(_GRANGER_RSS_R), 2).alias("rss_restricted"),
        det_round(F.expr(_OLS2_SSE), 2).alias("rss_unrestricted"),
        det_round(F.expr(_GRANGER_F), 6).alias("f_stat"),
    )


def granger_oracle_sql(src_sql: str) -> str:
    """DuckDB twin of :func:`granger_f`. ``src_sql`` must yield integer
    (x1, x2, y) rows (already lagged)."""
    return f"""
    WITH src AS ({src_sql}),
    m AS (
        {_ols2_moments_select("1 AS g")},
               CAST(count(*) AS BIGINT) AS n_obs
        FROM src GROUP BY 1
    )
    SELECT n_obs,
           (CASE WHEN isnan(CAST(({_OLS2_FORMS["b1"]}) AS DOUBLE)) OR abs(CAST(({_OLS2_FORMS["b1"]}) AS DOUBLE)) >= 4611686018427.388 THEN ({_OLS2_FORMS["b1"]}) ELSE floor(({_OLS2_FORMS["b1"]}) * 1000000.0 + 0.5) / 1000000.0 END) AS beta_own_lag,
           (CASE WHEN isnan(CAST(({_OLS2_FORMS["b2"]}) AS DOUBLE)) OR abs(CAST(({_OLS2_FORMS["b2"]}) AS DOUBLE)) >= 4611686018427.388 THEN ({_OLS2_FORMS["b2"]}) ELSE floor(({_OLS2_FORMS["b2"]}) * 1000000.0 + 0.5) / 1000000.0 END) AS beta_cause_lag,
           (CASE WHEN isnan(CAST(({_GRANGER_RSS_R}) AS DOUBLE)) OR abs(CAST(({_GRANGER_RSS_R}) AS DOUBLE)) >= 4.611686018427388e+16 THEN ({_GRANGER_RSS_R}) ELSE floor(({_GRANGER_RSS_R}) * 100.0 + 0.5) / 100.0 END) AS rss_restricted,
           (CASE WHEN isnan(CAST(({_OLS2_SSE}) AS DOUBLE)) OR abs(CAST(({_OLS2_SSE}) AS DOUBLE)) >= 4.611686018427388e+16 THEN ({_OLS2_SSE}) ELSE floor(({_OLS2_SSE}) * 100.0 + 0.5) / 100.0 END) AS rss_unrestricted,
           (CASE WHEN isnan(CAST(({_GRANGER_F}) AS DOUBLE)) OR abs(CAST(({_GRANGER_F}) AS DOUBLE)) >= 4611686018427.388 THEN ({_GRANGER_F}) ELSE floor(({_GRANGER_F}) * 1000000.0 + 0.5) / 1000000.0 END) AS f_stat
    FROM m
    """


# Regression-stump templates shared Spark<->oracle (the _OLS2 pattern):
# moment columns nl/sl/nr/sr/n/s are EXACT integers; *_d are their
# one-time double casts; gain is the SSE-reduction identity
# sum_l^2/n_l + sum_r^2/n_r - sum^2/n (monotone transform of variance
# reduction), a single closed form both engines parse from this text.
_GB_GAIN = "(sl_d*sl_d/nl_d + sr_d*sr_d/nr_d - s_d*s_d/n_d)"


def reg_stump_candidates_sql(src: str) -> str:
    """DuckDB twin of the regression-stump candidate scan in
    :func:`boosted_reg_stumps`, over melted CTE ``src`` (feature, v,
    y). Floor division spells the pmod identity (DuckDB ``//``
    truncates toward zero like Spark ``div``); the gain text is the
    shared ``_GB_GAIN`` template."""
    return f"""
    SELECT feature, thr, nl, nr,
           CAST((sl - (((sl % nl) + nl) % nl)) // nl AS BIGINT) AS pred_l,
           CAST((sr - (((sr % nr) + nr) % nr)) // nr AS BIGINT) AS pred_r,
           {_GB_GAIN} AS gain
    FROM (
        SELECT feature, thr, nl, sl, nr, sr, n, s,
               CAST(nl AS DOUBLE) AS nl_d, CAST(sl AS DOUBLE) AS sl_d,
               CAST(nr AS DOUBLE) AS nr_d, CAST(sr AS DOUBLE) AS sr_d,
               CAST(n AS DOUBLE) AS n_d, CAST(s AS DOUBLE) AS s_d
        FROM (
            SELECT feature, v AS thr, nl, sl,
                   n - nl AS nr, s - sl AS sr, n, s
            FROM (
                SELECT feature, v,
                       CAST(sum(n_v) OVER (PARTITION BY feature ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
                       CAST(sum(s_v) OVER (PARTITION BY feature ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
                       CAST(sum(n_v) OVER (PARTITION BY feature)
                            AS BIGINT) AS n,
                       CAST(sum(s_v) OVER (PARTITION BY feature)
                            AS BIGINT) AS s
                FROM (
                    SELECT feature, v,
                           CAST(count(*) AS BIGINT) AS n_v,
                           CAST(sum(y) AS BIGINT) AS s_v
                    FROM {src} GROUP BY 1, 2
                )
            ) WHERE nl < n
        )
    )
    """


def boosted_reg_stumps(
    base: DataFrame, feature_cols: list[str], y_col: str, rounds: int = 2
) -> "list[tuple]":
    """Gradient boosting with regression stumps on an INTEGER target:
    each round fits the best SSE-reduction stump to the current
    residuals and subtracts its floor-div leaf prediction, so the
    residual stream STAYS integral and every round's training pass is
    exact. Returns the per-round model rows
    (round, feature, thr, pred_l, pred_r, sse_after DECIMAL) — the
    1-row-per-round collect is model parameters (the house bound),
    not data. Tie-break (gain desc, feature, thr) is deterministic
    because gain is a closed form over exact integer moments.

    ``y_col`` and every feature column must be integral; any other type
    raises ``ValueError`` naming the column (a cast would silently
    truncate fractions and shift thresholds)."""
    fields = {f.name: f.dataType for f in base.schema.fields}
    for c in [y_col, *feature_cols]:
        if not isinstance(fields.get(c), IntegralType):
            raise ValueError(
                f"boosted_reg_stumps: column {c!r} must be an integral "
                f"type, got {fields.get(c)}"
            )
    # ONE scan for ALL rounds (guide §1.2): the base collapses to one
    # moment row per distinct feature TUPLE (n, Σy, Σy² — the Σy² per-
    # row product stays in DECIMAL(38,0), overflow-proof for any
    # bigint y), and every later round adjusts those moments
    # algebraically instead of rescanning: a stump's prediction p is
    # CONSTANT within each feature tuple, so Σ(y-p) = s - n·p and
    # Σ(y-p)² = q - 2·p·s + n·p² — exact integer identities. The old
    # shape re-scanned the base once per feature per round plus a
    # whole-table SSE pass per round (6 scans + 4 jobs at 2 features x
    # 2 rounds; now 1 scan + one tiny moment-table job per round, and
    # each round's post-split SSE rides the same 1-row collect).
    rows = []
    dec = "decimal(38,0)"
    two = F.lit(2).cast(dec)
    # the bigint casts below only widen: every input is integral
    pre = (
        base.withColumn("__y", F.col(y_col).cast("bigint"))
        .groupBy(*feature_cols)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_v"),
            F.sum("__y").cast("bigint").alias("s_v"),
            F.sum(
                F.col("__y").cast(dec) * F.col("__y").cast(dec)
            ).alias("q_v"),
        )
        .persist()
    )
    held = pre
    for rnd in range(1, rounds + 1):
        melted = pre.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(f_).alias("feature"),
                            F.col(f_).cast("bigint").alias("v"),
                            F.col("n_v").alias("n_v"),
                            F.col("s_v").alias("s_v"),
                            F.col("q_v").alias("q_v"),
                        )
                        for f_ in feature_cols
                    ]
                )
            ).alias("m")
        ).select("m.*")
        g = melted.groupBy("feature", "v").agg(
            F.sum("n_v").cast("bigint").alias("n_v"),
            F.sum("s_v").cast("bigint").alias("s_v"),
            F.sum("q_v").alias("q_v"),
        )
        wc = (
            Window.partitionBy("feature")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wf = Window.partitionBy("feature")
        c = g.select(
            "feature",
            F.col("v").alias("thr"),
            F.sum("n_v").over(wc).cast("bigint").alias("nl"),
            F.sum("s_v").over(wc).cast("bigint").alias("sl"),
            F.sum("q_v").over(wc).alias("ql"),
            F.sum("n_v").over(wf).cast("bigint").alias("n"),
            F.sum("s_v").over(wf).cast("bigint").alias("s"),
            F.sum("q_v").over(wf).alias("q"),
        ).filter(F.col("nl") < F.col("n"))
        c = (
            c.withColumn("nr", (F.col("n") - F.col("nl")).cast("bigint"))
            .withColumn("sr", (F.col("s") - F.col("sl")).cast("bigint"))
            .withColumn("nl_d", F.col("nl").cast("double"))
            .withColumn("sl_d", F.col("sl").cast("double"))
            .withColumn("nr_d", F.col("nr").cast("double"))
            .withColumn("sr_d", F.col("sr").cast("double"))
            .withColumn("n_d", F.col("n").cast("double"))
            .withColumn("s_d", F.col("s").cast("double"))
            .withColumn(
                "pred_l",
                F.expr("(sl - pmod(sl, nl)) div nl").cast("bigint"),
            )
            .withColumn(
                "pred_r",
                F.expr("(sr - pmod(sr, nr)) div nr").cast("bigint"),
            )
            .withColumn("gain", F.expr(_GB_GAIN))
        )
        pld, prd = F.col("pred_l").cast(dec), F.col("pred_r").cast(dec)
        sld, srd = F.col("sl").cast(dec), F.col("sr").cast(dec)
        nld, nrd = F.col("nl").cast(dec), F.col("nr").cast(dec)
        sse_after = (
            F.col("ql") - two * pld * sld + nld * pld * pld
        ) + ((F.col("q") - F.col("ql")) - two * prd * srd + nrd * prd * prd)
        best = (
            c.withColumn("sse_after", sse_after.cast(dec))
            .orderBy(F.desc("gain"), "feature", "thr")
            .limit(1)
            .collect()[0]
        )
        rows.append((rnd, best.feature, best.thr, best.pred_l, best.pred_r,
                     best.sse_after, best.n))
        if rnd < rounds:
            # fold the chosen stump into the moment table: p is
            # constant within every feature tuple, so the residual
            # moments are closed forms over the existing ones
            p = F.when(
                F.col(best.feature) <= F.lit(best.thr), F.lit(best.pred_l)
            ).otherwise(F.lit(best.pred_r)).cast("bigint")
            pd_, nd_ = p.cast(dec), F.col("n_v").cast(dec)
            sd_ = F.col("s_v").cast(dec)
            pre = pre.select(
                *feature_cols,
                "n_v",
                (sd_ - nd_ * pd_).cast("bigint").alias("s_v"),
                (
                    F.col("q_v") - two * pd_ * sd_ + nd_ * pd_ * pd_
                ).cast(dec).alias("q_v"),
            )
    held.unpersist()
    return rows
