"""Distributed trained model: full-batch gradient-descent linear probe.

The missing rung between the engine's analytics (aggregate, window)
and its unsupervised learners (k-means ``clustering.py``, PCA
``linalg.py``, PageRank ``graph.py``): a SUPERVISED training loop. A
training-data pipeline fits small linear probes constantly — quality
regressors, contamination scorers, domain weights — and at 100 TB the
only viable shape is exactly this one: per-row gradient contributions
computed map-side in the scan stage, reduced to a d-sized vector by
ONE aggregation per iteration, next-iteration weights derived from
that d-sized frame. The corpus never shuffles; shuffle volume per
iteration is ``d x n_partitions`` partial-aggregate rows.

Determinism contract (what makes the DuckDB oracle replay every
iteration bit-exactly):

* all features, targets, and weights are INTEGER fixed-point
  (features in 1e-3 units, weights in 1e-6 units, predictions/targets
  in 1e-9 units) — no float enters the loop;
* gradient sums are exact (DECIMAL(38,0) in Spark, HUGEINT in
  DuckDB) so they are independent of partitioning and summation
  order;
* the learning-rate update divides with truncation-toward-zero
  integer division, which Spark's ``div`` and DuckDB's ``//``
  both implement.

Loss is least squares: grad_j = sum((pred - y) * x_j), w_j' =
w_j - lr * grad_j / n. With lr = lr_num/lr_den and the 1e-3 x 1e-6
scale product, the update in fixed point is
``w_j' = w_j - (lr_num * grad_j) div (n * lr_den * 1_000_000)``.

The returned frame is LAZY — the weight recurrence is a chain of
1-row aggregates composed with broadcast joins, not driver collects,
so the whole training run is one Spark job when the 4-row result is
finally fetched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: feature names in output order; w0 is the bias
FEATURES = ("bias", "len_tok", "len_char", "digit_frac")

#: english stopword list shared with the oracle (fixed, tiny)
PROBE_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def probe_features(
    df: DataFrame, text_col: str = "text", group_col: str | None = None
) -> DataFrame:
    """Scan-stage integer fixed-point features + target.

    x0 = 1.0 (bias), x1 = min(n_tok, 1000)/1000, x2 = min(n_chars,
    5000)/5000, x3 = digit fraction — all in 1e-3 units; target y =
    stopword fraction of tokens in 1e-9 units. Rows with no tokens
    are dropped (the target is undefined there). With ``group_col``
    the group key is carried through for per-group training.
    """
    stop_list = ", ".join(f"'{w}'" for w in PROBE_STOPWORDS)
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    carry = [F.col(group_col).alias("grp")] if group_col else []
    # token-bearing gate as a CHEAP text predicate, not size(arr) > 0:
    # the two are equivalent (a row has a non-empty token iff the text
    # has a non-whitespace character), but the arr-based filter is
    # pushable and Catalyst pushed it below the parallelism-floor
    # repartition — re-running the full tokenize per row inside the
    # single-task scan stage (measured 1.9 CPU-s serial at sf0.1,
    # the query's wall floor) and then again post-shuffle for the
    # features. The rlike pushes below the exchange too, but costs a
    # find-first-char regex instead of a tokenize: project before the
    # exchange, and keep per-task work below it cheap.
    base = df.filter(F.col(text_col).rlike(r"\S")).select(
        *carry,
        arr.alias("arr"),
        F.length(text_col).alias("tlen"),
        (
            F.length(text_col)
            - F.length(F.regexp_replace(text_col, "[0-9]", ""))
        ).alias("digits"),
        F.col("n_chars"),
    ).withColumn("n_tok", F.size("arr"))
    return base.select(
        *([F.col("grp")] if group_col else []),
        F.lit(1000).cast("bigint").alias("x0"),
        F.least("n_tok", F.lit(1000)).cast("bigint").alias("x1"),
        F.expr("least(n_chars, 5000) div 5").cast("bigint").alias("x2"),
        F.expr(
            "(cast(digits as bigint) * 1000) div tlen"
        ).cast("bigint").alias("x3"),
        F.expr(
            f"(cast(size(filter(arr, t -> t IN ({stop_list}))) as bigint)"
            " * 1000000000) div n_tok"
        )
        .cast("bigint")
        .alias("y"),
    )


def linear_probe_weights(
    df: DataFrame,
    text_col: str = "text",
    iters: int = 4,
    lr_num: int = 1,
    lr_den: int = 10,
) -> DataFrame:
    """(feature, weight_micro) after ``iters`` full-batch GD steps of
    a least-squares linear probe predicting stopword fraction from
    length/digit features. ``weight_micro`` is the weight in 1e-6
    units (bigint) — exactly replayable by the DuckDB oracle."""
    feat = probe_features(df, text_col)
    # weights start at zero; each iteration is ONE aggregation over the
    # feature frame producing (n, 4 gradient sums), from which the next
    # 1-row weight frame is derived with pure integer expressions
    w = df.sparkSession.range(1).select(
        *[F.lit(0).cast("bigint").alias(f"w{j}") for j in range(4)]
    )
    for _ in range(iters):
        joined = feat.join(F.broadcast(w))
        err = (
            F.col("w0") * F.col("x0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2")
            + F.col("w3") * F.col("x3")
            - F.col("y")
        )
        grads = joined.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum((err * F.col(f"x{j}")).cast("decimal(38,0)")).alias(
                    f"g{j}"
                )
                for j in range(4)
            ],
            *[F.first(f"w{j}").alias(f"w{j}") for j in range(4)],
        )
        w = grads.select(
            *[
                F.expr(
                    f"w{j} - (cast({lr_num} as bigint) * cast(g{j} as"
                    f" bigint)) div (n * {lr_den} * 1000000)"
                )
                .cast("bigint")
                .alias(f"w{j}")
                for j in range(4)
            ]
        )
    names = F.array(*[F.lit(n) for n in FEATURES])
    return (
        w.select(
            F.posexplode(
                F.array(*[F.col(f"w{j}") for j in range(4)])
            ).alias("j", "weight_micro"),
            names.alias("names"),
        )
        .select(
            F.element_at(F.col("names"), F.col("j") + 1).alias("feature"),
            "weight_micro",
        )
    )


def probe_feature_sql(table: str = "documents") -> str:
    """DuckDB CTE body computing the identical fixed-point features."""
    stop_list = ", ".join(f"'{w}'" for w in PROBE_STOPWORDS)
    return (
        "SELECT CAST(1000 AS BIGINT) AS x0, "
        "CAST(least(len(arr), 1000) AS BIGINT) AS x1, "
        "CAST(least(n_chars, 5000) // 5 AS BIGINT) AS x2, "
        "CAST(((length(text) - length(regexp_replace(text, '[0-9]', '',"
        " 'g'))) * 1000) // length(text) AS BIGINT) AS x3, "
        f"CAST((len(list_filter(arr, t -> t IN ({stop_list}))) *"
        " 1000000000) // len(arr) AS BIGINT) AS y "
        "FROM (SELECT n_chars, text, "
        "list_filter(string_split_regex(lower(text), '\\s+'), "
        f"t -> len(t) > 0) AS arr FROM {table}) WHERE len(arr) > 0"
    )


def linear_probe_oracle_sql(
    iters: int = 4, lr_num: int = 1, lr_den: int = 10
) -> str:
    """Chained-CTE DuckDB twin of :func:`linear_probe_weights`: one
    gradient CTE + one weight CTE per iteration, integer `//`
    division matching Spark's ``div`` truncation."""
    ctes = [f"feat AS ({probe_feature_sql()})"]
    ctes.append(
        "w0_ AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,"
        " CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)"
    )
    prev = "w0_"
    for it in range(1, iters + 1):
        err = "(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 - f.y)"
        gsums = ", ".join(
            f"sum({err} * f.x{j}) AS g{j}" for j in range(4)
        )
        ws = ", ".join(f"any_value(w.w{j}) AS w{j}" for j in range(4))
        ctes.append(
            f"g{it}_ AS (SELECT count(*) AS n, {gsums}, {ws} "
            f"FROM feat f, {prev} w)"
        )
        upd = ", ".join(
            f"CAST(w{j} - (CAST({lr_num} AS HUGEINT) * g{j})"
            f" // (n * {lr_den} * 1000000) AS BIGINT) AS w{j}"
            for j in range(4)
        )
        ctes.append(f"w{it}_ AS (SELECT {upd} FROM g{it}_)")
        prev = f"w{it}_"
    rows = " UNION ALL ".join(
        f"SELECT '{name}' AS feature, w{j} AS weight_micro FROM {prev}"
        for j, name in enumerate(FEATURES)
    )
    return "WITH " + ", ".join(ctes) + " " + rows


def grouped_probe_weights(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    iters: int = 4,
    lr_num: int = 1,
    lr_den: int = 10,
) -> DataFrame:
    """(group, feature, weight_micro): one independent linear probe per
    group (language, domain, source...), all fit in the SAME pass — the
    grouped-training shape a 100 TB pipeline needs when per-domain
    calibration replaces one global model.

    Identical arithmetic contract to :func:`linear_probe_weights`;
    the differences are purely structural:

    * gradients aggregate ``GROUP BY`` the group key, so one
      aggregation per iteration yields EVERY group's d-sized gradient
      (shuffle volume = n_groups x n_partitions partial rows);
    * weights live in an n_groups-row frame that broadcast-joins back
      onto the features each iteration — the corpus side never
      shuffles on the group key more than the aggregation itself.
    """
    feat = probe_features(df, text_col, group_col=group_col)
    w = (
        feat.select("grp")
        .distinct()
        .select(
            "grp",
            *[F.lit(0).cast("bigint").alias(f"w{j}") for j in range(4)],
        )
    )
    for _ in range(iters):
        joined = feat.join(F.broadcast(w), "grp")
        err = (
            F.col("w0") * F.col("x0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2")
            + F.col("w3") * F.col("x3")
            - F.col("y")
        )
        grads = joined.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum((err * F.col(f"x{j}")).cast("decimal(38,0)")).alias(
                    f"g{j}"
                )
                for j in range(4)
            ],
            *[F.first(f"w{j}").alias(f"w{j}") for j in range(4)],
        )
        w = grads.select(
            "grp",
            *[
                F.expr(
                    f"w{j} - (cast({lr_num} as bigint) * cast(g{j} as"
                    f" bigint)) div (n * {lr_den} * 1000000)"
                )
                .cast("bigint")
                .alias(f"w{j}")
                for j in range(4)
            ],
        )
    names = F.array(*[F.lit(n) for n in FEATURES])
    return (
        w.select(
            F.col("grp").alias(group_col),
            F.posexplode(
                F.array(*[F.col(f"w{j}") for j in range(4)])
            ).alias("j", "weight_micro"),
            names.alias("names"),
        )
        .select(
            group_col,
            F.element_at(F.col("names"), F.col("j") + 1).alias("feature"),
            "weight_micro",
        )
    )


def grouped_probe_oracle_sql(
    group_col: str,
    iters: int = 4,
    lr_num: int = 1,
    lr_den: int = 10,
    table: str = "documents",
) -> str:
    """Chained-CTE DuckDB twin of :func:`grouped_probe_weights`."""
    stop_list = ", ".join(f"'{w}'" for w in PROBE_STOPWORDS)
    feat = (
        f"SELECT grp, CAST(1000 AS BIGINT) AS x0, "
        "CAST(least(len(arr), 1000) AS BIGINT) AS x1, "
        "CAST(least(n_chars, 5000) // 5 AS BIGINT) AS x2, "
        "CAST(((length(text) - length(regexp_replace(text, '[0-9]', '',"
        " 'g'))) * 1000) // length(text) AS BIGINT) AS x3, "
        f"CAST((len(list_filter(arr, t -> t IN ({stop_list}))) *"
        " 1000000000) // len(arr) AS BIGINT) AS y "
        f"FROM (SELECT {group_col} AS grp, n_chars, text, "
        "list_filter(string_split_regex(lower(text), '\\s+'), "
        f"t -> len(t) > 0) AS arr FROM {table}) WHERE len(arr) > 0"
    )
    ctes = [f"feat AS ({feat})"]
    ctes.append(
        "w0_ AS (SELECT DISTINCT grp, CAST(0 AS BIGINT) AS w0,"
        " CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,"
        " CAST(0 AS BIGINT) AS w3 FROM feat)"
    )
    prev = "w0_"
    for it in range(1, iters + 1):
        err = "(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 - f.y)"
        gsums = ", ".join(
            f"sum({err} * f.x{j}) AS g{j}" for j in range(4)
        )
        ws = ", ".join(f"any_value(w.w{j}) AS w{j}" for j in range(4))
        ctes.append(
            f"g{it}_ AS (SELECT f.grp, count(*) AS n, {gsums}, {ws} "
            f"FROM feat f JOIN {prev} w USING (grp) GROUP BY f.grp)"
        )
        upd = ", ".join(
            f"CAST(w{j} - (CAST({lr_num} AS HUGEINT) * g{j})"
            f" // (n * {lr_den} * 1000000) AS BIGINT) AS w{j}"
            for j in range(4)
        )
        ctes.append(f"w{it}_ AS (SELECT grp, {upd} FROM g{it}_)")
        prev = f"w{it}_"
    rows = " UNION ALL ".join(
        f"SELECT grp AS {group_col}, '{name}' AS feature,"
        f" w{j} AS weight_micro FROM {prev}"
        for j, name in enumerate(FEATURES)
    )
    return "WITH " + ", ".join(ctes) + " " + rows


def probe_apply(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Inference with the trained probe: recompute the 4-iteration GD
    weights (a d-sized plan prefix) and score every document —
    train-then-apply in ONE lazy plan. The per-doc prediction is the
    same integer dot product the training loop used (1e-9 units,
    reported in micro units), so the oracle extends the training CTE
    chain with one scoring select and stays bit-exact."""
    feat = probe_features(df, text_col, group_col="doc_id")
    w = df.sparkSession.range(1).select(
        *[F.lit(0).cast("bigint").alias(f"w{j}") for j in range(4)]
    )
    for _ in range(4):
        joined = feat.join(F.broadcast(w))
        err = (
            F.col("w0") * F.col("x0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2")
            + F.col("w3") * F.col("x3")
            - F.col("y")
        )
        grads = joined.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum((err * F.col(f"x{j}")).cast("decimal(38,0)")).alias(
                    f"g{j}"
                )
                for j in range(4)
            ],
            *[F.first(f"w{j}").alias(f"w{j}") for j in range(4)],
        )
        w = grads.select(
            *[
                F.expr(
                    f"w{j} - (cast(1 as bigint) * cast(g{j} as bigint))"
                    " div (n * 10 * 1000000)"
                )
                .cast("bigint")
                .alias(f"w{j}")
                for j in range(4)
            ]
        )
    return feat.join(F.broadcast(w)).select(
        F.col("grp").alias("doc_id"),
        F.expr("(w0*x0 + w1*x1 + w2*x2 + w3*x3) div 1000").alias(
            "pred_micro"
        ),
        F.expr("y div 1000").alias("actual_micro"),
        F.expr(
            "(w0*x0 + w1*x1 + w2*x2 + w3*x3) div 1000 - y div 1000"
        ).alias("err_micro"),
    )


def probe_apply_oracle_sql(
    iters: int = 4, lr_num: int = 1, lr_den: int = 10
) -> str:
    """DuckDB twin of :func:`probe_apply`: the training CTE chain plus
    one scoring select over the doc-keyed feature CTE."""
    stop_list = ", ".join(f"'{w}'" for w in PROBE_STOPWORDS)
    feat = (
        "SELECT doc_id, CAST(1000 AS BIGINT) AS x0, "
        "CAST(least(len(arr), 1000) AS BIGINT) AS x1, "
        "CAST(least(n_chars, 5000) // 5 AS BIGINT) AS x2, "
        "CAST(((length(text) - length(regexp_replace(text, '[0-9]', '',"
        " 'g'))) * 1000) // length(text) AS BIGINT) AS x3, "
        f"CAST((len(list_filter(arr, t -> t IN ({stop_list}))) *"
        " 1000000000) // len(arr) AS BIGINT) AS y "
        "FROM (SELECT doc_id, n_chars, text, "
        "list_filter(string_split_regex(lower(text), '\\s+'), "
        "t -> len(t) > 0) AS arr FROM documents) WHERE len(arr) > 0"
    )
    ctes = [f"feat AS ({feat})"]
    ctes.append(
        "w0_ AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,"
        " CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)"
    )
    prev = "w0_"
    for it in range(1, iters + 1):
        err = "(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 - f.y)"
        gsums = ", ".join(
            f"sum({err} * f.x{j}) AS g{j}" for j in range(4)
        )
        ws = ", ".join(f"any_value(w.w{j}) AS w{j}" for j in range(4))
        ctes.append(
            f"g{it}_ AS (SELECT count(*) AS n, {gsums}, {ws} "
            f"FROM feat f, {prev} w)"
        )
        upd = ", ".join(
            f"CAST(w{j} - (CAST({lr_num} AS HUGEINT) * g{j})"
            f" // (n * {lr_den} * 1000000) AS BIGINT) AS w{j}"
            for j in range(4)
        )
        ctes.append(f"w{it}_ AS (SELECT {upd} FROM g{it}_)")
        prev = f"w{it}_"
    body = (
        "SELECT f.doc_id, "
        "(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3) // 1000 "
        "AS pred_micro, f.y // 1000 AS actual_micro, "
        "(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3) // 1000 "
        "- f.y // 1000 AS err_micro "
        f"FROM feat f, {prev} w"
    )
    return "WITH " + ", ".join(ctes) + " " + body
