"""Round-7i operators: ratio-scaled synthetic control, CVaR expected
shortfall, a deterministic differential-privacy count release,
Holt-Winters additive smoothing as a distributed array fold, cross-price
elasticity, and an nDCG retrieval evaluation.

Parity contract as everywhere (registry/__init__.py float policy).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import register
from ._util import dbl, dec, t

# ------------------------------------------------------------------
# 1. part_promo_synthetic_control — ratio-scaled control uplift
# ------------------------------------------------------------------


@register(
    "part_promo_synthetic_control",
    """
    WITH m AS (
      SELECT p.p_type,
             year(l_shipdate) * 12 + month(l_shipdate) - 1 AS ym,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS rev
      FROM lineitem JOIN part p ON p.p_partkey = l_partkey
      WHERE year(l_shipdate) IN (1996, 1997)
      GROUP BY 1, 2),
    split_ AS (
      SELECT ym,
             CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
               AS BIGINT) AS treated,
             CAST(SUM(CASE WHEN p_type <> 'PROMO' THEN rev ELSE 0 END)
               AS BIGINT) AS control
      FROM m GROUP BY ym),
    w AS (
      SELECT SUM(CASE WHEN ym < 1997 * 12 THEN treated ELSE 0 END)
               ::HUGEINT * 1000000000
             // SUM(CASE WHEN ym < 1997 * 12 THEN control ELSE 0 END)
               AS w_ppb
      FROM split_)
    SELECT ym, treated AS actual_cents,
           CAST(control::HUGEINT * w_ppb // 1000000000 AS BIGINT)
             AS synthetic_cents,
           CAST(treated - control::HUGEINT * w_ppb // 1000000000
             AS BIGINT) AS uplift_cents
    FROM split_ CROSS JOIN w
    WHERE ym >= 1997 * 12
    ORDER BY ym
    """,
)
def part_promo_synthetic_control(spark: SparkSession, sf_dir: str):
    """Synthetic-control uplift read for the PROMO part type: the
    control series is the non-PROMO revenue ratio-scaled so its
    PRE-period (1996) total matches the treated pre-period exactly
    (the proportional-weights special case of Abadie's synthetic
    control — one donor pool, one scale weight in exact ppb), and each
    POST-period (1997) month reports actual − synthetic as the uplift
    that diff-in-differences would average away month structure to
    see. Fourth causal leg next to DiD / CUPED / RDD. One pruned-year
    fact aggregate to (type, month) grain, a 2-column month pivot, a
    1-row broadcast weight — month-grain output."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    m = (
        l.filter(F.year("l_shipdate").isin(1996, 1997))
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(
            "p_type",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias(
                "ym"
            ),
        )
        .agg(
            F.sum((dec("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    split_ = m.groupBy("ym").agg(
        F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(0))
        .cast("bigint")
        .alias("treated"),
        F.sum(F.when(F.col("p_type") != "PROMO", F.col("rev")).otherwise(0))
        .cast("bigint")
        .alias("control"),
    )
    big = "decimal(38,0)"
    w = split_.agg(
        F.expr(
            f"CAST(SUM(CASE WHEN ym < {1997 * 12} THEN treated ELSE 0 END)"
            f" AS {big}) * 1000000000"
            f" div SUM(CASE WHEN ym < {1997 * 12} THEN control ELSE 0 END)"
        ).alias("w_ppb")
    )
    return (
        split_.crossJoin(F.broadcast(w))
        .filter(F.col("ym") >= 1997 * 12)
        .select(
            "ym",
            F.col("treated").alias("actual_cents"),
            F.expr(
                f"CAST(CAST(control AS {big}) * w_ppb div 1000000000"
                " AS BIGINT)"
            ).alias("synthetic_cents"),
            F.expr(
                f"CAST(treated - CAST(control AS {big}) * w_ppb"
                " div 1000000000 AS BIGINT)"
            ).alias("uplift_cents"),
        )
        .orderBy("ym")
    )


# ------------------------------------------------------------------
# 2. orders_revenue_cvar_shortfall — expected-shortfall risk read
# ------------------------------------------------------------------


@register(
    "orders_revenue_cvar_shortfall",
    """
    WITH days AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
               AS BIGINT) AS rev
      FROM orders GROUP BY 1),
    v AS (SELECT quantile_cont(CAST(rev AS DOUBLE), 0.05) AS var5
          FROM days),
    tail AS (
      SELECT rev FROM days CROSS JOIN v
      WHERE CAST(rev AS DOUBLE) <= var5),
    m AS (SELECT CAST(SUM(rev) AS BIGINT) AS s_all,
                 CAST(COUNT(*) AS BIGINT) AS n_all FROM days)
    SELECT (SELECT var5 FROM v) AS var5_cents,
           CAST(COUNT(*) AS BIGINT) AS n_tail_days,
           CAST(SUM(rev) // COUNT(*) AS BIGINT) AS cvar_cents,
           CAST((SELECT s_all // n_all FROM m)
                - SUM(rev) // COUNT(*) AS BIGINT)
             AS shortfall_vs_mean_cents
    FROM tail
    """,
)
def orders_revenue_cvar_shortfall(spark: SparkSession, sf_dir: str):
    """Conditional value-at-risk (expected shortfall) of daily revenue:
    the mean of the worst 5% of days — the coherent tail-risk number
    VaR alone hides (two books can share a VaR while one's tail is
    catastrophically heavier; CVaR separates them, and
    events_peak_over_threshold_tail's Hill α says how fast that tail
    decays). Day-grain series; the 5% threshold is one pinned-parity
    quantile, the tail mean is exact integer division, and the
    shortfall-vs-mean gap is the capacity-planning readout. Bounded
    calendar grain throughout."""
    o = t(spark, sf_dir, "orders")
    days = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum((dec("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    v = days.agg(F.percentile(dbl(F.col("rev")), 0.05).alias("var5"))
    m = days.agg(
        F.sum("rev").cast("bigint").alias("s_all"),
        F.count("*").cast("bigint").alias("n_all"),
    )
    tail = days.crossJoin(F.broadcast(v)).filter(
        dbl(F.col("rev")) <= F.col("var5")
    )
    return (
        tail.crossJoin(F.broadcast(m))
        .agg(
            F.max("var5").alias("var5_cents"),
            F.count("*").cast("bigint").alias("n_tail_days"),
            F.expr("CAST(SUM(rev) div COUNT(*) AS BIGINT)").alias(
                "cvar_cents"
            ),
            F.expr(
                "CAST(MAX(s_all) div MAX(n_all)"
                " - SUM(rev) div COUNT(*) AS BIGINT)"
            ).alias("shortfall_vs_mean_cents"),
        )
    )


# ------------------------------------------------------------------
# 3. docs_dp_count_release — deterministic Laplace-mechanism audit
# ------------------------------------------------------------------

_DP_EPS_INV = 1.0  # b = sensitivity/epsilon = 1/1 for counting queries


@register(
    "docs_dp_count_release",
    f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM documents GROUP BY source),
    seeded AS (
      SELECT source, true_count,
             (CAST(('0x' || substr(md5(source || '#dp'), 1, 12)) AS BIGINT)
              % 1000000 + 0.5) / 1000000.0 AS u
      FROM counts),
    noised AS (
      SELECT source, true_count,
             CASE WHEN u < 0.5
                  THEN {_DP_EPS_INV} * ln(2.0 * u)
                  ELSE -{_DP_EPS_INV} * ln(2.0 * (1.0 - u)) END AS noise
      FROM seeded)
    SELECT source, true_count,
           GREATEST(true_count + CAST(round(noise) AS BIGINT), 0)
             AS released_count,
           ABS(GREATEST(true_count + CAST(round(noise) AS BIGINT), 0)
               - true_count) AS abs_error
    FROM noised ORDER BY source
    """,
)
def docs_dp_count_release(spark: SparkSession, sf_dir: str):
    """Differentially-private count release (Laplace mechanism, ε=1,
    sensitivity 1) with its calibration audit — the privacy tier's
    numeric-release member next to customer_kanon_generalize /
    docs_kanon_shingle_suppression (which suppress; DP perturbs): each
    per-source count gets Laplace noise via the inverse-CDF transform
    of a DETERMINISTIC md5-seeded uniform — the PRNG-free analogue of
    seeded DP noise, so both engines release identical counts and the
    audit can show true vs released side by side (a production release
    would drop the true column; the mechanism and scale are the real
    thing). Scan-local hashing, source-grain aggregate, ln on identical
    doubles."""
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("true_count")
    )
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("source"), F.lit("#dp"))), 1, 12
                ),
                16,
                10,
            ).cast("bigint")
            % 1000000
        ).cast("double")
        + 0.5
    ) / 1000000.0
    noise = F.when(
        u < 0.5, _DP_EPS_INV * F.log(2.0 * u)
    ).otherwise(-_DP_EPS_INV * F.log(2.0 * (1.0 - u)))
    released = F.greatest(
        F.col("true_count") + F.round(noise).cast("bigint"), F.lit(0)
    )
    return counts.select(
        "source",
        "true_count",
        released.alias("released_count"),
        F.abs(released - F.col("true_count")).alias("abs_error"),
    ).orderBy("source")


# ------------------------------------------------------------------
# 4. orders_holtwinters_additive_fold — distributed seasonal smoothing
# ------------------------------------------------------------------

# State vector (17 bigints, milli units): [0]=month index i,
# [1]=level, [2]=trend, [3]=seen flag, [4..16) = 12 seasonal terms.
# alpha=1/5, beta=1/10, gamma=1/5, all truncating integer smoothing.


def _hw_fold_spark() -> str:
    lvl = "acc[1] + acc[2] + ((x * 1000 - acc[4 + CAST(acc[0] % 12 AS INT)]) - (acc[1] + acc[2])) div 5"
    return (
        "aggregate(ms, "
        "array_append(array(CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
        " CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
        " CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
        " CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
        " CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
        " CAST(0 AS BIGINT)), CAST(0 AS BIGINT)), "
        "(acc, x) -> CASE WHEN acc[3] = 0 THEN "
        # first month: level = x, trend 0, seasonals 0
        " concat(array(CAST(1 AS BIGINT), x * 1000, CAST(0 AS BIGINT),"
        "  CAST(1 AS BIGINT)), slice(acc, 5, 12)) "
        "ELSE concat(array("
        "  acc[0] + 1, "
        f"  {lvl}, "
        f"  acc[2] + (({lvl}) - acc[1] - acc[2]) div 10, "
        "  CAST(1 AS BIGINT)), "
        "  transform(sequence(0, 11), j -> IF(j = CAST(acc[0] % 12 AS INT),"
        f"   acc[4 + j] + ((x * 1000 - ({lvl})) - acc[4 + j]) div 5,"
        "   acc[4 + j]))) END)"
    )


def _hw_fold_duck() -> str:
    # duckdb lists are 1-based; state [1]=i, [2]=level, [3]=trend,
    # [4]=seen, [5..16] seasonals; elements wrap as [x] via the
    # zero-state-prepend convention (no list_reduce init parameter)
    lvl = (
        "acc[2] + acc[3] + ((e[1] * 1000 - acc[5 + CAST(acc[1] % 12 AS"
        " INT)]) - (acc[2] + acc[3])) // 5"
    )
    return (
        "list_reduce(list_prepend("
        "[CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],"
        " list_transform(ms, x -> [x, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,"
        " 0, 0, 0])), "
        "(acc, e) -> CASE WHEN acc[4] = 0 THEN "
        " list_concat([CAST(1 AS BIGINT), e[1] * 1000, CAST(0 AS BIGINT),"
        "  CAST(1 AS BIGINT)], acc[5:16]) "
        "ELSE list_concat([acc[1] + 1, "
        f" {lvl}, "
        f" acc[3] + (({lvl}) - acc[2] - acc[3]) // 10, "
        " CAST(1 AS BIGINT)], "
        " list_transform(range(0, 12), j -> CASE WHEN j = CAST(acc[1] % 12"
        f" AS INT) THEN acc[5 + j] + ((e[1] * 1000 - ({lvl})) - acc[5 + j])"
        " // 5 ELSE acc[5 + j] END)) END)"
    )


@register(
    "orders_holtwinters_additive_fold",
    f"""
    WITH m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1),
    series AS (
      SELECT list(rev ORDER BY ym) AS ms, CAST(COUNT(*) AS BIGINT) AS nm
      FROM m),
    folded AS (SELECT nm, {_hw_fold_duck()} AS st FROM series)
    SELECT nm AS n_months,
           CAST(st[2] AS BIGINT) AS level_milli,
           CAST(st[3] AS BIGINT) AS trend_milli,
           CAST(st[2] + 1 * st[3]
                + st[5 + CAST(st[1] % 12 AS INT)] AS BIGINT)
             AS forecast_h1_milli,
           CAST(st[2] + 2 * st[3]
                + st[5 + CAST((st[1] + 1) % 12 AS INT)] AS BIGINT)
             AS forecast_h2_milli,
           CAST(st[2] + 3 * st[3]
                + st[5 + CAST((st[1] + 2) % 12 AS INT)] AS BIGINT)
             AS forecast_h3_milli
    FROM folded
    """,
)
def orders_holtwinters_additive_fold(spark: SparkSession, sf_dir: str):
    """Holt-Winters additive (level + trend + 12-month seasonality)
    smoothing of monthly revenue, run as the THIRD distributed-recursion
    showcase: the full 16-slot state vector (index, level, trend, seen,
    12 seasonal terms) folds through the triple exponential recurrence
    inside one array-HOF aggregate — where orders_holt_recursive_forecast
    pays a driver-side recurrence, this runs entirely in the engines,
    and the same fold applied per-key would forecast every product line
    at once (the Croston op's scale story, now with seasonal state).
    Truncating integer smoothing (α=1/5, β=1/10, γ=1/5, milli units);
    the in-place seasonal-slot update is a transform-with-index inside
    the fold lambda — nested HOF lambdas, exercised deliberately. Both
    engines fold LEFT over the identically-ordered month list; DuckDB
    seeds by zero-state prepend, Spark seeds aggregate() explicitly.
    Output: final state + 3-step-ahead forecasts, all exact integers."""
    o = t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias(
            "ym"
        )
    ).agg(
        F.sum((dec("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    series = m.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ym, rev))),"
            " s -> s.rev)"
        ).alias("ms"),
        F.count("*").cast("bigint").alias("nm"),
    )
    folded = series.select(
        "nm", F.expr(_hw_fold_spark()).alias("st")
    )
    # spark arrays are 0-based: st[0]=i, st[1]=level, st[2]=trend,
    # st[4..16) seasonals
    return folded.select(
        F.col("nm").alias("n_months"),
        F.expr("CAST(st[1] AS BIGINT)").alias("level_milli"),
        F.expr("CAST(st[2] AS BIGINT)").alias("trend_milli"),
        F.expr(
            "CAST(st[1] + 1 * st[2]"
            " + st[4 + CAST(st[0] % 12 AS INT)] AS BIGINT)"
        ).alias("forecast_h1_milli"),
        F.expr(
            "CAST(st[1] + 2 * st[2]"
            " + st[4 + CAST((st[0] + 1) % 12 AS INT)] AS BIGINT)"
        ).alias("forecast_h2_milli"),
        F.expr(
            "CAST(st[1] + 3 * st[2]"
            " + st[4 + CAST((st[0] + 2) % 12 AS INT)] AS BIGINT)"
        ).alias("forecast_h3_milli"),
    )


# ------------------------------------------------------------------
# 5. part_cross_price_elasticity — substitute-pair demand coupling
# ------------------------------------------------------------------


@register(
    "part_cross_price_elasticity",
    """
    WITH cell AS (
      SELECT p.p_type, p.p_size,
             year(l_shipdate) * 12 + month(l_shipdate) - 1 AS ym,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                           AS BIGINT)) AS BIGINT) AS ext
      FROM lineitem JOIN part p ON p.p_partkey = l_partkey
      GROUP BY 1, 2, 3),
    pairs AS (
      SELECT a.p_type, a.p_size,
             CAST(round(1e6 * ln(CAST(a.qty AS DOUBLE))) AS BIGINT)
               AS lq_micro,
             CAST(round(1e6 * ln(CAST(b.ext * 1000 // b.qty AS DOUBLE)))
               AS BIGINT) AS lp_micro
      FROM cell a JOIN cell b
        ON a.p_type = b.p_type AND b.p_size = a.p_size + 1
           AND a.ym = b.ym),
    m AS (
      SELECT p_type, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(lp_micro::HUGEINT) AS sx, SUM(lq_micro::HUGEINT) AS sy,
             SUM(lp_micro::HUGEINT * lp_micro) AS sxx,
             SUM(lp_micro::HUGEINT * lq_micro) AS sxy
      FROM pairs GROUP BY p_type),
    red AS (
      SELECT p_type, CAST(n AS BIGINT) AS n_obs,
             CAST((n * sxy - sx * sy) // 1000000 AS BIGINT) AS covr,
             CAST((n * sxx - sx * sx) // 1000000 AS BIGINT) AS varr
      FROM m)
    SELECT p_type, n_obs,
           CAST(covr AS DOUBLE) / varr AS cross_elasticity
    FROM red ORDER BY p_type
    """,
)
def part_cross_price_elasticity(spark: SparkSession, sf_dir: str):
    """Cross-price elasticity between adjacent-size substitutes: does
    demand for size-s parts move with the NEIGHBORING size's price
    (positive → substitutes, negative → complements)? The OWN-price
    sibling is part_price_elasticity_loglog; this is the number behind
    part_substitute_candidates' co-purchase heuristic, estimated
    economically. (type, size, month)-grain cells from one fact
    aggregate, a self-join on (type, size+1, same month) — both sides
    dimension-bounded — then exact log-log OLS moments per type with
    the house micro-quantization."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    cell = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(
            "p_type",
            "p_size",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias(
                "ym"
            ),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("qty"),
            F.sum((dec("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("ext"),
        )
    )
    a = cell.select(
        "p_type",
        "p_size",
        "ym",
        F.round(1e6 * F.log(F.col("qty").cast("double")))
        .cast("bigint")
        .alias("lq_micro"),
    )
    b = cell.select(
        F.col("p_type").alias("bt"),
        F.col("p_size").alias("bs"),
        F.col("ym").alias("bym"),
        F.round(
            1e6 * F.log(F.expr("CAST(ext * 1000 div qty AS DOUBLE)"))
        )
        .cast("bigint")
        .alias("lp_micro"),
    )
    pairs = a.join(
        b,
        (F.col("p_type") == F.col("bt"))
        & (F.col("bs") == F.col("p_size") + 1)
        & (F.col("ym") == F.col("bym")),
    )
    big = "decimal(38,0)"
    m = pairs.groupBy("p_type").agg(
        F.count("*").cast(big).alias("n"),
        F.sum(F.col("lp_micro").cast(big)).alias("sx"),
        F.sum(F.col("lq_micro").cast(big)).alias("sy"),
        F.sum((F.col("lp_micro").cast(big) * F.col("lp_micro")).cast(big)).alias(
            "sxx"
        ),
        F.sum((F.col("lp_micro").cast(big) * F.col("lq_micro")).cast(big)).alias(
            "sxy"
        ),
    )
    red = m.select(
        "p_type",
        F.col("n").cast("bigint").alias("n_obs"),
        F.expr("CAST((n * sxy - sx * sy) div 1000000 AS BIGINT)").alias(
            "covr"
        ),
        F.expr("CAST((n * sxx - sx * sx) div 1000000 AS BIGINT)").alias(
            "varr"
        ),
    )
    return red.select(
        "p_type",
        "n_obs",
        (F.col("covr").cast("double") / F.col("varr")).alias(
            "cross_elasticity"
        ),
    ).orderBy("p_type")


# ------------------------------------------------------------------
# 6. docs_retrieval_ndcg_eval — ranking-quality metric
# ------------------------------------------------------------------

_NDCG_TERMS = ("spark", "table", "fast")  # same query as the QL op
_NDCG_K = 10


@register(
    "docs_retrieval_ndcg_eval",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents),
    rel AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS relevance
      FROM toks WHERE tok IN ('{_NDCG_TERMS[0]}', '{_NDCG_TERMS[1]}',
                              '{_NDCG_TERMS[2]}')
      GROUP BY doc_id),
    dlen AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
             FROM toks GROUP BY doc_id),
    ctot AS (SELECT CAST(COUNT(*) AS BIGINT) AS ct FROM toks),
    qterms AS (SELECT unnest(['{_NDCG_TERMS[0]}', '{_NDCG_TERMS[1]}',
                              '{_NDCG_TERMS[2]}']) AS term),
    cf AS (
      SELECT term,
             CAST(COUNT(tok) AS BIGINT) * 1000000000
               // (SELECT ct FROM ctot) AS p_ppb
      FROM qterms LEFT JOIN toks ON tok = term GROUP BY term),
    tf AS (
      SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS f
      FROM toks WHERE tok IN ('{_NDCG_TERMS[0]}', '{_NDCG_TERMS[1]}',
                              '{_NDCG_TERMS[2]}')
      GROUP BY doc_id, tok),
    scored AS (
      SELECT dlen.doc_id,
             CAST(SUM(round(1e6 * ln(
               (COALESCE(tf.f, 0) + 2000 * (cf.p_ppb / 1e9))
               / (dlen.dl + 2000)))) AS BIGINT) AS ql
      FROM dlen CROSS JOIN cf
      LEFT JOIN tf ON tf.doc_id = dlen.doc_id AND tf.term = cf.term
      GROUP BY dlen.doc_id),
    sys_rank AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ql DESC, doc_id) AS r
      FROM scored QUALIFY r <= {_NDCG_K}),
    dcg AS (
      SELECT CAST(SUM(round(1e6 * COALESCE(rel.relevance, 0)
               / (ln(sys_rank.r + 1) / ln(2)))) AS BIGINT) AS dcg_micro
      FROM sys_rank LEFT JOIN rel USING (doc_id)),
    ideal_rank AS (
      SELECT relevance,
             ROW_NUMBER() OVER (ORDER BY relevance DESC, doc_id) AS r
      FROM rel QUALIFY r <= {_NDCG_K}),
    idcg AS (
      SELECT CAST(SUM(round(1e6 * relevance / (ln(r + 1) / ln(2))))
               AS BIGINT) AS idcg_micro
      FROM ideal_rank)
    SELECT (SELECT dcg_micro FROM dcg) AS dcg_micro,
           (SELECT idcg_micro FROM idcg) AS idcg_micro,
           (SELECT dcg_micro FROM dcg) * 1000000
             // GREATEST((SELECT idcg_micro FROM idcg), 1) AS ndcg_ppm
    """,
)
def docs_retrieval_ndcg_eval(spark: SparkSession, sf_dir: str):
    """nDCG@10 of the query-likelihood ranking against a graded
    term-frequency relevance standard — the evaluation metric that
    turns the retrieval tier (BM25, QL, RRF) into a measured system:
    DCG discounts each ranked document's relevance by log₂(rank+1),
    IDCG is the same sum over the relevance-sorted ideal, and their
    ratio in exact ppm is the number a search-quality dashboard
    tracks. The system ranking recomputes the QL scores (same bounded
    3-term query), both top-10 windows are map-side group-limit pruned
    (orderBy+limit k=10 — TakeOrderedAndProject's map-side partial
    top-k; the rank window then covers only the k survivors, since
    global row_number+filter does NOT group-limit-prune on Spark 4.1),
    and the per-position terms micro-quantize before summation."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("tok"),
    )
    rel = (
        toks.filter(F.col("tok").isin(*_NDCG_TERMS))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("relevance"))
    )
    dlen = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("dl")
    )
    ctot = toks.agg(F.count("*").cast("bigint").alias("ct"))
    qterms = spark.createDataFrame(
        [(x,) for x in _NDCG_TERMS], "term string"
    )
    cf = (
        qterms.join(toks, qterms.term == toks.tok, "left")
        .groupBy("term")
        .agg(F.count("tok").cast("bigint").alias("tc"))
        .crossJoin(F.broadcast(ctot))
        .select("term", F.expr("tc * 1000000000 div ct").alias("p_ppb"))
    )
    tf = (
        toks.filter(F.col("tok").isin(*_NDCG_TERMS))
        .groupBy("doc_id", F.col("tok").alias("term"))
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    scored = (
        dlen.crossJoin(F.broadcast(cf))
        .join(tf, ["doc_id", "term"], "left")
        .select(
            "doc_id",
            F.round(
                1e6
                * F.log(
                    (
                        F.coalesce(F.col("f"), F.lit(0))
                        + 2000 * (F.col("p_ppb") / 1e9)
                    )
                    / (F.col("dl") + 2000)
                )
            )
            .cast("bigint")
            .alias("term_micro"),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_micro").cast("bigint").alias("ql"))
    )
    # top-k via orderBy+limit (TakeOrderedAndProject: map-side partial
    # top-k, no global sort); the rank window then runs over <= k rows.
    # A global row_number+filter does NOT prune on Spark 4.1 —
    # InferWindowGroupLimit fires only for PARTITIONED windows
    # (verified empirically; the bm25 claim holds because its windows
    # are term-partitioned).
    w_sys = Window.orderBy(F.col("ql").desc(), "doc_id")
    sys_rank = (
        scored.orderBy(F.col("ql").desc(), "doc_id")
        .limit(_NDCG_K)
        .withColumn("r", F.row_number().over(w_sys))
    )
    log2 = lambda c: F.log(c) / F.log(F.lit(2.0))
    dcg = sys_rank.join(rel, "doc_id", "left").agg(
        F.sum(
            F.round(
                1e6
                * F.coalesce(F.col("relevance"), F.lit(0))
                / log2(F.col("r") + 1)
            )
        )
        .cast("bigint")
        .alias("dcg_micro")
    )
    w_ideal = Window.orderBy(F.col("relevance").desc(), "doc_id")
    ideal = (
        rel.orderBy(F.col("relevance").desc(), "doc_id")
        .limit(_NDCG_K)
        .withColumn("r", F.row_number().over(w_ideal))
    )
    idcg = ideal.agg(
        F.sum(
            F.round(1e6 * F.col("relevance") / log2(F.col("r") + 1))
        )
        .cast("bigint")
        .alias("idcg_micro")
    )
    return dcg.crossJoin(F.broadcast(idcg)).select(
        "dcg_micro",
        "idcg_micro",
        F.expr(
            "dcg_micro * 1000000 div GREATEST(idcg_micro, 1)"
        ).alias("ndcg_ppm"),
    )
