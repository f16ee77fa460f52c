"""Warehouse-maintenance and market-analytics operators: SCD type-2
history compaction (gaps-and-islands run-length collapse) and
association-rule mining with the apriori frequent-item prefilter.

Both are fully SQL-expressible and oracle-checked; both carry the
scale levers a 100 TB run needs (windows keyed on the natural
partition key; the pair explosion gated by a support prefilter so
the quadratic stage only sees frequent items).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_lens_spark.queries import query
from etl_lens_spark.sources.tables import load_table
from etl_lens_spark.operators.staging import freeze, stage


@query(
    "scd2_history",
    oracle="""
    WITH day1 AS (
      SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS dt,
             MIN(o_orderpriority) AS attr
      FROM orders GROUP BY 1, 2
    ),
    marked AS (
      SELECT custkey, dt, attr,
             CASE WHEN attr = LAG(attr) OVER w THEN 0 ELSE 1 END AS chg
      FROM day1 WINDOW w AS (PARTITION BY custkey ORDER BY dt)
    ),
    runs AS (
      SELECT custkey, dt, attr,
             SUM(chg) OVER (PARTITION BY custkey ORDER BY dt
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked
    ),
    hist AS (
      SELECT custkey, attr, CAST(run_id AS BIGINT) AS version,
             MIN(dt) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM runs GROUP BY custkey, attr, run_id
    )
    SELECT custkey, version, attr, valid_from,
           LEAD(valid_from) OVER (PARTITION BY custkey
                                  ORDER BY version) AS valid_to,
           CAST(CASE WHEN LEAD(valid_from) OVER (PARTITION BY custkey
                                                 ORDER BY version)
                          IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current,
           n_days
    FROM hist
    ORDER BY custkey, version
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 compaction: a customer's
    order-priority observations (one per order date, deterministic
    min per day) collapse into validity intervals — consecutive
    no-change days merge into one versioned row with
    [valid_from, valid_to) and an is_current flag.

    The run-length collapse is the standard gaps-and-islands window
    (change marker via lag, running sum = run id), then one groupBy.
    Plan shape (audited via explain): two scalar-only shuffles — the
    day-level reduce (map-side partials, so the wire carries one row
    per (custkey, day)), then one custkey exchange that EVERY
    subsequent window and the run aggregate reuse (Catalyst satisfies
    their clustered distributions from the custkey partitioning; no
    further exchange until the final presentation sort). The same
    shape an MPP warehouse uses for SCD2 refresh at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    day1 = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("date").alias("dt"),
    ).agg(F.min("o_orderpriority").alias("attr"))
    w = Window.partitionBy("custkey").orderBy("dt")
    marked = day1.withColumn(
        "chg",
        F.when(F.col("attr") == F.lag("attr").over(w), F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    runs = marked.withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    hist = runs.groupBy("custkey", "attr", "run_id").agg(
        F.min("dt").alias("valid_from"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    return (
        hist.select(
            "custkey",
            F.col("run_id").cast("long").alias("version"),
            "attr",
            "valid_from",
            "n_days",
        )
        .withColumn(
            "valid_to",
            F.lead("valid_from").over(
                Window.partitionBy("custkey").orderBy("version")
            ),
        )
        .withColumn(
            "is_current",
            F.when(F.col("valid_to").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .select(
            "custkey",
            "version",
            "attr",
            "valid_from",
            "valid_to",
            "is_current",
            "n_days",
        )
        .orderBy("custkey", "version")
    )


@query(
    "basket_association_rules",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n FROM baskets),
    freq AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS c_item
      FROM baskets GROUP BY item
      HAVING COUNT(*) >= 50
    ),
    fb AS (
      SELECT b.basket, b.item, f.c_item
      FROM baskets b JOIN freq f ON b.item = f.item
    ),
    pairs AS (
      SELECT a.item AS antecedent, b.item AS consequent,
             a.c_item AS c_ante, b.c_item AS c_cons,
             CAST(COUNT(*) AS BIGINT) AS c_pair
      FROM fb a JOIN fb b
        ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2, 3, 4
      HAVING COUNT(*) >= 20
    )
    SELECT antecedent, consequent, c_pair,
           CAST(c_pair AS DOUBLE) / nb.n AS support,
           CAST(c_pair AS DOUBLE) / c_ante AS confidence,
           (CAST(c_pair AS DOUBLE) / c_ante) / (CAST(c_cons AS DOUBLE) / nb.n)
             AS lift
    FROM pairs CROSS JOIN nb
    ORDER BY antecedent, consequent
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets (items = part brands):
    support / confidence / lift for co-purchased brand pairs.

    Scale shape is textbook apriori: the frequent-item prefilter
    (support >= threshold) runs BEFORE the quadratic within-basket
    pair join, so the explosion only sees items that can possibly
    form a frequent pair (downward-closure property). The pair join
    is keyed on basket id — each basket's pairs are generated where
    its items already live — and the basket count joins in as a
    broadcast scalar."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    baskets = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(
            F.col("l_orderkey").alias("basket"),
            F.col("p_brand").alias("item"),
        )
        .distinct()
    )
    nb = baskets.agg(
        F.countDistinct("basket").cast("long").alias("n")
    )
    freq = (
        baskets.groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("c_item"))
        .filter(F.col("c_item") >= 50)
    )
    fb = baskets.join(freq, "item").select("basket", "item", "c_item")
    a = fb.select(
        "basket",
        F.col("item").alias("antecedent"),
        F.col("c_item").alias("c_ante"),
    )
    b = fb.select(
        "basket",
        F.col("item").alias("consequent"),
        F.col("c_item").alias("c_cons"),
    )
    pairs = (
        a.join(b, "basket")
        .filter(F.col("antecedent") < F.col("consequent"))
        .groupBy("antecedent", "consequent", "c_ante", "c_cons")
        .agg(F.count(F.lit(1)).cast("long").alias("c_pair"))
        .filter(F.col("c_pair") >= 20)
    )
    return (
        pairs.crossJoin(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            "c_pair",
            (F.col("c_pair").cast("double") / F.col("n")).alias("support"),
            (F.col("c_pair").cast("double") / F.col("c_ante")).alias(
                "confidence"
            ),
            (
                (F.col("c_pair").cast("double") / F.col("c_ante"))
                / (F.col("c_cons").cast("double") / F.col("n"))
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


@query(
    "outliers_mad",
    oracle="""
    WITH med AS (
      SELECT o_orderpriority AS prio,
             CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE) AS med
      FROM orders GROUP BY 1
    ),
    dev AS (
      SELECT o.o_orderpriority AS prio, o.o_totalprice AS x, m.med,
             abs(o.o_totalprice - m.med) AS adev
      FROM orders o JOIN med m ON o.o_orderpriority = m.prio
    ),
    mad AS (
      SELECT prio, CAST(quantile_cont(adev, 0.5) AS DOUBLE) AS mad
      FROM dev GROUP BY prio
    )
    SELECT d.prio,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN d.adev > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN d.adev > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS outlier_rate,
           MIN(d.med) AS median_price,
           MIN(m.mad) AS mad_price
    FROM dev d JOIN mad m ON d.prio = m.prio
    GROUP BY d.prio
    ORDER BY d.prio
    """,
)
def outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: flag
    order prices beyond 3 scaled MADs (x1.4826 = consistency constant
    for normal data) of their priority-group median. MAD resists the
    masking that mean/stddev z-scores suffer when the outliers
    themselves inflate sigma.

    Two grouped exact-percentile passes joined back by group key
    (groups are low-cardinality so both medians broadcast). Exact
    percentile is the oracle anchor; at 100 TB the same shape runs on
    percentile_approx (mergeable t-digest sketch, one pass)."""
    orders = load_table(spark, sf_dir, "orders")
    med = orders.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("med")
    )
    dev = (
        orders.join(
            F.broadcast(med),
            orders["o_orderpriority"] == med["prio"],
        )
        .select(
            "prio",
            F.col("o_totalprice").alias("x"),
            "med",
            F.abs(F.col("o_totalprice") - F.col("med")).alias("adev"),
        )
    )
    mad = dev.groupBy("prio").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    thresh = F.lit(3 * 1.4826) * F.col("mad")
    flagged = dev.join(F.broadcast(mad), "prio").select(
        "prio",
        "med",
        "mad",
        F.when(F.col("adev") > thresh, F.lit(1)).otherwise(F.lit(0)).alias(
            "is_out"
        ),
    )
    return (
        flagged.groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("is_out").cast("long").alias("n_outliers"),
            (F.sum("is_out").cast("double") / F.count(F.lit(1))).alias(
                "outlier_rate"
            ),
            F.min("med").alias("median_price"),
            F.min("mad").alias("mad_price"),
        )
        .orderBy("prio")
    )


@query(
    "diag_key_skew",
    oracle="""
    WITH counts AS (
      SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ),
    stats AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM counts
    )
    SELECT c.key, c.cnt,
           CAST(c.cnt AS DOUBLE) / s.total AS share,
           CAST(s.total AS DOUBLE) / s.n_keys AS avg_cnt,
           CAST(s.max_cnt AS DOUBLE) / (CAST(s.total AS DOUBLE) / s.n_keys)
             AS skew_ratio
    FROM counts c CROSS JOIN stats s
    ORDER BY c.cnt DESC, c.key LIMIT 5
    """,
)
def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: per-key counts for a prospective
    join/shuffle key, the top hot keys with their share, and the
    global skew ratio (hottest key vs mean). This is the
    pre-flight check that decides between a plain shuffle join,
    AQE skew splitting, or explicit salting (operators/partitioning
    .salted_join) — run it BEFORE burning a 1000-executor shuffle.
    One groupBy with map-side combine; the stats row broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    stats = counts.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total")).alias("share"),
            (F.col("total").cast("double") / F.col("n_keys")).alias(
                "avg_cnt"
            ),
            (
                F.col("max_cnt").cast("double")
                / (F.col("total").cast("double") / F.col("n_keys"))
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(5)
    )


@query(
    "diag_join_cardinality",
    oracle="""
    WITH co AS (
      SELECT o_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt_o
      FROM orders GROUP BY 1
    ),
    cl AS (
      SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt_l
      FROM lineitem GROUP BY 1
    ),
    contrib AS (
      SELECT co.key, co.cnt_o, cl.cnt_l,
             co.cnt_o * cl.cnt_l AS out_rows
      FROM co JOIN cl ON co.key = cl.key
    ),
    tot AS (SELECT CAST(SUM(out_rows) AS BIGINT) AS total_out FROM contrib)
    SELECT c.key, c.cnt_o, c.cnt_l,
           CAST(c.out_rows AS BIGINT) AS out_rows,
           t.total_out
    FROM contrib c CROSS JOIN tot t
    ORDER BY c.out_rows DESC, c.key LIMIT 5
    """,
)
def diag_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-output cardinality pre-flight: the exact number of rows a
    key-equi join would emit, computed from the two sides' per-key
    count tables WITHOUT running the join (sum over keys of
    count_left x count_right), plus the top contributing keys. The
    count tables are each one map-side-combined groupBy — at 100 TB
    this costs two reduced shuffles instead of materializing a
    possibly-exploding join, and the top-contributor list tells you
    WHICH keys explode (the input operators/partitioning.salted_join
    needs). Companion to diag_key_skew."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    co = o.groupBy(F.col("o_orderkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt_o")
    )
    cl = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt_l")
    )
    contrib = co.join(cl, "key").select(
        "key",
        "cnt_o",
        "cnt_l",
        (F.col("cnt_o") * F.col("cnt_l")).alias("out_rows"),
    )
    tot = contrib.agg(F.sum("out_rows").cast("long").alias("total_out"))
    return (
        contrib.crossJoin(F.broadcast(tot))
        .select("key", "cnt_o", "cnt_l", "out_rows", "total_out")
        .orderBy(F.desc("out_rows"), "key")
        .limit(5)
    )


@query(
    "events_debounce",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      FROM events
    ),
    lagged AS (
      SELECT event_id, user_id, event_type, ts_us,
             LAG(ts_us) OVER (PARTITION BY user_id, event_type
                              ORDER BY ts_us, event_id) AS prev_us
      FROM ev
    )
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN prev_us IS NULL
                         OR ts_us - prev_us > 600000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM lagged
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)
def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce repeated events: suppress a (user, event_type)
    occurrence arriving within 10 minutes of the PREVIOUS occurrence
    (lag-based — the batch analog of the streaming stateful dedup's
    rate limiting). Emits per-(user, type) kept-vs-total counts.

    One window keyed on (user_id, event_type) and the final aggregate
    reuses the same partitioning — a single shuffle end-to-end.
    Timestamps compare in epoch microseconds per the registry's
    ns-precision discipline."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    lagged = ev.withColumn("prev_us", F.lag("ts_us").over(w))
    keep = F.when(
        F.col("prev_us").isNull()
        | (F.col("ts_us") - F.col("prev_us") > 600_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        lagged.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(keep).cast("long").alias("n_kept"),
        )
        .orderBy("user_id", "event_type")
    )


@query(
    "intervals_coalesce",
    oracle="""
    WITH iv AS (
      SELECT o_custkey AS custkey,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 30 AS e,
             o_orderkey AS k
      FROM orders
    ),
    marked AS (
      SELECT custkey, s, e, k,
             MAX(e) OVER (PARTITION BY custkey ORDER BY s, e, k
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM iv
    ),
    islands AS (
      SELECT custkey, s, e,
             SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY custkey ORDER BY s, e, k
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    ),
    merged AS (
      SELECT custkey, island, MIN(s) AS m_start, MAX(e) AS m_end
      FROM islands GROUP BY custkey, island
    )
    SELECT custkey,
           CAST(COUNT(*) AS BIGINT) AS n_merged,
           CAST(SUM(m_end - m_start) AS BIGINT) AS covered_days,
           MIN(m_start) AS first_start,
           MAX(m_end) AS last_end
    FROM merged GROUP BY custkey
    ORDER BY custkey
    """,
)
def intervals_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval coalescing (union of validity windows):
    each order opens a 30-day coverage interval; overlapping or
    touching-by-overlap intervals per customer merge into islands
    (subscription-coverage / uptime-union semantics). Output per
    customer: merged-interval count, total covered days, span.

    Gaps-and-islands with a running-max watermark: an interval starts
    a new island iff its start exceeds the max end of ALL previous
    intervals (the prev-max window), island id = running sum of that
    flag. Both windows and both aggregates ride ONE custkey-keyed
    shuffle — same single-exchange shape as scd2's window stack."""
    orders = load_table(spark, sf_dir, "orders")
    iv = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("e"),
        F.col("o_orderkey").alias("k"),
    )
    w_order = Window.partitionBy("custkey").orderBy("s", "e", "k")
    marked = iv.withColumn(
        "prev_max",
        F.max("e").over(
            w_order.rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    new_island = F.when(
        F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")),
        F.lit(1),
    ).otherwise(F.lit(0))
    islands = marked.withColumn(
        "island",
        F.sum(new_island).over(
            w_order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    merged = islands.groupBy("custkey", "island").agg(
        F.min("s").alias("m_start"), F.max("e").alias("m_end")
    )
    return (
        merged.groupBy("custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_merged"),
            F.sum(F.datediff("m_end", "m_start")).cast("long").alias(
                "covered_days"
            ),
            F.min("m_start").alias("first_start"),
            F.max("m_end").alias("last_end"),
        )
        .orderBy("custkey")
    )


@query(
    "agg_regression",
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(regr_count(l.l_extendedprice, l.l_quantity) AS BIGINT)
             AS n,
           regr_slope(l.l_extendedprice, l.l_quantity) AS slope,
           regr_intercept(l.l_extendedprice, l.l_quantity) AS intercept,
           regr_r2(l.l_extendedprice, l.l_quantity) AS r2,
           regr_avgx(l.l_extendedprice, l.l_quantity) AS avg_qty,
           regr_avgy(l.l_extendedprice, l.l_quantity) AS avg_price
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped least-squares regression via the SQL-standard regr_*
    aggregate family (slope/intercept/r2 of price vs quantity per
    brand) — closed-form from the co-moment sums, one algebraic
    aggregate with map-side partials: the distributed way to fit
    millions of tiny per-group models without any ML library."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        j.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.regr_count(y, x).cast("long").alias("n"),
            F.regr_slope(y, x).alias("slope"),
            F.regr_intercept(y, x).alias("intercept"),
            F.regr_r2(y, x).alias("r2"),
            F.regr_avgx(y, x).alias("avg_qty"),
            F.regr_avgy(y, x).alias("avg_price"),
        )
        .orderBy("brand")
    )


@query(
    "sample_weighted_exp",
    oracle="""
    WITH keyed AS (
      SELECT p_partkey, p_retailprice,
             ln((1.0 + ('0x' || substring(md5('wexp' || CAST(p_partkey AS VARCHAR)), 1, 8))::BIGINT)
                / 4294967297.0) / p_retailprice AS score
      FROM part
    )
    SELECT p_partkey, p_retailprice, score
    FROM keyed
    ORDER BY score DESC, p_partkey LIMIT 20
    """,
)
def sample_weighted_exp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    exp-sort): each item draws a deterministic pseudo-uniform from an
    md5 bucket of its key and ranks by ln(u)/weight — the top-k under
    that order IS a weighted sample without replacement. No RNG state,
    no sequential pass: fully parallel, reproducible across runs and
    engines, and the top-k is a WindowGroupLimit-style bounded sort,
    not a global shuffle of all candidates."""
    p = load_table(spark, sf_dir, "part")
    u = (
        F.lit(1.0)
        + F.conv(
            F.substring(
                F.md5(F.concat(F.lit("wexp"), F.col("p_partkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
    ) / F.lit(4294967297.0)
    return (
        p.select(
            "p_partkey",
            "p_retailprice",
            (F.log(u) / F.col("p_retailprice")).alias("score"),
        )
        .orderBy(F.desc("score"), "p_partkey")
        .limit(20)
    )


@query(
    "scd2_point_in_time_join",
    oracle="""
    WITH day1 AS (
      SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS dt,
             MIN(o_orderpriority) AS attr
      FROM orders GROUP BY 1, 2
    ),
    marked AS (
      SELECT custkey, dt, attr,
             CASE WHEN attr = LAG(attr) OVER w THEN 0 ELSE 1 END AS chg
      FROM day1 WINDOW w AS (PARTITION BY custkey ORDER BY dt)
    ),
    runs AS (
      SELECT custkey, dt, attr,
             SUM(chg) OVER (PARTITION BY custkey ORDER BY dt
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked
    ),
    hist AS (
      SELECT custkey, attr, CAST(run_id AS BIGINT) AS version,
             MIN(dt) AS valid_from
      FROM runs GROUP BY custkey, attr, run_id
    ),
    iv AS (
      SELECT custkey, version, attr, valid_from,
             LEAD(valid_from) OVER (PARTITION BY custkey
                                    ORDER BY version) AS valid_to
      FROM hist
    ),
    facts AS (
      SELECT event_id, user_id AS custkey,
             DATE '1995-01-01'
               + CAST(event_id % 2400 AS INTEGER) AS probe_day
      FROM events
    )
    SELECT f.event_id, f.custkey, f.probe_day,
           iv.attr AS attr_at, iv.version
    FROM facts f LEFT JOIN iv
      ON iv.custkey = f.custkey
     AND f.probe_day >= iv.valid_from
     AND (iv.valid_to IS NULL OR f.probe_day < iv.valid_to)
    ORDER BY f.event_id
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each event probes the SCD2 priority history
    of its customer at a deterministic day in the order-date range
    (events postdate every order in the fixture, so the probe day is
    derived from event_id — it lands before, inside, and between
    validity intervals, exercising the NULL pre-history case too).

    NOT implemented as the interval join the oracle runs: because an
    SCD2 history is CONTIGUOUS per key, "version valid at t" is
    exactly an as-of backward fill — so dimension version-starts and
    facts union into one frame and a single `last_value(ignoreNulls)`
    window per key resolves every probe. ONE shuffle on the key,
    no join, no interval predicate: the shape that survives a
    billion-fact day, where a non-equi interval join would
    nested-loop inside each key. Version starts sort before same-day
    facts (is_dim desc) — a version beginning on the probe day wins,
    matching the oracle's inclusive valid_from.
    """
    orders = load_table(spark, sf_dir, "orders")
    day1 = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("date").alias("dt"),
    ).agg(F.min("o_orderpriority").alias("attr"))
    w = Window.partitionBy("custkey").orderBy("dt")
    runs = day1.withColumn(
        "chg",
        F.when(F.col("attr") == F.lag("attr").over(w), F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "version",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    hist = runs.groupBy("custkey", "attr", "version").agg(
        F.min("dt").alias("valid_from")
    )
    dims = hist.select(
        "custkey",
        F.col("valid_from").alias("d"),
        F.lit(1).alias("is_dim"),
        F.lit(None).cast("long").alias("event_id"),
        "attr",
        F.col("version").cast("long").alias("version"),
    )
    events = load_table(spark, sf_dir, "events")
    facts = events.select(
        F.col("user_id").alias("custkey"),
        F.date_add(
            F.lit("1995-01-01").cast("date"),
            (F.col("event_id") % 2400).cast("int"),
        ).alias("d"),
        F.lit(0).alias("is_dim"),
        "event_id",
        F.lit(None).cast("string").alias("attr"),
        F.lit(None).cast("long").alias("version"),
    )
    wf = (
        Window.partitionBy("custkey")
        .orderBy(F.col("d").asc(), F.col("is_dim").desc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    resolved = dims.unionByName(facts).select(
        "custkey",
        "d",
        "is_dim",
        "event_id",
        F.last("attr", ignorenulls=True).over(wf).alias("attr_at"),
        F.last("version", ignorenulls=True).over(wf).alias("version"),
    )
    return (
        resolved.filter(F.col("is_dim") == 0)
        .select(
            "event_id",
            "custkey",
            F.col("d").alias("probe_day"),
            "attr_at",
            "version",
        )
        .orderBy("event_id")
    )


@query(
    "customer_rfm_segments",
    oracle="""
    WITH base AS (
        SELECT o_custkey AS custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_d,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS monetary_c
        FROM orders GROUP BY o_custkey
    ),
    anchor AS (SELECT MAX(last_d) AS d0 FROM base),
    scored AS (
        SELECT custkey,
               (SELECT d0 FROM anchor) - last_d AS recency_days,
               freq, monetary_c,
               NTILE(5) OVER (ORDER BY (SELECT d0 FROM anchor) - last_d,
                              custkey) AS r,
               NTILE(5) OVER (ORDER BY freq DESC, custkey) AS f,
               NTILE(5) OVER (ORDER BY monetary_c DESC, custkey) AS m
        FROM base
    )
    SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_c) AS BIGINT) AS segment_value_c
    FROM scored GROUP BY r, f, m ORDER BY r, f, m
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the warehouse-classic customer scoring:
    recency (days since last order, vs the corpus max date), frequency
    (order count) and monetary (lifetime cents) each quintiled (NTILE
    with key tie-breaks so bucket edges are deterministic in both
    engines), reported as segment cells with counts and value. The
    per-customer reduce is one map-side-combined groupBy; the three
    quintile windows run over the REDUCED customer table (1 row per
    customer). At 100 TB the exact NTILEs swap for approx_percentile
    cutpoints — same cells, sketch-bounded edges."""
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("long")
        .alias("monetary_c"),
    )
    # the per-customer rollup feeds the anchor scan AND the scoring
    # pass(es) — stage the O(customers) reduce once instead of
    # re-aggregating orders per consumer
    base = stage(base, "rfm_customer_rollup")
    anchor = base.agg(F.max("last_d").alias("d0"))
    b = base.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days", F.datediff("d0", "last_d")
    )
    scored = b.select(
        "custkey",
        "recency_days",
        "freq",
        "monetary_c",
        F.ntile(5)
        .over(Window.orderBy("recency_days", "custkey"))
        .cast("long")
        .alias("r"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("freq"), F.asc("custkey")))
        .cast("long")
        .alias("f"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_c"), F.asc("custkey")))
        .cast("long")
        .alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_c").cast("long").alias("segment_value_c"),
        )
        .orderBy("r", "f", "m")
    )


@query(
    "customer_rfm_segments_approx",
    headline=True,
    oracle="""
    WITH base AS (
        SELECT o_custkey AS custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_d,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS monetary_c
        FROM orders GROUP BY o_custkey
    ),
    anchor AS (SELECT MAX(last_d) AS d0 FROM base),
    b AS (
        SELECT custkey,
               CAST((SELECT d0 FROM anchor) - last_d AS INTEGER)
                 AS recency_days,
               freq, monetary_c
        FROM base
    ),
    cuts AS (
        SELECT
          [quantile_disc(recency_days, 0.2), quantile_disc(recency_days, 0.4),
           quantile_disc(recency_days, 0.6), quantile_disc(recency_days, 0.8)]
            AS cr,
          [quantile_disc(freq, 0.8), quantile_disc(freq, 0.6),
           quantile_disc(freq, 0.4), quantile_disc(freq, 0.2)] AS cf,
          [quantile_disc(monetary_c, 0.8), quantile_disc(monetary_c, 0.6),
           quantile_disc(monetary_c, 0.4), quantile_disc(monetary_c, 0.2)]
            AS cm
        FROM b
    ),
    scored AS (
        SELECT custkey, monetary_c,
               1 + len(list_filter((SELECT cr FROM cuts),
                                   c -> recency_days > c)) AS r,
               1 + len(list_filter((SELECT cf FROM cuts),
                                   c -> freq < c)) AS f,
               1 + len(list_filter((SELECT cm FROM cuts),
                                   c -> monetary_c < c)) AS m
        FROM b
    )
    SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_c) AS BIGINT) AS segment_value_c
    FROM scored GROUP BY r, f, m ORDER BY r, f, m
    """,
)
def customer_rfm_segments_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ``customer_rfm_segments``: all three NTILE
    windows replaced by ONE mergeable-sketch aggregate. A single
    ``approx_percentile`` pass over the reduced customer table emits
    quintile cutpoints for recency, frequency and monetary together
    (three GK sketches riding one partial-aggregate shuffle of sketch
    state); the 12 cutpoints broadcast as one row and every customer
    range-bins itself locally — recency ascending (value ≤ q20 →
    bucket 1 = most recent), frequency/monetary descending (value ≥
    q80 → bucket 1 = best; cutpoint lists are emitted high-to-low so
    bucket index = 1 + #cuts strictly above the value). No window
    executes anywhere in the plan — at 100 TB the three global
    single-reducer sorts of the exact anchor become a sketch
    aggregate plus a map-side bin, with an ε·N rank bound on bucket
    edges once accuracy drops below N. Accuracy is pinned above the
    fixture customer count so cutpoints here are EXACT and match
    DuckDB ``quantile_disc`` bit-for-bit; ties land in the better
    bucket (all equal values share a bucket), which is the contract
    sketch binning guarantees at scale — cells differ from the NTILE
    anchor only where NTILE splits ties across edges."""
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("long")
        .alias("monetary_c"),
    )
    # the per-customer rollup feeds the anchor scan AND the scoring
    # pass(es) — stage the O(customers) reduce once instead of
    # re-aggregating orders per consumer
    base = stage(base, "rfm_customer_rollup")
    anchor = base.agg(F.max("last_d").alias("d0"))
    b = base.crossJoin(F.broadcast(anchor)).select(
        "custkey",
        F.datediff("d0", "last_d").alias("recency_days"),
        "freq",
        "monetary_c",
    )
    from etl_lens_spark.config import sketch_accuracy

    acc = sketch_accuracy(spark)
    cuts = b.agg(
        F.expr(
            "approx_percentile(recency_days, array(0.2,0.4,0.6,0.8), "
            f"{acc})"
        ).alias("cr"),
        F.expr(
            f"approx_percentile(freq, array(0.8,0.6,0.4,0.2), {acc})"
        ).alias("cf"),
        F.expr(
            f"approx_percentile(monetary_c, array(0.8,0.6,0.4,0.2), {acc})"
        ).alias("cm"),
    )
    # static unroll of the 3x4 cutpoint comparisons (array HOFs run
    # interpreted per row; the unrolled sums stay in codegen)
    def _bucket(value_col, cuts_col, desc):
        e = F.lit(1)
        for i in range(4):
            cond = (
                F.col(value_col) < F.col(cuts_col).getItem(i)
                if desc
                else F.col(value_col) > F.col(cuts_col).getItem(i)
            )
            e = e + F.when(cond, 1).otherwise(0)
        return e.cast("long")

    scored = b.crossJoin(F.broadcast(cuts)).select(
        "monetary_c",
        _bucket("recency_days", "cr", desc=False).alias("r"),
        _bucket("freq", "cf", desc=True).alias("f"),
        _bucket("monetary_c", "cm", desc=True).alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_c").cast("long").alias("segment_value_c"),
        )
        .orderBy("r", "f", "m")
    )


@query(
    "part_pareto_abc",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_c
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(rev_c) AS t FROM rev),
    ranked AS (
        SELECT l_partkey, rev_c,
               SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                                ROWS UNBOUNDED PRECEDING) AS cum_c
        FROM rev
    )
    SELECT CASE WHEN CAST(cum_c AS DOUBLE) / (SELECT t FROM tot) <= 0.8
                  THEN 'A'
                WHEN CAST(cum_c AS DOUBLE) / (SELECT t FROM tot) <= 0.95
                  THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev_c) AS BIGINT) AS class_rev_c,
           MIN(l_partkey) AS sample_part
    FROM ranked GROUP BY 1 ORDER BY abc_class
    """,
    headline=True,
)
def part_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: parts ranked by revenue,
    cumulative share cut at 80% (A) and 95% (B). The cumulative sum
    runs over EXACT integer cents (per-part reduce first), so the
    share ratio is a deterministic division of exact longs in both
    engines — no float accumulation can flip a class boundary.

    A Pareto curve is a total order, but the cumulative sum is NOT a
    global window here: ``ordered_prefix_sum`` range-partitions by
    (rev desc, partkey), computes per-partition running sums in
    parallel, and stitches them with broadcast partition offsets (a
    triangular join over O(P) totals) — byte-identical to the
    single-reducer window, with no stage bounded by one partition at
    10^9 parts. Plan-asserted: zero single-partition WindowExec."""
    from etl_lens_spark.operators.prefix import ordered_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                "long"
            )
        )
        .cast("long")
        .alias("rev_c")
    )
    tot = rev.agg(F.sum("rev_c").alias("t"))
    ranked = ordered_prefix_sum(
        rev,
        order_by=[F.desc("rev_c"), F.asc("l_partkey")],
        value_col="rev_c",
        out_col="cum_c",
    ).crossJoin(F.broadcast(tot))
    share = F.col("cum_c").cast("double") / F.col("t")
    return (
        ranked.select(
            "l_partkey",
            "rev_c",
            F.when(share <= 0.8, "A")
            .when(share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("rev_c").cast("long").alias("class_rev_c"),
            F.min("l_partkey").alias("sample_part"),
        )
        .orderBy("abc_class")
    )


@query(
    "orders_growth_mom_yoy",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
    )
    SELECT CAST(mon AS DATE) AS mon, rev_c,
           CAST(rev_c - LAG(rev_c, 1) OVER w AS DOUBLE)
             / LAG(rev_c, 1) OVER w AS mom_pct,
           CAST(rev_c - LAG(rev_c, 12) OVER w AS DOUBLE)
             / LAG(rev_c, 12) OVER w AS yoy_pct
    FROM m WINDOW w AS (ORDER BY mon) ORDER BY mon
    """,
)
def orders_growth_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth — the BI staple: monthly revenue with
    month-over-month and seasonality-aligned year-over-year deltas
    (lag 12 on the monthly grid). The fact stream reduces to one
    exact-cents row per month before the lag windows touch it, so the
    growth ratios divide exact longs."""
    m = load_table(spark, sf_dir, "orders").groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).cast("date")
        .alias("mon")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        )
        .cast("long")
        .alias("rev_c")
    )
    from pyspark.sql import Window

    w = Window.orderBy("mon")
    lag1 = F.lag("rev_c", 1).over(w)
    lag12 = F.lag("rev_c", 12).over(w)
    return m.select(
        "mon",
        "rev_c",
        ((F.col("rev_c") - lag1).cast("double") / lag1).alias("mom_pct"),
        ((F.col("rev_c") - lag12).cast("double") / lag12).alias("yoy_pct"),
    ).orderBy("mon")


@query(
    "supplier_concentration_hhi",
    oracle="""
    WITH rev AS (
        SELECT p.p_brand AS brand, l.l_suppkey AS supp,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_c
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT brand, SUM(rev_c) AS t,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM rev GROUP BY brand
    )
    SELECT r.brand, t.n_suppliers,
           CAST(t.t AS BIGINT) AS brand_rev_c,
           SUM((CAST(r.rev_c AS DOUBLE) / t.t)
               * (CAST(r.rev_c AS DOUBLE) / t.t)) AS hhi
    FROM rev r JOIN tot t ON r.brand = t.brand
    GROUP BY r.brand, t.n_suppliers, t.t
    ORDER BY r.brand
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration risk per brand: the Herfindahl–Hirschman
    index (Σ share², 1/n..1) over each brand's supplier revenue mix —
    the procurement-risk metric flagging single-supplier exposure.
    Shares divide exact cents; the fact stream reduces to one row per
    (brand, supplier) before the share math."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_suppkey"))
        .agg(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("rev_c")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("brand")
    share = F.col("rev_c").cast("double") / F.sum("rev_c").over(w)
    return (
        rev.withColumn("share", share)
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("rev_c").cast("long").alias("brand_rev_c"),
            F.sum(F.col("share") * F.col("share")).alias("hhi"),
        )
        .orderBy("brand")
    )


@query(
    "orders_interarrival_stats",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey AS custkey,
               CAST(o_orderdate AS DATE)
                 - LAG(CAST(o_orderdate AS DATE))
                     OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS gap_days
        FROM orders
    )
    SELECT custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
           CAST(AVG(CAST(gap_days AS DOUBLE)) AS DOUBLE) AS mean_gap_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
    FROM gaps GROUP BY custkey ORDER BY custkey
    """,
)
def orders_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order inter-arrival profile: per customer, the mean
    and maximum day gap between consecutive orders (lag window and
    the final aggregate ride ONE custkey shuffle) — the churn-risk /
    reorder-cadence input every lifecycle model starts from. Integer
    day gaps keep the stats exact up to the final mean division."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.col("o_custkey").alias("custkey"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days"),
    )
    return (
        gaps.groupBy("custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.count("gap_days").cast("long").alias("n_gaps"),
            F.avg(F.col("gap_days").cast("double")).alias("mean_gap_days"),
            F.max("gap_days").cast("long").alias("max_gap_days"),
        )
        .orderBy("custkey")
    )


@query(
    "skyline_pareto_frontier",
    headline=True,
    oracle="""
    WITH p AS (
        SELECT p_partkey, p_retailprice, p_size FROM part
    )
    SELECT a.p_partkey,
           a.p_retailprice,
           CAST(a.p_size AS BIGINT) AS p_size
    FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.p_retailprice <= a.p_retailprice
          AND b.p_size >= a.p_size
          AND (b.p_retailprice < a.p_retailprice
               OR b.p_size > a.p_size)
    )
    ORDER BY a.p_partkey
    """,
)
def skyline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto-frontier) operator — minimize price, maximize
    size: a part survives iff no other part is cheaper-or-equal AND
    bigger-or-equal with one strict. The 2-D case decomposes exactly
    like the textbook sort-filter skyline, expressed with the
    repo's zero-single-reducer prefix machinery: (1) reduce to
    DISTINCT prices with the max size at each (map-side combine);
    (2) ``ordered_prefix_max(inclusive=False)`` gives each price the
    best size among STRICTLY cheaper prices via range exchange +
    local windows + an O(P) triangular offsets join — no global
    WindowExec; (3) join back (broadcast-sized frontier table) and
    keep rows that tie their price's max and beat every cheaper
    price's best. Duplicate (price, size) points are all kept —
    mutual non-strict dominance is not dominance.

    The oracle is the O(n²) NOT-EXISTS dominance definition itself,
    blocking-free — a pass proves the decomposition loses and adds
    nothing. At 100 TB the quadratic never materializes: cost is one
    groupBy(price), one range exchange over distinct prices, one
    broadcast join."""
    from etl_lens_spark.operators.prefix import ordered_prefix_max

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    per_price = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("best_size")
    )
    with_strict = ordered_prefix_max(
        per_price,
        [F.col("p_retailprice").asc()],
        "best_size",
        "strict_best",
        inclusive=False,
    )
    j = part.join(F.broadcast(with_strict), "p_retailprice")
    return (
        j.filter(
            (F.col("p_size") == F.col("best_size"))
            & (
                F.col("strict_best").isNull()
                | (F.col("strict_best") < F.col("p_size"))
            )
        )
        .select(
            "p_partkey",
            "p_retailprice",
            F.col("p_size").cast("long").alias("p_size"),
        )
        .orderBy("p_partkey")
    )


@query(
    "ab_test_cuped",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN ('0x' || substring(md5('ab'
                      || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                      % 10000 < 5000 THEN 'A' ELSE 'B' END AS arm,
               CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                             THEN CAST(value AS DECIMAL(18,2))
                             ELSE 0 END) AS DOUBLE) AS x,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                             THEN CAST(value AS DECIMAL(18,2))
                             ELSE 0 END) AS DOUBLE) AS y
        FROM events GROUP BY user_id
    ),
    pooled AS (
        SELECT covar_pop(x, y) / var_pop(x) AS theta,
               AVG(x) AS mean_x
        FROM per_user
    )
    SELECT u.arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(u.y), 4) AS mean_y,
           ROUND(AVG(u.y - p.theta * (u.x - p.mean_x)), 4)
             AS mean_y_cuped,
           ROUND(var_pop(u.y), 2) AS var_y,
           ROUND(var_pop(u.y - p.theta * (u.x - p.mean_x)), 2)
             AS var_y_cuped,
           ROUND(MAX(p.theta), 4) AS theta
    FROM per_user u CROSS JOIN pooled p
    GROUP BY u.arm
    ORDER BY u.arm
    """,
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with CUPED variance reduction (Deng et
    al. 2013) — the experimentation workload: users assigned to arms
    by the deterministic md5 bucket (the same assignment every
    engine, every run), per-user pre-period covariate x (Jan 1–15
    spend) and experiment metric y (Jan 16–30), then the pooled
    θ = cov(x,y)/var(x) adjusts y* = y − θ(x − x̄) — identical means
    in expectation, strictly smaller variance whenever the pre-period
    correlates (reported: var_y vs var_y_cuped per arm, the whole
    point of the method).

    Decimal accumulation makes each user's x, y exact (cents-integer
    doubles), so the only float work is the pooled moment ratio and
    the adjustment — rounded a safe margin inside the oracle hash.
    Scale: one user-keyed aggregation (map-side combined), one
    broadcast of the 1-row pooled moments, one arm-keyed reduction —
    the canonical two-pass shape; nothing grows with event count but
    the first combine."""
    from etl_lens_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    dec = F.col("value").cast("decimal(18,2)")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, dec).otherwise(F.lit(0)))
        .cast("double")
        .alias("x"),
        F.sum(F.when(F.col("ts") >= cutoff, dec).otherwise(F.lit(0)))
        .cast("double")
        .alias("y"),
    ).withColumn(
        "arm",
        F.when(hash_bucket(F.col("user_id"), "ab") < 5000, "A").otherwise(
            "B"
        ),
    )
    pooled = per_user.agg(
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("theta"),
        F.avg("x").alias("mean_x"),
    )
    adj = F.col("y") - F.col("theta") * (F.col("x") - F.col("mean_x"))
    return (
        per_user.crossJoin(F.broadcast(pooled))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.avg("y"), 4).alias("mean_y"),
            F.round(F.avg(adj), 4).alias("mean_y_cuped"),
            F.round(F.var_pop("y"), 2).alias("var_y"),
            F.round(F.var_pop(adj), 2).alias("var_y_cuped"),
            F.round(F.max("theta"), 4).alias("theta"),
        )
        .orderBy("arm")
    )


@query(
    "stats_wilson_ci_rates",
    oracle="""
    WITH seg AS (
        SELECT user_id % 8 AS cohort,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                        ELSE 0 END) AS BIGINT) AS k
        FROM events GROUP BY user_id % 8
    )
    SELECT cohort, n, k,
           ROUND(CAST(k AS DOUBLE) / n, 6) AS rate,
           ROUND((k + 1.92) / (n + 3.84)
                 - (1.96 / (n + 3.84))
                   * sqrt(CAST(k AS DOUBLE) * (n - k) / n + 0.9604), 6)
             AS wilson_lo,
           ROUND((k + 1.92) / (n + 3.84)
                 + (1.96 / (n + 3.84))
                   * sqrt(CAST(k AS DOUBLE) * (n - k) / n + 0.9604), 6)
             AS wilson_hi
    FROM seg
    ORDER BY cohort
    """,
)
def stats_wilson_ci_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON score intervals for per-cohort conversion rates — the
    CI every rate dashboard should use instead of the normal
    approximation (Wilson stays inside [0,1] and behaves at small n
    and extreme rates, where ±1.96√(p(1−p)/n) is nonsense): the
    closed form at z = 1.96, center (k + z²/2)/(n + z²) with the
    matched half-width, computed per cohort in one aggregation.
    Everything after the count/sum reduction is scalar arithmetic on
    a |cohorts|-row frame; the two engines agree on the algebra to 6
    decimals."""
    seg = (
        load_table(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 8).alias("cohort"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                (F.col("event_type") == "purchase").cast("int")
            )
            .cast("long")
            .alias("k"),
        )
    )
    n, k = F.col("n"), F.col("k")
    center = (k + 1.92) / (n + 3.84)
    half = (1.96 / (n + 3.84)) * F.sqrt(
        k.cast("double") * (n - k) / n + 0.9604
    )
    return seg.select(
        "cohort",
        "n",
        "k",
        F.round(k.cast("double") / n, 6).alias("rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    ).orderBy("cohort")


@query(
    "part_abc_xyz_matrix",
    oracle="""
    WITH li AS (
        SELECT l.l_partkey,
               epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
                 // 604800000000 AS wk,
               CAST(SUM(l.l_quantity) AS DOUBLE) AS qty
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    per_part AS (
        SELECT l_partkey,
               AVG(qty) AS mu,
               stddev_pop(qty) AS sd,
               CAST(COUNT(*) AS BIGINT) AS n_weeks,
               SUM(qty) AS total_qty
        FROM li GROUP BY l_partkey
    ),
    xyz AS (
        SELECT l_partkey, total_qty,
               CASE WHEN sd / NULLIF(mu, 0) < 0.6 THEN 'X'
                    WHEN sd / NULLIF(mu, 0) < 1.0 THEN 'Y'
                    ELSE 'Z' END AS xyz_class
        FROM per_part
    ),
    ranked AS (
        SELECT l_partkey, xyz_class, total_qty,
               SUM(total_qty) OVER (
                   ORDER BY total_qty DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) / SUM(total_qty) OVER () AS cum_share
        FROM xyz
    ),
    classed AS (
        SELECT xyz_class,
               CASE WHEN cum_share <= 0.6 THEN 'A'
                    WHEN cum_share <= 0.85 THEN 'B'
                    ELSE 'C' END AS abc_class,
               total_qty
        FROM ranked
    )
    SELECT abc_class, xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(total_qty), 2) AS qty
    FROM classed
    GROUP BY abc_class, xyz_class
    ORDER BY abc_class, xyz_class
    """,
)
def part_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC × XYZ inventory classification — the supply-chain planning
    matrix pairing revenue concentration (ABC: cumulative-share
    bands, the part_pareto_abc discipline) with demand VARIABILITY
    (XYZ: weekly coefficient of variation — X predictable, Z
    erratic): an A/Z part is the planner's nightmare quadrant and
    this query is how they find it. The cumulative share runs
    through the zero-single-reducer prefix machinery over the
    reduced per-part frame; CV classes are scalar algebra on the
    same frame; both engines agree on band edges because the share
    is a ratio of exact decimal-accumulated sums ordered with a
    deterministic tie-break."""
    from etl_lens_spark.operators.prefix import ordered_prefix_sum

    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "l_partkey",
            F.expr(
                "(unix_micros(CAST(o_orderdate AS TIMESTAMP)) "
                "- pmod(unix_micros(CAST(o_orderdate AS TIMESTAMP)), "
                "604800000000)) div 604800000000"
            ).alias("wk"),
        )
        .agg(F.sum("l_quantity").cast("double").alias("qty"))
    )
    per_part = li.groupBy("l_partkey").agg(
        F.avg("qty").alias("mu"),
        F.stddev_pop("qty").alias("sd"),
        F.sum("qty").alias("total_qty"),
    )
    cv = F.col("sd") / F.nullif(F.col("mu"), F.lit(0))
    xyz = per_part.select(
        "l_partkey",
        "total_qty",
        F.when(cv < 0.6, "X").when(cv < 1.0, "Y").otherwise("Z").alias(
            "xyz_class"
        ),
    )
    with_cum = ordered_prefix_sum(
        xyz,
        [F.desc("total_qty"), F.asc("l_partkey")],
        "total_qty",
        "cum_qty",
    )
    tot = xyz.agg(F.sum("total_qty").alias("grand"))
    classed = with_cum.crossJoin(F.broadcast(tot)).select(
        "xyz_class",
        "total_qty",
        F.when(F.col("cum_qty") / F.col("grand") <= 0.6, "A")
        .when(F.col("cum_qty") / F.col("grand") <= 0.85, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(F.sum("total_qty"), 2).alias("qty"),
        )
        .orderBy("abc_class", "xyz_class")
    )


@query(
    "customer_cohort_ltv_curve",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               MIN(date_trunc('month', o_orderdate)) AS cohort_month
        FROM orders GROUP BY o_custkey
    ),
    rev AS (
        SELECT f.cohort_month,
               datediff('month', f.cohort_month,
                        date_trunc('month', o.o_orderdate)) AS age,
               CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    ),
    sz AS (
        SELECT cohort_month, COUNT(*) AS cohort_size FROM firsts
        GROUP BY cohort_month
    ),
    monthly AS (
        SELECT cohort_month, age, SUM(price) AS m_rev
        FROM rev GROUP BY cohort_month, age
    )
    SELECT CAST(m.cohort_month AS DATE) AS cohort_month,
           CAST(m.age AS BIGINT) AS age_months,
           CAST(MAX(s.cohort_size) AS BIGINT) AS cohort_size,
           CAST(SUM(SUM(m.m_rev)) OVER (
               PARTITION BY m.cohort_month ORDER BY m.age
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS cum_revenue,
           CAST((2 * CAST(SUM(SUM(m.m_rev)) OVER (
               PARTITION BY m.cohort_month ORDER BY m.age
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) * 100 AS BIGINT) + MAX(s.cohort_size))
               // (2 * MAX(s.cohort_size)) AS BIGINT) AS ltv_cents
    FROM monthly m JOIN sz s ON m.cohort_month = s.cohort_month
    GROUP BY m.cohort_month, m.age
    ORDER BY cohort_month, age_months
    """,
)
def customer_cohort_ltv_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohort LIFETIME-VALUE curves — the revenue companion of the
    retention triangle: customers grouped by first-order month, each
    cohort's revenue accumulated over its age in months and
    normalized per member (the LTV curve whose plateau sets the
    acquisition budget). Exact decimal revenue accumulation; the
    cumulative window is PARTITIONED by cohort (never global) and
    runs over the reduced cohort × age frame — the standard
    finance-analytics shape at any scale."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    firsts = orders.groupBy("o_custkey").agg(
        F.min(F.trunc("o_orderdate", "month")).alias("cohort_month")
    )
    sz = firsts.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    rev = orders.join(firsts, "o_custkey").select(
        "cohort_month",
        (
            F.months_between(
                F.trunc("o_orderdate", "month"), F.col("cohort_month")
            )
        )
        .cast("long")
        .alias("age"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    monthly = rev.groupBy("cohort_month", "age").agg(
        F.sum("price").alias("m_rev")
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # per-customer LTV in integer CENTS with explicit half-up —
    # decimal and double division both round engine-dependently at
    # exact halves; (2c + n) div (2n) is the same integer everywhere,
    # and `div` keeps the arithmetic in BIGINT (a double `/` would
    # lose exactness above 2^53 cents)
    return (
        monthly.join(F.broadcast(sz), "cohort_month")
        .withColumn(
            "cum_cents", (F.sum("m_rev").over(w) * 100).cast("long")
        )
        .select(
            "cohort_month",
            F.col("age").alias("age_months"),
            F.col("cohort_size").cast("long"),
            (F.col("cum_cents") / 100.0).alias("cum_revenue"),
            F.expr(
                "(2 * cum_cents + cohort_size) div (2 * cohort_size)"
            )
            .cast("long")
            .alias("ltv_cents"),
        )
        .orderBy("cohort_month", "age_months")
    )


@query(
    "events_attribution_shapley",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
            CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 >= 14 AS INT) AS c,
            CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 >= 14 AS INT) AS v,
            CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                 >= 14 AS INT) AS s,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN value
                     ELSE 0 END) > 700 AS INT) AS conv
        FROM events GROUP BY user_id
    ),
    rates AS (
        SELECT c, v, s,
               AVG(CAST(conv AS DOUBLE)) AS r,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM per_user GROUP BY c, v, s
    ),
    pairs AS (
        SELECT 'click' AS channel,
               b.v + b.s AS others,
               COALESCE(w.r, 0) - COALESCE(b.r, 0) AS delta
        FROM rates b JOIN rates w
          ON b.c = 0 AND w.c = 1 AND b.v = w.v AND b.s = w.s
        UNION ALL
        SELECT 'view', b.c + b.s, COALESCE(w.r, 0) - COALESCE(b.r, 0)
        FROM rates b JOIN rates w
          ON b.v = 0 AND w.v = 1 AND b.c = w.c AND b.s = w.s
        UNION ALL
        SELECT 'signup', b.c + b.v, COALESCE(w.r, 0) - COALESCE(b.r, 0)
        FROM rates b JOIN rates w
          ON b.s = 0 AND w.s = 1 AND b.c = w.c AND b.v = w.v
    )
    SELECT channel,
           ROUND(SUM(delta * CASE others WHEN 0 THEN 1.0/3
                              WHEN 1 THEN 1.0/6
                              ELSE 1.0/3 END), 6) AS shapley
    FROM pairs
    GROUP BY channel
    ORDER BY channel
    """,
)
def events_attribution_shapley(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT Shapley-value attribution over three engagement channels
    — the game-theoretic alternative to last-touch/linear credit
    (multitouch_attribution's heuristics): the characteristic
    function v(S) is the observed conversion rate of users exposed
    to exactly coalition S (exposure = channel activity over
    threshold; conversion = purchase value over threshold), and each
    channel's Shapley value is the coalition-weighted average of its
    marginal contributions — the UNIQUE credit split that is
    efficient, symmetric, and null-player-consistent. With 3
    channels the 2³ coalitions are enumerable, so the computation is
    one per-user reduction, one 8-row rate table, and three matched
    base/with self-joins with literal |S|!(n−|S|−1)!/n! weights —
    the whole game resolves in broadcast-sized frames no matter how
    many users feed the rates. Absent coalitions contribute 0 on
    both engines (COALESCE), keeping the estimator deterministic."""
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.sum(
                    (F.col("event_type") == "click").cast("int")
                )
                >= 14
            )
            .cast("int")
            .alias("c"),
            (
                F.sum((F.col("event_type") == "view").cast("int"))
                >= 14
            )
            .cast("int")
            .alias("v"),
            (
                F.sum(
                    (F.col("event_type") == "signup").cast("int")
                )
                >= 14
            )
            .cast("int")
            .alias("s"),
            (
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.col("value"),
                    ).otherwise(F.lit(0.0))
                )
                > 700
            )
            .cast("int")
            .alias("conv"),
        )
    )
    rates = per_user.groupBy("c", "v", "s").agg(
        F.avg(F.col("conv").cast("double")).alias("r"),
        F.count(F.lit(1)).alias("n"),
    )

    def channel_pairs(ch, base_col, other1, other2):
        b = rates.filter(F.col(base_col) == 0).alias("b")
        w = rates.filter(F.col(base_col) == 1).alias("w")
        return b.join(
            w,
            (F.col(f"b.{other1}") == F.col(f"w.{other1}"))
            & (F.col(f"b.{other2}") == F.col(f"w.{other2}")),
        ).select(
            F.lit(ch).alias("channel"),
            (F.col(f"b.{other1}") + F.col(f"b.{other2}")).alias(
                "others"
            ),
            (
                F.coalesce(F.col("w.r"), F.lit(0.0))
                - F.coalesce(F.col("b.r"), F.lit(0.0))
            ).alias("delta"),
        )

    pairs = (
        channel_pairs("click", "c", "v", "s")
        .unionAll(channel_pairs("view", "v", "c", "s"))
        .unionAll(channel_pairs("signup", "s", "c", "v"))
    )
    wgt = (
        F.when(F.col("others") == 0, F.lit(1.0 / 3))
        .when(F.col("others") == 1, F.lit(1.0 / 6))
        .otherwise(F.lit(1.0 / 3))
    )
    return (
        pairs.groupBy("channel")
        .agg(F.round(F.sum(F.col("delta") * wgt), 6).alias("shapley"))
        .orderBy("channel")
    )


@query(
    "ab_test_diff_in_diff",
    oracle="""
    WITH cells AS (
        SELECT user_id,
               CASE WHEN ('0x' || substring(md5('did'
                      || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                      % 10000 < 5000 THEN 'T' ELSE 'C' END AS arm,
               CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'pre'
                    ELSE 'post' END AS period,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events
    ),
    per_user AS (
        SELECT arm, period, user_id, SUM(v) AS spend
        FROM cells GROUP BY arm, period, user_id
    ),
    cell_means AS (
        SELECT arm, period,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               AVG(CAST(spend AS DOUBLE)) AS mean_spend
        FROM per_user GROUP BY arm, period
    ),
    wide AS (
        SELECT
          MAX(CASE WHEN arm='T' AND period='post' THEN mean_spend END)
            AS t_post,
          MAX(CASE WHEN arm='T' AND period='pre' THEN mean_spend END)
            AS t_pre,
          MAX(CASE WHEN arm='C' AND period='post' THEN mean_spend END)
            AS c_post,
          MAX(CASE WHEN arm='C' AND period='pre' THEN mean_spend END)
            AS c_pre
        FROM cell_means
    )
    SELECT m.arm, m.period, m.n_users,
           ROUND(m.mean_spend, 4) AS mean_spend,
           ROUND(w.t_post - w.t_pre - (w.c_post - w.c_pre), 4)
             AS did_estimate
    FROM cell_means m CROSS JOIN wide w
    ORDER BY m.arm, m.period
    """,
)
def ab_test_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES — the causal companion of CUPED for
    when assignment is NOT randomized (a rollout hits group T at a
    date; C never gets it): the effect estimate is the treated
    group's pre→post change net of the control group's, which
    differences out both fixed group differences and the common time
    trend — the parallel-trends workhorse of observational product
    analytics. Per-user decimal spend per (arm, period) cell, cell
    means, and the 2×2 difference; everything after the user-keyed
    reduction is a 4-row frame. Deterministic md5 arm assignment
    makes the 'rollout' replayable on both engines."""
    from etl_lens_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    per_user = (
        ev.select(
            "user_id",
            F.when(hash_bucket(F.col("user_id"), "did") < 5000, "T")
            .otherwise("C")
            .alias("arm"),
            F.when(F.col("ts") < cutoff, "pre")
            .otherwise("post")
            .alias("period"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("arm", "period", "user_id")
        .agg(F.sum("v").alias("spend"))
    )
    cell = per_user.groupBy("arm", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.avg(F.col("spend").cast("double")).alias("mean_spend"),
    )
    pick = lambda a, p: F.max(  # noqa: E731
        F.when(
            (F.col("arm") == a) & (F.col("period") == p),
            F.col("mean_spend"),
        )
    )
    wide = cell.agg(
        pick("T", "post").alias("t_post"),
        pick("T", "pre").alias("t_pre"),
        pick("C", "post").alias("c_post"),
        pick("C", "pre").alias("c_pre"),
    )
    return (
        cell.crossJoin(F.broadcast(wide))
        .select(
            "arm",
            "period",
            "n_users",
            F.round("mean_spend", 4).alias("mean_spend"),
            F.round(
                F.col("t_post")
                - F.col("t_pre")
                - (F.col("c_post") - F.col("c_pre")),
                4,
            ).alias("did_estimate"),
        )
        .orderBy("arm", "period")
    )


@query(
    "revenue_waterfall_decomposition",
    oracle="""
    WITH base AS (
        SELECT date_trunc('month', o.o_orderdate) AS month,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS gross,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * CAST(l.l_discount AS DECIMAL(18,2)))
                 AS discount_given,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                   * CAST(l.l_tax AS DECIMAL(18,2))) AS tax_added
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
    )
    SELECT CAST(month AS DATE) AS month,
           CAST(gross AS DOUBLE) AS gross,
           CAST(-discount_given AS DOUBLE) AS discount_step,
           CAST(gross - discount_given AS DOUBLE) AS net,
           CAST(tax_added AS DOUBLE) AS tax_step,
           CAST(gross - discount_given + tax_added AS DOUBLE)
             AS charged
    FROM base
    ORDER BY month
    """,
)
def revenue_waterfall_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REVENUE WATERFALL — the bridge report every finance review
    opens with: monthly gross extended price stepped down by
    discounts given and up by tax collected, each stage an EXACT
    decimal aggregate so the steps reconcile to the charged total to
    the cent (the TPC-H Q1 pricing identities, re-shaped as the
    waterfall instead of status aggregates). One join, one monthly
    reduction, all decimal until the final presentation cast —
    additivity across steps is the whole point, and floats would
    quietly break it at 100 TB row counts."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(
            F.sum(ep).alias("gross"),
            F.sum(ep * disc).alias("discount_given"),
            F.sum(ep * (1 - disc) * tax).alias("tax_added"),
        )
    )
    return base.select(
        "month",
        F.col("gross").cast("double"),
        (-F.col("discount_given")).cast("double").alias("discount_step"),
        (F.col("gross") - F.col("discount_given"))
        .cast("double")
        .alias("net"),
        F.col("tax_added").cast("double").alias("tax_step"),
        (
            F.col("gross")
            - F.col("discount_given")
            + F.col("tax_added")
        )
        .cast("double")
        .alias("charged"),
    ).orderBy("month")


@query(
    "reco_item_item_cosine",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_partkey < 400
    ),
    freq AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
        FROM baskets GROUP BY l_partkey
    ),
    co AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2,
               CAST(COUNT(*) AS BIGINT) AS co_count
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 3
    )
    SELECT co.p1, co.p2, co.co_count,
           fa.n AS n1, fb.n AS n2,
           ROUND(co.co_count / sqrt(CAST(fa.n AS DOUBLE) * fb.n), 6)
             AS cosine
    FROM co JOIN freq fa ON co.p1 = fa.l_partkey
            JOIN freq fb ON co.p2 = fb.l_partkey
    ORDER BY p1, p2
    """,
)
def reco_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITEM-ITEM collaborative filtering on binary baskets — the
    workhorse 'customers also bought' similarity: parts co-occurring
    in orders, scored by co-occurrence cosine
    co(a,b)/√(n(a)·n(b)), with an integer MIN-SUPPORT threshold so
    the reported edge set is boundary-stable cross-engine (the
    Adamic-Adar discipline). Candidate generation is the
    self-join ON THE SHARED BASKET — candidate volume is
    Σ_orders |basket|², bounded by basket size, never item² — and
    item frequencies broadcast into the scoring join. At 100 TB the
    same plan stands behind every co-visitation recommender; skew
    guard = cap or salt the largest baskets, exactly the max_bucket
    discipline the LSH cascade ships."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < 400)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    freq = baskets.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = baskets.alias("a")
    b = baskets.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("co_count"))
        .filter(F.col("co_count") >= 3)
    )
    fa = freq.select(
        F.col("l_partkey").alias("p1"), F.col("n").alias("n1")
    )
    fb = freq.select(
        F.col("l_partkey").alias("p2"), F.col("n").alias("n2")
    )
    return (
        co.join(F.broadcast(fa), "p1")
        .join(F.broadcast(fb), "p2")
        .select(
            "p1",
            "p2",
            "co_count",
            "n1",
            "n2",
            F.round(
                F.col("co_count")
                / F.sqrt(F.col("n1").cast("double") * F.col("n2")),
                6,
            ).alias("cosine"),
        )
        .orderBy("p1", "p2")
    )


@query(
    "customer_gini_concentration",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT x,
               row_number() OVER (ORDER BY x, o_custkey) AS i,
               COUNT(*) OVER () AS n,
               SUM(x) OVER () AS tot
        FROM spend
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(MAX(tot) AS DOUBLE) AS total_spend,
           ROUND(2.0 * SUM(CAST(i AS DOUBLE) * x)
                 / (MAX(n) * CAST(MAX(tot) AS DOUBLE))
                 - (MAX(n) + 1.0) / MAX(n), 6) AS gini
    FROM ranked
    """,
)
def customer_gini_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GINI COEFFICIENT of customer spend — the inequality summary
    behind 'what fraction of revenue do the top customers carry'
    (the scalar companion of the Pareto/ABC banding): the rank
    formula G = 2Σ(i·xᵢ)/(n·Σx) − (n+1)/n over spend sorted
    ascending. The global rank is the ZERO-SINGLE-REDUCER
    distributed rank operator (range exchange + local windows +
    offsets), exact decimal spend, deterministic custkey tie-break —
    at 100 TB the ranking is the same machinery the exact-quantiles
    family already proves, and the final reduction is one scalar
    aggregate."""
    from etl_lens_spark.operators.prefix import ordered_global_rank

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "x"
            )
        )
    )
    ranked = ordered_global_rank(
        spend, [F.asc("x"), F.asc("o_custkey")], "i"
    )
    tot = spend.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("tot")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.max("tot").cast("double").alias("total_spend"),
            F.round(
                2.0
                * F.sum(
                    F.col("i").cast("double")
                    * F.col("x").cast("double")
                )
                / (
                    F.max("n")
                    * F.max("tot").cast("double")
                )
                - (F.max("n") + 1.0) / F.max("n"),
                6,
            ).alias("gini"),
        )
    )


@query(
    "dq_duplicate_payment_candidates",
    oracle="""
    WITH g AS (
        SELECT o_custkey, o_totalprice, o_orderdate,
               CAST(COUNT(*) AS BIGINT) AS n_dup,
               CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS last_key
        FROM orders
        GROUP BY o_custkey, o_totalprice, o_orderdate
        HAVING COUNT(*) > 1
    )
    SELECT o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           n_dup, first_key, last_key
    FROM g
    ORDER BY o_custkey, o_totalprice, o_orderdate
    """,
)
def dq_duplicate_payment_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOUBLE-CHARGE candidates — the finance-ops dedup screen: the
    same customer, identical amount, same day is either a retry bug
    or a legitimate repeat, and either way it goes to review. One
    hash aggregation on the natural key with HAVING > 1 (map-side
    combine collapses singletons before the exchange — the same
    exact-dedup shape as the corpus fingerprint pass, so at 100 TB
    only genuine collision groups cross the wire), carrying first
    and last order keys so the reviewer jumps straight to the rows."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey", "o_totalprice", "o_orderdate")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup"),
            F.min("o_orderkey").cast("long").alias("first_key"),
            F.max("o_orderkey").cast("long").alias("last_key"),
        )
        .filter(F.col("n_dup") > 1)
        .select(
            "o_custkey",
            F.col("o_totalprice").cast("double"),
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "n_dup",
            "first_key",
            "last_key",
        )
        .orderBy("o_custkey", "o_totalprice", "o_orderdate")
    )


_MARKOV_ROUNDS = 15

_MARKOV_BASE_SQL = """
    ordered AS MATERIALIZED (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS rn
        FROM events
    ),
    firstp AS MATERIALIZED (
        SELECT user_id, MIN(rn) AS prn
        FROM ordered WHERE event_type = 'purchase' GROUP BY user_id
    ),
    pre AS MATERIALIZED (
        SELECT o.user_id, o.event_type, o.rn,
               f.prn IS NOT NULL AS conv
        FROM ordered o LEFT JOIN firstp f USING (user_id)
        WHERE f.prn IS NULL OR o.rn < f.prn
    ),
    walk AS MATERIALIZED (
        SELECT user_id,
               COALESCE(LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY rn), 'start') AS src,
               event_type AS dst
        FROM pre
    ),
    terminal AS MATERIALIZED (
        SELECT p.user_id,
               COALESCE(l.last_ch, 'start') AS src,
               CASE WHEN p.conv THEN 'conv' ELSE 'null' END AS dst
        FROM (SELECT DISTINCT o.user_id,
                     f.prn IS NOT NULL AS conv
              FROM ordered o LEFT JOIN firstp f USING (user_id)) p
        LEFT JOIN (
            SELECT user_id, max_by(event_type, rn) AS last_ch
            FROM pre GROUP BY user_id
        ) l USING (user_id)
    ),
    edges_raw AS MATERIALIZED (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT src, dst FROM walk
              UNION ALL SELECT src, dst FROM terminal)
        GROUP BY src, dst
    ),
    tot AS MATERIALIZED (
        SELECT src, CAST(SUM(cnt) AS BIGINT) AS t
        FROM edges_raw GROUP BY src
    ),
    channels AS MATERIALIZED (
        SELECT DISTINCT event_type AS ch FROM events
        WHERE event_type <> 'purchase'
    ),
    scen AS MATERIALIZED (
        SELECT 'full' AS scenario, NULL AS rm
        UNION ALL SELECT 'rm_' || ch, ch FROM channels
    ),
    edges AS MATERIALIZED (
        SELECT s.scenario, e.src, e.dst,
               CAST(e.cnt AS DOUBLE) / CAST(tt.t AS DOUBLE) AS p
        FROM edges_raw e
        JOIN tot tt ON tt.src = e.src
        JOIN scen s ON s.rm IS NULL
                    OR (e.src <> s.rm AND e.dst <> s.rm)
    )
"""


def _markov_round_sql(i: int) -> str:
    prev = f"v{i - 1}"
    join = (
        f"LEFT JOIN {prev} v ON v.scenario = e.scenario "
        "AND v.state = e.dst"
        if i > 1
        else ""
    )
    vdst = (
        "CASE WHEN e.dst = 'conv' THEN 1.0 WHEN e.dst = 'null' THEN 0.0 "
        + ("ELSE COALESCE(v.v, 0.0) END" if i > 1 else "ELSE 0.0 END")
    )
    return f"""
    v{i} AS MATERIALIZED (
        SELECT e.scenario, e.src AS state, SUM(e.p * {vdst}) AS v
        FROM edges e {join}
        GROUP BY e.scenario, e.src
    )"""


def _markov_oracle() -> str:
    rounds = "".join(
        "," + _markov_round_sql(i) for i in range(1, _MARKOV_ROUNDS + 1)
    )
    last = f"v{_MARKOV_ROUNDS}"
    return f"""
    WITH {_MARKOV_BASE_SQL}{rounds},
    base AS (
        SELECT v FROM {last}
        WHERE scenario = 'full' AND state = 'start'
    ),
    re AS (
        SELECT c.ch AS channel,
               1.0 - (SELECT r.v FROM {last} r
                      WHERE r.scenario = 'rm_' || c.ch
                        AND r.state = 'start') / b.v AS removal_effect
        FROM channels c CROSS JOIN base b
    )
    SELECT channel,
           removal_effect,
           removal_effect / SUM(removal_effect) OVER ()
               AS attribution_share
    FROM re
    ORDER BY channel
    """


@query("events_attribution_markov", oracle=_markov_oracle())
def events_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2016) — the
    third member of the attribution family next to rule-based
    multitouch and exact Shapley: user journeys become an absorbing
    Markov chain (start → channels → conv/null, truncated at first
    purchase), and each channel's credit is its REMOVAL EFFECT
    1 − P(conv | channel deleted)/P(conv), normalized into shares.
    Channel deletion is the standard graph surgery (edges touching
    the channel dropped, original denominators kept, the missing
    mass absorbs into null).

    Architecture at 100 TB: the corpus-scale work — ordering each
    user's events, truncating at first conversion, counting
    transitions — is windows-partitioned-by-user plus one map-side-
    combining groupBy; everything after operates on the TRANSITION
    MATRIX, whose size is (channels+3)², independent of data volume.
    Absorption probabilities come from a fixed 15-round value
    iteration run as tiny scenario-tagged joins (all five scenarios
    advance in ONE plan per round); the oracle unrolls the identical
    schedule, so the fixpoint arithmetic is cross-checked round for
    round, not just at convergence."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    ordered = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    firstp = (
        ordered.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    joined = ordered.join(firstp, "user_id", "left")
    pre = joined.filter(
        F.col("prn").isNull() | (F.col("rn") < F.col("prn"))
    ).select(
        "user_id", "event_type", "rn", F.col("prn").isNotNull().alias("conv")
    )
    wu = Window.partitionBy("user_id").orderBy("rn")
    walk = pre.select(
        F.coalesce(F.lag("event_type").over(wu), F.lit("start")).alias(
            "src"
        ),
        F.col("event_type").alias("dst"),
    )
    users = joined.select(
        "user_id", F.col("prn").isNotNull().alias("conv")
    ).distinct()
    last_ch = pre.groupBy("user_id").agg(
        F.max_by("event_type", "rn").alias("last_ch")
    )
    terminal = (
        users.join(last_ch, "user_id", "left")
        .select(
            F.coalesce("last_ch", F.lit("start")).alias("src"),
            F.when(F.col("conv"), F.lit("conv"))
            .otherwise(F.lit("null"))
            .alias("dst"),
        )
    )
    edges_raw = (
        walk.unionByName(terminal)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    tot = edges_raw.groupBy("src").agg(F.sum("cnt").cast("long").alias("t"))
    channels = (
        ev.filter(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("ch"))
        .distinct()
    )
    scen = channels.select(
        F.concat(F.lit("rm_"), "ch").alias("scenario"), F.col("ch").alias("rm")
    ).unionByName(
        channels.limit(1).select(
            F.lit("full").alias("scenario"),
            F.lit(None).cast("string").alias("rm"),
        )
    )
    edges = (
        edges_raw.join(tot, "src")
        .crossJoin(F.broadcast(scen))
        .filter(
            F.col("rm").isNull()
            | ((F.col("src") != F.col("rm")) & (F.col("dst") != F.col("rm")))
        )
        .select(
            "scenario",
            "src",
            "dst",
            (F.col("cnt").cast("double") / F.col("t").cast("double")).alias(
                "p"
            ),
        )
        .transform(stage, "markov_edges")
    )
    v = None  # round 0: every non-absorbing state has v = 0
    for i in range(1, _MARKOV_ROUNDS + 1):
        if v is None:
            vdst = (
                F.when(F.col("dst") == "conv", F.lit(1.0))
                .when(F.col("dst") == "null", F.lit(0.0))
                .otherwise(F.lit(0.0))
            )
            cur = edges
        else:
            vv = v.select(
                F.col("scenario").alias("vs"),
                F.col("state").alias("vstate"),
                F.col("v").alias("vv"),
            )
            cur = edges.join(
                vv,
                (F.col("scenario") == F.col("vs"))
                & (F.col("dst") == F.col("vstate")),
                "left",
            )
            vdst = (
                F.when(F.col("dst") == "conv", F.lit(1.0))
                .when(F.col("dst") == "null", F.lit(0.0))
                .otherwise(F.coalesce("vv", F.lit(0.0)))
            )
        v = (
            cur.groupBy("scenario", F.col("src").alias("state"))
            .agg(F.sum(F.col("p") * vdst).alias("v"))
            .transform(freeze, "bounded loop lineage")
        )
    base = v.filter(
        (F.col("scenario") == "full") & (F.col("state") == "start")
    ).select(F.col("v").alias("base_v"))
    rm = v.filter(
        F.col("scenario").startswith("rm_") & (F.col("state") == "start")
    ).select(
        F.expr("substring(scenario, 4)").alias("channel"),
        F.col("v").alias("rm_v"),
    )
    re = (
        channels.select(F.col("ch").alias("channel"))
        .join(rm, "channel", "left")
        .crossJoin(F.broadcast(base))
        .select(
            "channel",
            (F.lit(1.0) - F.col("rm_v") / F.col("base_v")).alias(
                "removal_effect"
            ),
        )
    )
    wall = Window.partitionBy()
    return (
        re.select(
            "channel",
            "removal_effect",
            (
                F.col("removal_effect")
                / F.sum("removal_effect").over(wall)
            ).alias("attribution_share"),
        )
        .orderBy("channel")
    )
