"""Second tranche of [L] relational-surface queries: UNION DISTINCT,
LIMIT/OFFSET pagination, explicit NULLS FIRST/LAST ordering, and the
remaining classic TPC-H query shapes adaptable to this schema (Q2-like
correlated min, Q16-like excluded-set distinct count, Q22-like
anti-join + scalar subquery), plus mergeable-sketch aggregates."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lens_spark.queries import query
from etl_lens_spark.sources.tables import load_table
from etl_lens_spark.operators.staging import stage


@query(
    "setop_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
    ORDER BY nationkey
    """,
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION with dedup (vs the existing UNION ALL query):
    ``union`` + ``distinct`` — Catalyst fuses to a hash-aggregate over
    the union, one shuffle on the full row."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    return (
        c.filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nationkey"))
        .union(
            s.filter(F.col("s_acctbal") > 9000).select(
                F.col("s_nationkey").alias("nationkey")
            )
        )
        .distinct()
        .orderBy("nationkey")
    )


@query(
    "limit_offset_page",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25 OFFSET 50
    """,
)
def limit_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination (SQLite surface). Spark's ``offset``
    composes with ``limit`` into a single GlobalLimit — still a
    top-(offset+limit) under the hood, so offset must stay bounded
    (deep pagination at 100 TB should use keyset pagination instead —
    WHERE key > last_seen ORDER BY key LIMIT n)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(50)
        .limit(25)
    )


@query(
    "sort_nulls_ordering",
    oracle="""
    SELECT c_custkey, t
    FROM (
        SELECT c.c_custkey,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS t
        FROM customer c LEFT JOIN orders o ON c_custkey = o_custkey
        GROUP BY c.c_custkey
    )
    ORDER BY t DESC NULLS FIRST, c_custkey
    LIMIT 30
    """,
)
def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS FIRST/LAST ordering (SQLite 3.30+ surface).
    The engines' defaults differ (Spark asc=NULLS FIRST, DuckDB
    asc=NULLS LAST) so every cross-engine sort on a nullable key MUST
    say which it wants — here desc_nulls_first on the outer-join
    aggregate (customers with no orders sort first)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("t")
        )
    )
    return (
        per.orderBy(F.col("t").desc_nulls_first(), F.col("c_custkey").asc())
        .limit(30)
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    SELECT p.p_partkey, p.p_brand, l.l_suppkey,
           CAST(l.l_extendedprice AS DOUBLE) AS price
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 5
      AND l.l_extendedprice = (
          SELECT MIN(l2.l_extendedprice) FROM lineitem l2
          WHERE l2.l_partkey = p.p_partkey
      )
    ORDER BY p.p_partkey, l.l_suppkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: lineitem stands in for partsupp):
    correlated scalar subquery on a per-part MIN. Catalyst rewrites
    the correlation into an aggregate + join — same plan you'd write
    by hand, declared relationally."""
    for t in ("part", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_brand, l.l_suppkey,
               CAST(l.l_extendedprice AS DOUBLE) AS price
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE p.p_size <= 5
          AND l.l_extendedprice = (
              SELECT MIN(l2.l_extendedprice) FROM lineitem l2
              WHERE l2.l_partkey = p.p_partkey
          )
        ORDER BY p.p_partkey, l.l_suppkey
        """
    )


@query(
    "q16_supplier_counts",
    oracle="""
    SELECT p_brand, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    LIMIT 40
    """,
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN (→ null-aware anti join) + distinct
    aggregate over a join."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p.filter(F.col("p_brand") != "Brand#1"), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_size").asc(),
        )
        .limit(40)
    )


@query(
    "q22_idle_rich_customers",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 300000
      )
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar subquery (global average
    as a broadcast single-row cross join — one plan, no driver
    round-trip, AQE sees the whole query) + NOT EXISTS on a filtered
    probe (anti join against high-value orders) + aggregate."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("__avg_bal"))
    )
    big_orders = o.filter(F.col("o_totalprice") > 300000)
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .drop("__avg_bal")
        .join(big_orders, c.c_custkey == big_orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "unpivot_metrics",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part WHERE p_partkey < 200
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric,
           CAST(p_retailprice AS DOUBLE) AS value
    FROM part WHERE p_partkey < 200
    ORDER BY p_partkey, metric
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (the inverse of the pivot query): wide metric
    columns to (key, metric, value) rows — ``DataFrame.unpivot``,
    which expands row-local (no shuffle), vs the oracle's UNION ALL
    formulation."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    return (
        p.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            F.col("p_retailprice").cast("double").alias("p_retailprice"),
        )
        .unpivot(
            ["p_partkey"],
            ["p_size", "p_retailprice"],
            "metric",
            "value",
        )
        .orderBy("p_partkey", "metric")
    )


@query(
    "text_tfidf_topterms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents WHERE doc_id < 100
    ),
    tf AS (
        SELECT doc_id, t.term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents WHERE doc_id < 100) t
        GROUP BY doc_id, t.term
    ),
    df AS (
        SELECT term, COUNT(*) AS df FROM tok GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents WHERE doc_id < 100),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               CAST(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS DOUBLE)
                   AS tfidf
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, tf, tfidf
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term
        ) AS rk
        FROM scored
    )
    WHERE rk <= 3
    ORDER BY doc_id, tfidf DESC, term
    """,
    headline=True,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (SURVEY §2.3 text analysis):
    explode terms → per-(doc,term) counts → document frequencies →
    broadcast-join idf → per-doc top-k via WindowGroupLimit. The df
    side is tiny relative to the corpus (vocabulary-sized), so the
    only big shuffle is the (doc,term) count."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    )
    # n_docs rides the plan as a broadcast 1-row aggregate instead of
    # a driver-side docs.count() — the count() forced a separate
    # blocking job on every construction (round-4 bench regression
    # suspect) and would serialize the DAG submission at scale
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    terms = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    # stage the (doc, term) counts once: they feed the score join AND
    # the document-frequency rollup. df is derived FROM tf — tf's rows
    # are exactly the distinct (doc, term) pairs, so grouping them by
    # term equals the old explode→distinct→count pipeline while
    # skipping a second tokenize pass and its shuffle (2 Exchanges on
    # exploded terms → 1).
    tf = stage(
        terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")),
        "tfidf_tf",
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            (
                F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
            ).cast("double"),
        )
        .drop("n_docs")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "tfidf")
        .orderBy("doc_id", F.col("tfidf").desc(), "term")
    )


@query(
    "sqlite_compat_aggs",
    oracle="""
    SELECT n_name,
           string_agg(s_name, ',' ORDER BY s_name)
               FILTER (s_name GLOB 'Supplier#00000001*') AS glob_matches,
           CAST(COALESCE(SUM(s_acctbal) FILTER (s_acctbal > 9000), 0.0)
                AS DOUBLE) AS total_rich
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def sqlite_compat_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite-dialect aggregate parity (SURVEY §2.2 agg list):
    GROUP_CONCAT → ordered ``array_join(sort_array(collect_list))``,
    TOTAL → ``coalesce(sum, 0.0)`` (TOTAL returns 0.0, not NULL, on
    empty input — the SQLite quirk), GLOB → anchored ``rlike`` with
    ``*``→``.*`` translation (vs DuckDB's native GLOB operator)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    glob_match = F.col("s_name").rlike("^Supplier#00000001.*$")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            # SQLite/DuckDB group_concat over an empty set is NULL,
            # not '' — guard on the collected size
            F.when(
                F.size(
                    F.sort_array(
                        F.collect_list(F.when(glob_match, F.col("s_name")))
                    )
                )
                > 0,
                F.array_join(
                    F.sort_array(
                        F.collect_list(F.when(glob_match, F.col("s_name")))
                    ),
                    ",",
                ),
            ).alias("glob_matches"),
            F.coalesce(
                F.sum(
                    F.when(F.col("s_acctbal") > 9000, F.col("s_acctbal"))
                ),
                F.lit(0.0),
            )
            .cast("double")
            .alias("total_rich"),
        )
        .orderBy("n_name")
    )


@query(
    "lateral_top_order",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS top_price
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 1
    ) o
    WHERE c.c_custkey < 300
    ORDER BY c.c_custkey
    """,
)
def lateral_top_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (per-row dependent subquery with
    ORDER BY + LIMIT — the 'top order per customer' shape): Spark SQL
    supports LATERAL since 3.2, and Catalyst decorrelates it into the
    same windowed plan you'd write by hand. Complements the window
    top-k query with the other idiom users actually write."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey,
               CAST(o.o_totalprice AS DOUBLE) AS top_price
        FROM customer c JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 1
        ) o
        WHERE c.c_custkey < 300
        ORDER BY c.c_custkey
        """
    )


@query(
    "agg_stats_moments",
    oracle="""
    SELECT o_orderpriority,
           CAST(corr(o_totalprice, epoch_us(CAST(o_orderdate AS TIMESTAMP)))
                AS DOUBLE) AS price_date_corr,
           CAST(covar_samp(o_totalprice, o_custkey) / 1e6 AS DOUBLE)
               AS price_cust_cov_m,
           CAST(stddev_samp(o_totalprice) / 1e3 AS DOUBLE) AS price_sd_k,
           CAST(var_samp(o_totalprice) / 1e9 AS DOUBLE) AS price_var_b
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: Pearson correlation, sample
    covariance/stddev/variance — single-pass partial-mergeable
    moments. Outputs are unit-scaled (cov in 1e6, sd in 1e3, var in
    1e9) so the oracle's 6-decimal canonical rounding sits above the
    engines' co-moment accumulation-order noise, which grows with the
    magnitude of the raw second moments (caught at sf0.1: raw
    variance ~1e10 differs across engines in the last few ulps,
    i.e. by more than 1e-6 absolute)."""
    o = load_table(spark, sf_dir, "orders")
    date_us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.corr("o_totalprice", date_us).alias("price_date_corr"),
            (
                F.covar_samp("o_totalprice", F.col("o_custkey").cast("double"))
                / 1e6
            ).alias("price_cust_cov_m"),
            (F.stddev_samp("o_totalprice") / 1e3).alias("price_sd_k"),
            (F.var_samp("o_totalprice") / 1e9).alias("price_var_b"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "histogram_width_bucket",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 500000 THEN 21
                ELSE 1 + CAST(FLOOR(o_totalprice * 20.0 / 500000) AS BIGINT)
           END AS bucket,
           COUNT(*) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM orders
    GROUP BY 1
    ORDER BY bucket
    """,
)
def histogram_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via ``width_bucket`` — the scalable
    histogram shape (bucket assignment is row-local; one aggregation
    shuffle on the bucket id)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(500000), F.lit(20))
            .alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").cast("double").alias("lo"),
            F.max("o_totalprice").cast("double").alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "date_arithmetic_extra",
    oracle="""
    SELECT o_orderkey,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_3m,
           CAST(dayofweek(o_orderdate) AS BIGINT) AS dow_sun0,
           CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week
    FROM orders
    WHERE o_orderkey < 300
    ORDER BY o_orderkey
    """,
)
def date_arithmetic_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic tranche 2: month-end, month offsets,
    day-of-week (normalized to DuckDB's Sunday=0 convention — Spark's
    ``dayofweek`` is Sunday=1), ISO week number."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    od = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.last_day(od).alias("month_end"),
        F.add_months(od, 3).alias("plus_3m"),
        (F.dayofweek(od) - 1).cast("long").alias("dow_sun0"),
        F.weekofyear(od).cast("long").alias("iso_week"),
    ).orderBy("o_orderkey")


@query(
    "regexp_extraction",
    oracle="""
    SELECT p_partkey,
           CAST(regexp_extract(p_brand, '#([0-9]+)', 1) AS BIGINT) AS brand_num,
           regexp_extract(p_type, '^([a-z]+)', 1) AS type_head,
           CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS n_vowels,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
    FROM part
    WHERE p_partkey < 200
    ORDER BY p_partkey
    """,
)
def regexp_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar family: capture-group extraction, extract-all
    cardinality, global replace — all JVM-side (SQLite exposes these
    only via its optional regexp extension; Spark has them built in)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", "#([0-9]+)", 1)
        .cast("long")
        .alias("brand_num"),
        F.regexp_extract("p_type", "^([a-z]+)", 1).alias("type_head"),
        F.size(F.regexp_extract_all("p_name", F.lit("[aeiou]"), 0))
        .cast("long")
        .alias("n_vowels"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
    ).orderBy("p_partkey")


@query(
    "agg_argmax",
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice) AS top_orderkey,
           arg_min(o_orderkey, o_totalprice) AS bottom_orderkey,
           CAST(MAX(o_totalprice) AS DOUBLE) AS top_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max/arg-min aggregates (``max_by``/``min_by``): the
    "key of the extreme row" shape that otherwise costs a window +
    filter — one aggregation shuffle, partial-mergeable. (o_totalprice
    values are distinct within groups at fixture scale, so the picked
    keys are deterministic across engines.)"""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_orderkey", "o_totalprice").alias("top_orderkey"),
            F.min_by("o_orderkey", "o_totalprice").alias("bottom_orderkey"),
            F.max("o_totalprice").cast("double").alias("top_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "sample_systematic",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_sampled,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sample_sum
    FROM events
    WHERE event_id % 20 = 7
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (deterministic) sampling — ``key % k = r`` — the
    reproducible subsampling every large-scale pipeline needs for
    dev slices and A/B splits (vs ``df.sample``, whose per-engine RNG
    can't be oracle-compared; Bernoulli sampling at scale should key
    off a hash of a stable id exactly like this, never off row
    position)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_id") % 20 == 7)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sample_sum"),
        )
        .orderBy("event_type")
    )


@query(
    "profile_columns",
    oracle="""
    SELECT 'o_custkey' AS col,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_custkey) AS n_null,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_val,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(MIN(o_totalprice) AS DOUBLE),
           CAST(MAX(o_totalprice) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate',
           COUNT(*), COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate),
           CAST(epoch_us(CAST(MIN(o_orderdate) AS TIMESTAMP)) AS DOUBLE),
           CAST(epoch_us(CAST(MAX(o_orderdate) AS TIMESTAMP)) AS DOUBLE)
    FROM orders
    ORDER BY col
    """,
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the ANALYZE/data-quality primitive every
    pipeline runs before trusting a new drop): per-column row/null/
    distinct counts and min/max, computed in ONE pass over the table —
    all profiles are aggregates of the same scan, so Spark reads the
    parquet once regardless of column count (vs the oracle's
    three-scan UNION formulation)."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_totalprice", "o_orderdate"]

    def as_num(c):
        # temporal columns profile via their epoch micros
        if dict(o.dtypes)[c] in ("date", "timestamp", "timestamp_ntz"):
            return F.unix_micros(F.col(c).cast("timestamp"))
        return F.col(c)

    profiled = o.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            a
            for c in cols
            for a in (
                (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nnull"),
                F.countDistinct(c).alias(f"{c}__nd"),
                F.min(as_num(c)).cast("double").alias(f"{c}__min"),
                F.max(as_num(c)).cast("double").alias(f"{c}__max"),
            )
        ],
    )
    per_col = [
        profiled.select(
            F.lit(c).alias("col"),
            F.col("__n").alias("n_rows"),
            F.col(f"{c}__nnull").alias("n_null"),
            F.col(f"{c}__nd").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_val"),
            F.col(f"{c}__max").alias("max_val"),
        )
        for c in cols
    ]
    out = per_col[0]
    for extra in per_col[1:]:
        out = out.unionByName(extra)
    return out.orderBy("col")


@query("sketch_approx_aggs")
def sketch_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch aggregates — the 100 TB substitutes for exact
    DISTINCT/percentile (single pass, bounded memory, partial-merge
    across partitions): HyperLogLog++ ``approx_count_distinct`` and
    t-digest-style ``percentile_approx``. Rows-only (estimates are
    engine-specific); error bounds vs exact values are asserted in
    tests/test_queries.py."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.percentile_approx("value", 0.5, 10000).alias("approx_median"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@query(
    "recursive_cte_org_chart",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT s_suppkey AS emp,
               CAST(FLOOR(s_suppkey / 2) AS BIGINT) AS mgr
        FROM supplier WHERE s_suppkey >= 2
    ),
    chain AS (
        SELECT emp, mgr AS anc, 1 AS depth FROM edges
        UNION
        SELECT c.emp, e.mgr, c.depth + 1
        FROM chain c JOIN edges e ON c.anc = e.emp
    )
    SELECT emp, anc, CAST(depth AS BIGINT) AS depth
    FROM chain
    ORDER BY emp, depth
    """,
)
def recursive_cte_org_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH RECURSIVE`` transitive closure (management-chain
    ancestors over the derived reports-to edge ``mgr = floor(emp/2)``)
    via the generic semi-naive fixpoint operator
    (operators/fixpoint.py:recursive_closure) — each round expands
    only the frontier and joins against the (checkpointed, tiny)
    edge table; the oracle runs DuckDB's native recursive CTE."""
    from etl_lens_spark.operators.fixpoint import recursive_closure

    s = load_table(spark, sf_dir, "supplier")
    edges = (
        s.filter(F.col("s_suppkey") >= 2)
        .select(
            F.col("s_suppkey").alias("emp"),
            F.floor(F.col("s_suppkey") / 2).cast("long").alias("mgr"),
        )
        .transform(stage, "org_edges")
    )
    base = edges.select(
        "emp", F.col("mgr").alias("anc"), F.lit(1).cast("long").alias("depth")
    )

    def expand(frontier: DataFrame) -> DataFrame:
        e = edges.select(
            F.col("emp").alias("__e"), F.col("mgr").alias("__m")
        )
        return frontier.join(e, frontier.anc == F.col("__e")).select(
            "emp", F.col("__m").alias("anc"), (F.col("depth") + 1).alias("depth")
        )

    return recursive_closure(base, expand).orderBy("emp", "depth")


@query(
    "pivot_dynamic_discovery",
    oracle="""
    SELECT user_id % 20 AS cohort,
           CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                AS BIGINT) AS click,
           CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END)
                AS BIGINT) AS error,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                AS BIGINT) AS purchase,
           CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END)
                AS BIGINT) AS signup,
           CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                AS BIGINT) AS view
    FROM events
    GROUP BY user_id % 20
    ORDER BY cohort
    """,
)
def pivot_dynamic_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC pivot — ``pivot()`` with NO values list, so Spark
    first DISCOVERS the distinct pivot keys from the data (an extra
    distinct-scan job the static form avoids; the cost model every
    warehouse user should know before pivoting a high-cardinality
    column at 100 TB — bounded here by the event-type vocabulary)
    and then plans the wide aggregate. The discovered column set is
    part of the contract: the oracle enumerates the expected
    vocabulary explicitly, so a missing or extra discovered key
    breaks the schema match, not just the values. Output columns
    come back in Spark's sorted-discovery order, matching the
    oracle's alphabetical listing."""
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 20).alias("cohort"), "event_type"
    )
    out = (
        ev.groupBy("cohort")
        .pivot("event_type")
        .agg(F.count(F.lit(1)))
    )
    # discovered keys → deterministic column order + null→0 for
    # cohorts missing a type entirely
    value_cols = sorted(c for c in out.columns if c != "cohort")
    return out.select(
        "cohort",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in value_cols
        ],
    ).orderBy("cohort")


@query(
    "governance_masked_view",
    oracle="""
    WITH masked AS (
        SELECT c_custkey,
               '***' || substring(c_name, length(c_name) - 2, 3)
                 AS name_masked,
               CAST(FLOOR(c_acctbal / 1000) * 1000 AS BIGINT)
                 AS bal_band,
               c_mktsegment
        FROM customer
        WHERE c_nationkey < 10
    )
    SELECT c_mktsegment, bal_band,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT name_masked) AS BIGINT)
             AS n_masked_names,
           MIN(name_masked) AS sample_masked
    FROM masked
    GROUP BY c_mktsegment, bal_band
    ORDER BY c_mktsegment, bal_band
    """,
)
def governance_masked_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row- and column-level GOVERNANCE as a secured VIEW — the
    warehouse pattern for sharing a table without exposing it:
    column masking (names reduced to a '***'+suffix mask),
    value banding (balances coarsened to 1000-wide bands — the
    k-anonymity generalization step), and a row-level security
    predicate (nations < 10 only), all defined ONCE as a temp view
    that downstream queries consume untrusted. The consumer query
    then aggregates the masked surface; the oracle applies the same
    policy relationally, so mask format, banding arithmetic, and the
    row filter are all pinned. Catalyst collapses view + consumer
    into one scan with the RLS predicate pushed down — governance
    costs nothing at 100 TB when it's expressed declaratively.

    Negative-balance banding floors toward -inf on BOTH engines
    (FLOOR, not integer division)."""
    cust = load_table(spark, sf_dir, "customer")
    masked = cust.filter(F.col("c_nationkey") < 10).select(
        "c_custkey",
        F.concat(
            F.lit("***"),
            F.substring(F.col("c_name"), -3, 3),
        ).alias("name_masked"),
        (F.floor(F.col("c_acctbal") / 1000) * 1000)
        .cast("long")
        .alias("bal_band"),
        "c_mktsegment",
    )
    masked.createOrReplaceTempView("customer_masked_v")
    return spark.sql(
        """
        SELECT c_mktsegment, bal_band,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT name_masked) AS BIGINT)
                 AS n_masked_names,
               MIN(name_masked) AS sample_masked
        FROM customer_masked_v
        GROUP BY c_mktsegment, bal_band
        ORDER BY c_mktsegment, bal_band
        """
    )
