"""Extended relational coverage: subqueries, pivot, statistics,
string aggregation, first/last windows, histograms (SURVEY.md §2
"complete surface" follow-through).

Catalyst decorrelates the subquery shapes into joins
(RewriteCorrelatedScalarSubquery — §4 table), so none of these need
custom planning; they exist to pin cross-engine semantics and to make
the engine's SQL surface (EP2) demonstrably complete.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from processor_spark.registry import register
from processor_spark.sources import load


@register(
    "q_subquery_scalar",
    sql="""
    SELECT o_orderkey, o_totalprice,
           round(o_totalprice - (SELECT avg(o_totalprice) FROM orders), 4) AS delta_from_avg
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price.

    Built via the same SQL entry point Catalyst gives users (EP2) —
    the scalar subquery becomes a broadcast of a 1-row aggregate.
    """
    from processor_spark.sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               round(o_totalprice - (SELECT avg(o_totalprice) FROM orders), 4) AS delta_from_avg
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        """
    )


@register(
    "q_subquery_in",
    sql="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_nationkey IN (
      SELECT n_nationkey FROM nation WHERE n_regionkey IN (0, 1)
    )
    """,
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery (decorrelates to a left-semi join)."""
    from processor_spark.sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_nationkey IN (
          SELECT n_nationkey FROM nation WHERE n_regionkey IN (0, 1)
        )
        """
    )


@register(
    "q_subquery_correlated",
    sql="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_totalprice > 2 * c.c_acctbal
        AND c.c_acctbal > 0
    )
    """,
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with a cross-table predicate (decorrelated to a
    semi join whose condition references both sides)."""
    from processor_spark.sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_totalprice > 2 * c.c_acctbal
            AND c.c_acctbal > 0
        )
        """
    )


@register(
    "q_pivot",
    sql="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts as priority × status cross-tab.

    Uses the native DataFrame pivot with an explicit value list (the
    at-scale form: without it Spark must pre-scan for distinct values).
    Oracle uses portable FILTER aggregates.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("O", F.lit(0)).alias("status_o"),
            F.coalesce("P", F.lit(0)).alias("status_p"),
        )
    )


@register(
    "q_stats_funcs",
    sql="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4)                   AS price_sd,
           round(var_samp(l_quantity), 4)                           AS qty_var,
           round(corr(l_extendedprice, l_quantity), 6)              AS price_qty_corr,
           round(covar_samp(l_extendedprice, l_quantity), 4)        AS price_qty_covar,
           round(regr_slope(l_extendedprice, l_quantity), 4)        AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4)    AS intercept,
           -- DuckDB skewness is the bias-corrected sample G1; Spark's is
           -- population g1 -> convert: g1 = G1 * (n-2) / sqrt(n*(n-1))
           round(skewness(l_extendedprice) * (count(*) - 2)
                 / sqrt(count(*) * (count(*) - 1.0)), 6)            AS price_skew
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_stats_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: stddev/variance/corr/covar/
    regression/skewness — all single-pass mergeable moments (scale-safe)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_sd"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("price_qty_covar"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
        F.round(F.skewness("l_extendedprice"), 6).alias("price_skew"),
    )


@register(
    "q_string_agg",
    sql="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
    FROM nation
    GROUP BY n_regionkey
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation per group (listagg/string_agg).

    Built as sort-canonicalized collect_list + concat — order pinned
    on both sides so the hash check is deterministic.
    """
    n = load(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations_csv")
    )


@register(
    "q_window_first_last",
    sql="""
    SELECT user_id, event_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING) AS last_type,
           nth_value(event_type, 2) OVER w AS second_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value with full-partition frames
    (the frame spec matters: default frames make last_value ≡ current row)."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "user_id",
        "event_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    )


@register(
    "q_histogram",
    sql="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values (the scale-safe histogram:
    bucket key derived per row, one hash agg, no sort)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000.0).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "q_unpivot",
    sql="""
    SELECT p_partkey, metric, value
    FROM (
      SELECT p_partkey,
             CAST(p_size AS DOUBLE) AS size,
             p_retailprice AS retailprice
      FROM part
    )
    UNPIVOT (value FOR metric IN (size, retailprice))
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide part attributes to (metric, value) long form —
    zero-shuffle row expansion (the Expand operator)."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return p.unpivot("p_partkey", ["size", "retailprice"], "metric", "value")


@register(
    "q_null_funcs",
    sql="""
    SELECT s_suppkey,
           nullif(s_nationkey, 0)                          AS nat_or_null,
           coalesce(nullif(s_nationkey, 0), -1)            AS nat_filled,
           CASE WHEN nullif(s_acctbal, 0.0) IS NULL THEN 'zero' ELSE 'nonzero' END AS bal_class,
           ifnull(nullif(s_name, ''), 'unnamed')           AS name_or_default
    FROM supplier
    """,
)
def q_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling family: nullif / coalesce / ifnull / IS NULL logic
    (fixtures are null-free, so nulls are manufactured via nullif)."""
    s = load(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.nullif(F.col("s_nationkey"), F.lit(0)).alias("nat_or_null"),
        F.coalesce(F.nullif(F.col("s_nationkey"), F.lit(0)), F.lit(-1)).alias("nat_filled"),
        F.when(F.nullif(F.col("s_acctbal"), F.lit(0.0)).isNull(), "zero")
        .otherwise("nonzero")
        .alias("bal_class"),
        F.ifnull(F.nullif(F.col("s_name"), F.lit("")), F.lit("unnamed")).alias(
            "name_or_default"
        ),
    )


@register(
    "q_arg_minmax",
    sql="""
    -- DuckDB 1.0 arg_max can't order by a composite key; the window
    -- formulation below is the deterministic equivalent
    WITH ranked AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
      FROM orders
    )
    SELECT o_orderpriority,
           max(CASE WHEN rmax = 1 THEN o_orderkey END) AS biggest_order,
           max(CASE WHEN rmin = 1 THEN o_orderkey END) AS smallest_order,
           round(max(o_totalprice), 2) AS max_price
    FROM ranked
    GROUP BY o_orderpriority
    """,
)
def q_arg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg_min/arg_max (min_by/max_by): the orderkey of the extreme-priced
    order per priority; ties broken by orderkey via struct ordering so
    both engines pick the same row."""
    o = load(spark, sf_dir, "orders")
    key = F.struct("o_totalprice", "o_orderkey")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", key).alias("biggest_order"),
        F.min_by("o_orderkey", key).alias("smallest_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@register("q_sample", sql=None)  # sampling differs across engines → rows-only (SURVEY §2.6)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample of lineitem (dev-path operator; never in
    the oracle set because engines draw differently)."""
    li = load(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select("l_orderkey", "l_linenumber")


@register("q_sample_stratified")
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-class) sampling via df.sampleBy — the
    class-balancing primitive for training-data curation: rare
    classes kept whole, dominant classes downsampled.  Seeded
    Bernoulli per stratum, embarrassingly parallel (no shuffle at
    all: the filter runs inside the scan stage).  Sampling RNGs
    differ across engines, so like q_sample this is rows-only
    (SURVEY.md §2.6)."""
    o = load(spark, sf_dir, "orders")
    fractions = {"F": 0.1, "O": 0.1, "P": 1.0}
    return o.sampleBy("o_orderstatus", fractions, seed=42).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "q_table_checksum",
    sql="""
    WITH canon AS (
      SELECT CAST(('0x' || substr(md5(
               CAST(l_orderkey AS VARCHAR) || '|' ||
               CAST(l_linenumber AS VARCHAR) || '|' ||
               l_returnflag || '|' ||
               CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR) || '|' ||
               CAST(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS VARCHAR) || '|' ||
               strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')
             ), 1, 12)) AS BIGINT) AS h
      FROM lineitem
    )
    SELECT count(*) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS xor_sig,
           CAST(sum(h >> 16) AS BIGINT) AS sum_sig
    FROM canon
    """,
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant table fingerprint — the anti-entropy check a
    100 TB migration/replication runs to prove two copies of a table
    are identical without moving the data: each row is canonically
    serialized (exact integer cents for doubles, fixed timestamp
    format), digested to a portable 48-bit md5 int, and folded with
    order-invariant combiners (count + bit_xor + a shifted sum, so a
    dropped row, a flipped value, and a duplicated row are each
    detectable).  One map-side-combinable agg over a pruned scan —
    no shuffle beyond the 1-row final combine; run it on both sides
    of a copy and compare three numbers.

    The shifted sum keeps every partial in 32-bit range (overflow-safe
    to ~4e9 rows under ANSI mode; DuckDB's HUGEINT sum is bridged with
    CAST); xor never overflows and catches what the truncated sum
    might miss.
    """
    li = load(spark, sf_dir, "lineitem")
    cents = lambda c: F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long").cast("string")  # noqa: E731
    canon = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_returnflag"),
        cents("l_extendedprice"),
        cents("l_quantity"),
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss"),
    )
    h = F.conv(F.substring(F.md5(canon.cast("binary")), 1, 12), 16, 10).cast("long")
    return li.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(h)").cast("long").alias("xor_sig"),
        F.sum(F.shiftright(F.col("h"), 16)).cast("long").alias("sum_sig"),
    )


@register(
    "q_skyline",
    sql="""
    WITH pts AS (
      SELECT p_partkey,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c,
             p_size
      FROM part
    ), flags AS (
      SELECT p_partkey, price_c, p_size,
             min(p_size) OVER (ORDER BY price_c
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_s_cheaper,
             min(p_size) OVER (PARTITION BY price_c) AS min_s_same
      FROM pts
    )
    SELECT p_partkey, price_c, CAST(p_size AS INTEGER) AS p_size
    FROM flags
    WHERE (min_s_cheaper IS NULL OR min_s_cheaper > p_size)
      AND min_s_same = p_size
    ORDER BY price_c, p_partkey
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (retail price, size) — a part is dominated iff some other part is
    <= on both dims and strictly < on at least one.  The naive form is
    an O(n²) anti self-join; the 2-D-special form used here is ONE
    range window: sort by integer-cent price, a part survives iff no
    strictly-cheaper part has size <= its size (running min over the
    price RANGE frame — the range frame, not rows, handles price ties
    correctly) and no same-price part has a strictly smaller size.
    Scale shape: the fact table never sees a global window — per-price
    minima are ONE map-side-combinable agg (output ≤ #distinct prices,
    dim-sized), the prefix-min runs over THAT small table (its global
    window is a dim-table sort, not a fact sort), and the verdict joins
    back as a broadcast.  Exact integer cents; total ORDER for the
    hash."""
    p = load(spark, sf_dir, "part")
    pts = p.select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long").alias("price_c"),
        "p_size",
    )
    mins = pts.groupBy("price_c").agg(F.min("p_size").alias("min_s_same"))
    # price_c is unique here, so a ROWS frame == the RANGE frame over
    # the raw points; this window runs over the aggregated (small)
    # price table only
    wg = Window.orderBy("price_c").rowsBetween(Window.unboundedPreceding, -1)
    mins = mins.withColumn("min_s_cheaper", F.min("min_s_same").over(wg))
    return (
        pts.join(F.broadcast(mins), "price_c")
        .where(
            (F.col("min_s_cheaper").isNull() | (F.col("min_s_cheaper") > F.col("p_size")))
            & (F.col("min_s_same") == F.col("p_size"))
        )
        .select("p_partkey", "price_c", F.col("p_size").cast("int").alias("p_size"))
        .orderBy("price_c", "p_partkey")
    )


@register(
    "q_k_anonymity",
    sql="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             count(*) AS class_size
      FROM customer
      GROUP BY c_nationkey, c_mktsegment, bal_band
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(class_size) AS BIGINT) AS k_anonymity,
           CAST(sum(class_size) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                AS BIGINT) AS rows_at_risk
    FROM classes
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit — the privacy gate run before a dataset with
    quasi-identifiers ships: rows are grouped into equivalence classes
    on (nation, market segment, account-balance band), and each
    (nation, segment) stratum reports its class count, its k-anonymity
    level (the SMALLEST class size — an attacker can narrow any member
    of that class to k candidates), and how many rows sit in classes
    below the k=5 re-identification floor.  Companion to q_pii_scan
    (value detection) — this measures LINKAGE risk, which survives PII
    masking.

    Scale shape: agg-of-agg, both map-side combinable hash aggregates
    keyed on low-cardinality columns; no window, no join, one scan.
    The balance band uses floor(x/1000.0) — identical IEEE division on
    both engines — so class boundaries replay exactly."""
    c = load(spark, sf_dir, "customer")
    classes = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    return classes.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("class_size").alias("k_anonymity"),
        F.sum("class_size").alias("n_rows"),
        F.sum(
            F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(F.lit(0))
        ).alias("rows_at_risk"),
    )


BASKET_TOP = 20


@register(
    "q_basket_pairs",
    sql=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT p1, p2, count(*) AS support
    FROM pairs GROUP BY p1, p2
    ORDER BY support DESC, p1, p2
    LIMIT {BASKET_TOP}
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the {BASKET_TOP} part pairs most often
    bought together in one order (frequent-itemset support counting, the
    k=2 Apriori step).  The oracle is the naive self-join definition;
    the engine instead collects each order's DISTINCT parts into ONE
    sorted array and emits pairs locally with nested array transforms —
    no items×items join, no second shuffle of the fact table.  Baskets
    are naturally bounded (an order has ≤7 lineitems here; retail
    baskets are dozens), so local pair generation is constant work per
    order — the same bounded-posting-list trick as q_dedup_ngram.
    Support ties are totally ordered by (p1, p2) on both engines."""
    li = load(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (p, i) ->"
                " transform(slice(parts, i + 2, size(parts)),"
                " q -> struct(p AS p1, q AS p2))))"
            )
        ).alias("pr")
    ).select("pr.p1", "pr.p2")
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), F.asc("p1"), F.asc("p2"))
        .limit(BASKET_TOP)
    )


@register(
    "q_snapshot_diff",
    sql="""
    WITH a AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c,
             o_orderpriority AS pri
      FROM orders
    ), b AS (
      SELECT k, st,
             CASE WHEN pri = '1-URGENT' THEN price_c + 100 ELSE price_c END AS price_c,
             pri
      FROM a WHERE k % 97 <> 0
      UNION ALL
      SELECT -k, st, price_c, pri FROM a WHERE k % 89 = 0
    ), d AS (
      SELECT CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.st = b.st AND a.price_c = b.price_c AND a.pri = b.pri
                    THEN 'unchanged'
                  ELSE 'changed' END AS change_class,
             COALESCE(a.k, b.k) AS key
      FROM a FULL OUTER JOIN b ON a.k = b.k
    )
    SELECT change_class, count(*) AS n, CAST(bit_xor(key) AS BIGINT) AS key_xor
    FROM d GROUP BY change_class
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — the per-class breakdown a replication
    / migration check needs once q_table_checksum says two copies
    differ: a FULL OUTER join on the primary key classifies every row
    as added / removed / changed / unchanged and folds each class to a
    count plus an order-invariant key signature (bit_xor), so the two
    sides can be reconciled without shipping rows.  The 'later'
    snapshot is derived deterministically (every 97th key dropped,
    urgent orders repriced by +1.00, every 89th key re-added under a
    new negative key), so the oracle replays the whole diff exactly —
    exact integer cents make the payload comparison bit-stable.

    Scale shape: both sides hash-partition on the join key (the B
    derivation is key-preserving, so AQE plans ONE co-partitioned
    sort-merge join); classification is a narrow map over the joined
    stream and the final agg is 4 groups, map-side combinable.  No
    broadcast of anything fact-sized, no window."""
    o = load(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("price_c"),
        F.col("o_orderpriority").alias("pri"),
    )
    b = (
        a.where(F.col("k") % 97 != 0)
        .select(
            "k",
            "st",
            F.when(F.col("pri") == "1-URGENT", F.col("price_c") + 100)
            .otherwise(F.col("price_c"))
            .alias("price_c"),
            "pri",
        )
        .unionAll(
            a.where(F.col("k") % 89 == 0).select(
                (-F.col("k")).alias("k"), "st", "price_c", "pri"
            )
        )
    )
    aa = a.select(
        F.col("k").alias("ak"),
        F.col("st").alias("ast"),
        F.col("price_c").alias("aprice"),
        F.col("pri").alias("apri"),
    )
    bb = b.select(
        F.col("k").alias("bk"),
        F.col("st").alias("bst"),
        F.col("price_c").alias("bprice"),
        F.col("pri").alias("bpri"),
    )
    d = aa.join(bb, aa.ak == bb.bk, "full_outer").select(
        F.when(F.col("ak").isNull(), F.lit("added"))
        .when(F.col("bk").isNull(), F.lit("removed"))
        .when(
            (F.col("ast") == F.col("bst"))
            & (F.col("aprice") == F.col("bprice"))
            & (F.col("apri") == F.col("bpri")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
        .alias("change_class"),
        F.coalesce(F.col("ak"), F.col("bk")).alias("key"),
    )
    return d.groupBy("change_class").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(key)").cast("long").alias("key_xor"),
    )


@register(
    "q_recursive_cte",
    sql="""
    WITH RECURSIVE walk AS (
      SELECT p_partkey, p_partkey AS cur, 0 AS depth FROM part
      UNION ALL
      SELECT p_partkey, cur // 7 AS cur, depth + 1 AS depth
      FROM walk WHERE cur // 7 > 0
    )
    SELECT p_partkey, CAST(cur AS BIGINT) AS root, CAST(depth AS BIGINT) AS depth
    FROM walk WHERE cur // 7 = 0
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE traversal (Spark 4's WITH RECURSIVE — the BOM /
    org-chart walk batch SQL engines historically lacked): every part
    climbs a synthetic 7-ary hierarchy (parent = child div 7) to its
    root, reporting the root id and the climb depth.  The hierarchy is
    derived deterministically from the key, so the oracle replays the
    identical recursion; integer division is exact on both engines for
    the non-negative keys.

    Scale shape: each recursion round is one narrow projection + filter
    over the frontier (no join — the parent is computed, not looked
    up), and the frontier only shrinks; depth is logarithmic in the
    key domain (~7 rounds at sf1), so the unrolled plan stays small.
    With a real edge TABLE each round becomes a frontier⋈edges
    hash-join keyed on the child — the same shape q_dedup_clusters
    hand-rolls with localCheckpoint, which remains the right tool once
    rounds must checkpoint lineage."""
    load(spark, sf_dir, "part").createOrReplaceTempView("part_rc")
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
          SELECT p_partkey, p_partkey AS cur, 0 AS depth FROM part_rc
          UNION ALL
          SELECT p_partkey, cur div 7 AS cur, depth + 1 AS depth
          FROM walk WHERE cur div 7 > 0
        )
        SELECT p_partkey, CAST(cur AS BIGINT) AS root, CAST(depth AS BIGINT) AS depth
        FROM walk WHERE cur div 7 = 0
        """
    )


@register(
    "q_regression_slope",
    sql="""
    WITH pts AS (
      SELECT o_orderpriority,
             datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS x,
             CAST(floor(o_totalprice + 0.5) AS BIGINT) AS y
      FROM orders
    ), s AS (
      SELECT o_orderpriority,
             count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
           CAST(floor(
             CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT) AS slope_micro
    FROM s
    """,
)
def q_regression_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS trend: the least-squares slope of order value
    (dollars) over time (days) per priority class — the feature/drift
    primitive behind "is spend trending up?".  The closed form
    n·Σxy − Σx·Σy over n·Σx² − (Σx)² is computed from EXACT integer
    sums (days and whole dollars), so partition sum-order cannot move
    a bit; the only float op is ONE division of two identical exact
    integers — IEEE-identical on both engines — snapped to integer
    micro-units.

    Scale shape: one map-side-combinable hash agg over a 3-column
    projection (x·y products fold into the scan stage); no window, no
    join.  The per-row sums stay int64 (x·y ≤ ~1.2e9); the FINAL
    n·Σxy − Σx·Σy combine runs in 128-bit (Spark DECIMAL(20,0)
    widening, DuckDB HUGEINT) because it overflows int64 past ~30k
    rows/group — the 8× scale probe caught exactly that, and the
    128-bit exact value rounds to the identical double on both
    engines.  Good to ~1e9 rows/group; past that, center x per group
    first (the slope is shift-invariant)."""
    o = load(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderpriority",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).cast("long").alias("x"),
        F.floor(F.col("o_totalprice") + F.lit(0.5)).cast("long").alias("y"),
    )
    s = pts.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # 128-bit intermediates (DECIMAL(38,0) ↔ DuckDB HUGEINT): n·Σxy
    # overflows int64 past ~30k rows/group at these value ranges — the
    # 8× scale probe caught exactly that — and the exact 128-bit
    # integer rounds to the IDENTICAL double on both engines before
    # the one float division
    big = lambda c: F.col(c).cast("decimal(20,0)")  # noqa: E731
    num = (big("n") * big("sxy") - big("sx") * big("sy")).cast("double")
    den = (big("n") * big("sxx") - big("sx") * big("sx")).cast("double")
    return s.select(
        "o_orderpriority",
        "n",
        F.floor(num / den * 1000000 + F.lit(0.5)).cast("long").alias("slope_micro"),
    )


@register(
    "q_gini",
    sql="""
    WITH pts AS (
      SELECT o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ), ranked AS (
      SELECT o_orderpriority, cents,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY cents, o_orderkey) AS i
      FROM pts
    ), s AS (
      SELECT o_orderpriority,
             count(*) AS n,
             CAST(sum(cents) AS HUGEINT) AS sy,
             CAST(sum(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS s1
      FROM ranked GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
           CAST(floor(
             CAST(2 * s1 - (n + 1) * sy AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * sy AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT) AS gini_micro
    FROM s
    """,
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of order value per priority class
    — the inequality/concentration metric behind "is revenue dominated
    by a few whales?" (and, in a training-data pipeline, "is the corpus
    dominated by a few domains?").  The rank form
    G = (2·Σi·yᵢ − (n+1)·Σy) / (n·Σy) over ascending-sorted values is
    exact integer arithmetic end-to-end: cents, ranks, and the rank-
    weighted sum in 128-bit (Σi·y overflows int64 past ~30k
    rows/group), with ONE final division of identical exact integers.
    Rank ties on equal cents are broken by order key, which cannot
    change Σi·y (equal values commute), so the statistic is
    order-independent.

    Scale shape: one per-group sort window over the fact (the honest
    cost of an exact rank statistic — same shape as q_window_rank)
    then a map-side-combinable agg; at 100 TB compute G from a
    quantile-binned Lorenz curve instead (error ≤ bin width, no
    row-level sort)."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    ranked = pts.withColumn("i", F.row_number().over(w))
    s = ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("decimal(20,0)").alias("sy"),
        F.sum(F.col("i").cast("decimal(20,0)") * F.col("cents").cast("decimal(20,0)"))
        .alias("s1"),
    )
    num = (
        2 * F.col("s1") - (F.col("n") + 1).cast("decimal(20,0)") * F.col("sy")
    ).cast("double")
    den = (F.col("n").cast("decimal(20,0)") * F.col("sy")).cast("double")
    return s.select(
        "o_orderpriority",
        "n",
        F.floor(num / den * 1000000 + F.lit(0.5)).cast("long").alias("gini_micro"),
    )


@register(
    "q_rfm_segmentation",
    sql="""
    WITH cust AS (
      SELECT o_custkey,
             datediff('day', max(o_orderdate), TIMESTAMP '2001-09-01 00:00:00')
               AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey, monetary_cents,
             ntile(5) OVER (ORDER BY recency_days, o_custkey)        AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey)      AS f_score,
             ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_score
      FROM cust
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic marketing-analytics
    cube: per customer, Recency (days since last order at a fixed
    reference date), Frequency (order count), Monetary (lifetime
    cents), each quintile-scored 1-5 with a deterministic total order
    (metric, then customer key — ntile is only reproducible under a
    total order), then segment-level counts and value.  Best customers
    score (1,1,1): recent, frequent, high-spend.

    Scale shape: the fact table collapses in ONE map-side-combinable
    per-customer agg; each quintile score is then a distributed rank
    (range-partition + local rank + broadcast offsets — see
    windows.distributed_rank) over the customer table with the exact
    ntile(5) bucket arithmetic applied to (rank, n) — customers grow
    with the lake, so even the dim-sized ntile must never be a
    single-task global sort (VERDICT r4 #1).  The final cube is a
    ≤125-group agg."""
    from processor_spark.operators.windows import distributed_rank, ntile_expr

    o = load(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.datediff(F.lit("2001-09-01"), F.max("o_orderdate"))
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias(
            "monetary_cents"
        ),
    )
    scored = cust
    for score, order in (
        ("r_score", [F.asc("recency_days"), F.asc("o_custkey")]),
        ("f_score", [F.desc("frequency"), F.asc("o_custkey")]),
        ("m_score", [F.desc("monetary_cents"), F.asc("o_custkey")]),
    ):
        scored = (
            distributed_rank(scored, order)
            .withColumn(score, F.expr(ntile_expr("__rank", "__n", 5)).cast("int"))
            .drop("__rank", "__n")
        )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary_cents").alias("segment_cents"),
    )


@register(
    "q_fk_integrity",
    sql="""
    SELECT 'orders->customer' AS relationship,
           (SELECT count(*) FROM orders) AS n_child_rows,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem->orders',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'customer->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    """,
)
def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the conformance check a lake runs
    before trusting joins: orphan counts for every declared
    foreign-key edge (child rows whose parent key does not exist).
    Complements q_data_quality (value-level) and q_table_checksum
    (content-level) with RELATIONSHIP-level quality; a non-zero orphan
    count is exactly the row set an inner join silently drops.

    Scale shape: each edge is one LEFT ANTI join counted — Spark plans
    the dim-parent edges as broadcast anti joins and the
    lineitem→orders edge as a co-partitioned shuffle anti join; counts
    are 1-row aggs unioned.  No row data moves to the driver."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    p = load(spark, sf_dir, "part")
    n = load(spark, sf_dir, "nation")

    def edge(name, child, child_key, parent, parent_key):
        # ONE pass per edge: left join the distinct parent keys and
        # count total + unmatched in the same agg (a count + a separate
        # anti-join would scan the child twice per edge — CLAUDE.md
        # shared-subplan rule)
        pk = parent.select(
            parent[parent_key].alias("__pk"), F.lit(1).alias("__hit")
        ).distinct()
        return (
            child.join(pk, child[child_key] == pk["__pk"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_child_rows"),
                F.count_if(F.col("__hit").isNull()).alias("n_orphans"),
            )
            .select(
                F.lit(name).alias("relationship"), "n_child_rows", "n_orphans"
            )
        )

    return (
        edge("orders->customer", o, "o_custkey", c, "c_custkey")
        .unionAll(edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey"))
        .unionAll(edge("lineitem->part", li, "l_partkey", p, "p_partkey"))
        .unionAll(edge("customer->nation", c, "c_nationkey", n, "n_nationkey"))
    )


# Benford first-digit probabilities log10(1+1/d), computed ONCE in
# Python and embedded as identical double literals in BOTH engines'
# expression text — the log never runs inside either engine, so the
# no-libm-divergence rule holds.
import math as _math

_BENFORD_P = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}
_BENFORD_SQL_P = " ".join(
    # CAST: DuckDB otherwise parses the literal as DECIMAL and keeps
    # the whole chi-square tree in decimal arithmetic (overflows and
    # diverges from Spark's double tree)
    f"WHEN {d} THEN CAST({p!r} AS DOUBLE)" for d, p in _BENFORD_P.items()
)


@register(
    "q_benford",
    sql=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS d
      FROM orders WHERE o_totalprice >= 1
    ), counts AS (
      SELECT d, count(*) AS observed FROM digits GROUP BY d
    ), tot AS (
      SELECT CAST(sum(observed) AS BIGINT) AS n FROM counts
    )
    SELECT c.d, c.observed,
           CAST(floor((CASE c.d {_BENFORD_SQL_P} END) * t.n + 0.5) AS BIGINT)
             AS expected,
           CAST(floor(
             (c.observed - (CASE c.d {_BENFORD_SQL_P} END) * t.n)
             * (c.observed - (CASE c.d {_BENFORD_SQL_P} END) * t.n)
             / ((CASE c.d {_BENFORD_SQL_P} END) * t.n)
             * 1000000 + 0.5) AS BIGINT) AS chi2_contrib_micro
    FROM counts c CROSS JOIN tot t
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen — the forensic-accounting audit
    for fabricated numbers: the leading digit of each order total is
    compared against the log-distribution P(d)=log10(1+1/d).  The nine
    probabilities are computed ONCE in Python and embedded as the SAME
    double literals in both engines' expression text, so no log
    evaluates inside either engine (the libm-divergence rule); each
    digit's χ² contribution is then a fixed tree of IEEE ops on an
    exact count and an identical literal — bit-stable, snapped to
    micro-units per row with no cross-row float sum.

    Scale shape: leading-digit extraction is a narrow projection (no
    regex), counts are one 9-group map-side-combinable agg, and the
    total n is an unpartitioned window over those nine rows (Spark's
    "No Partition Defined for Window operation" warning is expected
    here), so the comparison runs in the same plan."""
    o = load(spark, sf_dir, "orders")
    digits = o.where(F.col("o_totalprice") >= 1).select(
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("long")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).alias("observed"))
    p = None
    for d, prob in _BENFORD_P.items():
        p = F.when(F.col("d") == d, F.lit(prob)) if p is None else p.when(
            F.col("d") == d, F.lit(prob)
        )
    exp_d = p * F.col("n")
    counts = counts.withColumn("n", F.sum("observed").over(Window.partitionBy()))
    return counts.select(
        "d",
        "observed",
        F.floor(exp_d + F.lit(0.5)).cast("long").alias("expected"),
        F.floor(
            (F.col("observed") - exp_d) * (F.col("observed") - exp_d) / exp_d * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("chi2_contrib_micro"),
    )


@register(
    "q_rr_counts",
    sql="""
    WITH cats AS (
      SELECT list(event_type ORDER BY event_type) AS cats
      FROM (SELECT DISTINCT event_type FROM events)
    ), tot AS (
      SELECT count(*) AS n FROM events
    ), noisy AS (
      SELECT e.event_type AS true_type,
             CASE WHEN e.h % 4 < 3 THEN e.event_type
                  ELSE c.cats[CAST((e.h // 4) % len(c.cats) AS INT) + 1]
             END AS reported
      FROM (
        SELECT event_type,
               CAST('0x' || substr(md5('rr:' || CAST(event_id AS VARCHAR)), 1, 12)
                    AS BIGINT) AS h
        FROM events
      ) e, cats c
    ), truth AS (
      SELECT true_type, count(*) AS true_cnt FROM noisy GROUP BY true_type
    ), obs AS (
      SELECT reported, count(*) AS reported_cnt FROM noisy GROUP BY reported
    )
    SELECT x.cat AS event_type,
           CAST(COALESCE(t.true_cnt, 0) AS BIGINT) AS true_cnt,
           CAST(COALESCE(o.reported_cnt, 0) AS BIGINT) AS reported_cnt,
           CAST((GREATEST(0, 4 * len(c.cats) * COALESCE(o.reported_cnt, 0) - tot.n)
                 * 10000) // (3 * len(c.cats)) AS BIGINT) AS est_e4
    FROM (SELECT unnest(cats) AS cat FROM cats) x
    LEFT JOIN truth t ON t.true_type = x.cat
    LEFT JOIN obs o ON o.reported = x.cat
    CROSS JOIN cats c CROSS JOIN tot
    ORDER BY event_type
    """,
)
def q_rr_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-DP frequency estimation by randomized response: each event
    reports its true type with probability 3/4, else a uniformly
    drawn type (the standard k-ary randomized-response mechanism);
    the aggregate debiases reported counts back to unbiased estimates
    — how a pipeline collects category telemetry without trusting the
    collector with individual rows.

    Portability: the "coin" is the md5 48-bit integer of the event id
    (2 bits pick report-true vs perturb, the rest pick the uniform
    category), so both engines flip IDENTICAL coins and the whole key
    — noise, counts, and the debiased estimate ((4k*obs - n)/(3k),
    clamped at 0, in 1e-4 units via exact integer division, the
    CLAUDE.md div bridge) — is integer-exact.  Scale shape: one
    narrow md5 map over events + two hash aggs; the category list is
    a broadcast 1-row frame."""
    e = load(spark, sf_dir, "events", spread=True)
    cats = (
        e.select("event_type")
        .distinct()
        .groupBy()
        .agg(F.sort_array(F.collect_list("event_type")).alias("cats"))
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("rr:"), F.col("event_id").cast("string")).cast("binary")),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    noisy = (
        e.select("event_type", h.alias("h"))
        .crossJoin(F.broadcast(cats))
        .select(
            F.col("event_type").alias("true_type"),
            F.when(F.pmod(F.col("h"), F.lit(4)) < 3, F.col("event_type"))
            .otherwise(
                F.element_at(
                    "cats",
                    (F.pmod(F.expr("h div 4"), F.size("cats")) + 1).cast("int"),
                )
            )
            .alias("reported"),
        )
    )
    truth = noisy.groupBy(F.col("true_type").alias("cat")).agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    obs = noisy.groupBy(F.col("reported").alias("cat")).agg(
        F.count(F.lit(1)).alias("reported_cnt")
    )
    tot = e.groupBy().agg(F.count(F.lit(1)).alias("n"))
    base = cats.select(F.explode("cats").alias("cat"), F.size("cats").alias("k"))
    return (
        base.join(truth, "cat", "left")
        .join(obs, "cat", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("cat").alias("event_type"),
            F.coalesce("true_cnt", F.lit(0)).cast("long").alias("true_cnt"),
            F.coalesce("reported_cnt", F.lit(0)).cast("long").alias("reported_cnt"),
            F.expr(
                "CAST((greatest(0, 4 * k * coalesce(reported_cnt, 0) - n) * 10000)"
                " div (3 * k) AS BIGINT)"
            ).alias("est_e4"),
        )
        .orderBy("event_type")
    )


@register(
    "q_bootstrap_ci",
    sql="""
    WITH base AS (
      SELECT event_type,
             CAST(floor((value * CAST(1e4 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS y,
             CAST('0x' || substr(md5('bs:' || CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) AS c0, CAST('0x' || substr(md5('bs:' || CAST(event_id AS VARCHAR)), 9, 8) AS BIGINT) AS c1, CAST('0x' || substr(md5('bs:' || CAST(event_id AS VARCHAR)), 17, 8) AS BIGINT) AS c2, CAST('0x' || substr(md5('bs:' || CAST(event_id AS VARCHAR)), 25, 8) AS BIGINT) AS c3
      FROM events
    ), repl AS (
      SELECT event_type, y, r.b, CASE CAST(b // 4 AS INT) WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS h
      FROM base CROSS JOIN (SELECT unnest(range(16)) AS b) r
    ), weighted AS (
      SELECT event_type, b, y, (CASE WHEN ((h >> (8 * (b % 4) + 0)) & 3) = 0 THEN 1 ELSE 0 END) + (CASE WHEN ((h >> (8 * (b % 4) + 2)) & 3) = 0 THEN 1 ELSE 0 END) + (CASE WHEN ((h >> (8 * (b % 4) + 4)) & 3) = 0 THEN 1 ELSE 0 END) + (CASE WHEN ((h >> (8 * (b % 4) + 6)) & 3) = 0 THEN 1 ELSE 0 END) AS w FROM repl
    ), rep_means AS (
      SELECT event_type, b,
             (sum(w * y) * 100) // sum(w) AS m_e6
      FROM weighted GROUP BY event_type, b HAVING sum(w) > 0
    ), ranked AS (
      SELECT event_type, b, m_e6,
             row_number() OVER (PARTITION BY event_type ORDER BY m_e6, b) AS rn,
             count(*) OVER (PARTITION BY event_type) AS max_rn
      FROM rep_means
    ), point AS (
      SELECT event_type, count(*) AS n,
             (sum(CAST(floor((value * CAST(1e4 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)) * 100)
               // count(*) AS mean_e6
      FROM events GROUP BY event_type
    )
    SELECT p.event_type, CAST(p.n AS BIGINT) AS n,
           CAST(p.mean_e6 AS BIGINT) AS mean_e6,
           CAST(max(CASE WHEN r.rn = least(2, r.max_rn) THEN r.m_e6 END) AS BIGINT) AS ci_lo_e6,
           CAST(max(CASE WHEN r.rn = least(15, r.max_rn) THEN r.m_e6 END) AS BIGINT) AS ci_hi_e6
    FROM point p JOIN ranked r ON r.event_type = p.event_type
    GROUP BY p.event_type, p.n, p.mean_e6
    ORDER BY p.event_type
""",
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean value per event type
    — resampling-based uncertainty without any distributional
    assumption, the estimator a pipeline attaches to every metric it
    publishes.  Uses the Poissonized-bootstrap form: replica b weights
    each row Binomial(4, 1/4) (mean 1), so a replica is a valid
    resample drawn ONLINE in one pass — no per-replica shuffle of the
    data, just 16 weighted aggregates that all partial-combine
    map-side.  The CI is the (2nd, 15th) order statistic of the 16
    replica means.

    Portability: the 16x4 binomial trials are 2-bit slices of ONE md5
    digest per row (the CLAUDE.md chunk-family rule: four 32-bit
    chunks per digest = 16 independent 8-bit slices), so both engines
    flip identical coins; values are exact 1e-4-unit integers and the
    replica mean is one exact integer division ((S*100) div W, 1e-6
    units) — the whole key is integer arithmetic end to end."""
    e = load(spark, sf_dir, "events", spread=True)
    dig = F.md5(
        F.concat(F.lit("bs:"), F.col("event_id").cast("string")).cast("binary")
    )
    base = e.select(
        "event_type",
        F.floor((F.col("value") * F.lit(1e4)) + F.lit(0.5)).cast("long").alias("y"),
        dig.alias("dig"),
    ).select(
        "event_type",
        "y",
        *[
            F.conv(F.substring("dig", 8 * k + 1, 8), 16, 10)
            .cast("long")
            .alias(f"c{k}")
            for k in range(4)
        ],
    )
    repl = base.crossJoin(
        spark.range(16).select(F.col("id").cast("int").alias("b"))
    ).withColumn(
        "h",
        F.expr("CASE CAST(b div 4 AS INT) WHEN 0 THEN c0 WHEN 1 THEN c1 "
               "WHEN 2 THEN c2 ELSE c3 END"),
    )
    weighted = repl.select(
        "event_type",
        "b",
        "y",
        F.expr("""(CASE WHEN ((h >> (8 * (b % 4) + 0)) & 3) = 0 THEN 1 ELSE 0 END) + (CASE WHEN ((h >> (8 * (b % 4) + 2)) & 3) = 0 THEN 1 ELSE 0 END) + (CASE WHEN ((h >> (8 * (b % 4) + 4)) & 3) = 0 THEN 1 ELSE 0 END) + (CASE WHEN ((h >> (8 * (b % 4) + 6)) & 3) = 0 THEN 1 ELSE 0 END)""").alias("w"),
    )
    rep_means = (
        weighted.groupBy("event_type", "b")
        .agg(F.sum(F.col("w") * F.col("y")).alias("s"), F.sum("w").alias("wsum"))
        .where(F.col("wsum") > 0)
        .select("event_type", "b", F.expr("(s * 100) div wsum").alias("m_e6"))
    )
    rw = Window.partitionBy("event_type").orderBy("m_e6", "b")
    # Clamp the order-statistic ranks to the surviving replica count:
    # HAVING sum(w) > 0 can drop replicas for tiny groups, so rank 2/15
    # may not exist and the CI would silently come back NULL (ADVICE r7).
    ranked = rep_means.withColumn("rn", F.row_number().over(rw)).withColumn(
        "max_rn", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    point = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "(sum(CAST(floor((value * CAST(1e4 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)) * 100)"
            " div count(*)"
        ).alias("mean_e6"),
    )
    return (
        point.join(ranked, "event_type")
        .groupBy("event_type", "n", "mean_e6")
        .agg(
            F.max(F.when(F.col("rn") == F.least(F.lit(2), F.col("max_rn")), F.col("m_e6")))
            .cast("long")
            .alias("ci_lo_e6"),
            F.max(F.when(F.col("rn") == F.least(F.lit(15), F.col("max_rn")), F.col("m_e6")))
            .cast("long")
            .alias("ci_hi_e6"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("mean_e6").cast("long").alias("mean_e6"),
            "ci_lo_e6",
            "ci_hi_e6",
        )
        .orderBy("event_type")
    )


@register(
    "q_ks_test",
    sql="""
    WITH c AS (
      SELECT CAST(floor((l_extendedprice * CAST(100 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g1,
             CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS g2
      FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ), d AS (
      SELECT cents, sum(g1) AS c1, sum(g2) AS c2 FROM c GROUP BY cents
    ), tot AS (
      SELECT sum(c1) AS n1, sum(c2) AS n2 FROM d
    ), cums AS (
      SELECT cents,
             sum(c1) OVER (ORDER BY cents) AS cum1,
             sum(c2) OVER (ORDER BY cents) AS cum2
      FROM d
    ), diffs AS (
      SELECT cents,
             abs(CAST(cum1 AS HUGEINT) * t.n2 - CAST(cum2 AS HUGEINT) * t.n1) AS diff
      FROM cums, tot t
    ), best AS (
      SELECT diff, cents,
             row_number() OVER (ORDER BY diff DESC, cents) AS rn
      FROM diffs
    )
    SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
           CAST((b.diff * 10000) // (CAST(t.n1 AS HUGEINT) * t.n2) AS BIGINT) AS d_e4,
           CAST(b.cents AS BIGINT) AS at_cents,
           CAST(CASE WHEN CAST(b.diff AS DOUBLE) / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE))
                     > CAST(1.358 AS DOUBLE)
                       * sqrt((CAST(t.n1 AS DOUBLE) + CAST(t.n2 AS DOUBLE))
                              / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)))
                THEN 1 ELSE 0 END AS BIGINT) AS reject_05
    FROM best b, tot t WHERE b.rn = 1
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the 'R'
    and 'N' return-flag price distributions — the continuous
    drift/equality test alongside the categorical q_chi2_drift.
    Integer-exact core: ECDF differences are cross-multiplied
    (|cum1*n2 - cum2*n1| — no rationals), the arg-max location
    tie-breaks on the value, and D is reported in exact 1e-4 units
    (the div bridge; cross-products stay within int64 through the
    64x octave).  The asymptotic alpha=.05 decision uses one sqrt on
    identical exact-integer-derived doubles (IEEE-correctly-rounded
    on both engines).  Scale shape: one hash agg to the distinct-
    value table; windows run over that bounded table only."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag").isin("R", "N"))
    d = (
        li.select(
            F.floor((F.col("l_extendedprice") * F.lit(100.0)) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("g1"),
            F.when(F.col("l_returnflag") == "N", 1).otherwise(0).alias("g2"),
        )
        .groupBy("cents")
        .agg(F.sum("g1").alias("c1"), F.sum("g2").alias("c2"))
    )
    tot = d.groupBy().agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cums = d.select(
        "cents",
        F.sum("c1").over(wc).alias("cum1"),
        F.sum("c2").over(wc).alias("cum2"),
    )
    # 128-bit combine bridge (ADVICE r7): cum*n products and diff*10000
    # only had int64 headroom through the probed 64x octave — widen the
    # combine exactly as q_pareto_share did (decimal(38,0) <-> HUGEINT).
    dec = "decimal(38,0)"
    diffs = cums.crossJoin(F.broadcast(tot)).select(
        "cents",
        "n1",
        "n2",
        F.abs(
            F.col("cum1").cast("decimal(19,0)") * F.col("n2").cast("decimal(19,0)")
            - F.col("cum2").cast("decimal(19,0)") * F.col("n1").cast("decimal(19,0)")
        )
        .cast(dec)
        .alias("diff"),
    )
    wb = Window.orderBy(F.desc("diff"), F.asc("cents"))
    best = diffs.withColumn("rn", F.row_number().over(wb)).where(F.col("rn") == 1)
    return best.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.expr(
            "CAST((diff * CAST(10000 AS decimal(38,0)))"
            " div (CAST(n1 AS decimal(19,0)) * CAST(n2 AS decimal(19,0))) AS BIGINT)"
        ).alias("d_e4"),
        F.col("cents").cast("long").alias("at_cents"),
        F.when(
            F.col("diff").cast("double")
            / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            > F.lit(1.358)
            * F.sqrt(
                (F.col("n1").cast("double") + F.col("n2").cast("double"))
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("reject_05"),
    )


# ------------------------------------------------------------ user growth


@register(
    "q_user_growth",
    sql="""
    WITH ev AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS day_epoch
      FROM events
    ), firsts AS (
      SELECT user_id, min(day_epoch) AS first_day FROM ev GROUP BY user_id
    ), daily AS (
      SELECT day_epoch, count(DISTINCT user_id) AS active_users FROM ev GROUP BY day_epoch
    ), news AS (
      SELECT first_day AS day_epoch, count(*) AS new_users FROM firsts GROUP BY first_day
    )
    SELECT d.day_epoch,
           CAST(d.active_users AS BIGINT) AS active_users,
           CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(d.active_users - coalesce(n.new_users, 0) AS BIGINT) AS returning_users,
           CAST(sum(coalesce(n.new_users, 0)) OVER (ORDER BY d.day_epoch
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
    FROM daily d LEFT JOIN news n ON n.day_epoch = d.day_epoch
    ORDER BY d.day_epoch
    """,
)
def q_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new vs returning users with the cumulative acquisition
    curve — the product-analytics growth primitive (cohort_retention's
    time-major twin).

    Scale shape: two map-side-combinable aggs (per-user first-seen,
    per-day distinct actives) then a window over the DAY-sized table —
    the unpartitioned running sum orders ~tens of rows, never the
    event stream."""
    e = load(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        (F.floor(F.unix_timestamp("ts") / 86400) * 86400).cast("bigint").alias("day_epoch"),
    )
    firsts = ev.groupBy("user_id").agg(F.min("day_epoch").alias("first_day"))
    daily = ev.groupBy("day_epoch").agg(F.countDistinct("user_id").alias("active_users"))
    news = firsts.groupBy(F.col("first_day").alias("day_epoch")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day_epoch").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.join(news, "day_epoch", "left")
        .select(
            "day_epoch",
            F.col("active_users").cast("long").alias("active_users"),
            F.coalesce(F.col("new_users"), F.lit(0)).cast("long").alias("new_users"),
            (F.col("active_users") - F.coalesce(F.col("new_users"), F.lit(0)))
            .cast("long")
            .alias("returning_users"),
            F.sum(F.coalesce(F.col("new_users"), F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cumulative_users"),
        )
        .orderBy("day_epoch")
    )


# ------------------------------------------------------------ l-diversity

_LDIV_FLOOR = 3  # classes with < 3 distinct sensitive values are risky


@register(
    "q_l_diversity",
    sql=f"""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             count(*) AS class_size,
             count(DISTINCT o_orderpriority) AS l_div
      FROM customer
      JOIN orders ON o_custkey = c_custkey
      GROUP BY c_nationkey, c_mktsegment, bal_band
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(l_div) AS BIGINT) AS l_diversity,
           CAST(sum(CASE WHEN l_div < {_LDIV_FLOOR} THEN class_size ELSE 0 END)
                AS BIGINT) AS rows_at_risk
    FROM classes
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's stronger sibling: a class can
    be large (high k) yet still leak if every member shares the same
    SENSITIVE value (here: order priority as the sensitive attribute
    joined onto the customer quasi-identifiers).  Per (nation,
    segment) stratum: class count, the minimum number of distinct
    sensitive values across its classes, and the row mass in classes
    below the l=3 floor (homogeneity-attack exposure).

    Scale shape: one fact join (broadcastable dim side), then the same
    agg-of-agg ladder as q_k_anonymity — count(DISTINCT) over a
    5-value attribute partial-aggregates map-side."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    classes = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.lit(1000.0)).alias("bal_band"),
        )
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("o_orderpriority").alias("l_div"),
        )
    )
    return (
        classes.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("l_div").cast("long").alias("l_diversity"),
            F.sum(
                F.when(F.col("l_div") < _LDIV_FLOOR, F.col("class_size")).otherwise(0)
            )
            .cast("long")
            .alias("rows_at_risk"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


# ------------------------------------------------------------ concentration


@register(
    "q_hhi_concentration",
    sql="""
    WITH sup_rev AS (
      SELECT s.s_nationkey AS nationkey, l.l_suppkey,
             CAST(sum(CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ), nat AS (
      SELECT nationkey,
             count(*) AS n_suppliers,
             CAST(sum(cents) AS BIGINT) AS total_cents,
             sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sq
      FROM sup_rev GROUP BY nationkey
    )
    SELECT nationkey, CAST(n_suppliers AS BIGINT) AS n_suppliers, total_cents,
           CAST(floor(CAST(sq * 1000000 AS DOUBLE)
                      / CAST(CAST(total_cents AS HUGEINT)
                             * CAST(total_cents AS HUGEINT) AS DOUBLE)) AS BIGINT) AS hhi_e6
    FROM nat
    ORDER BY nationkey
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier concentration per nation:
    HHI = sum of squared revenue shares — the antitrust-grade
    concentration measure (1e6 = monopoly, 1e6/n = perfect split).

    Exactness: revenue is integer cents; the share squares are ONE
    128-bit rational sum(c_i^2) / (sum c_i)^2 (Spark decimal chain <->
    DuckDB HUGEINT), so a single float division ends the pipeline.

    Scale shape: two map-side-combinable aggs (supplier revenue, then
    nation rollup with the squared sum fused into the same pass)."""
    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sup_rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nationkey"), "l_suppkey")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint"))
            .cast("long")
            .alias("cents")
        )
    )
    nat = sup_rev.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(F.col("cents").cast("decimal(18,0)") * F.col("cents").cast("decimal(18,0)"))
        .cast("decimal(38,0)")
        .alias("sq"),
    )
    return nat.select(
        "nationkey",
        "n_suppliers",
        "total_cents",
        F.floor(
            (F.col("sq") * F.lit(1000000).cast("decimal(7,0)")).cast("double")
            / (
                F.col("total_cents").cast("decimal(19,0)")
                * F.col("total_cents").cast("decimal(19,0)")
            ).cast("double")
        )
        .cast("long")
        .alias("hhi_e6"),
    ).orderBy("nationkey")


@register(
    "q_pareto_share",
    sql="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
             count(*) OVER () AS n,
             CAST(sum(cents) OVER () AS BIGINT) AS total
      FROM cust
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST(max(total) AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN rn * 5 <= n THEN cents ELSE 0 END) AS BIGINT) AS top20_cents,
           CAST(floor(CAST(CAST(sum(CASE WHEN rn * 5 <= n THEN cents ELSE 0 END)
                                 AS HUGEINT) * 1000000 AS DOUBLE)
                      / CAST(max(total) AS DOUBLE)) AS BIGINT) AS top20_share_e6
    FROM ranked
    """,
)
def q_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: what share of total order value do the
    top 20% of customers carry?  (The 80/20 question every revenue
    review asks.)  Membership in the top quintile is the cross-
    multiplied integer test rn*5 <= n — no float rank arithmetic —
    and the share widens to the 128-bit combine bridge
    (top20 * 1e6 overflows int64 at 8x fixture revenue — the scale
    probe caught it as a loud ANSI error).

    Scale shape: one customer-revenue agg; the ranking runs on the
    customer-sized agg table (at 100 TB: distributed_rank
    (windows.py) replaces the single-partition window — the output
    here is one row, so the agg table is the only sorted stream)."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint"))
        .cast("long")
        .alias("cents")
    )
    w_rank = Window.orderBy(F.desc("cents"), F.asc("o_custkey"))
    ranked = cust.select(
        "cents",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        F.sum("cents").over(Window.partitionBy()).cast("long").alias("total"),
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.max("total").cast("long").alias("total_cents"),
        F.sum(F.when(F.col("rn") * 5 <= F.col("n"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("top20_cents"),
        F.expr(
            "CAST(floor(CAST(CAST(sum(CASE WHEN rn * 5 <= n THEN cents ELSE 0 END)"
            " AS DECIMAL(28,0)) * 1000000 AS DOUBLE)"
            " / CAST(max(total) AS DOUBLE)) AS BIGINT)"
        ).alias("top20_share_e6"),
    )
