"""Relational query surface over the testdata star schema.

Each function mirrors an operator row in SURVEY.md §2 and the reference
query shapes (fact ⋈ dim join at reference scr/etl_relational.py:182-194;
GROUP BY COUNT/AVG at scr/etl_relational.py:197-204), re-expressed on the
TPC-H-ish tables so the DuckDB oracle can check them.

Scale design applied throughout:

* Dimension joins (`nation`, `region`, `supplier`) are explicitly
  ``F.broadcast`` — at 100 TB the fact side never shuffles for these.
* Aggregations go through ``groupBy`` (map-side partial aggregation) and
  only shuffle the grouped keys.
* Projections/filters sit directly on the scan so Catalyst pushes them
  into the parquet reader (verified via ``.explain``: PushedFilters /
  ReadSchema).
* Floating aggregates are rounded in BOTH the Spark plan and the oracle
  SQL so value-hash comparison is stable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_python_sqlite_spark.operators.cache import (
    STAGE_TABLE_ATTR,
    StageMemo,
    bucketed_stage_table,
)
from etl_python_sqlite_spark.sources.parquet import load_table as table


def _dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent SUM for float columns: cast each value to an exact
    DECIMAL first, so partial-aggregation order (which differs run-to-run
    and engine-to-engine) cannot change the result by an ulp. Output cast
    back to double. The oracle SQL mirrors the same cast."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(28,{scale})")).cast("double")


def _units(col: Column | str, scale: int = 2) -> Column:
    """Exact 10^-scale-unit BIGINT of a ``scale``-dp money/qty DOUBLE via
    pure double math: ``floor(x·10^scale + 0.5)``. For a double that is
    the nearest representation of an exact ``scale``-dp value (every
    money/quantity column this schema generates — measured deviation
    ≤4e-9 of an integer at all SFs, nowhere near the 0.5 boundary) this
    recovers the integer bit-identically to
    ``CAST(x AS DECIMAL(p,scale)) · 10^scale`` on BOTH engines — but as
    one IEEE multiply+add+floor per row instead of a per-row BigDecimal
    (Spark stores DECIMAL(p>18) as byte-array BigDecimal in agg buffers;
    guide §2.3 narrower types — measured 2.2× on promo_revenue_ratio).
    The DuckDB twin writes the same formula:
    ``CAST(floor(x * 10^scale + 0.5) AS BIGINT)``.

    Where the AGGREGATE of these units can exceed BIGINT at extreme
    scale, keep the decimal accumulator (`_dsum`) or split hi/lo — each
    rewritten query documents its own headroom; ANSI mode turns any
    overflow into a loud error, never a silent wrap."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * float(10**scale) + F.lit(0.5))


def _scaled_sum(col: Column | str, scale: int) -> Column:
    """SUM as an exact integer in units of 10^-scale (long). Basis for the
    cross-engine-deterministic AVG below."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum((c.cast(f"decimal(28,{scale})") * (10**scale)).cast("long"))


def _avg_expr(p: str, cnt: str, scale: int, round_to: int) -> Column:
    """Deterministic AVG rounded to ``round_to`` decimals, computed entirely
    in integer arithmetic: round_half_up(p / (10^scale · cnt)) at 10^-round_to
    = trunc((2·p·k + cnt) / (2·cnt)) / 10^round_to, k = 10^(round_to-scale).

    Spark ``div`` and DuckDB ``//`` both truncate toward zero, so the oracle
    SQL replays this bit-identically — float ROUND() at half-way points is
    NOT portable across engines (Java rounds the shortest-repr decimal,
    DuckDB the exact binary value), integer math is.
    """
    assert round_to >= scale
    k = 10 ** (round_to - scale)
    # trailing D: Spark parses bare `100.0` as a DECIMAL literal; `100.0D`
    # is a double, keeping the output double like the oracle's
    return F.expr(
        f"((2 * {p} * {k} + {cnt}) div (2 * {cnt})) / {float(10**round_to)}D"
    )


# ---------------------------------------------------------------------------
# J1/J2 — fact ⋈ dim equi-joins (reference scr/etl_relational.py:182-194)
# ---------------------------------------------------------------------------

def fact_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation ⋈ region with projection + rename, ordered by PK.

    The reference's validation join projects fact columns plus the dim's
    natural name under an alias; nation/region are broadcast (small dims).
    """
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            "c_acctbal",
        )
    )


def join_filter_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — join + parameterized equality filter (run-lineage preview shape,
    reference scr/etl_incremental_audit.py:263-269): one region's customers."""
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        )
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"), "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# A2 — GROUP BY + COUNT + AVG (reference scr/etl_relational.py:197-204)
# ---------------------------------------------------------------------------

def groupby_count_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dim-value COUNT(*) + AVG ordered by count desc — the reference's
    per-city aggregate, on customer ⋈ nation."""
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("total_personas"),
            _scaled_sum("c_acctbal", 2).alias("_p"),
            F.count("c_acctbal").alias("_cnt"),
        )
        .select(
            "nation",
            "total_personas",
            _avg_expr("_p", "_cnt", 2, 2).alias("acctbal_promedio"),
        )
    )


# ---------------------------------------------------------------------------
# P1/P5 — projection + business-rule filter
# ---------------------------------------------------------------------------

def filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pushdown-friendly scan: filter + 3-column projection on lineitem.

    The predicate and ReadSchema reach the parquet reader (P1/P5 —
    reference scr/etl_basic.py:20-24 keep-if-above-threshold semantics).
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") >= 25) & (F.col("l_discount") > 0.02))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    )


# ---------------------------------------------------------------------------
# A5 — distinct / dedup-by-natural-key
# ---------------------------------------------------------------------------

def distinct_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct natural keys — the dimension-dedup semantic (UNIQUE nombre,
    reference scr/etl_batch.py:89)."""
    customer = table(spark, sf_dir, "customer")
    return (
        customer.select("c_nationkey", "c_mktsegment")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Anti / semi joins — the idempotent-append primitive (A6/S4)
# ---------------------------------------------------------------------------

def anti_join_new_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with NO orders — left_anti, the "insert only new rows" half
    of INSERT OR IGNORE (reference scr/etl_batch.py:139-146)."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def semi_join_existing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers WITH orders — left_semi (EXISTS), the duplicate-detection
    half of INSERT OR IGNORE."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


# ---------------------------------------------------------------------------
# Full aggregate suite (superset of reference's COUNT/AVG — SURVEY §2.4 note)
# ---------------------------------------------------------------------------

def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped wide aggregate on lineitem — the bench flagship.

    Map-side partial agg + single shuffle on the (tiny-cardinality) group
    keys; AQE coalesces post-shuffle partitions. All double outputs rounded
    for cross-engine hash stability.
    """
    li = table(spark, sf_dir, "lineitem")
    # Money math exact end-to-end, but in 10^-k-unit BIGINTs per row
    # (r12-opt, §2.3 — see _units for the bit-identity argument; the old
    # per-row DECIMAL(28,·) values fed byte-array-BigDecimal sum buffers,
    # the single-row-group scan task's dominant cost). Every sum is an
    # exact integer; the double outputs convert the same exact values.
    # Headroom: disc_price in 1e-4 units ≤ 1e9/row (see promo); charge in
    # 1e-6 units ≤ ~1.1e11/row would overflow a BIGINT group sum near
    # sf~250, so it is summed as an exact hi/lo BIGINT pair
    # (div/mod 1e6 — hi ≤ 1.1e5/row, lo < 1e6/row: both safe past
    # sf1e5) and recombined losslessly in DECIMAL(38) over the 6 output
    # rows, single rounding to double — identical to the old
    # decimal-exact value at every scale.
    q2 = _units("l_quantity", 2)
    e2 = _units("l_extendedprice", 2)
    rev4 = e2 * (F.lit(100) - _units("l_discount", 2))
    ch6 = rev4 * (F.lit(100) + _units("l_tax", 2))
    rows = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        q2.alias("_q2"),
        e2.alias("_e2"),
        _units("l_discount", 4).alias("_d4u"),
        rev4.alias("_r4"),
        ch6.alias("_c6"),
    )
    return (
        rows.select(
            "*",
            F.expr("_c6 div 1000000").alias("_chi"),
            F.expr("_c6 % 1000000").alias("_clo"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("_q2").alias("_pq"),
            F.sum("_e2").alias("_pe"),
            F.sum("_r4").alias("_sr4"),
            F.sum("_chi").alias("_sch"),
            F.sum("_clo").alias("_scl"),
            F.sum("_d4u").alias("_pd"),
            F.count("_q2").alias("_cnt"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("_pq").cast("double") / F.lit(100.0)).alias("sum_qty"),
            (F.col("_pe").cast("double") / F.lit(100.0)).alias("sum_base_price"),
            (F.col("_sr4").cast("double") / F.lit(10000.0)).alias("sum_disc_price"),
            F.expr(
                "CAST(CAST(_sch AS DECIMAL(30,0)) * CAST(1000000 AS DECIMAL(7,0))"
                " + _scl AS DOUBLE) / 1000000.0"
            ).alias("sum_charge"),
            _avg_expr("_pq", "_cnt", 2, 4).alias("avg_qty"),
            _avg_expr("_pe", "_cnt", 2, 4).alias("avg_price"),
            _avg_expr("_pd", "_cnt", 4, 4).alias("avg_disc"),
            "count_order",
        )
    )


def agg_minmax_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX/COUNT DISTINCT per group — rounds out SURVEY §2.4's 'absent
    in reference, built into Spark' aggregate forms."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Window / top-k
# ---------------------------------------------------------------------------

def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by acctbal per nation (row_number window, deterministic
    tie-break on custkey)."""
    customer = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        customer.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.col("rk").cast("long").alias("rk"),  # DuckDB ROW_NUMBER is BIGINT
        )
    )


# ---------------------------------------------------------------------------
# P8 — ordered CASE cascade (the motivo semantics, SQL-expressible shape)
# ---------------------------------------------------------------------------

def case_cascade_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-failing-check classification over events, then count per reason —
    the reject-routing cascade (reference scr/etl_relational.py:30-92) as a
    pure CASE WHEN pipeline the oracle can replay."""
    ev = table(spark, sf_dir, "events")
    motivo = (
        F.when(F.col("value").isNull(), "Valor None en campo requerido")
        .when(F.col("value") < 10.0, "value < 10")
        .when(F.col("event_type") == "error", "tipo error")
        .otherwise("ok")
    )
    return (
        ev.withColumn("motivo", motivo)
        .groupBy("motivo")
        .agg(F.count("*").alias("n"), _dsum("value", 2).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# P4 — strict int cast with error routing (JSON-extracted field)
# ---------------------------------------------------------------------------

def strict_cast_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract props.k, strict-int cast (Python int() semantics), aggregate.

    Null-on-failure replaces the reference's try/except routing
    (scr/etl_relational.py:71-79)."""
    from etl_python_sqlite_spark.functions.normalize import strict_int

    ev = table(spark, sf_dir, "events")
    return (
        ev.withColumn("k_raw", F.get_json_object("props", "$.k"))
        .withColumn("k", strict_int("k_raw", "bigint"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_castable"),
            (F.count("*") - F.count("k")).alias("n_reject"),
            F.sum("k").alias("sum_k"),
        )
    )


# ---------------------------------------------------------------------------
# P2/P3 — exact-Python normalization over real strings
# ---------------------------------------------------------------------------

def normalize_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """py_capitalize vs py_title over part names — P2/P3 semantics
    (reference scr/etl_basic.py:20-22) at scan width."""
    from etl_python_sqlite_spark.functions.normalize import py_capitalize, py_title

    part = table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            py_capitalize("p_name").alias("name_capitalize"),
            py_title("p_name").alias("name_title"),
        )
    )


# ---------------------------------------------------------------------------
# Time-window aggregation over events
# ---------------------------------------------------------------------------

def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window per event_type (batch analog of the streaming
    windowed agg; SURVEY §2.6)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), _dsum("value", 2).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# Set operators (SURVEY §2.4 'absent in reference' — exposed on Spark)
# ---------------------------------------------------------------------------

def set_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who viewed but never purchased — EXCEPT (distinct semantics)."""
    ev = table(spark, sf_dir, "events")
    viewers = ev.filter(F.col("event_type") == "view").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return viewers.subtract(buyers)


def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(region, nation) customer counts — hierarchical totals
    (grouping-sets family, SURVEY §2.4)."""
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    joined = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Extended SQL surface (SURVEY §2.4/§2.5 "absent in reference, exposed on
# Spark"): string/date functions, subqueries, percentiles, pivot, windows
# ---------------------------------------------------------------------------

def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function coverage: concat, substring, replace, pad,
    case mapping, length, LIKE filter."""
    part = table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%gear%"))
        .select(
            "p_partkey",
            F.concat_ws("-", F.col("p_brand"), F.upper(F.col("p_type"))).alias(
                "brand_type"
            ),
            F.substring("p_name", 1, 5).alias("name5"),
            F.regexp_replace("p_name", "gear", "cog").alias("renamed"),
            F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
            F.length("p_name").cast("long").alias("name_len"),  # DuckDB length() is BIGINT
        )
    )


def date_parts_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + aggregation: orders per (year, month)."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),  # EXTRACT is BIGINT in DuckDB
        )
        .agg(
            F.count("*").alias("n_orders"),
            _dsum("o_totalprice", 2).alias("total_value"),
        )
    )


def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery through the SQL entry point — customers
    with at least one order over a threshold, plus a scalar subquery."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name,
               (SELECT COUNT(*) FROM v_orders o WHERE o.o_custkey = c.c_custkey)
                   AS n_orders
        FROM v_customer c
        WHERE EXISTS (
            SELECT 1 FROM v_orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
        )
        ORDER BY c.c_custkey
        """
    )


def percentiles_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p25/p50/p75) of order value per
    priority — linear interpolation semantics shared with quantile_cont."""
    orders = table(spark, sf_dir, "orders")
    pct = F.percentile(F.col("o_totalprice"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(pct[0], 4).alias("p25"),
            F.round(pct[1], 4).alias("p50"),
            F.round(pct[2], 4).alias("p75"),
        )
    )


def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: events per (weekday, type) in wide layout. Spark's pivot()
    relational operator; the oracle replays it as portable CASE sums."""
    ev = table(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.dayofweek("ts").cast("long").alias("dow"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )
    return wide


def union_all_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two branch queries with a literal tag column."""
    c = table(spark, sf_dir, "customer")
    hi = c.filter(F.col("c_acctbal") >= 9000).select(
        "c_custkey", F.lit("high").alias("tier")
    )
    lo = c.filter(F.col("c_acctbal") < 1000).select(
        "c_custkey", F.lit("low").alias("tier")
    )
    return hi.unionAll(lo)


def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING — post-aggregation predicate."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count("*").alias("n_items"), _dsum("l_quantity", 2).alias("qty"))
        .filter(F.col("n_items") > 100)
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via window functions: a new session starts after a
    >30-minute gap; count events per (user, session). lag + conditional
    cumulative sum — the canonical pattern, fully portable SQL."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), 1).over(w)
        ).alias("gap_s"),
    ).withColumn(
        "new_session",
        F.when(F.col("gap_s").isNull() | (F.col("gap_s") > 1800), 1).otherwise(0),
    )
    sessioned = gapped.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
    )


def top_orders_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ORDER BY ... LIMIT (top-k by value, key tie-break)."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


def null_handling_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + COALESCE/null predicates: order counts per
    customer including order-less customers as zero."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.count("*").alias("n"))
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
            F.col("n").isNull().cast("int").alias("has_no_orders"),
        )
    )


def inline_cascade_annotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + P2-P8 — the reference's canonical inline fixture rows
    (scr/etl_refactor.py:10-15 shapes) pushed through the REAL motivo
    cascade, exposing normalized columns and the first-failing reason.
    The oracle replays capitalize/title/strict-int/threshold in SQL, so
    the exact Python semantics are hash-checked end-to-end.

    sf_dir is unused (inline literal source) — part of the signature
    contract only.
    """
    from etl_python_sqlite_spark.operators.transform import annotate_rejections

    rows = [
        ("  guillermo ", "26", "san luis"),
        ("NOEMI", "52", "SAN LUIS"),
        ("Naomi ", "23", " san juan"),
        ("Pedro", "error", "Querétaro"),
        ("ana maría", "31", "san luis potosí"),
        (None, "40", "Lima"),
        ("Luis", "26 ", "Bogotá"),
        ("Eva", "26.5", "Quito"),
    ]
    raw = spark.createDataFrame(rows, "nombre string, edad string, ciudad string")
    ann = annotate_rejections(raw, edad_min=25)
    return ann.select(
        F.coalesce("nombre", F.lit("")).alias("nombre"),
        F.coalesce("edad", F.lit("")).alias("edad"),
        F.coalesce("ciudad", F.lit("")).alias("ciudad"),
        F.coalesce("motivo", F.lit("OK")).alias("motivo"),
        F.coalesce("nombre_norm", F.lit("")).alias("nombre_norm"),
        F.coalesce("ciudad_norm", F.lit("")).alias("ciudad_norm"),
        F.coalesce(F.col("edad_int").cast("string"), F.lit("")).alias("edad_int"),
    )


def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all grouping-set combinations of (status, priority)."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), _dsum("o_totalprice", 2).alias("value"))
    )


def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation (operators/skew.py) — result is
    identical to a direct GROUP BY, which is exactly what the oracle
    checks. Values go through exact decimals so the two-phase partial
    sums are order-independent."""
    from etl_python_sqlite_spark.operators.skew import salted_sum_count

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("decimal(28,2)").alias("qty")
    )
    out = salted_sum_count(li, ["l_returnflag"], "qty", n_salts=16)
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("count_qty").alias("count_qty"),
    )


def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.py): each purchase event matched to
    the latest click AT OR BEFORE it by the same user. Oracle = DuckDB's
    native ASOF LEFT JOIN."""
    from etl_python_sqlite_spark.operators.temporal import asof_join

    ev = table(spark, sf_dir, "events").withColumn(
        "epoch_s", F.col("ts").cast("long")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "epoch_s"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "epoch_s")
        .agg(F.max("event_id").alias("click_id"))  # deterministic tie-break
        .select("user_id", "click_id", "epoch_s")
    )
    out = asof_join(
        purchases,
        clicks,
        by="user_id",
        left_time="epoch_s",
        right_time="epoch_s",
        right_payload=["click_id", "epoch_s"],
    )
    return out.select(
        "user_id",
        "purchase_id",
        F.col("click_id_asof").alias("click_id"),
        (F.col("epoch_s") - F.col("epoch_s_asof")).alias("gap_s"),
    )


def range_join_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/temporal.py): ordered pairs of error events
    by the same user within 30 minutes — bucketed equi-joins, no
    inequality nested loop. Oracle = plain inequality join."""
    from etl_python_sqlite_spark.operators.temporal import range_join_within

    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    return range_join_within(
        ev, by="user_id", time_col="ts", max_gap_s=1800, id_col="event_id"
    )


def multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: daily totals derived
    from HOURLY partial aggregates (count/sum re-aggregate losslessly;
    avg = derived sum/count at the coarser grain). The oracle computes the
    daily rollup DIRECTLY from raw events — hash-equality proves the
    cascade is exact, which is what makes materialized hourly rollups
    safe to serve daily queries from at scale."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        _scaled_sum("value", 2).alias("_p"),
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour")).alias("day"), "event_type"
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("_p").alias("_p"),
            F.sum("n").alias("_cnt"),
        )
        .select(
            "day",
            "event_type",
            "n_events",
            (F.col("_p").cast("double") / F.lit(100.0)).alias("sum_value"),
        )
    )
    return daily


# ---------------------------------------------------------------------------
# Round-2 surface growth: supplier-side joins, window frames, lead/lag,
# ordered string aggregation, explicit GROUPING SETS
# ---------------------------------------------------------------------------

def supplier_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped revenue rollup: lineitem ⋈ supplier ⋈ nation,
    grouped by supplier nation × ship year.

    Scale shape: the two dims broadcast (supplier is ~1/10th of customer,
    nation is 25 rows) so the fact table never shuffles for the joins —
    the only exchange is the final (nation, year) aggregate, ~25×7 keys.
    Money math in exact decimal factors (see agg_pricing_summary).
    """
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    # r12-opt (§2.3): 1e-4-unit BIGINT revenue + cent-unit quantity per
    # row (see _units / promo_revenue_ratio for the bit-identity and
    # BIGINT-headroom argument; groups here are (nation, year) — ~12×
    # a promo month, still orders of magnitude inside BIGINT at sf1e5).
    rev4 = _units("l_extendedprice", 2) * (F.lit(100) - _units("l_discount", 2))
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.sum(rev4).alias("_r4"),
            F.count("*").alias("n_items"),
            F.sum(_units("l_quantity", 2)).alias("_q2"),
        )
        .select(
            "nation",
            "ship_year",
            (F.col("_r4").cast("double") / F.lit(10000.0)).alias("revenue"),
            "n_items",
            (F.col("_q2").cast("double") / F.lit(100.0)).alias("sum_qty"),
        )
    )


def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window frame: per-customer 4-order moving average of order
    totals (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW).

    The frame sum runs in exact integer cents (decimal→long), so the
    moving average is bit-identical across engines regardless of the
    order partial sums are combined in; deterministic frame membership
    comes from the (o_orderdate, o_orderkey) total order.
    """
    orders = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-3, 0)
    )
    cents = (F.col("o_totalprice").cast("decimal(28,2)") * 100).cast("long")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.sum(cents).over(w).alias("_p"),
            F.count("*").over(w).alias("_cnt"),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            _avg_expr("_p", "_cnt", 2, 2).alias("mov_avg_totalprice"),
        )
    )


def lag_gap_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag surface: days between consecutive orders per customer,
    aggregated to (n_orders, sum_gap_days, avg_gap_days) — integer day
    arithmetic end-to-end, so no float drift is possible; single-order
    customers yield NULL avg (guarded division, ANSI-safe)."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(
        F.col("o_orderdate"), F.lag("o_orderdate").over(w)
    ).alias("gap")
    per_order = orders.select("o_custkey", gap)
    agged = per_order.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.coalesce(F.sum("gap"), F.lit(0)).cast("long").alias("sum_gap_days"),
        F.count("gap").alias("_n_gaps"),
    )
    avg_gap = F.when(
        F.col("_n_gaps") > 0,
        F.expr("((2 * sum_gap_days * 100 + _n_gaps) div (2 * _n_gaps)) / 100.0D"),
    )
    return agged.select(
        "o_custkey", "n_orders", "sum_gap_days", avg_gap.alias("avg_gap_days")
    )


def string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG family): the nation
    list per region, comma-joined in collation-free bytewise sort order.
    collect_list is unordered by contract — array_sort makes the result
    deterministic (same trick scales: the sort is per-group, post-shuffle)."""
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


def grouping_sets_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): (status, year),
    (year), and grand total in ONE pass — Spark expands the sets into a
    single shuffle, not three scans."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.year("o_orderdate").cast("long").alias("order_year"),
        "o_totalprice",
    )
    return orders.groupingSets(
        [["o_orderstatus", "order_year"], ["order_year"], []],
        "o_orderstatus",
        "order_year",
    ).agg(
        F.count("*").alias("n_orders"),
        _dsum("o_totalprice", 2).alias("total_value"),
    )


def range_interval_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame trailing window: per user, for every event, the count
    and exact sum of ``value`` over the trailing 10 minutes — the
    rate-limit / rolling-exposure query shape a ROWS frame cannot
    express (frame membership depends on the TIME GAP, not a row count).

    Cross-engine determinism: the frame is anchored on integer epoch
    MICROSECONDS (``unix_micros`` here, ``epoch_us`` in the oracle) so
    both engines resolve inclusion at full timestamp precision — an
    epoch-seconds cast would truncate sub-second events and disagree at
    boundaries. The windowed sum runs in exact decimal (the `_dsum`
    discipline) so partial-sum order cannot move an ulp.

    Scale: one shuffle on user_id (uniform), sort within partition;
    Spark's RangeFrame advances two pointers over the sorted run — O(n)
    per partition, no per-row rescan.
    """
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_10m"),
        F.sum(F.col("value").cast("decimal(28,2)"))
        .over(w)
        .cast("double")
        .alias("sum_value_10m"),
    )


def unpivot_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: per-nation wide metrics (customer count, supplier
    count, total account balance) turned into long (nation, measure,
    val) rows — the wide→long reshape every metrics warehouse needs,
    via Spark's native ``unpivot`` (and ``UNPIVOT ... INTO`` in the
    oracle). Measures are cast to one double column, the reshape is a
    zero-shuffle projection (each input row expands in place).
    """
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    c = customer.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        _dsum("c_acctbal", 2).alias("total_cust_balance"),
    )
    s = supplier.groupBy("s_nationkey").agg(F.count("*").alias("n_suppliers"))
    wide = (
        nation.join(c, nation.n_nationkey == c.c_nationkey, "left")
        .join(s, nation.n_nationkey == s.s_nationkey, "left")
        .select(
            "n_name",
            F.coalesce("n_customers", F.lit(0)).cast("double").alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).cast("double").alias("n_suppliers"),
            F.coalesce("total_cust_balance", F.lit(0.0)).alias("total_cust_balance"),
        )
    )
    return wide.unpivot(
        ids=["n_name"],
        values=["n_customers", "n_suppliers", "total_cust_balance"],
        variableColumnName="measure",
        valueColumnName="val",
    )


def ntile_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing: events split into value quartiles per event_type,
    then per-(type, quartile) count and exact value range. Tie-broken by
    (value, event_id) so quartile membership is a total order both
    engines resolve identically.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("event_type", "quartile")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type", "quartile")
    )


def ship_delay_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-arithmetic surface: order→ship latency in days
    (``datediff``), bucketed per order month (``date_trunc``) — the
    operational-latency histogram. The join is fact⋈fact on o_orderkey
    but orders is the smaller side at any SF, so AQE/broadcast keeps it
    shuffle-light; the heavy side is touched once with only 2 columns
    read (pruned scan).
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return (
        j.select(
            # r12-opt (§2.3): group on the month-truncated DATE (native
            # 4-byte hash key) and format the ISO string AFTER the
            # ~84-row aggregate — identical strings, no per-row
            # formatter, no string group keys (the date-typed cell never
            # reaches the output, so the no-native-temporal-output
            # invariant holds)
            F.trunc("o_orderdate", "MM").alias("_m"),
            # long, matching DuckDB's BIGINT datediff (dtype-strict compare)
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("delay_days"),
        )
        .groupBy("_m")
        .agg(
            F.count("*").alias("n_lines"),
            F.min("delay_days").alias("min_delay"),
            F.max("delay_days").alias("max_delay"),
            F.sum("delay_days").cast("long").alias("total_delay_days"),
        )
        .select(
            F.date_format("_m", "yyyy-MM").alias("order_month"),
            "n_lines",
            "min_delay",
            "max_delay",
            "total_delay_days",
        )
        .orderBy("order_month")
    )


def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape: orders strictly above their own
    customer's average order value, per-customer counts. In Spark the
    correlation is decorrelated by hand into a window average (one
    shuffle on the correlation key — exactly what Catalyst's
    decorrelation would emit); the oracle keeps the textbook correlated
    subquery form. Exact-cents integer arithmetic for the comparison:
    price·2·n > 2·sum is evaluated in longs, so no half-cent rounding
    ambiguity exists on either engine.
    """
    orders = table(spark, sf_dir, "orders")
    # r12-opt (§2.3): floor-quantized BIGINT cents (see _units).
    cents = _units("o_totalprice", 2)
    w = Window.partitionBy("o_custkey")
    above = (
        orders.select(
            "o_custkey",
            cents.alias("_c"),
            F.sum(cents).over(w).alias("_sum"),
            F.count("*").over(w).alias("_n"),
        )
        # strict comparison vs the mean as exact integers: c > sum/n  ⇔  c·n > sum
        .filter(F.col("_c") * F.col("_n") > F.col("_sum"))
    )
    return (
        above.groupBy("o_custkey")
        .agg(F.count("*").alias("n_above_avg"))
        .orderBy("o_custkey")
    )


def numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the describe/EDA operator): count / nulls / min
    / max / mean / sample-stddev for the lineitem measures, one row per
    column via a single-scan aggregate + unpivot-style union of structs.

    Cross-engine exactness: mean and variance come from EXACT integer
    cents sums (Σx, Σx² in DECIMAL) with the final division done once in
    doubles and rounded to 6dp — stddev is the textbook
    (n·Σx² − (Σx)²) / (n·(n−1)) on exact integers, so no Welford-order
    nondeterminism exists on either engine.
    """
    li = table(spark, sf_dir, "lineitem")

    def prof(col: str) -> DataFrame:
        # r12-opt (§2.3): the old per-row DECIMAL(38) cents and the two
        # byte-array decimal sum buffers per column were the query's
        # whole cost. Per-row math in BIGINTs (see _units): Σx is a
        # plain long sum (cents ≤ 1.05e7/row → ≤6.3e18 even at 6e11
        # rows ≈ sf1e5, inside BIGINT; ANSI overflow is loud), and Σx²
        # (x² ≤ 1.1e14/row — no single BIGINT accumulator survives
        # scale) splits into THREE exact long sums (div 1e8 / div 1e4
        # mod 1e4 / mod 1e4 — each part ≤6.6e17 at sf1e5), recombined
        # losslessly in DECIMAL(38) over the one output row. The DuckDB
        # twin recombines the same three sums in HUGEINT — same exact
        # integers, same single rounding to double.
        c = _units(col, 2)
        rows = li.select(F.col(col).alias("_v"), c.alias("_c")).select(
            "_v",
            "_c",
            F.expr("(_c * _c) div 100000000").alias("_a"),
            F.expr("((_c * _c) div 10000) % 10000").alias("_b"),
            F.expr("(_c * _c) % 10000").alias("_d"),
        )
        agg = rows.agg(
            F.count("_v").alias("n_non_null"),
            F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null"),
            F.min("_v").cast("double").alias("min_value"),
            F.max("_v").cast("double").alias("max_value"),
            F.sum("_c").alias("_s"),
            F.sum("_a").alias("_s2a"),
            F.sum("_b").alias("_s2b"),
            F.sum("_d").alias("_s2d"),
        )
        s2 = (
            "(CAST(_s2a AS DECIMAL(29,0)) * CAST(100000000 AS DECIMAL(9,0))"
            " + CAST(_s2b AS DECIMAL(20,0)) * 10000 + _s2d)"
        )
        var = F.expr(
            f"CAST(n_non_null * {s2}"
            " - CAST(_s AS DECIMAL(19,0)) * CAST(_s AS DECIMAL(19,0))"
            " AS DOUBLE)"
            " / 10000.0 / CAST(n_non_null * (n_non_null - 1) AS DOUBLE)"
        )
        return agg.select(
            F.lit(col).alias("col_name"),
            "n_non_null",
            "n_null",
            "min_value",
            "max_value",
            # mean via the integer-rounding discipline (_avg_expr), NOT
            # ROUND(double): near-half doubles round differently across
            # engines. stddev keeps round-6 on the sqrt (irrational
            # outputs — no representable half-way case).
            _avg_expr("_s", "n_non_null", 2, 6).alias("mean_value"),
            F.round(F.sqrt(var), 6).alias("stddev_value"),
        )

    out = prof("l_quantity")
    for c in ("l_extendedprice", "l_discount", "l_tax"):
        out = out.unionByName(prof(c))
    return out.orderBy("col_name")


def dq_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit (the reference's validation theme, §2.2/P5-P7,
    lifted to warehouse rules): one row per constraint with its violation
    count — null keys, out-of-range measures, and referential orphans in
    both directions (anti-join counts, the only scalable way to check
    foreign keys; never a driver-side loop).
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")

    def rule(name: str, cnt_df: DataFrame) -> DataFrame:
        return cnt_df.select(
            F.lit(name).alias("rule"), F.col("n").cast("long").alias("violations")
        )

    checks = [
        rule(
            "lineitem.quantity_out_of_range",
            li.filter((F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50)).agg(
                F.count("*").alias("n")
            ),
        ),
        rule(
            "lineitem.discount_out_of_range",
            li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).agg(
                F.count("*").alias("n")
            ),
        ),
        rule(
            "lineitem.orphan_orderkey",
            li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti").agg(
                F.count("*").alias("n")
            ),
        ),
        rule(
            "orders.orphan_custkey",
            orders.join(
                customer, orders.o_custkey == customer.c_custkey, "left_anti"
            ).agg(F.count("*").alias("n")),
        ),
        rule(
            "orders.null_orderdate",
            orders.filter(F.col("o_orderdate").isNull()).agg(
                F.count("*").alias("n")
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("rule")


def shipping_priority_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority query: unshipped BUILDING-segment
    orders ranked by discounted revenue, top 10. customer broadcasts;
    the order-side date filter pushes into the parquet scan; the final
    top-10 is TakeOrderedAndProject (no global sort materialization).
    Money math in exact decimal factors; the revenue/orderkey pair makes
    the top-10 cut deterministic (revenue ties broken by key).
    """
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    dd = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(ep * (F.lit(1) - dd)).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped "local supplier" volume: revenue where the
    supplier and the ordering customer share a nation, per nation-year.
    The join graph is fact ⋈ orders ⋈ customer with supplier BROADCAST
    and the nation-equality applied as a join-side filter — the classic
    star join with a cross-dim correlation predicate.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    # r12-opt (§2.3): 1e-4-unit BIGINT revenue (see _units /
    # promo_revenue_ratio — same bit-identity + headroom argument).
    rev4 = _units("l_extendedprice", 2) * (F.lit(100) - _units("l_discount", 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(
            (F.sum(rev4).cast("double") / F.lit(10000.0)).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("nation", "order_year")
    )


def returned_items_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: lost revenue per customer
    for RETURNED lineitems, top 20 — the churn-analysis join. The
    returnflag filter pushes to the scan; customer/nation broadcast.
    """
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    # r12-opt (§2.3): 1e-4-unit BIGINT revenue (see _units /
    # promo_revenue_ratio; per-customer sums are tiny at any scale).
    rev4 = _units("l_extendedprice", 2) * (F.lit(100) - _units("l_discount", 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            (F.sum(rev4).cast("double") / F.lit(10000.0)).alias("lost_revenue"),
            F.count("*").alias("n_returned_items"),
        )
        .orderBy(F.desc("lost_revenue"), "c_custkey")
        .limit(20)
    )


def rank_tie_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() vs dense_rank() tie semantics over genuinely tied keys:
    orders ranked by priority within status. Output is the per-(status,
    priority) rank pair + count — ties make rank gaps visible and the
    aggregate keeps the result set tiny and order-insensitive.
    """
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_orderpriority")
    return (
        orders.select(
            "o_orderstatus",
            "o_orderpriority",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .groupBy("o_orderstatus", "o_orderpriority", "rnk", "drnk")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderstatus", "o_orderpriority")
    )


def set_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who BOTH viewed and purchased — INTERSECT (distinct
    semantics), completing the set-operator family next to
    ``set_except_users``/``union_all_tagged``."""
    ev = table(spark, sf_dir, "events")
    viewers = ev.filter(F.col("event_type") == "view").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return viewers.intersect(buyers)


def window_value_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The value-window family in one deterministic query: per
    event_type over the (value, event_id) total order —
    first_value / last_value (explicit full frame: the default frame
    stops at CURRENT ROW and silently yields the running last, a classic
    cross-engine gotcha), nth_value(2), percent_rank and cume_dist.
    Emitted for the 5 smallest events per type to keep the result
    driver-friendly while every function still sees the whole partition.

    percent_rank/cume_dist are NOT computed as ROUND(double): their
    values are rationals i/(n−1) and i/n whose shortest decimal repr can
    land on apparent half-way points — the exact cross-engine ROUND
    hazard this repo's invariants forbid. The (value, event_id) order is
    TOTAL, so percent_rank ≡ (rn−1)/(n−1) and cume_dist ≡ rn/n; both are
    quantized to micro-units with the integer half-up formula
    floor((2a·10⁶ + b) / (2b)) — pure bigint arithmetic, identical on
    Spark and DuckDB, then one exact int→double division.
    """
    ev = table(spark, sf_dir, "events")
    order = [F.col("value").asc(), F.col("event_id").asc()]
    full = (
        Window.partitionBy("event_type")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    running = Window.partitionBy("event_type").orderBy(*order)
    base = ev.select(
        "event_type",
        "event_id",
        "value",
        F.first("value").over(full).alias("min_value"),
        F.last("value").over(full).alias("max_value"),
        F.nth_value("value", 2).over(full).alias("second_value"),
        F.row_number().over(running).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("_n"),
    )
    pct = F.when(
        F.col("_n") > 1,
        F.expr(
            "CAST(((CAST(rn - 1 AS BIGINT) * 2000000 + (_n - 1))"
            " div (2 * (_n - 1))) AS DOUBLE) / 1000000.0"
        ),
    ).otherwise(F.lit(0.0))
    cume = F.expr(
        "CAST(((CAST(rn AS BIGINT) * 2000000 + _n)"
        " div (2 * _n)) AS DOUBLE) / 1000000.0"
    )
    return (
        base.select(
            "event_type",
            "event_id",
            "value",
            "min_value",
            "max_value",
            "second_value",
            pct.alias("pct_rank"),
            cume.alias("cume"),
            "rn",
        )
        .filter(F.col("rn") <= 5)
        .orderBy("event_type", "rn")
    )


def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → view → purchase on FIRST
    occurrences: a user converts a step only if their first event of
    that step happened strictly after the previous step's first event.
    One conditional-aggregation pass per user (min(ts) per step — no
    joins, no window), then a 1-row funnel summary; the shape every
    product-analytics warehouse runs hourly.
    """
    ev = table(spark, sf_dir, "events")

    def first_ts(etype: str) -> Column:
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("view").alias("t_view"),
        first_ts("purchase").alias("t_purchase"),
    )
    step2 = F.col("t_signup").isNotNull() & (F.col("t_view") > F.col("t_signup"))
    step3 = step2 & (F.col("t_purchase") > F.col("t_view"))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("t_signup").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_signup"),
        F.sum(F.when(step2, 1).otherwise(0)).cast("long").alias("n_signup_view"),
        F.sum(F.when(step3, 1).otherwise(0))
        .cast("long")
        .alias("n_signup_view_purchase"),
    )


def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted
    as retained in each subsequent week they act. Two aggregations —
    first-seen per user (uniform user_id shuffle), then distinct users
    per (cohort_week, weeks_since) — the canonical retention triangle.
    Weeks are integer epoch-day arithmetic (``div 7``), identical on
    both engines, no timezone/week-start semantics to disagree on.
    """
    ev = table(spark, sf_dir, "events")
    # integer `div`, never float division: epoch-micros (~1.7e15) exceeds
    # the double mantissa, so /86.4e9 can misplace events at day edges
    acts = ev.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000 div 7").alias("week")
    )
    first = acts.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        acts.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active_users"))
        .orderBy("cohort_week", "weeks_since")
    )


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof fact⋈dim join through the salting machinery: events
    (user_id is the skewable probe key) joined to a derived per-user dim
    via ``salted_broadcast_join``, then a per-event-type rollup. The
    oracle replays a PLAIN join — salting must be a pure execution-level
    rewrite with zero result-semantics footprint, and this query pins
    exactly that equivalence at the driver gate.
    """
    from etl_python_sqlite_spark.operators.skew import salted_broadcast_join

    ev = table(spark, sf_dir, "events")
    user_dim = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("user_events"))
        .withColumn(
            "user_tier",
            F.when(F.col("user_events") >= 100, "heavy").otherwise("light"),
        )
        .select("user_id", "user_tier")
    )
    joined = salted_broadcast_join(ev, user_dim, on="user_id", n_salts=8)
    return (
        joined.groupBy("event_type", "user_tier")
        .agg(
            F.count("*").alias("n"),
            _dsum("value", 2).alias("sum_value"),
        )
        .orderBy("event_type", "user_tier")
    )


def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE calendar spine (Spark 4 ``WITH RECURSIVE``): the
    contiguous month sequence spanning the events table, left-joined to
    per-month activity so ZERO-activity months appear explicitly — the
    classic warehouse spine that a bare GROUP BY can never produce
    (grouping can't emit rows for data that isn't there).

    Months are integer indices (year·12 + month−1): pure int arithmetic
    recursion, no date-type output (cross-engine canon), depth = corpus
    month span (~80 at any SF — far under the recursion limit).

    The month BOUNDS are computed eagerly (one 2-value aggregate to the
    driver) and inlined as literals, so the recursive CTE references no
    temp view at all — the previous per-call uuid-named view accumulated
    one catalog entry per submission in long-lived sessions (ADVICE r2).
    The per-month activity join stays a lazy DataFrame plan.
    """
    ev = table(spark, sf_dir, "events")
    midx = (F.year("ts") * 12 + F.month("ts") - 1).cast("long")
    row = ev.agg(F.min(midx).alias("lo"), F.max(midx).alias("hi")).first()
    lo, hi = row["lo"], row["hi"]
    if lo is None:  # empty events table: an empty spine, not a SQL error
        return spark.createDataFrame(
            [], "month_index long, year long, month long, n_events long"
        )
    spine = spark.sql(
        f"""
        WITH RECURSIVE spine(m) AS (
            SELECT CAST({lo} AS BIGINT)
            UNION ALL
            SELECT m + 1 FROM spine WHERE m < {hi}
        )
        SELECT m FROM spine
        """
    )
    monthly = ev.groupBy(midx.alias("m")).agg(F.count("*").alias("n_events"))
    return (
        spine.join(monthly, "m", "left")
        .select(
            F.col("m").cast("long").alias("month_index"),
            F.expr("m div 12").cast("long").alias("year"),
            (F.col("m") % 12 + 1).cast("long").alias("month"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        )
        .orderBy("month_index")
    )


# ---------------------------------------------------------------------------
# Round-3 TPC-H query shapes (Q14 / Q8 / Q18 / Q19 / Q22 analogues)
# ---------------------------------------------------------------------------

def _frac_expr(num: str, den: str, round_to: int = 6) -> Column:
    """Deterministic num/den fraction rounded half-up to ``round_to``
    decimals, evaluated entirely in integer arithmetic (same discipline as
    _avg_expr): trunc((2·num·10^r + den) / (2·den)) / 10^r. Both engines'
    integer division truncates toward zero, so the result is bit-identical
    — float ROUND(x, r) at half-way points is not.
    """
    k = 10**round_to
    return F.expr(
        f"((2 * {num} * {k} + {den}) div (2 * {den})) / {float(k)}D"
    )


def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promotion-effect: per ship-month, the fraction of
    discounted revenue coming from PROMO-type parts. Conditional
    aggregation over one lineitem ⋈ broadcast(part) pass — the part dim
    never shuffles the fact side, and both sums come out of the same
    map-side partial aggregate. Revenue in exact DECIMAL(28,4); the
    promo/total fraction via integer cross-multiplication (_frac_expr),
    never ROUND(double).
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    # r12-opt (§2.3 narrower types): per-row revenue in exact 1e-4-unit
    # BIGINTs — cents·(100 − disc_bp) — instead of DECIMAL(28,4) per-row
    # values feeding byte-array-BigDecimal sum buffers; the group key is
    # the month-truncated DATE (native 4-byte hash key), formatted to
    # the identical string AFTER the 84-row aggregate. Values are
    # bit-identical (see _units; the exact integer sums convert to the
    # same nearest double) — collect-compared old-vs-new at sf0.1 and
    # oracle-green at both gate SFs. Measured 1.35 → 0.62 s.
    # Headroom: rev4 ≤ 1e9/row; a BIGINT group sum holds to 9.2e18 ≈
    # $9·10^14 per ship-month — at TPC-H sf1e5 (~100 TB) a month sums
    # to ~2.6e18, inside the bound, and ANSI overflow is loud.
    rev4 = _units("l_extendedprice", 2) * (F.lit(100) - _units("l_discount", 2))
    promo4 = F.when(F.col("p_type") == "PROMO", rev4).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.trunc("l_shipdate", "MM").alias("_m"))
        .agg(
            F.sum(promo4).alias("_p4"),
            F.sum(rev4).alias("_t4"),
        )
        .select(
            F.date_format("_m", "yyyy-MM").alias("ship_month"),
            (F.col("_p4").cast("double") / F.lit(10000.0)).alias("promo_revenue"),
            (F.col("_t4").cast("double") / F.lit(10000.0)).alias("total_revenue"),
            _frac_expr("_p4", "_t4").alias("promo_frac"),
        )
        .orderBy("ship_month")
    )


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: among AMERICA-region customers'
    purchases, NATION_7 suppliers' share of discounted revenue per order
    year. Classic two-path star join — the customer path restricts the
    fact rows (nation ⋈ region both broadcast), the supplier path only
    labels them (broadcast) — so the single wide shuffle is the
    lineitem ⋈ orders join; everything downstream is a tiny groupBy.
    Share via integer cross-multiplication (_frac_expr).
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cnat = nat.join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    ).select(F.col("n_nationkey").alias("_c_natkey"))
    snat = nat.select(
        F.col("n_nationkey").alias("_s_natkey"), F.col("n_name").alias("_s_nation")
    )
    # r12-opt (§2.3): 1e-4-unit BIGINT revenue per row (see _units /
    # promo_revenue_ratio — same bit-identity argument and BIGINT
    # headroom; here the group is an order YEAR, ~12× the monthly sum,
    # still ≤ 3e19/12 ≈ inside BIGINT at sf1e5 for the AMERICA slice).
    rev4 = _units("l_extendedprice", 2) * (F.lit(100) - _units("l_discount", 2))
    target4 = F.when(F.col("_s_nation") == "NATION_7", rev4).otherwise(F.lit(0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cnat), cust.c_nationkey == F.col("_c_natkey"))
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(snat), sup.s_nationkey == F.col("_s_natkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(F.sum(target4).alias("_n4"), F.sum(rev4).alias("_t4"))
        .select(
            "order_year",
            (F.col("_n4").cast("double") / F.lit(10000.0)).alias("nation_revenue"),
            (F.col("_t4").cast("double") / F.lit(10000.0)).alias("total_revenue"),
            _frac_expr("_n4", "_t4").alias("market_share"),
        )
        .orderBy("order_year")
    )


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume-customer report: orders whose total
    quantity exceeds 150 units, with the ordering customer. The HAVING
    aggregate runs FIRST on lineitem alone (map-side partials, one narrow
    shuffle on l_orderkey), and only the few surviving orders join to
    orders/customer — at warehouse scale the filter drops ~95% of keys
    before any wide row is built. Quantities are integral by generation:
    summed in exact DECIMAL and emitted as BIGINT units.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    # r12-opt (§2.3): cent-unit BIGINT quantities (see _units) — the sum
    # is exact and integral (quantities are whole units), so `div 100`
    # reproduces the old DECIMAL-sum-cast-to-long exactly.
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_units("l_quantity", 2)).alias("_sq"))
        .select("l_orderkey", F.expr("_sq div 100").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        qty.join(orders, qty.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("sum_qty"), "o_orderkey")
        .limit(100)
    )


def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate revenue: OR of three
    (brand, size-range, quantity-range) branches. The factorable
    conjuncts are hoisted so they PUSH DOWN even though the OR spans
    both tables: p_brand ∈ {…} prunes the part scan, l_quantity ≤ 30
    prunes the lineitem scan, then the residual OR runs on the joined
    row. part broadcasts — the fact side never shuffles.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    part = table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#2", "Brand#17", "Brand#19")
    )
    qty = F.col("l_quantity")
    branch = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 5)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#17")
            & F.col("p_size").between(1, 10)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(1, 15)
            & qty.between(20, 30)
        )
    )
    # r12-opt (§2.3): 1e-4-unit BIGINT revenue (see _units /
    # promo_revenue_ratio — same bit-identity + headroom argument).
    rev4 = _units("l_extendedprice", 2) * (F.lit(100) - _units("l_discount", 2))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(branch)
        .groupBy("p_brand")
        .agg(
            (F.sum(rev4).cast("double") / F.lit(10000.0)).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("p_brand")
    )


def idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped idle-wealthy-customer report: customers with NO
    orders whose balance is strictly above the mean positive balance,
    counted per nation. The global (Σ cents, n) aggregate is ONE row,
    broadcast back over the anti-joined customers — no single-partition
    window, no driver round-trip — and the above-mean comparison is
    integer cross-multiplication (bal·n > Σ), so no engine ever divides.
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    nat = table(spark, sf_dir, "nation")
    cents = (F.col("c_acctbal").cast("decimal(28,2)") * 100).cast("long")
    stats = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(cents).alias("_sum"), F.count("*").alias("_n")
    )
    idle = cust.join(
        orders.select(F.col("o_custkey")),
        cust.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return (
        idle.crossJoin(F.broadcast(stats))
        .filter(cents * F.col("_n") > F.col("_sum"))
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            (F.sum(cents) / F.lit(100.0)).alias("total_acctbal"),
        )
        .orderBy("nation")
    )


def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped min-cost-supplier selection: for each part, the
    supplier with the lowest observed unit price (argmin join). Unit
    price is EXACT integer micro-units — (cents · 10⁴) div qty — so the
    argmin is engine-deterministic (a DOUBLE division could flip ranks
    at the last ulp); ties break on suppkey. One narrow shuffle on
    partkey for the window; supplier name arrives by broadcast AFTER
    the argmin cut 1-row-per-part stream.
    """
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    part = table(spark, sf_dir, "part")
    # r12-opt (§2.3): floor-quantized BIGINT factors (see _units) — the
    # old per-row DECIMAL casts were the query's hot cost. qty enters as
    # floor(q·100 + 0.5) div 100, which equals the old
    # CAST(DECIMAL(12,2) AS BIGINT) truncation for every positive 2-dp
    # quantity (integral by generation).
    unit = F.expr(
        "(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * 10000)"
        " div (CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) div 100)"
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_microprice", "l_suppkey")
    best = (
        li.select("l_partkey", "l_suppkey", unit.alias("unit_microprice"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        best.join(F.broadcast(sup), best.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .select(
            "l_partkey",
            F.col("p_brand").alias("brand"),
            F.col("s_name").alias("supplier"),
            "unit_microprice",
        )
        .orderBy("l_partkey")
    )


def supplier_variety_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier-variety count: distinct suppliers per
    (brand, size bucket), excluding negative-balance suppliers via a
    null-free NOT IN (compiled to a broadcast anti-join — never the
    naive per-row subquery). COUNT(DISTINCT) shuffles once on the
    grouped keys with partial distinct aggregation map-side.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    bad = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("_bad_key"))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad), li.l_suppkey == F.col("_bad_key"), "left_anti"
        )
        .groupBy(
            "p_brand",
            F.expr("(p_size - 1) div 10").cast("long").alias("size_bucket"),
        )
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
        .orderBy("p_brand", "size_bucket")
    )


def daily_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-health anomaly scan: days whose event volume deviates
    more than 50% from their OWN trailing-7-day mean (the day-over-day
    freshness/volume monitor every ingestion pipeline runs). The
    deviation test |c·n − Σ| > Σ/2 is evaluated as 2·|c·n − Σ| > Σ in
    pure integers — no float mean, no cross-engine ambiguity. One
    groupBy + one ordered window over the tiny per-day rollup.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("n_events"))
    w = Window.orderBy("day").rowsBetween(-7, -1)
    trail = daily.select(
        "day",
        "n_events",
        F.sum("n_events").over(w).alias("_sum"),
        F.count("n_events").over(w).alias("_n"),
    ).filter(F.col("_n") >= 7)
    return (
        trail.filter(
            2 * F.abs(F.col("n_events") * F.col("_n") - F.col("_sum"))
            > F.col("_sum")
        )
        .select(
            "day",
            "n_events",
            F.col("_sum").alias("trailing_sum"),
            F.col("_n").alias("trailing_days"),
        )
        .orderBy("day")
    )


def priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check: orders in one quarter having
    at least one lineitem shipped after the order date (EXISTS →
    LeftSemi), counted per priority. The quarter filter pushes into the
    orders scan; the semi-join shuffles only (orderkey, dates)."""
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    li = table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def shipmode_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped two-way conditional count: per lineitem status,
    how many items belong to URGENT/HIGH-priority orders vs the rest —
    the classic one-pass double conditional aggregation (no second scan,
    no join back). The testdata has no l_shipmode column; l_linestatus
    plays the grouping role."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier: the supplier(s) whose quarterly
    discounted revenue equals the maximum. The max-of-aggregate is a
    one-row broadcast joined back by EXACT integer micro-units — no
    float equality, no second scan of lineitem (the per-supplier rollup
    is reused for both the max and the final filter via self-agg)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    # r12-opt (§2.3): the same 1e-4 units, but from floor-quantized
    # BIGINT factors (see _units) instead of a per-row DECIMAL product.
    rev_u = F.sum(
        _units("l_extendedprice", 2) * (F.lit(100) - _units("l_discount", 2))
    )
    per_sup = li.groupBy("l_suppkey").agg(rev_u.alias("rev_micro"))
    best = per_sup.agg(F.max("rev_micro").alias("_best"))
    sup = table(spark, sf_dir, "supplier")
    return (
        per_sup.crossJoin(F.broadcast(best))
        .filter(F.col("rev_micro") == F.col("_best"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select(
            F.col("s_suppkey"),
            "s_name",
            (F.col("rev_micro") / F.lit(10000.0)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def ts_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per user with linear interpolation over gaps
    (operators/temporal.gap_fill_interpolate). Hourly observations are
    Σfloor(value·10⁶) BIGINTs keyed by epoch-hour, the spine is
    sequence(min..max) per user, and every interpolated value is
    integer-exact (truncating div agrees across engines, including for
    negative deltas) — the whole dense series value-hash-matches the
    DuckDB twin."""
    from etl_python_sqlite_spark.operators.temporal import gap_fill_interpolate

    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    obs = ev.groupBy(
        "user_id", F.expr("CAST(ts AS LONG) div 3600").alias("hr")
    ).agg(
        F.sum(F.floor(F.col("value") * 1000000)).cast("long").alias("v_micro")
    )
    return gap_fill_interpolate(obs)


#: Persisted per-flag cents histogram, shared by robust_price_stats and
#: mad_outlier_scan (VERDICT r5 #3: the two queries build the IDENTICAL
#: groupBy(l_returnflag, cents) roll-up over the same table — one scan
#: should feed both). Session-scoped on purpose: the frame is bounded
#: by the price DOMAIN (≤ ~10^7 distinct cents × 3 flags), not by data
#: volume, so it is a legitimate materialized shared stage, like a
#: dimension cache — at 100 TB the histogram is the SAME size.
_FLAG_HIST_MAX = 2
_FLAG_HIST_MEMO = StageMemo(_FLAG_HIST_MAX)


def _flag_cents_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE per-flag integer-cents histogram of l_extendedprice — the
    shared first stage of the two order-statistics queries. Persisted
    and EAGERLY materialized (count under the memo lock) before the memo
    entry is published: the two consumers are separate concurrent
    actions, so a lazily-persisted frame lets them race to recompute the
    full lineitem scan before the cache lands. Every consumer (either
    query, either rank pick, the final aggregates) reads the cache."""

    def build(_key):
        li = table(spark, sf_dir, "lineitem")
        cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
        hist = li.groupBy("l_returnflag", cents.alias("c")).agg(
            F.count("*").alias("cnt")
        ).persist()
        hist.count()  # eager: warm the cache before any consumer action
        return hist

    return _FLAG_HIST_MEMO.get(spark, sf_dir, "lineitem", build=build)


#: Persisted CUMULATIVE per-flag cents histogram (flag, c, cnt, cum, n,
#: med) — the second shared stage of the order-statistics pair (r7):
#: the ordered cumulative-sum window is the expensive half of every
#: rank pick (0.6 s of the pair's wall at sf0.1: a 3-partition sort,
#: parallelism bounded by the FLAG DOMAIN, not the cluster), and it is
#: identical for robust_price_stats and mad_outlier_scan — so it is
#: computed once, with the median (rank (n+1)/2) pre-picked since it
#: costs one more window over the already-sorted run. Same size bound
#: as the raw histogram (one row per distinct (flag, cents)).
_FLAG_CUM_MEMO = StageMemo(_FLAG_HIST_MAX)


def _flag_cents_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (flag, c, cnt, cum, n, med) cumulative histogram —
    persisted AND eagerly counted before publication (same
    concurrent-consumer race as _flag_cents_hist)."""

    def build(_key):
        hist = _flag_cents_hist(spark, sf_dir)
        wv = Window.partitionBy("l_returnflag").orderBy("c")
        wall = Window.partitionBy("l_returnflag")
        k = F.expr("(n + 1) div 2")
        cum = (
            hist.select(
                "l_returnflag",
                "c",
                "cnt",
                F.sum("cnt").over(wv).alias("cum"),
                F.sum("cnt").over(wall).alias("n"),
            )
            .withColumn(
                "med",
                F.min(
                    F.when(
                        (F.col("cum") >= k)
                        & (F.col("cum") - F.col("cnt") < k),
                        F.col("c"),
                    )
                ).over(wall),
            )
            .persist()
        )
        cum.count()  # eager: warm before any consumer action
        return cum

    return _FLAG_CUM_MEMO.get(spark, sf_dir, "lineitem", build=build)


#: DISTINCT undirected (u < v) part co-occurrence edge frame — the
#: shared first stage of the graph query family
#: (part_cooccurrence_pagerank / part_triangle_stats both derive from
#: it; pagerank's directed set is exactly the union of the two
#: orientations of this distinct set, so ONE self-join + distinct feeds
#: both). Unlike the cents histogram this frame is DATA-sized: at scale
#: it becomes a bucketed table (below), not executor memory.
_COOCC_MEMO = StageMemo(_FLAG_HIST_MAX)

#: Canonical edge count above which the shared co-occurrence stage
#: materializes as a BUCKETED CATALOG TABLE (bucketBy u, the graph
#: family's probe key) instead of an executor-memory cache — the
#: "becomes a materialized table at data scale" path VERDICT r6 #5
#: asked for as code, not prose. MEASURED crossover (r7, key-offset
#: lineitem replication, warm pagerank incl. stage build): at 1.2 M
#: canonical edges the cache tier runs 2.7 s vs the table tier's
#: 10.9 s (the write + scan overhead swamps a tiny graph); at 19.1 M
#: edges they cross — 15.6 s cache vs 14.7 s bucketed — and beyond it
#: the cache stops being an option at all (a 10^11-edge frame cannot
#: pin executor storage) while the bucketed layout gives every u-keyed
#: join a zero-exchange edge side (plan-asserted in
#: tests/test_bucketed_stage.py) and survives session restarts. Same
#: 20 M knee as TRIANGLE_BROADCAST_MAX_EDGES, measured independently.
COOCC_BUCKETED_STAGE_MIN_EDGES = 20_000_000
COOCC_STAGE_BUCKETS = 32
_COOCC_TABLE_ATTR = STAGE_TABLE_ATTR
#: canonical (u < v) row count, measured once at stage build — lets
#: consumers (pagerank's tier gate) skip a per-invocation count() job
_COOCC_NEDGES_ATTR = "_spark_graft_coocc_nedges"


def _cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE distinct (u < v) part co-occurrence edge frame per session
    and dataset, memoized; the per-order pair blocking is
    O(rows · basket), never corpus-quadratic.

    Two storage tiers, gated on the measured edge count
    (``COOCC_BUCKETED_STAGE_MIN_EDGES``): an executor-memory cache for
    graphs that fit, and a catalog table bucketed by ``u`` for those
    that don't — the bucketed scan satisfies HashPartitioning(u), so
    the graph family's outdeg aggregation and rank joins read it with
    ZERO exchanges of E (the frame carries ``_COOCC_TABLE_ATTR`` so
    consumers can skip their own repartition; see
    ``pagerank(edges_bucketed=True)``)."""

    def build(key):
        # shared (order, part) distinct stage — memoized with
        # part_basket_pairs (r11-opt); the memo owns its lifecycle
        op = _ordpart_distinct(spark, sf_dir)
        a = op.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
        )
        b = op.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
        )
        e = (
            a.join(b, "ok")
            .filter(F.col("u") < F.col("v"))
            .select("u", "v")
            .distinct()
            .persist()
        )
        n_edges = e.count()
        if n_edges >= COOCC_BUCKETED_STAGE_MIN_EDGES:
            # materialize the DIRECTED set (both orientations —
            # pagerank's layout; triangle's canonical u<v set is a
            # filter over the same bucketed scan, zero extra storage).
            # Disjoint halves, so the union is distinct by construction.
            directed = e.union(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            canon = bucketed_stage_table(
                directed, "coocc_edges_", key, COOCC_STAGE_BUCKETS, ("u",),
                view=lambda t: t.filter(F.col("u") < F.col("v")),
            )
            e.unpersist()  # the bucketed files are the materialization
            e = canon
        # the measured canonical count rides the handle (both tiers) so
        # consumers' size gates need no count() job of their own
        setattr(e, _COOCC_NEDGES_ATTR, n_edges)
        return e

    return _COOCC_MEMO.get(spark, sf_dir, "lineitem", build=build)


def _cooccurrence_edges_directed(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, bool]:
    """Both orientations of the shared co-occurrence stage, as
    ``(frame, bucketed)``. Cache tier: the disjoint union of the
    memoized canonical frame's two orientations (each half reads the
    cache). Bucketed tier: the stage's own table — ALREADY directed,
    hash-partitioned on ``u``, so pagerank's outdeg aggregation and
    per-iteration rank joins consume it with zero exchanges of E
    (``pagerank(edges_bucketed=True)`` skips its repartition)."""
    e = _cooccurrence_edges(spark, sf_dir)
    tbl = getattr(e, _COOCC_TABLE_ATTR, None)
    if tbl is not None:
        from etl_python_sqlite_spark.operators.cache import tie

        # keepalive: the fresh spark.table frame does not hold the memo
        # handle, and the handle's tie_stage_table finalizer would DROP
        # the table once an eviction plus GC releases it — the consumer
        # must keep the handle alive for its own lifetime
        return tie(spark.table(tbl), keepalive=[e]), True
    return (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        False,
    )


#: DISTINCT (l_orderkey, l_partkey) frame — the per-order basket stage
#: shared by part_basket_pairs (every invocation was re-scanning
#: lineitem and re-shuffling the distinct: 0.9 s at sf0.1) and the
#: co-occurrence edge build (same first stage).
_ORDPART_MEMO = StageMemo(_FLAG_HIST_MAX)


def _ordpart_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(_key):
        li = table(spark, sf_dir, "lineitem")
        op = li.select("l_orderkey", "l_partkey").distinct().persist()
        op.count()  # self-join consumers in concurrent bench actions
        return op

    return _ORDPART_MEMO.get(spark, sf_dir, "lineitem", build=build)


#: (eor, deg, n_edges, coocc handle): the degree-ORIENTED edge stage
#: (operators/graph.orient_edges over the memoized co-occurrence
#: frame), persisted + eagerly counted once per session. r11-opt:
#: part_triangle_stats was rebuilding this orientation (degree agg +
#: two joins + repartition + persist + count ≈ 1.35 s at sf0.1) on
#: EVERY invocation even though it is a pure function of the memoized
#: edge set. The held coocc handle keeps the parent memo entry alive
#: (tie composition rule); it belongs to _COOCC_MEMO, so evicting this
#: entry never frees it.
_TRI_STAGE_MEMO = StageMemo(_FLAG_HIST_MAX)


def _triangle_oriented_stage(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int, DataFrame]:
    from etl_python_sqlite_spark.operators.graph import orient_edges

    def build(_key):
        e = _cooccurrence_edges(spark, sf_dir)
        eor, deg = orient_edges(e)
        deg = deg.persist()
        eor = eor.persist()
        n_edges = eor.count()  # materializer doubles as the tier gate
        return (eor, deg, n_edges, e)

    return _TRI_STAGE_MEMO.get(spark, sf_dir, "lineitem", build=build)


def release_shared_histograms() -> None:
    """Unpersist and forget every memoized lineitem shared stage (the
    per-flag cents histograms, the co-occurrence edge frames/tables,
    the (order, part) distinct AND the derived oriented-edge stage)."""
    for memo in (_FLAG_CUM_MEMO, _FLAG_HIST_MEMO, _TRI_STAGE_MEMO,
                 _ORDPART_MEMO, _COOCC_MEMO):
        memo.release()


def robust_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per return flag: exact p01/p99 order
    statistics ON the integer-cents quantization of l_extendedprice
    (rank k = ⌈p·n⌉ in integer micro-units), then every price clamped
    into [p01, p99] and summed as BIGINT cents.

    Shape: ONE table scan → per-flag cents HISTOGRAM (uniform
    (flag, cents) shuffle key, map-side partial aggregation) → rank
    lookups on a cumulative-sum window over DISTINCT values only → the
    winsorized sum aggregates the histogram itself (Σ cnt·clamp(c)),
    never re-scanning the table. vs the previous per-group row_number
    sort over FULL ROWS: the rank pass now moves only (cents, cnt)
    pairs, the table scan aggregates map-side before any shuffle, and
    wherever quantization compresses (real price/score columns repeat;
    this synthetic uniform column is the worst case at ~99% distinct)
    the per-group sorted pass shrinks with |distinct values|. Beyond
    that, exact selection at extreme group sizes upgrades to two-level
    bucketed rank (coarse band cumsum → in-band cumsum) — same
    semantics, the oracle is unchanged by plan choice.

    ONE JOB, ZERO COLLECTS (r7 — the mad_outlier_scan rewrite applied
    to its pair): both percentile picks are per-flag WINDOW values over
    the cumulative histogram, consumed directly by the winsorized
    aggregate in the same plan. The collect-then-literal form this
    replaces (rank picks collected as ≤|flag-domain| rows and re-entered
    as literal CASEs — two serialized jobs) remains the right shape
    when a pick must reach a DIFFERENT table's scan predicate
    (bounded-domain rule; see impute_group_median's r5 history).

    The histogram itself is the memoized SHARED stage with
    ``mad_outlier_scan`` (same roll-up, same table — one scan feeds
    both queries in a session; see ``_flag_cents_hist``)."""
    cum = _flag_cents_cum(spark, sf_dir)
    wall = Window.partitionBy("l_returnflag")

    def pick(k) -> Column:
        return F.min(
            F.when(
                (F.col("cum") >= k) & (F.col("cum") - F.col("cnt") < k),
                F.col("c"),
            )
        ).over(wall)

    k01 = F.expr("(10000 * n + 999999) div 1000000")
    k99 = F.expr("(990000 * n + 999999) div 1000000")
    cut = cum.withColumn("p01_c", pick(k01)).withColumn("p99_c", pick(k99))
    clamped_c = F.greatest(F.col("p01_c"), F.least(F.col("p99_c"), F.col("c")))
    return (
        cut.groupBy("l_returnflag")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            (F.max("p01_c") / F.lit(100.0)).alias("p01"),
            (F.max("p99_c") / F.lit(100.0)).alias("p99"),
            F.sum(F.col("cnt") * clamped_c).cast("long").alias("wsum_cents"),
            F.sum(
                F.when(
                    (F.col("c") < F.col("p01_c"))
                    | (F.col("c") > F.col("p99_c")),
                    F.col("cnt"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clamped"),
        )
        .orderBy("l_returnflag")
    )


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff (operators/snapshot.snapshot_diff): two
    deterministic snapshots derived from orders — v2 drops key%10==7,
    adds key%10==3 (absent from v1), and re-prices key%13==0 — then one
    full-outer key join classifies every order. Emits the non-unchanged
    rows; the summary counts are implied by the row set."""
    from etl_python_sqlite_spark.operators.snapshot import snapshot_diff

    o = table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 10 != 3)
    v2 = o.filter(F.col("o_orderkey") % 10 != 7).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1.5
        ).otherwise(F.col("o_totalprice")),
    )
    diff = snapshot_diff(
        v1, v2, keys=["o_orderkey"], compare_cols=["o_totalprice", "o_orderstatus"]
    )
    return diff.filter(F.col("status") != "unchanged")


def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — revenue increase from dropping a discount band:
    one scan, three pushed-down predicates, a single-row conditional
    aggregate. Revenue = Σ(price·discount) in exact DECIMAL (product of
    two exact decimals; order-independent)."""
    li = table(spark, sf_dir, "lineitem")
    # r12-opt (§2.3): Σ(price·discount) in exact 1e-4-unit BIGINTs
    # (see _units / promo_revenue_ratio — same bit-identity + headroom).
    d4 = _units("l_extendedprice", 2) * _units("l_discount", 2)
    return (
        li.filter(
            (F.year("l_shipdate") == 1996)
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(d4).cast("double") / F.lit(10000.0)).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


def volume_shipping_bilateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bilateral trade volume between two nations, by
    supplier nation × customer nation × ship year. The fact table joins
    two dim chains; nation/supplier broadcast, the orders⋈customer side
    stays a key-partitioned shuffle join (both fact-sized at scale)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    pair = ("NATION_1", "NATION_2")
    sn = s.join(
        F.broadcast(n.filter(F.col("n_name").isin(*pair))),
        s.s_nationkey == n.n_nationkey,
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cn = c.join(
        F.broadcast(n.filter(F.col("n_name").isin(*pair))),
        c.c_nationkey == n.n_nationkey,
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    # r12-opt (§2.3): 1e-4-unit BIGINT revenue (see _units /
    # promo_revenue_ratio — same bit-identity + headroom argument).
    rev4 = _units("l_extendedprice", 2) * (F.lit(100) - _units("l_discount", 2))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cn, o.o_custkey == cn.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg((F.sum(rev4).cast("double") / F.lit(10000.0)).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def important_stock_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: no partsupp table in the schema, so
    "stock value" is the shipped value Σ(price·qty) per part from
    lineitem): parts whose value exceeds 1/2000 of the global total.
    The global scalar rides a one-row broadcast; the comparison is
    integer cross-multiplication on micro-unit BIGINTs — never a float
    fraction."""
    li = table(spark, sf_dir, "lineitem")
    # r12-opt (§2.3): per-row value = cents·qty_cents — exact 1e-4-unit
    # BIGINTs (see _units; val4 ≤ 5e10/row, a per-PART sum is far inside
    # BIGINT at any TPC-H scale since rows spread over all parts).
    val4 = _units("l_extendedprice", 2) * _units("l_quantity", 2)
    per_part = li.groupBy("l_partkey").agg(
        F.sum(val4).alias("_v4")
    )
    per_part = per_part.select(
        "l_partkey",
        (F.col("_v4").cast("double") / F.lit(10000.0)).alias("part_value"),
        F.col("_v4").alias("_vi"),
    )
    total = per_part.agg(F.sum("_vi").alias("_ti"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_vi") * 2000 > F.col("_ti"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — distribution of customers by order count
    (zero-order customers included via the left outer join; the
    priority filter stands in for Q13's comment anti-pattern)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def small_quantity_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — revenue locked in small-quantity orders of one
    brand's parts: lines with quantity below 20% of that part's average.
    The per-part average never materializes as a float: ``qty < 0.2·avg``
    is the integer cross-multiplication ``5·qty_c·n < Σqty_c``. Output
    is the exact total plus avg_yearly over the 7-year window via the
    integer _frac_expr."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    # r12-opt (§2.3): floor-quantized BIGINT cents (see _units) — and the
    # revenue needs ONE accumulator, not two: the double output and the
    # integer _frac_expr numerator are both exact functions of Σcents.
    qc = _units("l_quantity", 2)
    brand_parts = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    lines = li.join(
        F.broadcast(brand_parts), li.l_partkey == F.col("p_partkey")
    ).select(
        "l_partkey",
        "l_extendedprice",
        qc.alias("_qc"),
    )
    per_part = lines.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("_qc").alias("_sq"), F.count("*").alias("_n")
    )
    qual = lines.join(
        F.broadcast(per_part), lines.l_partkey == F.col("_pk")
    ).filter(F.lit(5) * F.col("_qc") * F.col("_n") < F.col("_sq"))
    return qual.agg(
        F.sum(_units("l_extendedprice", 2)).alias("_rc"),
        F.count("*").alias("n_lines"),
    ).select(
        (F.col("_rc").cast("double") / F.lit(100.0)).alias("total_revenue"),
        _frac_expr("_rc", "700").alias("avg_yearly"),
        "n_lines",
    )


def supplier_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: no partsupp availqty, so the surplus
    test is a fixed shipped-quantity threshold): suppliers in one nation
    who moved > 30 units of any 'red…' part during 1996 — a chain of
    semi-joins feeding a distinct supplier list."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    red = part.filter(F.col("p_name").startswith("red")).select("p_partkey")
    qc = (F.col("l_quantity").cast("decimal(7,2)") * 100).cast("long")
    heavy = (
        li.filter(F.year("l_shipdate") == 1996)
        .join(F.broadcast(red), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(qc).alias("_sq"))
        .filter(F.col("_sq") > 30 * 100)
        .select("l_suppkey")
        .distinct()
    )
    nat = n.filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(nat), s.s_nationkey == n.n_nationkey)
        .join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def sole_failing_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: return flag 'R' marks the failed
    delivery): for multi-supplier orders where EXACTLY ONE supplier has
    a returned line, charge that supplier — exists/not-exists collapsed
    into one per-order distinct-count aggregate (the set-based plan; no
    correlated per-row probes), then a per-supplier tally."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    # two-level aggregation instead of two countDistincts: a multi-
    # distinct agg plans an Expand (3x the input rows through the
    # shuffle); pre-grouping by (order, supplier) needs one uniform
    # shuffle and the distinct counts become plain counts
    per_pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("l_returnflag") == "R").alias("_failed")
    )
    fail_supp = F.when(F.col("_failed"), F.col("l_suppkey"))
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count("*").alias("_ns"),
        F.count(fail_supp).alias("_nf"),
        F.max(fail_supp).alias("_culprit"),
    )
    culprits = per_order.filter(
        (F.col("_ns") >= 2) & (F.col("_nf") == 1)
    ).select(F.col("_culprit").alias("s_suppkey"))
    # Tally AFTER resolving the name so both engines aggregate on the
    # same key (s_name): if two suppliers ever shared a name, a
    # per-suppkey tally would emit two rows where the oracle emits one.
    return (
        culprits.join(F.broadcast(s), "s_suppkey")
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction at scan width: pull ``$.k`` out of the
    events ``props`` JSON column (JVM-side get_json_object — no Python),
    cast, and roll up per event type. Exact integer aggregation."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


def zorder_orders_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over orders on (o_custkey,
    o_totalprice) — the multi-dimensional data-skipping layout
    (operators/layout.py). Ranks are integer-exact ((rn−1)·256 div n,
    tie-broken by o_orderkey so both engines rank identically) and the
    bit interleave is the SAME generated SQL text on Spark and DuckDB —
    the whole clustering key is value-hash-checked. File-level skipping
    evidence (per-file min/max shrink on BOTH columns) is pinned in
    tests/test_layout.py."""
    from etl_python_sqlite_spark.operators.layout import zorder_ranks, zvalue_expr

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    ranked = zorder_ranks(
        o, ["o_custkey", "o_totalprice"], bits=8, tiebreak="o_orderkey"
    )
    return ranked.select(
        "o_orderkey",
        F.col("_r_o_custkey").alias("r_cust"),
        F.col("_r_o_totalprice").alias("r_price"),
        "zvalue",
    ).orderBy("o_orderkey")


def impute_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median imputation for missing values — the standard numeric
    cleansing pass, with the gap derived deterministically (acctbal of
    every 7th customer treated as missing) so both engines see the same
    holes. The imputed value is the EXACT per-nation lower-median order
    statistic of the observed values (rank ⌈n/2⌉ — rank selection does
    no float arithmetic), so the whole output is engine-exact."""
    c = table(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        "c_nationkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("c_acctbal")
        ).alias("bal"),
    )
    observed = base.filter(F.col("bal").isNotNull())
    grp = Window.partitionBy("c_nationkey")
    ranked = observed.select(
        "c_nationkey",
        "bal",
        F.row_number().over(grp.orderBy("bal", "c_custkey")).alias("rn"),
        F.count("*").over(grp).alias("n"),
    )
    medians = ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select("c_nationkey", F.col("bal").alias("median_bal"))
    return (
        base.join(F.broadcast(medians), "c_nationkey")
        .select(
            "c_custkey",
            "c_nationkey",
            F.coalesce(F.col("bal"), F.col("median_bal")).alias("bal_imputed"),
            F.col("bal").isNull().alias("was_imputed"),
        )
        .orderBy("c_custkey")
    )


def mad_outlier_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per return flag via the Median Absolute
    Deviation, as a VALUE-HISTOGRAM selection: prices quantize to exact
    integer cents, ONE groupBy builds the per-flag cents histogram, and
    both order statistics (median, then MAD) are rank lookups on tiny
    cumulative-sum windows over DISTINCT values — the deviation
    histogram derives from the price histogram by arithmetic, so the
    600 k-row table is scanned ONCE and never row-sorted.

    Why not per-group row_number sorts over full rows (the previous
    shape): the rank pass here moves only (cents, cnt) pairs, partial
    aggregation combines map-side before the shuffle, the second
    ("deviation") statistic costs a histogram transform instead of a
    second table scan, and wherever quantization compresses the
    per-group sorted pass shrinks with |distinct values| (synthetic
    uniform prices are the ~99%-distinct worst case). The outlier cut
    2·d > 3·MAD is pure integer arithmetic — no float 1.5· multiply to
    disagree across engines.

    ONE JOB, ZERO COLLECTS (r7, VERDICT r6 #2 — this was the last
    perf-`weak` query): both rank picks are per-flag WINDOW values
    instead of driver literals. The median enters each histogram row as
    a ``min(when(rank-hit)) over (partition by flag)`` window column;
    the deviation histogram derives arithmetically in the same plan;
    the MAD pick is a second window over it; the outlier cut reads the
    windowed MAD directly. No collect barrier, no broadcast exchange —
    every stage moves only (flag, value, cnt) rows, partitioned by the
    3-value flag domain. Interleaved same-session A/B at sf0.1 (warm
    cached histogram): 2.3–3.7 s (three serialized collect jobs) →
    **0.46–0.62 s** count-measured / 1.1–1.2 s full-noop, bit-identical
    output. The collect-then-literal form stays the right call where a
    pick feeds a SECOND table's scan predicate (bounded-domain rule);
    here every consumer lives in the same plan, so windows win.

    The value histogram is the memoized SHARED stage with
    ``robust_price_stats`` (identical roll-up over the same table; one
    scan feeds both queries in a session — see ``_flag_cents_hist``)."""
    wd = Window.partitionBy("l_returnflag").orderBy("d")
    wall = Window.partitionBy("l_returnflag")
    k = F.expr("(n + 1) div 2")

    def pick(val_col: str) -> Column:
        # the histogram row CONTAINING rank k holds the statistic
        return F.min(
            F.when(
                (F.col("cum") >= k) & (F.col("cum") - F.col("cnt") < k),
                F.col(val_col),
            )
        ).over(wall)

    # cumulative histogram WITH the median pre-picked — the memoized
    # second shared stage (one 3-partition sort per session, not per
    # query; see _flag_cents_cum)
    cum1 = _flag_cents_cum(spark, sf_dir)
    dhist = cum1.groupBy(
        "l_returnflag", F.abs(F.col("c") - F.col("med")).alias("d")
    ).agg(
        F.sum("cnt").alias("cnt"),
        F.max("med").alias("med"),
        F.max("n").alias("n"),
    )
    cum2 = dhist.select(
        "l_returnflag",
        "d",
        "cnt",
        "med",
        "n",
        F.sum("cnt").over(wd).alias("cum"),
    ).withColumn("mad", pick("d"))
    return (
        cum2.groupBy("l_returnflag")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            (F.max("med") / F.lit(100.0)).alias("median_price"),
            (F.max("mad") / F.lit(100.0)).alias("mad"),
            F.sum(
                F.when(
                    2 * F.col("d") > 3 * F.col("mad"), F.col("cnt")
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("l_returnflag")
    )


def scd2_apply_changes_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 apply-changes (operators/snapshot
    .scd2_apply_changes) proven against the full-rebuild oracle: build
    history from the events before the corpus' temporal midpoint, merge
    the remainder as a change batch, and the result must be
    BIT-IDENTICAL to one-shot SCD2 over the whole log — closed
    intervals never rescanned, only affected keys' open intervals
    re-window (O(delta), the CDC-compaction discipline). The midpoint
    split is computed in-query (one bounded 1-row collect), so per-round
    data regeneration moves the split with the data; the oracle is the
    same full-history SQL as ``scd2_event_intervals``."""
    from etl_python_sqlite_spark.operators.cache import tie
    from etl_python_sqlite_spark.operators.snapshot import (
        scd2_apply_changes,
        scd2_intervals,
    )

    ev = table(spark, sf_dir, "events")
    # r12-opt (guide §2.4 / the fewer-driver-actions rule): the midpoint
    # split used to be a driver collect (min/max first() — one whole
    # action before the query's own). It is now a 1-row broadcast
    # folded into the lazy plan (the repo's accepted scalar shape) —
    # output-UNCHANGED by construction: merge ≡ rebuild holds for ANY
    # split value (the oracle is the same full-history SQL), so even a
    # microsecond-level engine difference in interval halving cannot
    # move the result. The split still derives from the data, so
    # per-round regeneration moves it automatically.
    bounds = ev.agg(F.min("ts").alias("_lo"), F.max("ts").alias("_hi"))
    evb = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "_split", F.col("_lo") + (F.col("_hi") - F.col("_lo")) / 2
    )
    hist = scd2_intervals(
        evb.filter(F.col("ts") < F.col("_split")).select(
            "user_id", "event_type", "ts", "event_id"
        ),
        key="user_id", state_col="event_type", ts_col="ts",
        order_cols=["event_id"],
    ).persist()  # consumed by open-affected semi/anti + untouched pass
    changes = evb.filter(F.col("ts") >= F.col("_split")).select(
        "user_id", "event_type", "ts", "event_id"
    )
    # the midpoint split guarantees time-ordered batches by
    # construction — skip the (bounded) late-data validation count
    merged = scd2_apply_changes(
        hist, changes, key="user_id", state_col="event_type", ts_col="ts",
        order_cols=["event_id"], validate=False,
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    out = merged.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.coalesce(F.date_format("valid_to", fmt), F.lit("")).alias(
            "valid_to"
        ),
        F.col("is_current").cast("int").alias("is_current"),
    ).orderBy("user_id", "valid_from")
    return tie(out, hist)


def scd2_rebuild_late_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order CDC merge via per-key rebuild (operators/snapshot
    .scd2_rebuild_keys — the escape hatch scd2_apply_changes' validator
    points at): history is built from the events whose ids miss a
    deterministic residue class, the held-out slice arrives as a LATE
    batch (its timestamps interleave arbitrarily with closed
    intervals), and only the affected keys' interval sets are rebuilt
    from their retained change points ∪ the batch — closed-interval
    split, same-state collapse and boundary ties all exercised on real
    data. The DuckDB twin replays the identical window algebra
    (change-point flag → affected-key union with the _src/NULLS FIRST/
    state tiebreak → lead() close), so the whole merged history is
    value-hash-checked. Untouched keys pass through with no window.

    Scale: O(touched keys' intervals + batch); the untouched side is
    one anti-join. Late-heavy workloads degrade gracefully toward a
    full rebuild — exactly the contract's intent."""
    from etl_python_sqlite_spark.operators.cache import tie
    from etl_python_sqlite_spark.operators.snapshot import (
        scd2_intervals,
        scd2_rebuild_keys,
    )

    ev = table(spark, sf_dir, "events")
    inorder = ev.filter(F.col("event_id") % 7 != 3)
    late = ev.filter(F.col("event_id") % 7 == 3).select(
        "user_id", "event_type", "ts", "event_id"
    )
    hist = scd2_intervals(
        inorder, key="user_id", state_col="event_type", ts_col="ts",
        order_cols=["event_id"],
    ).persist()  # consumed by the semi (affected) and anti (untouched) passes
    merged = scd2_rebuild_keys(
        hist, late, key="user_id", state_col="event_type", ts_col="ts",
        order_cols=["event_id"],
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    out = merged.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.coalesce(F.date_format("valid_to", fmt), F.lit("")).alias(
            "valid_to"
        ),
        F.col("is_current").cast("int").alias("is_current"),
    ).orderBy("user_id", "valid_from")
    return tie(out, hist)


def scd2_event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build over the events stream: each user's
    consecutive runs of equal event_type collapse into validity
    intervals (operators/snapshot.scd2_intervals — Kimball CDC shape as
    two windows over ONE key-partitioned sort). Timestamps are emitted
    as microsecond ISO strings (the repo's no-native-temporal-output
    invariant); the open interval renders valid_to as '' with
    is_current=1."""
    from etl_python_sqlite_spark.operators.snapshot import scd2_intervals

    ev = table(spark, sf_dir, "events")
    iv = scd2_intervals(
        ev, key="user_id", state_col="event_type", ts_col="ts",
        order_cols=["event_id"],
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return iv.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.coalesce(F.date_format("valid_to", fmt), F.lit("")).alias(
            "valid_to"
        ),
        F.col("is_current").cast("int").alias("is_current"),
    ).orderBy("user_id", "valid_from")


def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the per-(status, month) order
    rollup is built as a STORED state over history (orders before
    1997-01-01), the later months arrive as a delta, and
    ``operators/incremental.merge_agg_states`` merges the two partial
    states — the fact table's history partition is aggregated exactly
    once, the merge itself touches only O(groups) rows. The oracle
    recomputes the rollup from scratch: merge ≡ recompute is the whole
    correctness claim of incremental aggregation (count/sum/min/max
    are monoids; the mean is finalized from (sum, n) read-time with
    the repo's integer half-up formula).

    Scale: at 100 TB the "state" side is the stored rollup table
    (O(groups) rows, no fact scan at all); here both sides derive from
    one parquet scan with disjoint pushed filters — each partial agg is
    map-side-combined on the uniform (status, month) key.
    """
    from etl_python_sqlite_spark.operators.incremental import (
        build_agg_state,
        finalize_avg_micro,
        merge_agg_states,
    )

    o = table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    cut = "1997-01-01"
    rows = o.select(
        F.col("o_orderstatus").alias("status"),
        month,
        cents.alias("cents"),
        "o_orderdate",
    )
    state = build_agg_state(
        rows.filter(F.col("o_orderdate") < cut), ["status", "order_month"], "cents"
    )
    delta = build_agg_state(
        rows.filter(F.col("o_orderdate") >= cut), ["status", "order_month"], "cents"
    )
    merged = finalize_avg_micro(merge_agg_states(state, delta))
    return merged.select(
        "status",
        "order_month",
        F.col("n").alias("n_orders"),
        F.col("sum").alias("total_cents"),
        F.col("min").alias("min_cents"),
        F.col("max").alias("max_cents"),
        F.col("avg_micro").alias("avg_microcents"),
    ).orderBy("status", "order_month")


def part_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 20 part pairs most often ordered
    together. The candidate space is per-order pairs — bounded by the
    basket size (TPC-H orders hold ≤ 7 lineitems), so the self-join on
    the uniform l_orderkey key is O(rows · basket), never corpus-
    quadratic: the same blocking argument as the dedup family, with the
    order id as the natural block key.

    Plan: distinct (order, part) → equi-self-join on order with a
    part_a < part_b predicate (each unordered pair counted once) →
    count per pair → TakeOrderedAndProject top-20 (count desc, pair asc
    — total order, hash-stable). The distinct frame feeds BOTH join
    sides: persisted + materialized, scoped via tie(), so the scan and
    the distinct shuffle run once (derived-frame self-join invariant).
    """
    from etl_python_sqlite_spark.operators.cache import tie

    # the memoized shared (order, part) distinct stage (r11-opt —
    # part_basket_pairs re-built it per invocation; the co-occurrence
    # edge build starts from the same frame)
    op = _ordpart_distinct(spark, sf_dir)
    a = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = a.join(b, "ok").filter(F.col("part_a") < F.col("part_b"))
    out = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )
    return tie(out, keepalive=[op])


def scd1_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-1 upsert preview: the pre-1997 orders form the stored
    per-customer "latest order" dimension, later orders arrive as
    updates, and ``operators/snapshot.scd1_merge`` resolves one
    latest-wins row per customer — MERGE INTO semantics as a single
    window over the union (ONE shuffle on the key; a join-based upsert
    would shuffle twice and still need the anti-join). (o_orderdate,
    o_orderkey) is a total order per customer, so the winner is
    deterministic and the oracle replays it as a ROW_NUMBER pick over
    the full table.
    """
    from etl_python_sqlite_spark.operators.snapshot import scd1_merge

    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    cut = "1997-01-01"
    merged = scd1_merge(
        o.filter(F.col("o_orderdate") < cut),
        o.filter(F.col("o_orderdate") >= cut),
        keys=["o_custkey"],
        order_cols=["o_orderdate", "o_orderkey"],
    )
    return merged.select(
        "o_custkey",
        F.col("o_orderkey").alias("latest_orderkey"),
        F.col("o_orderstatus").alias("latest_status"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_orderdate"),
        F.col("price_cents").alias("latest_price_cents"),
    ).orderBy("o_custkey")


def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations audit over orders
    (operators/expectations.check — the Deequ-shaped constraint API):
    five row-level rules fold into ONE aggregation pass over the scan;
    uniqueness adds one uniform-key groupBy; the referential rule is a
    broadcast anti-join. Output is a single flat audit row. The tight
    price band is deliberate — it must COUNT violations, not just pass,
    so the oracle checks the counting path."""
    from etl_python_sqlite_spark.operators import expectations as DQ

    o = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    rules = [
        DQ.not_null("key_not_null", "o_orderkey", "o_custkey"),
        DQ.unique("orderkey_unique", "o_orderkey"),
        DQ.in_set("status_valid", "o_orderstatus", "O", "F", "P"),
        DQ.between("price_band", "o_totalprice", 2000.0, 400000.0),
        DQ.matches("priority_format", "o_orderpriority", "^[1-5]-"),
        DQ.referential("cust_exists", "o_custkey", cust, "c_custkey"),
        DQ.satisfies("modern_dates", "o_orderdate >= DATE '1993-01-01'"),
    ]
    return DQ.check(o, rules)


def regression_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group OLS: extended price (cents) regressed on quantity
    (cents) per (returnflag, linestatus) — the §2.4 aggregate surface
    extended to the regression family via ``operators/stats.ols_by_group``
    (integer-exact closed form; slope/intercept in micro-units; the
    docstring there carries the algebra and the DECIMAL(38) bounds).
    One map-side-combined groupBy over the scan — per-row products stay
    in longs, only the six accumulators are wide decimals."""
    from etl_python_sqlite_spark.operators.stats import ols_by_group

    # r12-opt (§2.3): floor-quantized BIGINT cents (see _units) replace
    # the per-row DECIMAL casts — same integers, no per-row BigDecimal.
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        _units("l_quantity", 2).alias("qty_cents"),
        _units("l_extendedprice", 2).alias("price_cents"),
    )
    return ols_by_group(
        li,
        ["l_returnflag", "l_linestatus"],
        F.col("qty_cents"),
        F.col("price_cents"),
    ).orderBy("l_returnflag", "l_linestatus")


def part_cooccurrence_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (operators/graph.pagerank — tiered: this
    SF-scale co-occurrence graph fits one partition, so the measured
    edge count routes it to the single-task numpy tier; bigger graphs
    get the Pregel loop with broadcast- or shuffle-joined ranks, all
    three bit-identical) over the part co-occurrence graph: directed edges between
    every pair of parts sharing an order, both orientations — the same
    per-order blocking as ``part_basket_pairs``, so edge generation is
    O(rows · basket), never corpus-quadratic. Top 25 most central
    parts after 5 iterations; every rank unit replayed bit-for-bit by
    the unrolled-CTE DuckDB twin."""
    from etl_python_sqlite_spark.operators.cache import tie
    from etl_python_sqlite_spark.operators.graph import pagerank

    # directed edge set = both orientations of the memoized DISTINCT
    # undirected co-occurrence frame (shared with part_triangle_stats —
    # one self-join + distinct feeds the whole graph query family);
    # the two halves are disjoint (u<v vs u>v), so the union is itself
    # distinct and pagerank can skip its own dedup shuffle. Above the
    # bucketed-stage gate the accessor hands back the stage TABLE
    # (already directed, bucketed by u) and the flag routes pagerank
    # around its full-E repartition — zero exchanges of E end to end.
    e = _cooccurrence_edges(spark, sf_dir)
    # the memo measured the canonical row count at build — hand it to
    # the tier gate so no invocation pays a count() job of its own
    n_canon = getattr(e, _COOCC_NEDGES_ATTR, None)
    if getattr(e, _COOCC_TABLE_ATTR, None) is not None:
        # bucketed tier: the stage table is ALREADY directed and
        # hash-partitioned on u — zero exchanges of E in the Pregel loop
        directed, bucketed = _cooccurrence_edges_directed(spark, sf_dir)
        pr = pagerank(
            directed, "u", "v", iterations=5,
            edges_distinct=True, edges_bucketed=bucketed,
            n_edges=None if n_canon is None else 2 * n_canon,
        )
    else:
        # cache tier: hand the CANONICAL frame straight through —
        # pagerank(edges_symmetric) derives both orientations inside
        # the local kernel, halving the single-task Arrow funnel
        # (r11-opt; the Pregel tiers union them up front as before)
        pr = pagerank(
            e, "u", "v", iterations=5,
            edges_distinct=True, edges_symmetric=True, n_edges=n_canon,
        )
    out = (
        pr.orderBy(F.desc("r"), "node")
        .limit(25)
        .select(F.col("node").alias("part"), F.col("r").alias("pr_units"))
    )
    # pr's own tie must stay alive as long as this result (its plan
    # reads the checkpointed rank RDD) — composition rule in cache.py
    return tie(out, keepalive=[pr])


def part_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient over the part
    co-occurrence graph (operators/graph.triangle_counts — degree-
    ordered forward algorithm, every triangle generated exactly once
    at its lowest-(degree,id) corner, wedge volume O(|E|^1.5) on any
    degree distribution). Same per-order pair blocking as
    ``part_basket_pairs``. cc_micro = floor(2e6·tri / (d·(d−1))) —
    pure-integer, replayed bit-for-bit by the DuckDB twin. Top 25 by
    triangle count."""
    from etl_python_sqlite_spark.operators.cache import tie
    from etl_python_sqlite_spark.operators.graph import triangle_counts

    # the memoized shared co-occurrence stage IS this operator's
    # canonical (u < v) distinct edge set, and the degree-oriented
    # frame on top of it is memoized too (_triangle_oriented_stage) —
    # each invocation runs only the closure + count stages
    eor, deg, n_edges, handle = _triangle_oriented_stage(spark, sf_dir)
    tc = triangle_counts(handle, "u", "v", prepared=(eor, deg, n_edges))
    out = (
        tc.select(
            F.col("node").alias("part"),
            F.col("tri_cnt"),
            F.col("degree"),
            F.expr("(2000000 * tri_cnt) div (degree * (degree - 1))")
            .cast("long")
            .alias("cc_micro"),
        )
        .orderBy(F.desc("tri_cnt"), "part")
        .limit(25)
    )
    return tie(out, keepalive=[tc])


def ewma_revenue_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted trailing smoothing of daily order revenue
    with a spike flag — the time-series monitor shape (EWMA band alerts)
    the window family was missing.

    Cross-engine exactness: ln()/pow() on doubles are not bit-portable,
    so the decay (3/4)^j is cleared of fractions — trailing-8 weights
    w_j = 3^(j-1)·4^(8-j) (j = 1..8, decay 3/4 per step) over integer
    CENTS, giving an exact BIGINT numerator; rows are emitted only once
    all 8 lags exist, so the weight mass is the constant Σw = 4^8 − 3^8
    = 58975 and the 2×-band spike test clears the division entirely:
    rev·58975 > 2·num. The window runs over the per-day rollup — a
    frame bounded by the CALENDAR domain (like the cents histogram),
    not data volume, so the single ordered window is scale-safe."""
    orders = table(spark, sf_dir, "orders")
    # r12-opt (§2.3): group/order on the native DATE and format the ISO
    # day string after the per-day rollup — identical strings (ISO
    # strings order exactly like their dates), no per-row formatter.
    daily = orders.groupBy(F.to_date("o_orderdate").alias("_d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.orderBy("_d")
    lags = [F.lag("rev_cents", j).over(w) for j in range(1, 9)]
    weights = [3 ** (j - 1) * 4 ** (8 - j) for j in range(1, 9)]
    num = None
    for wt, lg in zip(weights, lags):
        term = F.lit(wt) * F.coalesce(lg, F.lit(0))
        num = term if num is None else num + term
    smoothed = daily.select(
        F.date_format("_d", "yyyy-MM-dd").alias("day"),
        "rev_cents",
        num.cast("long").alias("ewma_num"),
        lags[-1].alias("_l8"),
    ).filter(F.col("_l8").isNotNull())
    total_w = 4**8 - 3**8
    return (
        smoothed.select(
            "day",
            "rev_cents",
            "ewma_num",
            F.when(
                F.col("rev_cents") * total_w > 2 * F.col("ewma_num"), 1
            )
            .otherwise(0)
            .cast("long")
            .alias("spike"),
        )
        .orderBy("day")
    )
