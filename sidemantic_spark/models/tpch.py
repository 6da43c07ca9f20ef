"""Semantic models over the driver's TPC-H-ish testdata tables.

These play the role of the reference's test fixtures
(``tests/native-fixtures/*/models``, FIXTURES.md mapping): a star schema
``lineitem >- orders >- customer >- nation >- region`` plus
``supplier`` and the ``events`` stream table.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from sidemantic_spark.core.layer import SparkSemanticLayer
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship, Segment

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata parquet as a temp view named after the
    table. Plain parquet scans, so filter/column pushdown stays free.

    The driver's parquet uses TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; we read nanos as LONG (legacy conf) and cast back to
    timestamps in the view — a JVM-side, codegen'd cast on top of the
    scan, so pushdown on other columns is preserved.

    The schema comes from the file footer (read with pyarrow) and is
    handed to the reader, so registering fires no schema-inference job.
    """
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ntz = spark.conf.get(
        "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
    ).lower() == "true"
    import os as _os

    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are DIRECTORIES of part files (e.g. the
        # synthesized sf1 in scripts/scale_check.py); read the schema
        # from any part file
        schema_path = path
        if _os.path.isdir(path):
            parts = sorted(
                f for f in _os.listdir(path) if f.endswith(".parquet")
            )
            if parts:
                schema_path = _os.path.join(path, parts[0])
        schema = pq.read_schema(schema_path)
        nanos_cols = [
            f.name for f in schema if str(f.type).startswith("timestamp[ns")
        ]
        df = spark.read.schema(_footer_schema(schema, ntz)).parquet(path)
        for c in nanos_cols:
            df = df.withColumn(
                # integer division: a double roundtrip has 256ns ulp at 2024
                # epochs and truncates ~1.6% of aligned values 1us low
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
        df.createOrReplaceTempView(t)


def _footer_schema(schema, ntz: bool = True):
    """The Spark schema ``spark.read.parquet`` infers for a file whose
    pyarrow footer schema is ``schema``: every field nullable, a
    zone-less timestamp as TIMESTAMP_NTZ when ``ntz`` (Spark's
    ``spark.sql.parquet.inferTimestampNTZ.enabled``), and a nanosecond
    timestamp as the BIGINT the ``nanosAsLong`` read yields."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    return T.StructType([
        T.StructField(
            f.name,
            T.LongType() if str(f.type).startswith("timestamp[ns")
            else from_arrow_type(f.type, prefer_timestamp_ntz=ntz),
            True,
        )
        for f in schema
    ])


def build_layer(spark: SparkSession, sf_dir: str | None = None) -> SparkSemanticLayer:
    if sf_dir is not None:
        register_tables(spark, sf_dir)
    layer = SparkSemanticLayer(spark)

    layer.add_model(
        Model(
            name="orders",
            table="orders",
            primary_key="o_orderkey",
            dimensions=[
                Dimension(name="status", sql="o_orderstatus"),
                Dimension(name="priority", sql="o_orderpriority"),
                Dimension(name="order_date", sql="o_orderdate", type="time"),
                Dimension(name="custkey", sql="o_custkey", type="numeric"),
            ],
            metrics=[
                Metric(name="revenue", agg="sum", sql="CAST(o_totalprice AS DECIMAL(18,2))"),
                Metric(name="order_count", agg="count"),
                Metric(name="customer_count", agg="count_distinct", sql="o_custkey"),
                Metric(name="approx_customers", agg="approx_count_distinct", sql="o_custkey"),
                # decimal accumulator so the exact-sum/count avg is
                # bit-identical across engines (double sums are
                # order-dependent; decimal sums are exact)
                Metric(
                    name="avg_order_value",
                    agg="avg",
                    sql="CAST(o_totalprice AS DECIMAL(18,2))",
                ),
                Metric(name="max_order_value", agg="max", sql="o_totalprice"),
                Metric(name="min_order_value", agg="min", sql="o_totalprice"),
                Metric(
                    name="open_revenue",
                    agg="sum",
                    sql="CAST(o_totalprice AS DECIMAL(18,2))",
                    filters=["orders.status = 'O'"],
                ),
                Metric(
                    name="pending_revenue",
                    agg="sum",
                    sql="CAST(o_totalprice AS DECIMAL(18,2))",
                    filters=["orders.status = 'P'"],
                    fill_nulls_with=0,
                ),
                Metric(
                    name="aov_ratio",
                    type="ratio",
                    numerator="revenue",
                    denominator="order_count",
                ),
                # statistical aggs (ref core/metric.py:36-52 agg list)
                Metric(name="price_stddev", agg="stddev", sql="o_totalprice"),
                Metric(name="price_variance", agg="variance", sql="o_totalprice"),
                Metric(name="price_stddev_pop", agg="stddev_pop", sql="o_totalprice"),
                Metric(name="price_median", agg="median", sql="o_totalprice"),
                Metric(
                    # opaque complete-SQL measure (ref core/metric.py:58-66).
                    # DECIMAL accumulators: double sums are
                    # partitioning-order-dependent, so the ratio would
                    # differ in final ULPs across engines/core counts
                    name="open_rate",
                    sql=(
                        "CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN "
                        "CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE)"
                        " / NULLIF(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) "
                        "AS DOUBLE), 0)"
                    ),
                    sql_is_complete=True,
                ),
                Metric(
                    name="open_share",
                    type="derived",
                    expr="CAST(open_revenue AS DOUBLE) / CAST(revenue AS DOUBLE)",
                ),
                # metric-level window total (BSL `_.all(...)`, ref
                # sql/generator.py:4358-4460): percent-of-total as a
                # METRIC, not a table calc — all(revenue) compiles to
                # SUM(SUM(x)) OVER () across the whole result
                Metric(
                    name="revenue_share",
                    type="derived",
                    expr="CAST(revenue AS DOUBLE) / CAST(all(revenue) AS DOUBLE)",
                ),
                Metric(
                    name="cumulative_revenue",
                    type="cumulative",
                    base_metric="revenue",
                ),
                Metric(
                    name="revenue_3m",
                    type="cumulative",
                    base_metric="revenue",
                    window="90 days",
                ),
                Metric(
                    name="revenue_ytd",
                    type="cumulative",
                    base_metric="revenue",
                    grain_to_date="year",
                ),
                Metric(
                    name="revenue_mom",
                    type="time_comparison",
                    base_metric="revenue",
                    comparison_type="mom",
                    calculation="percent_change",
                ),
                Metric(
                    name="revenue_qoq_ratio",
                    type="time_comparison",
                    base_metric="revenue",
                    comparison_type="qoq",
                    calculation="ratio",
                ),
                Metric(
                    name="revenue_yoy_diff",
                    type="time_comparison",
                    base_metric="revenue",
                    comparison_type="yoy",
                    calculation="difference",
                ),
                Metric(
                    # custom comparison offset (ref core/metric.py:315
                    # time_offset): vs 2 months ago, not the standard set
                    name="revenue_vs_2mo",
                    type="time_comparison",
                    base_metric="revenue",
                    time_offset="2 month",
                    calculation="difference",
                ),
                Metric(
                    # share-of-prior-period: this month's revenue over
                    # last month's (ratio with offset_window, reference
                    # sql/generator.py:6331-6394)
                    name="revenue_vs_prior_month",
                    type="ratio",
                    numerator="revenue",
                    denominator="revenue",
                    offset_window="1 month",
                ),
                Metric(
                    # prior-period VALUE (calculation="prior") — the
                    # shape MetricFlow offset aliases synthesize
                    name="revenue_prior_month",
                    type="time_comparison",
                    base_metric="revenue",
                    comparison_type="mom",
                    calculation="prior",
                    public=False,
                ),
                Metric(
                    # derived formula over a window child: the window
                    # plan hoists revenue_prior_month as a pseudo-unit
                    # and combines it with the plain aggregate
                    name="revenue_growth_mom",
                    type="derived",
                    expr="revenue - revenue_prior_month",
                ),
                Metric(
                    # raw window_expression passthrough (reference
                    # core/metric.py:299-308): best month seen to date
                    name="revenue_peak_to_date",
                    type="cumulative",
                    base_metric="revenue",
                    window_expression=(
                        "MAX({value}) OVER ({partition}ORDER BY {time} "
                        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                    ),
                ),
            ],
            segments=[
                Segment(name="urgent", sql="{model}.priority = '1-URGENT'"),
            ],
            relationships=[
                Relationship(
                    name="customer", type="many_to_one", foreign_key="o_custkey"
                ),
                Relationship(
                    # one_to_many: FK lives on the many side (reference
                    # core/relationship.py:27-31)
                    name="lineitem", type="one_to_many", foreign_key="l_orderkey",
                    primary_key="o_orderkey",
                ),
                Relationship(
                    # many_to_many via junction (reference
                    # core/semantic_graph.py:364-410): orders <-> part
                    # through lineitem
                    name="part",
                    type="many_to_many",
                    through="lineitem",
                    through_from_key="l_orderkey",
                    through_to_key="l_partkey",
                ),
            ],
            # no default_time_dimension (see events note)
        )
    )

    layer.add_model(
        Model(
            name="customer",
            table="customer",
            primary_key="c_custkey",
            dimensions=[
                Dimension(name="name", sql="c_name"),
                Dimension(name="mktsegment", sql="c_mktsegment"),
                Dimension(name="acctbal", sql="c_acctbal", type="numeric"),
            ],
            metrics=[
                Metric(name="customer_count", agg="count"),
                Metric(name="total_acctbal", agg="sum", sql="CAST(c_acctbal AS DECIMAL(18,2))"),
                Metric(name="avg_acctbal", agg="avg", sql="c_acctbal"),
            ],
            relationships=[
                Relationship(name="nation", type="many_to_one", foreign_key="c_nationkey"),
            ],
        )
    )

    layer.add_model(
        Model(
            name="nation",
            table="nation",
            primary_key="n_nationkey",
            dimensions=[Dimension(name="name", sql="n_name")],
            metrics=[Metric(name="nation_count", agg="count")],
            relationships=[
                Relationship(name="region", type="many_to_one", foreign_key="n_regionkey"),
            ],
        )
    )

    layer.add_model(
        Model(
            name="region",
            table="region",
            primary_key="r_regionkey",
            dimensions=[Dimension(name="name", sql="r_name")],
        )
    )

    layer.add_model(
        Model(
            name="supplier",
            table="supplier",
            primary_key="s_suppkey",
            dimensions=[Dimension(name="name", sql="s_name")],
            metrics=[
                Metric(name="supplier_count", agg="count"),
                Metric(name="total_s_acctbal", agg="sum", sql="CAST(s_acctbal AS DECIMAL(18,2))"),
            ],
            relationships=[
                Relationship(name="nation", type="many_to_one", foreign_key="s_nationkey"),
                # cross join (reference core/semantic_graph.py:359-362):
                # every supplier offers every part. Placed on this leaf
                # pair because a cross edge shortens BFS paths; here the
                # only affected pairs gain a UNIQUE shortest path (it in
                # fact resolves the latent nation<->part two-way tie).
                Relationship(name="part", type="cross"),
            ],
        )
    )

    layer.add_model(
        Model(
            name="part",
            table="part",
            primary_key="p_partkey",
            dimensions=[
                Dimension(name="brand", sql="p_brand"),
                Dimension(name="type", sql="p_type"),
                Dimension(name="size", sql="p_size", type="numeric"),
            ],
            metrics=[
                Metric(name="part_count", agg="count"),
                Metric(name="avg_retailprice", agg="avg", sql="p_retailprice"),
            ],
        )
    )

    layer.add_model(
        Model(
            name="lineitem",
            table="lineitem",
            primary_key=["l_orderkey", "l_linenumber"],
            dimensions=[
                Dimension(name="returnflag", sql="l_returnflag"),
                Dimension(name="linestatus", sql="l_linestatus"),
                Dimension(name="ship_date", sql="l_shipdate", type="time"),
            ],
            metrics=[
                Metric(name="qty", agg="sum", sql="l_quantity"),
                Metric(name="line_count", agg="count"),
                Metric(
                    name="gross_revenue", agg="sum",
                    sql="CAST(l_extendedprice AS DECIMAL(18,2))",
                ),
                Metric(
                    name="disc_revenue",
                    agg="sum",
                    sql="CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))",
                ),
                Metric(name="avg_qty", agg="avg", sql="l_quantity"),
                Metric(
                    name="last_qty_per_part",
                    agg="sum",
                    sql="l_quantity",
                    non_additive_dimension="ship_date",
                    non_additive_window="max",
                    non_additive_window_groupings=["partkey"],
                ),
            ],
            relationships=[
                Relationship(name="orders", type="many_to_one", foreign_key="l_orderkey"),
                Relationship(name="part", type="many_to_one", foreign_key="l_partkey"),
                Relationship(name="supplier", type="many_to_one", foreign_key="l_suppkey"),
            ],
        )
    )
    # extra dim used by semi-additive groupings
    layer.graph.get_model("lineitem").add_dimension(
        Dimension(name="partkey", sql="l_partkey", type="numeric")
    )

    layer.add_model(
        Model(
            # derived-table scan (reference sql/generator.py:302
            # _model_source_as): the model binds to inline SQL, not a
            # table; joined one_to_one on the composite lineitem PK
            name="lineitem_x",
            sql=(
                "SELECT l_orderkey, l_linenumber, "
                "l_quantity * 2 AS qty2 FROM lineitem"
            ),
            primary_key=["l_orderkey", "l_linenumber"],
            metrics=[Metric(name="qty2_total", agg="sum", sql="qty2")],
        )
    )
    layer.graph.get_model("lineitem").relationships.append(
        Relationship(
            name="lineitem_x",
            type="one_to_one",
            foreign_key=["l_orderkey", "l_linenumber"],
            primary_key=["l_orderkey", "l_linenumber"],
        )
    )
    layer.graph._invalidate()

    # corpus table as a first-class semantic model: per-source/lang
    # document stats query through the same compiler as TPC-H
    layer.add_model(
        Model(
            name="documents",
            table="documents",
            primary_key="doc_id",
            dimensions=[
                Dimension(name="lang"),
                Dimension(name="source"),
                Dimension(name="n_chars", type="numeric"),
            ],
            metrics=[
                Metric(name="doc_count", agg="count"),
                Metric(name="total_chars", agg="sum", sql="n_chars"),
                Metric(name="avg_chars", agg="avg", sql="n_chars"),
            ],
        )
    )

    layer.add_model(
        Model(
            name="events",
            table="events",
            primary_key="event_id",
            dimensions=[
                Dimension(name="event_type"),
                Dimension(name="ts", type="time"),
                Dimension(name="user_id", type="numeric"),
                # derived grouping dim: per-group funnel/retention tests
                Dimension(
                    name="user_bucket",
                    sql="CAST(user_id % 2 AS INT)",
                    type="categorical",
                ),
                Dimension(
                    name="next_event",
                    window="LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)",
                ),
            ],
            metrics=[
                Metric(name="event_count", agg="count"),
                Metric(name="total_value", agg="sum", sql="CAST(value AS DECIMAL(18,6))"),
                # schema-on-read metric over the JSON props column
                # (get_json_object is JVM-side and streams incrementally)
                Metric(
                    name="props_k_sum",
                    agg="sum",
                    sql="CAST(get_json_object(props, '$.k') AS DECIMAL(18,2))",
                ),
                Metric(name="active_users", agg="count_distinct", sql="user_id"),
                Metric(
                    name="event_wow",
                    type="time_comparison",
                    base_metric="event_count",
                    comparison_type="wow",
                    calculation="percent_change",
                ),
                Metric(
                    name="signup_to_purchase",
                    type="conversion",
                    entity="user_id",
                    base_event="events.event_type = 'signup'",
                    conversion_event="events.event_type = 'purchase'",
                    conversion_window="7 days",
                ),
                Metric(
                    name="signup_funnel",
                    type="conversion",
                    entity="user_id",
                    steps=[
                        "events.event_type = 'signup'",
                        "events.event_type = 'view'",
                        "events.event_type = 'purchase'",
                    ],
                ),
                Metric(
                    name="weekly_retention",
                    type="retention",
                    entity="user_id",
                    base_event="events.event_type = 'signup'",
                    retention_granularity="week",
                    retention_periods=5,
                ),
                Metric(
                    name="avg_user_spend",
                    type="cohort",
                    entity="user_id",
                    agg="sum",
                    sql="CAST(value AS DECIMAL(18,6))",
                    cohort_aggregation="avg",
                    having="value > 0",
                ),
            ],
            # no default_time_dimension: it would auto-include ts__day in
            # every grouped events query (reference generator.py:720-760);
            # conversion/retention fall back to the sole time dimension
        )
    )

    return layer
