"""Dimension-decode functions (SURVEY §2 A9/A10/A11).

The AQL surface decodes surrogate IDs to display names via scalar functions
(``DOMAINNAME(domainId)``, ``QIDNAME(qid)``, ``LOGSOURCETYPENAME(devicetype)``,
``CATEGORYNAME(category)``, reference ``qradar/input/queries.json:2-3``), tests
membership in named reference sets (``REFERENCESETCONTAINS``), and resolves an IP
to its longest-prefix-matching network name (``FULLNETWORKNAME``, default
``'other'`` — reference ``qradar/input/queries.json:2-3``).

Spark-first design: every decode is a **broadcast hash join** against a small
dimension DataFrame — the decode stays in Catalyst (join reorder, codegen) and at
100 TB the dimension ships once per executor instead of once per row. A dict-backed
UDF would serialize the lookup into Python per row; we never do that.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from qradar_restapi_kafka_datapipeline_spark.engine import local_relation
from qradar_restapi_kafka_datapipeline_spark.functions.ip import cidr_bounds, ip_to_long


def decode_join(
    df: DataFrame,
    dim: DataFrame,
    key: str,
    dim_key: str,
    name_col: str,
    out_col: str,
    default: str | None = None,
) -> DataFrame:
    """Generic ID→name decode: broadcast left join + optional default.

    Implements the whole A10 family; the dimension is always broadcast (these
    tables are O(10^3)-row lookup tables, far under the broadcast threshold).
    """
    d = F.broadcast(dim.select(F.col(dim_key).alias("__k"), F.col(name_col).alias("__v")))
    out = df.join(d, df[key] == d["__k"], "left").drop("__k")
    val = F.coalesce(F.col("__v"), F.lit(default)) if default is not None else F.col("__v")
    return out.withColumn(out_col, val).drop("__v")


def reference_set_contains(
    df: DataFrame, ref_sets: DataFrame, set_name: str, value_col: str, negate: bool = False
) -> DataFrame:
    """AQL ``REFERENCESETCONTAINS(set_name, value)`` as a filter (SURVEY §2 A9).

    Broadcast left-semi (or anti) join against the one-column member list of the
    named set — the distributed analog of a Bloom-filter membership probe.
    """
    members = F.broadcast(
        ref_sets.where(F.col("set_name") == set_name).select(F.col("value").alias("__m"))
    )
    how = "left_anti" if negate else "left_semi"
    return df.join(members, df[value_col] == members["__m"], how)


def full_network_name(
    df: DataFrame,
    networks: DataFrame,
    ip_col: str,
    out_col: str,
    domain_col: str | None = None,
    default: str = "other",
) -> DataFrame:
    """AQL ``FULLNETWORKNAME(ip[, domainId])`` — longest-prefix match (SURVEY §2 A11).

    networks schema: (domainId BIGINT, cidr STRING, prefix_len INT, network_name STRING).

    Plan shape: broadcast range join (ip BETWEEN net_low AND net_high) →
    ``row_number() OVER (PARTITION BY row ORDER BY prefix_len DESC)`` → keep rank 1 →
    ``coalesce(name, 'other')``.  The join side is broadcast (O(100)-row dim);
    the dedup window shuffles once on the synthetic row id.  When the network
    table is known at plan time, prefer :func:`network_name_expr` — the folded
    CASE is shuffle-free and fully codegen'd (the AQL frontend uses it).
    """
    low, high = cidr_bounds(F.col("cidr"), F.col("prefix_len"))
    nets = networks.select(
        F.col("domainId").alias("__net_domain"),
        low.alias("__net_low"),
        high.alias("__net_high"),
        F.col("prefix_len").alias("__plen"),
        F.col("network_name").alias("__net_name"),
    )

    row_id = "__fnn_row_id"
    out = df.withColumn(row_id, F.monotonically_increasing_id())
    ip_long = ip_to_long(F.col(ip_col))
    cond = (ip_long >= F.col("__net_low")) & (ip_long <= F.col("__net_high"))
    if domain_col is not None:
        cond = cond & (F.col(domain_col) == F.col("__net_domain"))
    joined = out.join(F.broadcast(nets), cond, "left")

    w = Window.partitionBy(row_id).orderBy(
        F.col("__plen").desc_nulls_last(), F.col("__net_name").asc_nulls_last()
    )
    ranked = joined.withColumn("__rk", F.row_number().over(w)).where(F.col("__rk") == 1)
    return (
        ranked.withColumn(out_col, F.coalesce(F.col("__net_name"), F.lit(default)))
        .drop("__net_domain", "__net_low", "__net_high", "__plen", "__net_name", "__rk", row_id)
    )


def default_networks_df(spark: SparkSession) -> DataFrame:
    """The engine's default PER-DOMAIN network hierarchy (`plans.dialect.
    DEFAULT_NETWORKS`) as the (domainId, cidr, prefix_len, network_name)
    DataFrame that :func:`full_network_name` joins against — the scale path
    when the network table is too large to fold into a CASE expression."""
    from qradar_restapi_kafka_datapipeline_spark.plans.dialect import DEFAULT_NETWORKS

    # cidr column carries the BARE network address — cidr_bounds takes the
    # prefix length as its own column.
    rows = [
        (d, c.split("/")[0], int(c.split("/")[1]), n) for d, c, n in DEFAULT_NETWORKS
    ]
    return local_relation(
        spark,
        rows,
        "domainId BIGINT, cidr STRING, prefix_len INT, network_name STRING",
    )


def network_name_expr(
    ip_long: Column,
    networks: list[tuple[str, int, str]],
    default: str = "other",
) -> Column:
    """LPM as a folded CASE expression for small *literal* network tables.

    When the network hierarchy is known at plan time (the common case — QRadar
    domains have tens of networks), sorting by prefix_len desc and folding into a
    CASE chain beats a join: zero shuffle, pure codegen. ``networks`` is
    [(cidr, prefix_len, name), ...].
    """
    from qradar_restapi_kafka_datapipeline_spark.functions.ip import _parse_cidr

    expr: Column = F.lit(default)
    for cidr, _plen, name in sorted(networks, key=lambda t: (t[1], t[2])):
        net, mask = _parse_cidr(cidr)
        expr = F.when(
            ip_long.bitwiseAND(F.lit(mask)) == F.lit(net), F.lit(name)
        ).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Deterministic synthetic dimensions.  The reference gets these mappings from
# QRadar's internal tables; the engine owns them as data.  Generated with
# sequence() so they exist identically in any session (and are reproducible in
# the DuckDB oracle via range()).
# ---------------------------------------------------------------------------

def build_dims(spark: SparkSession) -> dict[str, DataFrame]:
    """Small dimension DataFrames backing the decode functions."""
    dims: dict[str, DataFrame] = {}
    dims["dim_domain"] = spark.range(0, 5).select(
        F.col("id").alias("domainId"),
        F.concat(F.lit("customer_"), F.col("id")).alias("domainName"),
    )
    dims["dim_qid"] = spark.range(0, 100).select(
        F.col("id").alias("qid"),
        F.concat(F.lit("event_"), F.col("id")).alias("event_name"),
    )
    dims["dim_log_source"] = spark.range(0, 50).select(
        F.col("id").alias("logSourceId"),
        F.concat(F.lit("logsource_"), F.col("id")).alias("log_source_name"),
    )
    dims["dim_device_type"] = spark.range(0, 20).select(
        F.col("id").cast("int").alias("devicetype"),
        F.when(F.col("id") == 0, "Custom Rule Engine")
        .otherwise(F.concat(F.lit("devicetype_"), F.col("id")))
        .alias("log_source_type_name"),
    )
    dims["dim_category"] = spark.range(4000, 4040).select(
        F.col("id").cast("int").alias("category"),
        F.concat(F.lit("cat_"), F.col("id")).alias("category_name"),
    )
    return dims
