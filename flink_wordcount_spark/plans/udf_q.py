"""UDF query surface: row-wise Python, Arrow-vectorized pandas, grouped-agg
pandas, and SQL-registered UDFs — each oracle-checked where the computation
is engine-neutral.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import (
    distinct_count_agg,
    label_part,
    net_price,
    net_price_iter,
    register_sql_udfs,
)
from ..io import table
from ..operators.text import TOKS_SQL
from .catalog import query


@query(
    "udf_rowwise",
    oracle="""
    SELECT p_partkey, p_brand || ':' || lpad(CAST(p_size AS VARCHAR), 3, '0') AS part_label
    FROM part WHERE p_partkey % 7 = 0
    """,
)
def udf_rowwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the slow path, confined to a filtered slice)."""
    p = table(spark, sf_dir, "part")
    return p.filter(F.col("p_partkey") % 7 == 0).select(
        "p_partkey", label_part("p_brand", "p_size").alias("part_label")
    )


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS net
    FROM lineitem WHERE l_orderkey % 97 = 0
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched vectorized UDF; float64 elementwise ops -> bit-exact
    against the equivalent SQL expression."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 97 == 0).select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount", "l_tax").alias("net"),
    )


@query(
    "udf_grouped_agg",
    oracle="""
    SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY o_orderpriority
    """,
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF surface), integer-exact."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        distinct_count_agg("o_custkey").alias("n_customers")
    )


@query(
    "udf_sql_registered",
    oracle="""
    SELECT CAST(floor(o_totalprice / 10000) AS BIGINT) AS bucket,
           count(*) AS n, round(sum(o_totalprice), 2) / count(*) AS avg_price
    FROM orders GROUP BY 1
    """,
)
def udf_sql_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF registered for SQL text (spark.udf.register) and used via spark.sql."""
    register_sql_udfs(spark)
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_udf")
    return spark.sql(
        """
        SELECT price_bucket(o_totalprice) AS bucket,
               count(*) AS n, round(sum(o_totalprice), 2) / count(*) AS avg_price
        FROM orders_udf GROUP BY 1
        """
    )


@query(
    "udtf_token_positions",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {TOKS_SQL} AS t
        FROM documents
    )
    SELECT doc_id, CAST(u.i - 1 AS INTEGER) AS pos, t[u.i] AS word
    FROM toks, unnest(generate_series(1, len(t))) AS u(i)
    """,
)
def udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) via LATERAL: one input doc row fans out
    to one row per token with its position — the user-defined analog of
    explode, Arrow-batched by the UDTF engine. Reference has no UDTF
    concept; this completes the UDF/UDAF/UDTF API surface.
    """
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, word: string")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate(t for t in re.split(r"\W+", text or "") if t):
                yield i, w

    spark.udtf.register("split_words", SplitWords)
    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.word FROM __udtf_docs d, LATERAL split_words(d.text) t"
    )


@query(
    "udf_grouped_map",
    oracle="""
    WITH st AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               avg(o_totalprice)         OVER w AS mu,
               stddev_samp(o_totalprice) OVER w AS sd
        FROM orders WHERE o_orderkey % 13 = 0
        WINDOW w AS (PARTITION BY o_orderpriority)
    )
    SELECT o_orderkey, o_orderpriority,
           round((o_totalprice - mu) / sd, 3) + 0 AS z
    FROM st WHERE sd > 0
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-MAP pandas UDF (``applyInPandas``): per-group z-normalization,
    one arbitrary-shape pandas function per group — the API for per-group
    logic a window expression can't say (model-per-group fits, per-group
    resampling).  This one IS window-expressible on purpose, so the oracle
    checks the Arrow group-map machinery bit-for-bit (float64 both sides;
    pandas ``mean``/``std(ddof=1)`` == avg/stddev_samp).  Scale shape: one
    hash exchange on the group key, groups stream through Arrow one at a
    time — same shuffle as the window twin; per-group state must fit one
    task (fine: group count is small, rows/group bounded)."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 13 == 0)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )

    def znorm(pdf):
        sd = pdf["o_totalprice"].std(ddof=1)
        if not sd or sd != sd or sd == 0:
            return pdf.iloc[0:0][["o_orderkey", "o_orderpriority"]].assign(z=[])
        mu = pdf["o_totalprice"].mean()
        out = pdf[["o_orderkey", "o_orderpriority"]].copy()
        out["z"] = (pdf["o_totalprice"] - mu) / sd
        return out

    # round on the SPARK side, not in pandas: numpy .round is half-even,
    # Spark/DuckDB round() are half-away-from-zero — a boundary-straddling
    # z would hash-mismatch (repo rounding convention, plans/catalog.py).
    # The `+ 0.0` on BOTH sides normalizes IEEE negative zero: DuckDB's
    # round emits -0.0 for tiny negative z while Spark emits +0.0, and the
    # exact-repr compare distinguishes them (caught at sf0.1, 2 rows).
    return (
        o.groupBy("o_orderpriority")
        .applyInPandas(znorm, "o_orderkey long, o_orderpriority string, z double")
        .withColumn("z", F.round("z", 3) + F.lit(0.0))
    )


@query(
    "fn_variant",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
           count(*) AS n
    FROM events
    WHERE json_valid(props) AND json_extract(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via the VARIANT type (Spark 4): ``parse_json``
    once into a binary variant, then typed ``variant_get`` extraction —
    the open-format answer to schema-on-read JSON columns.  Versus
    ``get_json_object`` (fn_json), the variant parses each document ONCE
    and every later path access is a binary probe, which is the right cost
    model when many fields are read per row at 100 TB."""
    e = table(spark, sf_dir, "events")
    # try_parse_json, not parse_json: the oracle guards with json_valid(props),
    # so a malformed document must become a NULL variant (dropped by the
    # k IS NOT NULL filter below) rather than a runtime error — keeps parity
    # symmetric on fixture vintages with bad JSON (ADVICE r05).
    v = e.select(
        "event_type", F.try_parse_json(F.col("props")).alias("pv")
    )
    return (
        v.select(
            "event_type",
            F.try_variant_get("pv", "$.k", "long").alias("k"),
        )
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "udf_pandas_scalar_iter",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS net
    FROM lineitem WHERE l_orderkey % 97 = 0
    """,
)
def udf_pandas_scalar_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR_ITER pandas UDF (iterator-of-batches form): same float64
    arithmetic as ``udf_pandas_scalar``, in the API shape used when
    per-worker initialization (model/tokenizer load) must amortize across
    Arrow batches rather than repeat per batch — the LLM-scoring UDF
    pattern at 100 TB.  Bit-exact against the SQL expression."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 97 == 0).select(
        "l_orderkey",
        "l_linenumber",
        net_price_iter("l_extendedprice", "l_discount", "l_tax").alias("net"),
    )
