"""UDF/UDAF/UDTF surface (SURVEY.md §2.11).

The reference has no UDFs (logic lives in external Beam DoFns / dbt SQL);
this catalog demonstrates every Python-extension point the engine
supports, with the performance ladder made explicit:

1. built-in expressions (everything else in the catalog) — codegen, fast;
2. Arrow-vectorized pandas UDF / grouped-agg / applyInPandas — batch
   transfer, 10-100× faster than row-at-a-time;
3. row-at-a-time Python UDF — kept ONLY as the documented slow path.

All four are oracle-checked: each UDF computes something ANSI SQL can
express, so the differential harness validates the Python boundary
itself (serialization, Arrow batching, type mapping).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from gcp_de_data_pipeline_cc_spark.catalog import load_table
from gcp_de_data_pipeline_cc_spark.functions.rounding import roundn
from gcp_de_data_pipeline_cc_spark.plans.registry import query


@query(
    "udf_scalar",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS band
    FROM orders
    """,
)
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — the documented SLOW path (per-row
    pickling, no codegen). Exists to prove the boundary works; real
    pipelines use the pandas variants below or F.when."""
    @F.udf("string")
    def band(price):
        return "high" if price > 300000 else ("mid" if price > 100000 else "low")

    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", band("o_totalprice").alias("band"))


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           FLOOR((l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0
               AS net_price
    FROM lineitem
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF: numpy arithmetic per batch —
    identical float semantics to the SQL expression, hash-verified."""
    @pandas_udf("double")
    def net_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        import numpy as np

        return np.floor((price * (1 - discount)) * 100.0 + 0.5) / 100.0

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount").alias("net_price"),
    )


@query(
    "udaf_grouped",
    oracle="""
    SELECT l_returnflag,
           FLOOR((SUM(l_extendedprice * l_discount) / SUM(l_extendedprice))
                 * 10000.0 + 0.5) / 10000.0 AS weighted_discount
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF): price-weighted mean discount
    per return flag."""
    @pandas_udf("double")
    def weighted_disc(price: pd.Series, discount: pd.Series) -> float:
        return float((price * discount).sum() / price.sum())

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(weighted_disc("l_extendedprice", "l_discount").alias("wd_raw"))
        .select("l_returnflag", roundn(F.col("wd_raw"), 4).alias("weighted_discount"))
    )


@query(
    "udtf_grouped_map",
    oracle="""
    SELECT event_id,
           event_type,
           FLOOR(((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w)
                 * 10000.0 + 0.5) / 10000.0 AS z_score
    FROM events
    WINDOW w AS (PARTITION BY event_type)
    """,
)
def udtf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (UDTF-like): per-group z-score
    normalization — whole group as one pandas frame, arbitrary
    group-local logic. Scale: state is one group per task; groups must
    fit executor memory (here: bounded event types)."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        v = pdf["value"]
        z = (v - v.mean()) / v.std(ddof=1)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "z_score": np.floor(z * 10000.0 + 0.5) / 10000.0,
            }
        )

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").applyInPandas(
        zscore, "event_id long, event_type string, z_score double"
    )


@query(
    "udtf_lateral",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           UNNEST(list_transform(generate_series(1, len(toks)),
                                 i -> {'pos': CAST(i - 1 AS INT),
                                       'token': toks[i]}),
                  recursive := true)
    FROM t
    """,
)
def udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — true Python UDTF (Spark 3.5+ table function): one input
    row → many output rows via a lateral join, the API for generators
    that aren't array-shaped up front (parsers, segmenters, API-call
    expanders). This tokenizer IS array-shaped — the codegen
    explode(split()) in text_tokens is the production plan — so this
    entry exists to verify the UDTF boundary itself (registration,
    lateral correlation, row fan-out typing) against the same oracle
    shape. Row-at-a-time like all UDTFs; keep real hot paths in
    mapInPandas/explode."""

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class Tokenize:
        def eval(self, text: str):
            for i, tok in enumerate(text.split(" ")):
                yield i, tok

    spark.udtf.register("tokenize_udtf", Tokenize)
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id", "text").createOrReplaceTempView("docs_for_udtf")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.token "
        "FROM docs_for_udtf d, LATERAL tokenize_udtf(d.text) t"
    )


@query(
    "udf_arrow_map",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           FLOOR((l_extendedprice * (1 - l_discount) * (1 + l_tax))
                 * 100.0 + 0.5) / 100.0 AS gross_price
    FROM lineitem
    """,
)
def udf_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the zero-copy rung of the Python ladder: batches
    arrive as Arrow RecordBatches and never materialize a pandas frame
    (no index allocation, no object boxing), so it beats mapInPandas for
    pure columnar arithmetic and is the natural host for Arrow-native
    libraries. Float discipline: pyarrow.compute evaluates the same
    left-associated expression as the SQL, so values are bit-identical
    before the shared floor-rounding."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def gross(batches):
        for b in batches:
            net = pc.multiply(
                pc.multiply(
                    b.column("l_extendedprice"),
                    pc.subtract(pa.scalar(1.0), b.column("l_discount")),
                ),
                pc.add(pa.scalar(1.0), b.column("l_tax")),
            )
            rounded = pc.divide(
                pc.floor(pc.add(pc.multiply(net, pa.scalar(100.0)), pa.scalar(0.5))),
                pa.scalar(100.0),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("l_orderkey"), b.column("l_linenumber"), rounded],
                ["l_orderkey", "l_linenumber", "gross_price"],
            )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"
    )
    return li.mapInArrow(
        gross, "l_orderkey bigint, l_linenumber int, gross_price double"
    )


@query(
    "udf_cogrouped",
    oracle="""
    WITH l AS (
        SELECT l_orderkey,
               CAST(COUNT(*) AS INT) AS n_lines,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5)
                        AS BIGINT)) AS micro
        FROM lineitem GROUP BY 1
    )
    SELECT COALESCE(o.o_orderkey, l.l_orderkey) AS o_orderkey,
           o.o_orderkey IS NOT NULL AS has_order,
           COALESCE(l.n_lines, 0) AS n_lines,
           CAST((COALESCE(l.micro, 0) + 50) // 100 AS DOUBLE) / 100.0 AS net_sum
    FROM orders o FULL OUTER JOIN l ON o.o_orderkey = l.l_orderkey
    """,
)
def udf_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas — the two-table rung: both inputs shuffle
    on a shared key and each call receives the matched pair of pandas
    frames, i.e. a full-outer merge with arbitrary Python reconcile
    logic (the escape hatch for merge semantics no join expresses:
    conflict resolution, per-key diffing, fuzzy alignment). Here it
    reconciles orders against their lineitem roll-up, so the oracle is a
    plain FULL OUTER JOIN.

    Scale: the cogroup key is a HASH BUCKET, not the raw order key —
    cogrouped applyInPandas pays one Python call + two pandas frames per
    GROUP, so millions of single-order groups would drown in per-call
    overhead while a few hundred buckets amortize it (the same
    granularity lesson as Arrow batch sizing). Inside a bucket the
    reconcile is a vectorized pandas groupby+merge; bucket count scales
    with cluster cores, bucket size with corpus/buckets — both
    parameters, never corpus-sized.

    Determinism: each line's net is quantized to an int64 count of 1e-4
    currency units BEFORE summation (floor(net*10000+0.5) — the same
    per-line IEEE product on both engines), so the per-order sum is an
    exact integer no matter what order shuffle delivers the rows in; the
    final cents rounding is pure integer arithmetic ((micro+50)//100).
    A float sum here flips half-cent boundaries run-to-run."""
    N_BUCKETS = 256

    def reconcile(odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(ldf):
            net = ldf["l_extendedprice"] * (1 - ldf["l_discount"])
            ldf = ldf.assign(
                micro=np.floor(net * 10000.0 + 0.5).astype("int64")
            )
            roll = ldf.groupby("l_orderkey", as_index=False).agg(
                n_lines=("micro", "size"), micro=("micro", "sum")
            )
        else:
            roll = pd.DataFrame({"l_orderkey": [], "n_lines": [], "micro": []})
        m = odf[["o_orderkey"]].assign(has_order=True).merge(
            roll, left_on="o_orderkey", right_on="l_orderkey", how="outer"
        )
        key = m["o_orderkey"].fillna(m["l_orderkey"])
        micro = m["micro"].fillna(0.0).astype("int64")
        return pd.DataFrame(
            {
                "o_orderkey": key.astype("int64"),
                "has_order": m["has_order"].fillna(False).astype(bool),
                "n_lines": m["n_lines"].fillna(0).astype("int32"),
                "net_sum": ((micro + 50) // 100).astype("float64") / 100.0,
            }
        )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.pmod(F.col("o_orderkey"), F.lit(N_BUCKETS)).alias("b")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
        F.pmod(F.col("l_orderkey"), F.lit(N_BUCKETS)).alias("b"),
    )
    return (
        o.groupBy("b")
        .cogroup(li.groupBy("b"))
        .applyInPandas(
            reconcile,
            "o_orderkey bigint, has_order boolean, n_lines int, net_sum double",
        )
    )


@query(
    "udtf_polymorphic",
    oracle="""
    SELECT doc_id,
           string_split(text, ' ')[1] AS w_0,
           string_split(text, ' ')[2] AS w_1,
           string_split(text, ' ')[3] AS w_2
    FROM documents
    """,
)
def udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — polymorphic Python UDTF (PySpark 4 ``analyze`` API): the
    output SCHEMA is computed at plan time from a constant argument —
    ``split_cols(text, 3)`` emits columns w_0..w_2, ``split_cols(text, 5)``
    would emit five — the table-function analog of a generic library
    function, impossible with a fixed returnType. The analyzer calls the
    UDTF's ``analyze()`` with the literal argument; execution then runs
    the usual Arrow-batched eval loop.

    100 TB: same execution profile as any lateral UDTF — per-row Python
    with Arrow transfer; schema resolution costs nothing at runtime. Use
    for genuinely dynamic-shape lateral expansion; fixed shapes belong in
    built-in functions (the oracle shows the static equivalent).
    """
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult, udtf
    from pyspark.sql.types import StringType, StructType

    class SplitCols:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for i in range(n.value):
                schema = schema.add(f"w_{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            words = (text or "").split(" ")
            yield tuple(
                words[i] if i < len(words) else None for i in range(n)
            )

    spark.udtf.register("split_cols_udtf", udtf(SplitCols))
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id", "text").createOrReplaceTempView("docs_poly")
    return spark.sql(
        "SELECT d.doc_id, t.* "
        "FROM docs_poly d, LATERAL split_cols_udtf(d.text, 3) t"
    )


# ---------------------------------------------------------------------------
# Arrow-native UDF rungs (r5d wave, Spark 4.0 arrow_udf / arrow_udtf)
# ---------------------------------------------------------------------------


@query(
    "udf_arrow_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100.0e0 + 0.5e0)
                AS BIGINT) AS net_cents
    FROM lineitem
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF ladder, Arrow-native scalar rung — ``F.arrow_udf`` (Spark
    4.0, SPARK-48664): the UDF body receives a ``pyarrow.Array`` and
    returns one, computing entirely in Arrow compute kernels — no
    pandas materialization at all (one rung below ``pandas_udf``,
    which converts each batch to Series).  Same per-line net-cents
    quantization as the rest of the rounding discipline.

    100 TB: Arrow batches stream through the Python worker zero-copy;
    the kernel (multiply/floor) is C++-vectorized.  Still the Python
    path — the built-in expression twin (udf-free projection) remains
    the production form; this rung exists for kernels Spark lacks."""
    import pyarrow as pa
    import pyarrow.compute as pc

    @F.arrow_udf("long")
    def net_cents(ext, disc):
        net = pc.multiply(ext, pc.subtract(pa.scalar(1.0), disc))
        return pc.cast(
            pc.floor(pc.add(pc.multiply(net, pa.scalar(100.0)), pa.scalar(0.5))),
            pa.int64(),
        )

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_cents("l_extendedprice", "l_discount").alias("net_cents"),
    )


@query(
    "udtf_arrow_batch",
    oracle="""
    SELECT doc_id, CAST(pos AS INT) AS pos, tok
    FROM (
        SELECT doc_id,
               UNNEST(string_split(text, ' ')) AS tok,
               UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM documents WHERE doc_id % 50 = 0)
    ORDER BY doc_id, pos
    """,
)
def udtf_arrow_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF ladder, Arrow-native TABLE-function rung — ``F.arrow_udtf``
    (Spark 4.1): the UDTF's ``eval`` receives whole
    ``pyarrow.RecordBatch``es of a TABLE argument and yields Arrow
    tables — the zero-copy batch shape for Python table functions
    (vs the row-at-a-time ``@udtf`` rung ``udtf_lateral``).  Here: a
    vectorized positional tokenizer over a sampled documents slice,
    split + flatten computed by Arrow C++ kernels, parent keys
    repeated via ``value_lengths``.

    100 TB: one Python worker pass per Arrow batch, no per-row Python;
    the sample predicate is pushed to the parquet scan BEFORE the
    TABLE argument materializes."""
    import pyarrow as pa
    import pyarrow.compute as pc

    @F.arrow_udtf(returnType="doc_id bigint, pos int, tok string")
    class TokenizeBatch:
        def eval(self, batch):
            tbl = pa.table(batch)
            toks = pc.split_pattern(tbl.column("text"), " ")
            lens = pc.list_value_length(toks).to_pylist()
            doc_ids = tbl.column("doc_id").to_pylist()
            out_ids, out_pos = [], []
            for d, ln in zip(doc_ids, lens):
                out_ids.extend([d] * ln)
                out_pos.extend(range(1, ln + 1))
            yield pa.table(
                {
                    "doc_id": pa.array(out_ids, pa.int64()),
                    "pos": pa.array(out_pos, pa.int32()),
                    "tok": pc.list_flatten(toks),
                }
            )

    spark.udtf.register("tokenize_batch_udtf", TokenizeBatch)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 50 == 0
    )
    docs.select("doc_id", "text").createOrReplaceTempView("docs_arrow_udtf")
    # the UDTF keeps its input's row order and numbers each doc's tokens
    # in order, so sorting its input sorts the output: a sort after it
    # would re-run the Python pass to sample its range boundaries
    return spark.sql(
        "SELECT doc_id, pos, tok "
        "FROM tokenize_batch_udtf(TABLE(SELECT doc_id, text "
        "FROM docs_arrow_udtf ORDER BY doc_id))"
    )


@query(
    "udaf_arrow_grouped",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def udaf_arrow_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF ladder, Arrow-native GROUPED-AGG rung (completing the Arrow
    trio beside ``udf_arrow_scalar`` and ``udtf_arrow_batch``): the
    aggregate body receives each group's column as a ``pyarrow.Array``
    and reduces with Arrow C++ kernels — usable in ``agg`` exactly
    like the pandas UDAF rung ``udaf_grouped``, minus the pandas
    materialization.  Values are quantized to integer cents BEFORE the
    UDF so the Arrow sum is exact int64.

    100 TB: per-group Arrow batches stream through the Python worker;
    the built-in SUM twin (the oracle) remains the production form —
    this rung exists for reductions Spark lacks (sketch merges,
    custom accumulators) where pc kernels beat per-row Python by
    orders of magnitude."""
    import pyarrow.compute as pc
    from pyspark.sql.functions import ArrowUDFType

    @F.arrow_udf("long", ArrowUDFType.GROUPED_AGG)
    def cents_sum(v):
        return pc.sum(v)

    # grouped-agg UDFs cannot mix with built-in aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT) — the count rides the same rung
    @F.arrow_udf("long", ArrowUDFType.GROUPED_AGG)
    def arrow_count(v):
        return len(v)

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    return (
        orders.select("o_orderpriority", cents.alias("cents"))
        .groupBy("o_orderpriority")
        .agg(
            arrow_count("cents").alias("n_orders"),
            cents_sum("cents").alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )
