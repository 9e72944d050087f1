"""Composite quality score — the curation capstone key.

Its oracle NESTS the oracle SQL of the three signal keys (text_entropy /
text_repetition / text_perplexity), so their modules are imported, and
the keys registered, before it is built.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.plans.corpus2 import text_perplexity
from gcp_de_data_pipeline_cc_spark.plans.corpus_stats import (
    text_entropy,
    text_repetition,
)
from gcp_de_data_pipeline_cc_spark.plans.registry import query


# ---------------------------------------------------------------------------
# composite quality score (r4 wave)
# ---------------------------------------------------------------------------

#: keep threshold on the 3..15 quintile-sum composite
_QC_KEEP = 9


def _quality_composite_oracle() -> str:
    from gcp_de_data_pipeline_cc_spark.plans.registry import REGISTRY as _R

    def src(key: str) -> str:
        return f"({_R[key].oracle})"

    def quintile(order: str) -> str:
        return (
            f"1 + CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY {order}) - 1)"
            f" * 5.0 / (COUNT(*) OVER ())) AS BIGINT)"
        )

    return f"""
    WITH e AS ({src("text_entropy")}),
    r AS ({src("text_repetition")}),
    p AS ({src("text_perplexity")}),
    j AS (
        SELECT e.doc_id, e.entropy, r.repetition_ratio, p.perplexity
        FROM e JOIN r ON r.doc_id = e.doc_id
        JOIN p ON p.doc_id = e.doc_id),
    q AS (
        SELECT doc_id,
               {quintile("entropy ASC, doc_id ASC")} AS q_entropy,
               {quintile("repetition_ratio DESC, doc_id ASC")}
                   AS q_repetition,
               {quintile("perplexity DESC, doc_id ASC")} AS q_fluency
        FROM j)
    SELECT doc_id, q_entropy, q_repetition, q_fluency,
           CAST(q_entropy + q_repetition + q_fluency AS BIGINT)
               AS composite,
           q_entropy + q_repetition + q_fluency >= {_QC_KEEP} AS keep
    FROM q
    ORDER BY doc_id
    """


@query("quality_composite_score", oracle=_quality_composite_oracle())
def quality_composite_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-tier capstone — ONE sortable score per document from
    three orthogonal signals (character entropy: gibberish/binary;
    bigram repetition: template spam; unigram-LM perplexity:
    disfluency), each quintiled over the corpus (direction-aware: more
    entropy, less repetition, less perplexity = better) and summed to
    a 3..15 composite with a keep verdict at ≥{t}.  Rank-based
    composition deliberately avoids z-score weighting: quintiles are
    distribution-free, exact integers, and robust to any one signal's
    heavy tail (the curation pass sorts and cuts by THIS column; the
    individual signals remain the drill-downs).

    The Spark side consumes the registered signal plans; the oracle
    NESTS their oracle SQL (the qc_alert_routing composition
    discipline) — the composite can never drift from its inputs.
    Quintiles use operators/scale.global_rank, so no single-reducer
    sort touches the corpus at any scale (signal values are rounded
    identically on both engines before ranking; doc_id breaks ties —
    total order, engine-exact ranks).

    100 TB: three signal passes (each one shuffle), three two-phase
    rank passes over the entity-sized signal table, one final join."""
    from gcp_de_data_pipeline_cc_spark.operators.scale import global_rank

    e = text_entropy(spark, sf_dir).select("doc_id", "entropy")
    r = text_repetition(spark, sf_dir).select("doc_id", "repetition_ratio")
    p = text_perplexity(spark, sf_dir).select("doc_id", "perplexity")
    j = e.join(r, "doc_id").join(p, "doc_id")
    j = j.localCheckpoint(eager=False)  # three rank passes + n
    n = j.agg(F.count("*").alias("__n"))
    j = j.crossJoin(F.broadcast(n))

    def quintile(df, order_cols, name):
        ranked = global_rank(df, order_cols, rank_col="__rn")
        return ranked.withColumn(
            name,
            (
                1
                + F.floor((F.col("__rn") - 1) * F.lit(5.0) / F.col("__n"))
            ).cast("long"),
        ).drop("__rn")

    j = quintile(j, [F.asc("entropy"), F.asc("doc_id")], "q_entropy")
    j = quintile(
        j, [F.desc("repetition_ratio"), F.asc("doc_id")], "q_repetition"
    )
    j = quintile(j, [F.desc("perplexity"), F.asc("doc_id")], "q_fluency")
    comp = F.col("q_entropy") + F.col("q_repetition") + F.col("q_fluency")
    return j.select(
        "doc_id",
        "q_entropy",
        "q_repetition",
        "q_fluency",
        comp.cast("long").alias("composite"),
        (comp >= _QC_KEEP).alias("keep"),
    ).orderBy("doc_id")


quality_composite_score.__doc__ = quality_composite_score.__doc__.format(
    t=_QC_KEEP
)
