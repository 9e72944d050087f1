"""Measured scaling curves for the load-bearing operator families.

SCALE.md argues the designs hold at 100 TB; this probe MEASURES the
local scaling exponent: each family runs on 1x / 2x / 4x / 8x replicas
of the sf0.1 tables (keys offset per replica so cardinalities scale too)
and reports wall seconds. A design with the claimed plan shape shows
near-linear growth (fixed session overhead makes small scales sub-
linear); anything super-linear is a red flag the analytical argument
missed.

Replicas are materialized to a scratch parquet dir first so every
timing measures the operator over a real scan, not an in-memory union.

Usage: python tools/scale_probe.py [--max-mult 8]
Writes scale_probe.json at the repo root and prints one line per run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gcp_de_data_pipeline_cc_spark.catalog import clear
from gcp_de_data_pipeline_cc_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = "/tmp/spark_graft_scale_probe"

# key columns whose value-space must grow with the replica factor so
# group/join cardinalities scale instead of just duplicating rows
_OFFSETS = {
    "events": {"event_id": 100_000_000, "user_id": 1_000_000},
    "lineitem": {"l_orderkey": 10_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
    "customer": {"c_custkey": 10_000_000},
}


def materialize(spark, table: str, mult: int) -> str:
    path = f"{SCRATCH}/{table}_x{mult}"
    if os.path.exists(path):
        return path
    base = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
    parts = []
    for i in range(mult):
        rep = base
        for col, span in _OFFSETS.get(table, {}).items():
            rep = rep.withColumn(col, F.col(col) + F.lit(i * span))
        parts.append(rep)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    out.write.mode("overwrite").parquet(path)
    return path


def probe_agg(spark, mult: int) -> float:
    """TPC-H Q1 shape: scan-filter-aggregate with map-side partials."""
    li = spark.read.parquet(materialize(spark, "lineitem", mult))
    t0 = time.time()
    (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    return time.time() - t0


def probe_join(spark, mult: int) -> float:
    """Fact-fact sort-merge join: orders x lineitem on the offset key."""
    li = spark.read.parquet(materialize(spark, "lineitem", mult))
    o = spark.read.parquet(materialize(spark, "orders", mult))
    t0 = time.time()
    (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.sum("l_extendedprice").alias("rev"))
        .collect()
    )
    return time.time() - t0


def probe_minhash(spark, mult: int) -> float:
    """MinHash near-dup: signature build + banded bucket join + verify."""
    from gcp_de_data_pipeline_cc_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(materialize(spark, "documents", mult))
    t0 = time.time()
    minhash_lsh_pairs(docs, id_col="doc_id", text_col="text").count()
    return time.time() - t0


def probe_skew_plain(spark, mult: int) -> float:
    """Distinct-count over a 90%-one-key skewed grouping, plain form:
    every distinct value of the hot key funnels through one reducer."""
    li, key = _skewed(spark, mult)
    t0 = time.time()
    li.groupBy(key.alias("k")).agg(
        F.countDistinct("l_partkey").alias("nd")
    ).collect()
    return time.time() - t0


def probe_skew_salted(spark, mult: int) -> float:
    """Same aggregation, two-stage salted (the agg_salted_distinct
    pattern): salt derived from the distinct value, partial counts
    disjoint, second stage sums — hot key spread over 16 reducers."""
    li, key = _skewed(spark, mult)
    t0 = time.time()
    partial = li.groupBy(
        key.alias("k"), F.pmod(F.col("l_partkey"), F.lit(16)).alias("_s")
    ).agg(F.countDistinct("l_partkey").alias("p"))
    partial.groupBy("k").agg(F.sum("p").alias("nd")).collect()
    return time.time() - t0


def _skewed(spark, mult: int):
    """90% of rows share key 0; the rest spread over ~1000 keys —
    deterministic (no rand), derived from the order key."""
    li = spark.read.parquet(materialize(spark, "lineitem", mult))
    key = F.when(F.col("l_orderkey") % 10 < 9, F.lit(0)).otherwise(
        F.col("l_orderkey") % 1000
    )
    return li, key


def materialize_dir(spark, mult: int, tables: tuple[str, ...]) -> str:
    """Materialize a warehouse DIRECTORY (sf_dir layout) at ``mult``×,
    so probes can run REGISTERED plans verbatim instead of copies.
    Tables with offset specs replicate with growing key spaces; the
    rest land as single untouched copies (dimension semantics)."""
    d = f"{SCRATCH}/dir_x{mult}"
    for t in tables:
        dst = f"{d}/{t}.parquet"
        if os.path.exists(dst):
            continue
        if t in _OFFSETS or mult == 1:
            src = materialize(spark, t, mult if t in _OFFSETS else 1)
        else:
            src = f"{SF_DIR}/{t}.parquet"
        spark.read.parquet(src).write.mode("overwrite").parquet(dst)
    return d


def probe_lines_rewrite(spark, mult: int) -> float:
    """Boilerplate-line rewrite, REGISTERED plan: span explode → df map
    → rejoin → ordered reassembly. Replication makes every block hot
    (df >= mult), so this measures the worst case where the rewrite
    touches every document."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("documents",))
    t0 = time.time()
    REGISTRY["dedup_lines_rewrite"].spark(spark, d).count()
    return time.time() - t0


def probe_basket(spark, mult: int) -> float:
    """Market-basket one-pass plan, REGISTERED: basket build over the
    offset orderkeys (order count scales, basket size stays bounded) +
    sentinel/single/pair aggregation."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("lineitem", "part"))
    t0 = time.time()
    REGISTRY["market_basket"].spark(spark, d).collect()
    return time.time() - t0


def probe_global_rank(spark, mult: int) -> float:
    """agg_lorenz_curve, REGISTERED: the r4 two-phase distributed rank
    (range exchange + local window + broadcast offsets) over a customer
    cardinality that grows with mult — the single-reducer form this
    replaced would show the one-partition sort here."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("orders",))
    t0 = time.time()
    REGISTRY["agg_lorenz_curve"].spark(spark, d).collect()
    return time.time() - t0


def probe_hard_negatives(spark, mult: int) -> float:
    """train_hard_negatives, REGISTERED: anchors grow with the corpus
    (vec_id offsets), so this measures the r4 bucket SHUFFLE join —
    the replaced anchor broadcast would grow its build side linearly
    with mult here."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("embeddings",))
    t0 = time.time()
    REGISTRY["train_hard_negatives"].spark(spark, d).count()
    return time.time() - t0


def probe_graph_backbone(spark, mult: int) -> float:
    """Supplier backbone build (operators/graph), fresh cache: the one
    fact scan + pair explode + top-K cut the whole graph family now
    shares. Supplier count is dim-fixed, so cost is the lineitem scan
    + Σ per-order pair fan-out — linear in mult."""
    from gcp_de_data_pipeline_cc_spark.operators import graph as og

    d = materialize_dir(spark, mult, ("lineitem",))
    clear()
    t0 = time.time()
    og.supplier_backbone(spark, d).count()
    return time.time() - t0


def _sfdir(spark, mult: int, tables: tuple[str, ...]) -> str:
    """Materialize replicas AS a sf-dir layout so registry keys run
    unmodified over the scaled tables."""
    d = f"{SCRATCH}/sfdir_x{mult}"
    for t in tables:
        dst = f"{d}/{t}.parquet"
        if not os.path.exists(dst):
            src = materialize(spark, t, mult)
            spark.read.parquet(src).write.mode("overwrite").parquet(dst)
    return d


def probe_rouge_dp(spark, mult: int) -> float:
    """eval_rouge_l: per-doc quadratic LCS DP inside array folds —
    must scale linearly in sampled docs (DP cost per doc is capped)."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = _sfdir(spark, mult, ("documents",))
    t0 = time.time()
    REGISTRY["eval_rouge_l"].spark(spark, d).count()
    return time.time() - t0


def probe_clamped_fold(spark, mult: int) -> float:
    """inventory_running_balance: per-account prefix folds — linear in
    accounts (day domain fixed)."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = _sfdir(spark, mult, ("events",))
    t0 = time.time()
    REGISTRY["inventory_running_balance"].spark(spark, d).count()
    return time.time() - t0


def probe_hit_rate_retrain(spark, mult: int) -> float:
    """recsys_hit_rate: leave-last-out split + item-CF retrain + eval —
    the heaviest session composite; brand dim fixed, so the pair space
    is bounded and cost should track the interaction volume."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = _sfdir(spark, mult, ("lineitem", "orders", "part"))
    t0 = time.time()
    REGISTRY["recsys_hit_rate"].spark(spark, d).count()
    return time.time() - t0


def probe_lttb_fold(spark, mult: int) -> float:
    """ts_downsample_lttb, REGISTERED: the fact scan scales with mult
    but the fold runs on the |days|-bounded bucket array — expected
    shape: the map-side day collapse dominates (near-linear), the
    single-row fold stays constant."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = _sfdir(spark, mult, ("orders",))
    t0 = time.time()
    REGISTRY["ts_downsample_lttb"].spark(spark, d).collect()
    return time.time() - t0


def probe_grid_cc(spark, mult: int) -> float:
    """geo_cluster_grid, REGISTERED: customer volume scales with mult
    but the cluster merge state is GRID-capped (<= 1024 cells) — the
    probe certifies the pointer-jumping rework holds its cap (the
    replaced V^2 closure showed 66 s already at x1)."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = _sfdir(spark, mult, ("customer",))
    t0 = time.time()
    REGISTRY["geo_cluster_grid"].spark(spark, d).collect()
    return time.time() - t0


def probe_dtw_fold(spark, mult: int) -> float:
    """ts_dtw_distance, REGISTERED: event volume scales with mult but
    the DP lattice is |days|^2-bounded — expected flat beyond the
    map-side day collapse."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = _sfdir(spark, mult, ("events",))
    t0 = time.time()
    REGISTRY["ts_dtw_distance"].spark(spark, d).collect()
    return time.time() - t0


def probe_articulation(spark, mult: int) -> float:
    """graph_articulation, REGISTERED: fact volume scales with mult but
    the all-deletions propagation state is (|V|+1)·|V| DIMENSION-bounded
    (nations are a fixed dim) — expected shape: the backbone fact scan
    tracks mult, the tagged propagation stays flat."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(
        spark, mult, ("lineitem", "orders", "customer", "supplier", "nation")
    )
    clear()
    t0 = time.time()
    REGISTRY["graph_articulation"].spark(spark, d).collect()
    return time.time() - t0


def probe_lsh_calibration(spark, mult: int) -> float:
    """dedup_lsh_calibration, REGISTERED: runs BOTH the exact shingle
    join and the full MinHash+LSH pipeline — cost must track the
    Σ|bucket|² candidate bound (shingle buckets stay Zipf-shaped as the
    corpus replicates), never all-pairs."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = _sfdir(spark, mult, ("documents",))
    t0 = time.time()
    REGISTRY["dedup_lsh_calibration"].spark(spark, d).collect()
    return time.time() - t0


def probe_quality_composite(spark, mult: int) -> float:
    """quality_composite_score, REGISTERED: entropy + repetition +
    perplexity + rule battery composed per document — strictly per-doc
    map work plus vocabulary-sized rollups; expected near-linear."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = _sfdir(spark, mult, ("documents",))
    t0 = time.time()
    REGISTRY["quality_composite_score"].spark(spark, d).count()
    return time.time() - t0


def probe_mrr_ndcg(spark, mult: int) -> float:
    """eval_mrr_ndcg, REGISTERED: brute-force ground truth vs LSH
    ranking over a vector corpus that grows with mult — the brute-force
    arm is the deliberate quadratic baseline, so the probe documents
    WHERE the exact arm stops being affordable (the reason the LSH/IVF
    path exists)."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = _sfdir(spark, mult, ("embeddings",))
    t0 = time.time()
    REGISTRY["eval_mrr_ndcg"].spark(spark, d).collect()
    return time.time() - t0


def _dtw_series_dir(spark, mult: int) -> str:
    """Synthetic events whose DAY SPAN grows with mult (the replica
    offsets grow keys, not time — DTW cost is lattice-sized, so the
    probe must grow n_days): 250·mult days, a few events per day."""
    d = f"{SCRATCH}/dtw_days_x{mult}"
    dst = f"{d}/events.parquet"
    if not os.path.exists(dst):
        n_days = 250 * mult
        (
            spark.range(n_days * 8)
            .select(
                F.col("id").alias("event_id"),
                (F.col("id") % 97).alias("user_id"),
                F.when(F.col("id") % 3 == 0, "click")
                .otherwise("view")
                .alias("event_type"),
                ((F.col("id") % 41) * 1.5).alias("value"),
                F.timestamp_micros(
                    (F.lit(1_700_000_000_000_000)
                     + (F.col("id") % n_days) * F.lit(86_400_000_000)
                     + F.col("id") * F.lit(1_000_000))
                ).alias("ts"),
            )
            .write.mode("overwrite")
            .parquet(dst)
        )
    return d


def probe_dtw_banded_length(spark, mult: int) -> float:
    """ts_dtw_banded, REGISTERED, on a series whose LENGTH grows with
    mult (250·mult days): the Sakoe-Chiba band caps per-row DP work at
    2w+1 cells, so wall should grow ~linearly in n where the full
    lattice (probe below) grows ~quadratically."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = _dtw_series_dir(spark, mult)
    t0 = time.time()
    REGISTRY["ts_dtw_banded"].spark(spark, d).collect()
    return time.time() - t0


def probe_dtw_full_length(spark, mult: int) -> float:
    """ts_dtw_distance on the same growing-length series — the O(n²)
    baseline the band is the swap for."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = _dtw_series_dir(spark, mult)
    t0 = time.time()
    REGISTRY["ts_dtw_distance"].spark(spark, d).collect()
    return time.time() - t0


def probe_dedup_rate(spark, mult: int) -> float:
    """corpus_dedup_rate, REGISTERED: exact-Jaccard pair universe +
    pointer-jumping CC + per-source rollup.  The shared relations
    (shingles included) are cleared before the timed run so every mult
    measures the COLD build (the warmup otherwise leaves x1 warm and
    inflates x8/x1)."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("documents",))
    clear()
    t0 = time.time()
    REGISTRY["corpus_dedup_rate"].spark(spark, d).collect()
    return time.time() - t0


def probe_minhash_union(spark, mult: int) -> float:
    """sketch_minhash_union, REGISTERED: signature build + mergeable
    union/intersection estimates over the replicated corpus."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("documents",))
    t0 = time.time()
    REGISTRY["sketch_minhash_union"].spark(spark, d).collect()
    return time.time() - t0


def probe_item_knn(spark, mult: int) -> float:
    """recsys_item_knn, REGISTERED: the Σ|profile|²-bounded item-item
    co-occurrence self-join + cosine kNN (cold — no session cache)."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("lineitem", "orders", "part"))
    t0 = time.time()
    REGISTRY["recsys_item_knn"].spark(spark, d).collect()
    return time.time() - t0


def probe_diversity_ild(spark, mult: int) -> float:
    """recsys_diversity_ild, REGISTERED: per-list intra-list distance
    over the ranked lists (pair work bounded by list width²)."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("lineitem", "orders", "part"))
    t0 = time.time()
    REGISTRY["recsys_diversity_ild"].spark(spark, d).collect()
    return time.time() - t0


def probe_prefix_dims(spark, mult: int) -> float:
    """embedding_prefix_dims_eval, REGISTERED: the Matryoshka recall
    table after the r6 fixed-Q rework — expected O(corpus·Q) linear
    (the old corpus-proportional sample was quadratic)."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("embeddings",))
    t0 = time.time()
    REGISTRY["embedding_prefix_dims_eval"].spark(spark, d).collect()
    return time.time() - t0


def probe_graph_ann(spark, mult: int) -> float:
    """sim_topk_graph, REGISTERED, with the exact-recall EVIDENCE ARM
    PRE-WARMED so this row isolates the key's own build+search (the
    bounded-cell pair build, capped link layer, beam hops).  The
    evidence arm is measured by its own probe row (ann_exact_arm) —
    it is linear BY DESIGN (fixed-Q × corpus) and shared session-wide
    by the whole sim family, so folding it in here double-charged the
    serving design for its recall proof."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY, llm

    d = materialize_dir(spark, mult, ("embeddings",))
    clear()
    llm.exact_topk10(spark, d).count()  # warm the shared evidence arm
    t0 = time.time()
    REGISTRY["sim_topk_graph"].spark(spark, d).collect()
    return time.time() - t0


def probe_ann_exact_arm(spark, mult: int) -> float:
    """The sim family's shared exact brute-force recall baseline alone
    (fixed-Q=64 queries × corpus): linear by design — the floor every
    ANN probe row pays when run cold."""
    from gcp_de_data_pipeline_cc_spark.plans import llm

    d = materialize_dir(spark, mult, ("embeddings",))
    clear()
    t0 = time.time()
    llm.exact_topk10(spark, d).count()
    return time.time() - t0


def probe_knn_outliers(spark, mult: int) -> float:
    """embedding_knn_outliers, REGISTERED: tight-bucket banding join +
    top-20 TakeOrdered report."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("embeddings",))
    t0 = time.time()
    REGISTRY["embedding_knn_outliers"].spark(spark, d).collect()
    return time.time() - t0


def probe_pq_rerank(spark, mult: int) -> float:
    """sim_topk_pq_rerank, REGISTERED: one fused scan scoring every
    vector by ADC and exact L2 with per-partition top-k, then the
    per-query pool rerank (cold PQ training and query index per
    mult)."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("embeddings",))
    clear()
    t0 = time.time()
    REGISTRY["sim_topk_pq_rerank"].spark(spark, d).collect()
    return time.time() - t0


def probe_ktruss(spark, mult: int) -> float:
    """graph_ktruss, REGISTERED: per-round wedge join on the top-K
    backbone (cold backbone build per mult — shared relations
    cleared)."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("lineitem",))
    clear()
    t0 = time.time()
    REGISTRY["graph_ktruss"].spark(spark, d).collect()
    return time.time() - t0


def probe_semdedup(spark, mult: int) -> float:
    """dedup_semdedup, REGISTERED: cell-scoped pair scan. Replication
    keeps the SAME 10 label cells (labels carry no offset), so per-cell
    pair work grows mult^2 — the graph_ann caveat: a production coarse
    quantizer grows CELL COUNT and keeps |cell| bounded, under which
    this is n*|cell| linear."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("embeddings",))
    t0 = time.time()
    REGISTRY["dedup_semdedup"].spark(spark, d).collect()
    return time.time() - t0


def probe_binary_search(spark, mult: int) -> float:
    """sim_topk_binary, REGISTERED: 8-byte signature scan per query
    (fixed-Q), cold exact baseline per mult."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("embeddings",))
    clear()
    t0 = time.time()
    REGISTRY["sim_topk_binary"].spark(spark, d).collect()
    return time.time() - t0


def probe_rrf_fusion(spark, mult: int) -> float:
    """retrieval_rrf_fusion, REGISTERED: 3-term postings lexical arm +
    one broadcast-query semantic scan, both TakeOrdered-cut to 50."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("documents", "embeddings"))
    t0 = time.time()
    REGISTRY["retrieval_rrf_fusion"].spark(spark, d).collect()
    return time.time() - t0


def probe_soft_dedup(spark, mult: int) -> float:
    """corpus_soft_dedup_weights, REGISTERED: CC relation (cold pair
    build per mult) + broadcast weight join + source rollup."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("documents",))
    clear()
    t0 = time.time()
    REGISTRY["corpus_soft_dedup_weights"].spark(spark, d).collect()
    return time.time() - t0


def probe_fisher_exact(spark, mult: int) -> float:
    """hypothesis_fisher_exact, REGISTERED: margin-sized support spine
    (grows linearly with the corpus) x constant lgamma work per k."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = materialize_dir(spark, mult, ("documents",))
    t0 = time.time()
    REGISTRY["hypothesis_fisher_exact"].spark(spark, d).collect()
    return time.time() - t0




def probe_substring_pairs(spark, mult: int) -> float:
    """Cross-document exact-substring PAIR dedup, REGISTERED plan:
    anchor-gram build -> df-capped bucket join -> diagonal islands.
    Replicas NAMESPACE every token (r{i}_ prefix) so the corpus grows
    with NEW content carrying the same planted dup structure — the
    honest growth model; naive replication would instead pair every
    doc with its own copies (quadratic TRUE-pair output, the
    corpus_dedup_rate adjudication class) and measure workload, not
    plan.  Expected ~linear: Sigma|bucket|^2 stays (df cap)-bounded
    per namespace."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    path = f"{SCRATCH}/documents_ns_x{mult}"
    if not os.path.exists(path):
        base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        parts = []
        for i in range(mult):
            parts.append(
                base.select(
                    (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.split("text", " "),
                            lambda t: F.concat(F.lit(f"r{i}_"), t),
                        ),
                    ).alias("text"),
                    "lang",
                    "source",
                    "n_chars",
                )
            )
        df = parts[0]
        for q in parts[1:]:
            df = df.unionByName(q)
        df.write.mode("overwrite").parquet(f"{path}/documents.parquet")
    t0 = time.time()
    REGISTRY["dedup_substring_pairs"].spark(spark, path).count()
    return time.time() - t0


def _jw_part_dir(spark, mult: int, namespaced: bool) -> str:
    """Replicated part table for the ER-blocking probe. ``namespaced``
    suffixes p_brand per replica (the real-growth model: a bigger
    catalog brings more brands, so |block| stays constant); the fixed
    arm keeps the brand/size domain (blocks grow linearly, pair work
    quadratically) — the measured argument for WHY the blocking key's
    cardinality must scale with the corpus."""
    tag = "ns" if namespaced else "fx"
    d = f"{SCRATCH}/jw_{tag}_x{mult}"
    dst = f"{d}/part.parquet"
    if os.path.exists(dst):
        return d
    base = spark.read.parquet(f"{SF_DIR}/part.parquet")
    parts = []
    for i in range(mult):
        rep = base.withColumn(
            "p_partkey", F.col("p_partkey") + F.lit(i * 10_000_000)
        )
        if namespaced and i > 0:
            rep = rep.withColumn(
                "p_brand", F.concat(F.col("p_brand"), F.lit(f"_r{i}"))
            )
        parts.append(rep)
    out = parts[0]
    for q in parts[1:]:
        out = out.unionAll(q)
    out.write.mode("overwrite").parquet(dst)
    return d


def probe_jw_namespaced(spark, mult: int) -> float:
    """fn_jaro_winkler, REGISTERED, namespaced-brand replicas: |block|
    constant -> pair count and Arrow-UDF work linear in the corpus."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = _jw_part_dir(spark, mult, namespaced=True)
    t0 = time.time()
    REGISTRY["fn_jaro_winkler"].spark(spark, d).collect()
    return time.time() - t0


def probe_jw_fixed(spark, mult: int) -> float:
    """fn_jaro_winkler on FIXED-domain replicas: blocks fill up, pair
    work grows ~quadratically — the documented failure mode when the
    blocking key does not scale with the corpus."""
    from gcp_de_data_pipeline_cc_spark.plans import REGISTRY

    d = _jw_part_dir(spark, mult, namespaced=False)
    t0 = time.time()
    REGISTRY["fn_jaro_winkler"].spark(spark, d).collect()
    return time.time() - t0


PROBES = {"agg_q1": probe_agg, "join_fact_fact": probe_join,
          "dedup_minhash": probe_minhash,
          "skew_distinct_plain": probe_skew_plain,
          "skew_distinct_salted": probe_skew_salted,
          "lines_rewrite": probe_lines_rewrite,
          "market_basket": probe_basket,
          "global_rank_lorenz": probe_global_rank,
          "hard_negatives_bucketed": probe_hard_negatives,
          "graph_backbone_build": probe_graph_backbone,
          "rouge_lcs_dp": probe_rouge_dp,
          "clamped_balance_fold": probe_clamped_fold,
          "hit_rate_retrain": probe_hit_rate_retrain,
          "lttb_fold": probe_lttb_fold,
          "grid_cc_merge": probe_grid_cc,
          "dtw_fold": probe_dtw_fold,
          "articulation_sweep": probe_articulation,
          "lsh_calibration": probe_lsh_calibration,
          "quality_composite": probe_quality_composite,
          "mrr_ndcg_vs_brute": probe_mrr_ndcg,
          "corpus_dedup_rate": probe_dedup_rate,
          "minhash_union": probe_minhash_union,
          "item_knn": probe_item_knn,
          "diversity_ild": probe_diversity_ild,
          "prefix_dims_eval": probe_prefix_dims,
          "graph_ann": probe_graph_ann,
          "ann_exact_arm": probe_ann_exact_arm,
          "knn_outliers": probe_knn_outliers,
          "pq_rerank": probe_pq_rerank,
          "dtw_banded_length": probe_dtw_banded_length,
          "dtw_full_length": probe_dtw_full_length,
          "ktruss": probe_ktruss,
          "semdedup": probe_semdedup,
          "binary_search": probe_binary_search,
          "rrf_fusion": probe_rrf_fusion,
          "soft_dedup": probe_soft_dedup,
          "fisher_exact": probe_fisher_exact,
          "substring_pairs": probe_substring_pairs,
          "jw_blocked_namespaced": probe_jw_namespaced,
          "jw_blocked_fixed_domain": probe_jw_fixed}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--max-mult", type=int, default=8)
    ap.add_argument("--only", nargs="*", help="probe-name filter")
    args = ap.parse_args()
    mults = [m for m in (1, 2, 4, 8) if m <= args.max_mult]

    # the default local-mode driver heap (~1g) rejects runtime-size
    # broadcasts the optimizer legitimately picks at the x8 scale; a
    # real cluster sizes the driver for its broadcast budget, so the
    # probe does too (measured finding, recorded in SCALE.md)
    spark = build_session(
        app_name="scale-probe",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "16g",
        },
    )
    results: dict[str, dict[str, float]] = {}
    if os.path.exists("scale_probe.json"):
        with open("scale_probe.json") as f:
            results = json.load(f).get("results", {})
    probes = {
        k: v for k, v in PROBES.items()
        if not args.only or k in args.only
    }
    import gc

    for name, fn in probes.items():
        fn(spark, 1)  # warm: JIT, parquet footer caches, shuffle services
        for m in mults:
            # lazy localCheckpoints from the previous mult pin block-
            # manager storage until Python drops the frames — collect
            # BEFORE timing so a mult never pays the prior mult's
            # eviction pressure (measured: graph_ann x8 29.6 s dirty
            # vs 13.0 s clean, the key itself is flat x4→x8)
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            sec = fn(spark, m)
            results.setdefault(name, {})[f"x{m}"] = round(sec, 3)
            print(f"{name} x{m}: {sec:.3f}s", flush=True)
    spark.stop()
    shutil.rmtree(SCRATCH, ignore_errors=True)

    for name, r in results.items():
        if "x8" in r and "x1" in r:
            r["x8_over_x1"] = round(r["x8"] / r["x1"], 2)
    with open("scale_probe.json", "w") as f:
        json.dump({"sf_base": SF_DIR, "results": results}, f, indent=1)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
