#!/usr/bin/env python3
"""Round-13 optimization A/B shoot-out, second batch (same-JVM,
alternating passes — the round-13 methodology, OPTIMIZATION_r13.md): settle the three
after-profile deltas that exceeded the container-drift band.  Evidence,
not part of the engine.

Variants
  phrase:     cur  = per-length union branches + plain load_table
                     (the batch-4 committed form)
              ltp  = per-length union branches + load_table_parallel
                     (the r12 loader — the round-13 4-variant A/B
                     never tested this combination)
  matryoshka: cur  = pre-sliced (queries x dims) broadcast (batch 2/3)
              r12  = two broadcasts (queries, dims); per-corpus-row
                     query-slice + norm recompute (round-start form,
                     sharing the current truth stage)
  slk:        cur  = grid seeded by glob alone (batch 1)
              r12  = vals = SELECT DISTINCT v joined back onto glob
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F, Window

PASSES = 3
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = "/root/testdata/sf0.001"


def phrase_cur(spark, sf_dir):
    from wiki_references_db_spark.queries.curation import phrase_tag_dictionary

    return phrase_tag_dictionary(spark, sf_dir)


def phrase_ltp(spark, sf_dir):
    from wiki_references_db_spark.tables import load_table_parallel
    from wiki_references_db_spark.queries.curation import (
        _PHRASE_LENS,
        _PHRASE_TAGS,
    )
    from wiki_references_db_spark.queries.training import _TOKENS

    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr(_TOKENS).alias("toks"))
    gram_frames = []
    for n in _PHRASE_LENS:
        gram_frames.append(
            toks.select(
                "doc_id",
                F.posexplode(
                    F.expr(
                        f"CASE WHEN size(toks) < {n}"
                        " THEN CAST(array() AS ARRAY<STRING>)"
                        f" ELSE transform(sequence(0, size(toks) - {n}),"
                        f" i -> concat_ws(' ', slice(toks, i + 1, {n})))"
                        " END"
                    )
                ).alias("pos", "phrase"),
            ).select(
                "doc_id", F.col("pos").cast("long").alias("pos"), "phrase"
            )
        )
    grams = gram_frames[0]
    for gf in gram_frames[1:]:
        grams = grams.union(gf)
    dict_df = spark.createDataFrame(
        list(_PHRASE_TAGS), "phrase string, tag string"
    )
    matches = grams.join(F.broadcast(dict_df), "phrase")
    return matches.groupBy("doc_id", "tag").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.countDistinct("phrase").alias("n_phrases"),
        F.min("pos").alias("first_pos"),
    )


def mat_cur(spark, sf_dir):
    from wiki_references_db_spark.queries.training import (
        embedding_matryoshka_recall,
    )

    return embedding_matryoshka_recall(spark, sf_dir)


def mat_r12(spark, sf_dir):
    from wiki_references_db_spark.tables import load_table, load_table_parallel
    from wiki_references_db_spark.queries.training import (
        _MRL_DIMS,
        _N_QUERY_VECS,
        _TOPK,
        _cosine_pairs,
        _dot_expr,
        _norm_expr,
    )

    raw = load_table(spark, sf_dir, "embeddings")
    e = load_table_parallel(spark, sf_dir, "embeddings")
    dims = spark.createDataFrame([(d,) for d in _MRL_DIMS], "dim int")
    queries = raw.filter(F.col("vec_id") < _N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    truth = (
        _cosine_pairs(spark, sf_dir)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("cosine").desc(), F.col("cid").asc()
                )
            ),
        )
        .filter(F.col("rn") <= _TOPK)
        .select("qid", "cid")
    )
    pairs = (
        e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
        .join(F.broadcast(queries), F.col("cid") != F.col("qid"))
        .join(F.broadcast(dims))
        .select(
            "dim",
            "qid",
            "cid",
            F.expr(_dot_expr("slice(qe, 1, dim)", "slice(ce, 1, dim)")).alias(
                "dot"
            ),
            F.expr(_norm_expr("slice(qe, 1, dim)")).alias("nq"),
            F.expr(_norm_expr("slice(ce, 1, dim)")).alias("nc"),
        )
        .filter((F.col("nq") > 0) & (F.col("nc") > 0))
        .withColumn("tcos", F.col("dot") / (F.col("nq") * F.col("nc")))
    )
    cand = (
        pairs.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("dim", "qid").orderBy(
                    F.col("tcos").desc(), F.col("cid").asc()
                )
            ),
        )
        .filter(F.col("rn") <= _TOPK)
        .select("dim", "qid", "cid")
    )
    hits = cand.join(truth, ["qid", "cid"]).groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return dims.join(hits, "dim", "left").select(
        "dim",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.lit(_TOPK * _N_QUERY_VECS)
        ).alias("recall_at_k"),
    )


def slk_cur(spark, sf_dir):
    from wiki_references_db_spark.queries.profiling import source_length_ks

    return source_length_ks(spark, sf_dir)


def slk_r12(spark, sf_dir):
    """Round-start grid stage: vals DISTINCT + equi-join re-added;
    everything else identical to the current source_length_ks."""
    from wiki_references_db_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.groupBy(F.col("source"), F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    vals = counts.select("v").distinct()
    srcs = counts.groupBy("source").agg(F.sum("c").alias("tot"))
    glob = counts.groupBy("v").agg(F.sum("c").alias("g"))
    total_all = counts.agg(F.sum("c").alias("tot_all"))
    grid = (
        vals.join(glob, "v")
        .crossJoin(F.broadcast(srcs))
        .join(counts, ["source", "v"], "left")
        .select(
            "source",
            "tot",
            "v",
            "g",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = (
        grid.withColumn("cum_src", F.sum("c").over(w))
        .withColumn("cum_rest", F.sum(F.col("g") - F.col("c")).over(w))
        .crossJoin(F.broadcast(total_all))
        .withColumn("tot_rest", F.col("tot_all") - F.col("tot"))
    )
    diffs = cums.select(
        "source",
        "tot",
        "v",
        F.abs(
            F.col("cum_src").cast("double") / F.col("tot")
            - F.col("cum_rest").cast("double") / F.col("tot_rest")
        ).alias("diff"),
    )
    rw = Window.partitionBy("source").orderBy(F.col("diff").desc(), F.col("v"))
    return (
        diffs.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("tot").alias("n_docs"),
            F.col("diff").alias("ks_stat"),
            F.col("v").alias("ks_at_value"),
        )
    )


GROUPS = {
    "phrase": [("cur", phrase_cur), ("ltp", phrase_ltp)],
    "matryoshka": [("cur", mat_cur), ("r12", mat_r12)],
    "slk": [("cur", slk_cur), ("r12", slk_r12)],
}


def main() -> None:
    from wiki_references_db_spark.session import get_spark

    spark = get_spark(app_name="bench-ab-r13b")
    spark.sparkContext.setLogLevel("ERROR")

    def run(fn, sf_dir):
        df = fn(spark, sf_dir)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        return dt

    for gname, variants in GROUPS.items():
        for vname, fn in variants:
            run(fn, WARM_DIR)
            run(fn, SF_DIR)

    results: dict[str, dict[str, list[float]]] = {
        g: {v: [] for v, _ in vs} for g, vs in GROUPS.items()
    }
    for p in range(PASSES):
        for gname, variants in GROUPS.items():
            for vname, fn in variants:
                spark.sparkContext.setJobDescription(f"ab-{gname}-{vname}-p{p}")
                dt = min(run(fn, SF_DIR), run(fn, SF_DIR))
                results[gname][vname].append(round(dt, 3))
    for gname, vs in results.items():
        for vname, times in vs.items():
            print(
                f"{gname:12s} {vname:8s} min={min(times):6.3f} "
                f"passes={times}"
            )


if __name__ == "__main__":
    main()
