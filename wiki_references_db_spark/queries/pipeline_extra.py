"""Late round-4 training-data pipeline additions: token-rarity scoring,
tokenizer vocabulary coverage, contrastive hard-negative mining,
winsorized robust statistics, and product-quantization codebook
assignment.

Each operator is a shape a 100 TB pretraining-data pipeline needs
beyond the reference surface (the reference has no corpus-statistics
layer at all — its analysis stops at citation counting,
reference/build_db.py): rarity scoring approximates perplexity-based
quality filtering WITHOUT transcendental functions (ln/log2 are not
bit-stable across JVM libm and DuckDB's libm, the same reason
bm25_rank_no_log drops the log term); OOV-rate is the standard
tokenizer-coverage health check; hard negatives feed contrastive
embedding training; winsorization is the robust-stats twin of the
z-score/MAD outlier queries; PQ assignment is the compression stage
IVF-PQ ANN indexes build on.

Determinism rules as queries/generic.py / training.py: decimal-exact
sums (`dsum`), ordered float folds for vector math (`_dot_expr`
pattern), identical expression trees both engines, total-order
tie-breaks on every ranked output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wiki_references_db_spark.operators.pairs import same_key_pairs
from wiki_references_db_spark.queries import register
from wiki_references_db_spark.storage import persist_corpus
from wiki_references_db_spark.queries.generic import _dsum, dsum
from wiki_references_db_spark.queries.training import (
    _NEARDUP_BANDS_SQL,
    _NEARDUP_CFG_SQL,
    _NORMS_SQL,
    _PQR_CODES,
    _PQR_NSUB,
    _PQR_SUBDIM,
    _PQR_SUBDIST_SQL,
    _TOKENS,
    _TOKENS_SQL,
    _dot_expr,
    _dot_sql,
    _neardup_band_rows,
    _pq_codebook,
    _pq_nearest,
)
from wiki_references_db_spark.tables import load_table, load_table_parallel


# --------------------------------------------------------------------------
# Token-rarity scoring (perplexity proxy without logs)
# --------------------------------------------------------------------------


@register(
    "rare_token_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ), freq AS (
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ), scored AS (
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               (CAST(SUM(CAST(ROUND(10000000000.0 / f.cnt) AS BIGINT))
                     AS DOUBLE) / 10000000000.0) / COUNT(*) AS rarity
        FROM toks t JOIN freq f ON f.tok = t.tok
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, rarity
    FROM scored
    ORDER BY rarity DESC, doc_id
    LIMIT 25
    """,
)
def rare_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean inverse corpus frequency of its tokens — a
    log-free perplexity proxy (documents made of corpus-rare tokens
    score high; boilerplate made of corpus-frequent tokens scores low).
    Top-25 rarest documents.

    Spark-first scale shape: the corpus frequency table is one
    map-side-combinable groupBy on token; per-doc scoring re-joins it
    on the token key (keyed equi-join — at 100 TB this is the standard
    explode/count/re-join shape, never a driver-side vocabulary).  The
    per-token reciprocal is quantized once to an exact INTEGER
    (round(1e10/cnt) — one IEEE division + away-from-zero round,
    identical in both engines; the only representable tie, 1e10/2^11,
    rounds the same way in both), so the mean is an exact long sum
    plus two shared correctly-rounded divisions — bit-stable top-25
    without the wide-decimal aggregation path (1.25s -> ~0.7s at
    sf0.1).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                (
                    F.sum(
                        F.round(F.lit(10000000000.0) / F.col("cnt")).cast(
                            "long"
                        )
                    ).cast("double")
                    / F.lit(10000000000.0)
                )
                / F.count(F.lit(1))
            ).alias("rarity"),
        )
        .orderBy(F.desc("rarity"), "doc_id")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Tokenizer vocabulary coverage (OOV rate)
# --------------------------------------------------------------------------


@register(
    "vocab_oov_rate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest({_TOKENS_SQL}) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
        ) ORDER BY cnt DESC, tok LIMIT 1000
    )
    SELECT t.source,
           COUNT(*) AS total_tokens,
           COUNT(*) FILTER (WHERE v.tok IS NULL) AS oov_tokens,
           CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE)
             / COUNT(*) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY t.source
    ORDER BY t.source
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against a frequency-built
    top-1000 vocabulary — the standard tokenizer-coverage health check
    before committing a vocab to a training run.

    Spark-first: the vocabulary is a bounded top-k
    (TakeOrderedAndProject, never a full sort) and is broadcast into
    the left join, so the token stream is scanned once with a map-side
    membership probe; the per-source rollup is a handful of groups.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(F.expr(_TOKENS)).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(1000)
        .select(F.col("tok").alias("v_tok"))
    )
    return (
        toks.join(F.broadcast(vocab), toks.tok == F.col("v_tok"), "left_outer")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.count(F.when(F.col("v_tok").isNull(), 1)).alias("oov_tokens"),
            (
                F.count(F.when(F.col("v_tok").isNull(), 1)).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Contrastive hard-negative mining
# --------------------------------------------------------------------------

_HN_QUERIES = 5
_HN_TOPK = 5

# Ordered-double folds (identical trees both engines) — see
# training._dot_expr for the bit-stability argument.
_HN_DOT = (
    "aggregate(zip_with(qe, embedding, (x, y) ->"
    " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
_HN_QNORM = (
    "sqrt(aggregate(zip_with(qe, qe, (x, y) ->"
    " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
)
_HN_CNORM = (
    "sqrt(aggregate(zip_with(embedding, embedding, (x, y) ->"
    " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
)
_HN_DOT_SQL = (
    "list_reduce(list_transform(list_zip(q.qe, c.embedding),"
    " z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),"
    " (acc, v) -> acc + v)"
)
_HN_QNORM_SQL = (
    "sqrt(list_reduce(list_transform(list_zip(q.qe, q.qe),"
    " z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),"
    " (acc, v) -> acc + v))"
)
_HN_CNORM_SQL = (
    "sqrt(list_reduce(list_transform(list_zip(c.embedding, c.embedding),"
    " z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),"
    " (acc, v) -> acc + v))"
)


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, label AS qlabel, embedding AS qe
        FROM embeddings WHERE vec_id < {_HN_QUERIES}
    ), scored AS (
        SELECT q.qid, c.vec_id AS neg_id, c.label AS neg_label,
               {_HN_DOT_SQL} / ({_HN_QNORM_SQL} * {_HN_CNORM_SQL}) AS cosine
        FROM q JOIN embeddings c ON c.label <> q.qlabel
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY cosine DESC, neg_id
        ) AS rk
        FROM scored
    )
    SELECT qid, neg_id, neg_label, cosine, rk
    FROM ranked WHERE rk <= {_HN_TOPK}
    ORDER BY qid, rk
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives: for each query vector, the top-5 most
    cosine-similar vectors carrying a DIFFERENT label — the negatives
    that actually teach an embedding model, as opposed to random ones.

    Spark-first: the query set is broadcast against the corpus with the
    label-inequality predicate (the same declared-size-bounded
    broadcast-product shape as ann_cosine_topk — the corpus side
    streams, nothing materializes the full product); per-query top-5 is
    a rank-limit window on the query key (WindowGroupLimit pushes the
    cut into the shuffle).  At 100 TB the bucketed/IVF candidate
    generators (ann_lsh_bucketed, ann_ivf_probe) replace the exact scan;
    this is the exact-baseline twin with the label constraint.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") < _HN_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("embedding").alias("qe"),
        )
    )
    scored = (
        emb.join(F.broadcast(q), F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            (
                F.expr(_HN_DOT)
                / (F.expr(_HN_QNORM) * F.expr(_HN_CNORM))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "neg_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _HN_TOPK)
        .orderBy("qid", "rk")
    )


# --------------------------------------------------------------------------
# Winsorized robust statistics
# --------------------------------------------------------------------------


@register(
    "winsorized_value_stats",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn
        FROM events WHERE value IS NOT NULL
    ), counts AS (
        SELECT event_type, MAX(rn) AS n FROM ranked GROUP BY 1
    ), spec AS (
        SELECT c.event_type, c.n, CAST(p.p AS DOUBLE) AS p,
               CAST(p.p AS DOUBLE) * (c.n - 1) + 1 AS pos
        FROM counts c, (SELECT UNNEST([0.01, 0.99]) AS p) p
    ), spec2 AS (
        SELECT *, CAST(FLOOR(pos) AS BIGINT) AS li,
               pos - FLOOR(pos) AS frac FROM spec
    ), pcts AS (
        SELECT s.event_type, s.p,
               lo.value + (hi.value - lo.value) * s.frac AS pv
        FROM spec2 s
        JOIN ranked lo ON lo.event_type = s.event_type AND lo.rn = s.li
        JOIN ranked hi ON hi.event_type = s.event_type
                      AND hi.rn = LEAST(s.li + 1, s.n)
    ), bounds AS (
        SELECT event_type,
               MIN(CASE WHEN p = 0.01 THEN pv END) AS p01,
               MAX(CASE WHEN p = 0.99 THEN pv END) AS p99
        FROM pcts GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           COUNT(*) FILTER (WHERE e.value < b.p01) AS n_clipped_low,
           COUNT(*) FILTER (WHERE e.value > b.p99) AS n_clipped_high,
           {_dsum('CASE WHEN e.value < b.p01 THEN b.p01 '
                  'WHEN e.value > b.p99 THEN b.p99 ELSE e.value END')}
             / COUNT(*) AS winsor_mean
    FROM (SELECT * FROM events WHERE value IS NOT NULL) e
    JOIN bounds b ON b.event_type = e.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: clip values at the exact
    interpolated p01/p99 and average the clipped stream — the robust
    central-tendency twin of the z-score/MAD outlier queries (outliers
    are bounded instead of dropped).

    Spark-first: exact per-group percentiles via the ranked-join method
    (percentile_exact_interpolated) — per-group state is two rows,
    never a collected array; the tiny bounds table broadcasts back onto
    the events stream, and the clipped mean is one decimal-exact
    aggregate.  All windows are partitioned by event_type.
    """
    # NULL values carry no information for a value statistic and would
    # shift the rank positions differently per engine (Spark sorts
    # NULLs first ASC, DuckDB last) — excluded on both sides.
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = e.select("event_type", "value", "event_id").withColumn(
        "rn", F.row_number().over(w).cast("bigint")
    )
    counts = ranked.groupBy("event_type").agg(F.max("rn").alias("n"))
    spec = (
        counts.select(
            "event_type", "n", F.explode(F.array(F.lit(0.01), F.lit(0.99))).alias("p")
        )
        .withColumn("pos", F.col("p") * (F.col("n") - 1) + 1)
        .withColumn("li", F.floor("pos").cast("bigint"))
        .withColumn("frac", F.col("pos") - F.floor("pos"))
        .withColumn("ui", F.least(F.col("li") + 1, F.col("n")))
    )
    lo = ranked.join(
        F.broadcast(spec.withColumnRenamed("event_type", "g")),
        (F.col("g") == F.col("event_type")) & (F.col("rn") == F.col("li")),
    ).select("g", "p", "ui", "frac", F.col("value").alias("v_lo"))
    pcts = ranked.join(
        F.broadcast(lo.withColumnRenamed("g", "g2")),
        (F.col("g2") == F.col("event_type")) & (F.col("rn") == F.col("ui")),
    ).select(
        F.col("g2").alias("event_type"),
        "p",
        (F.col("v_lo") + (F.col("value") - F.col("v_lo")) * F.col("frac")).alias(
            "pv"
        ),
    )
    bounds = pcts.groupBy("event_type").agg(
        F.min(F.when(F.col("p") == 0.01, F.col("pv"))).alias("p01"),
        F.max(F.when(F.col("p") == 0.99, F.col("pv"))).alias("p99"),
    )
    clipped = (
        F.when(F.col("value") < F.col("p01"), F.col("p01"))
        .when(F.col("value") > F.col("p99"), F.col("p99"))
        .otherwise(F.col("value"))
    )
    return (
        e.join(F.broadcast(bounds.withColumnRenamed("event_type", "bt")),
               F.col("bt") == F.col("event_type"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("value") < F.col("p01"), 1)).alias(
                "n_clipped_low"
            ),
            F.count(F.when(F.col("value") > F.col("p99"), 1)).alias(
                "n_clipped_high"
            ),
            (dsum(clipped) / F.count(F.lit(1))).alias("winsor_mean"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Product-quantization codebook assignment
# --------------------------------------------------------------------------

# Single source of truth with the IVF-PQ index (queries/training.py):
# the compression stage here and the ANN index built on it must encode
# with the SAME codebook geometry and distance fold, so the constants
# and expression strings are imported, not redefined.
_PQ_SUBSPACES = _PQR_NSUB
_PQ_SUBDIM = _PQR_SUBDIM  # 64-dim embeddings -> 8 slices of 8
_PQ_CODES = _PQR_CODES  # codebook entries per subspace (vec_id 0..3)

_PQ_DIST_SQL = _PQR_SUBDIST_SQL


@register(
    "pq_codebook_assign",
    oracle=f"""
    WITH subs AS (
        SELECT vec_id, ss.s AS subspace,
               list_slice(embedding, ss.s * {_PQ_SUBDIM} + 1,
                          ss.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS sub
        FROM embeddings,
             (SELECT UNNEST(generate_series(0, {_PQ_SUBSPACES - 1})) AS s) ss
    ), codebook AS (
        SELECT CAST(vec_id AS INT) AS code, subspace, sub AS cent
        FROM subs WHERE vec_id < {_PQ_CODES}
    ), dists AS (
        SELECT v.vec_id, v.subspace, cb.code, {_PQ_DIST_SQL} AS dist2
        FROM subs v JOIN codebook cb ON cb.subspace = v.subspace
    ), assigned AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY vec_id, subspace ORDER BY dist2, code
        ) AS rk
        FROM dists
    )
    SELECT subspace, code,
           COUNT(*) AS n_assigned,
           {_dsum('dist2')} AS total_dist2
    FROM assigned WHERE rk = 1
    GROUP BY subspace, code
    ORDER BY subspace, code
    """,
)
def pq_codebook_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization, the compression stage under IVF-PQ ANN
    indexes: split each 64-dim embedding into 8 subvectors, assign each
    to its nearest codebook centroid (deterministic codebook: the
    subvectors of vec_id 0..3), and report per-cell occupancy and total
    squared distortion.

    Spark-first: the slice fan-out is a map-only posexplode (8 rows per
    vector, no shuffle); argmin is a MAP-SIDE fold over the broadcast
    1-row codebook array (r14, guide §2.4 — the r13 form joined the
    codebook onto the subvector stream and shuffled ALL n x 8 x codes
    distance rows through a row_number window partitioned by
    (vec_id, subspace); that exchange is gone), with the strict < over
    the code-ascending scan reproducing the oracle window's
    (dist2 ASC, code ASC) tie-break on identical doubles; the final
    rollup is 32 groups.  Squared distances are ordered float folds,
    bit-identical across engines.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    subspaces = F.array([F.lit(i) for i in range(_PQ_SUBSPACES)])
    subs = emb.select(
        "vec_id",
        "embedding",
        F.explode(subspaces).alias("subspace"),
    ).select(
        "vec_id",
        "subspace",
        F.expr(
            f"slice(embedding, subspace * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})"
        ).alias("sub"),
    )
    win = subs.crossJoin(F.broadcast(_pq_codebook(emb))).select(
        "subspace", F.expr(_pq_nearest("subspace")).alias("bs")
    )
    return (
        win.select("subspace", F.col("bs.code").alias("code"), F.col("bs.d").alias("dist2"))
        .groupBy("subspace", "code")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            dsum(F.col("dist2")).alias("total_dist2"),
        )
        .orderBy("subspace", "code")
    )


# --------------------------------------------------------------------------
# Quality-filtered semantic search (documents ⋈ embeddings capstone)
# --------------------------------------------------------------------------

_SS_QUERIES = 3
_SS_TOPK = 5
_SS_MIN_CHARS = 200


@register(
    "semantic_search_quality_filtered",
    oracle=f"""
    WITH q AS (
        SELECT e.vec_id AS qid, e.embedding AS qe
        FROM embeddings e WHERE e.vec_id < {_SS_QUERIES}
    ), cand AS (
        SELECT e.vec_id AS cid, e.embedding, d.lang AS cand_lang,
               d.source AS cand_source
        FROM embeddings e
        JOIN documents d ON d.doc_id = e.vec_id
        WHERE d.n_chars >= {_SS_MIN_CHARS}
    ), scored AS (
        SELECT q.qid, c.cid, c.cand_lang, c.cand_source,
               {_HN_DOT_SQL.replace('c.embedding', 'c.embedding')}
                 / ({_HN_QNORM_SQL} * {_HN_CNORM_SQL}) AS cosine
        FROM q JOIN cand c ON c.cid <> q.qid
    )
    SELECT qid, cid, cand_lang, cand_source, cosine, rk FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
        FROM scored
    ) WHERE rk <= {_SS_TOPK}
    ORDER BY qid, rk
    """,
)
def semantic_search_quality_filtered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The retrieval capstone a training-data pipeline runs constantly:
    semantic search over the corpus RESTRICTED to documents that pass a
    quality gate — text table and embedding table joined on the shared
    id, the gate applied BEFORE any vector math is spent on a
    candidate.

    Spark-first: the quality predicate prunes the documents scan
    (pushed filter on n_chars), the doc⋈embedding equi-join hydrates
    only survivors, the 3 query vectors broadcast against the filtered
    candidate stream (the declared-bounded ANN-baseline shape), and
    per-query top-5 is a rank-limit window.  At 100 TB the LSH/IVF
    candidate generators replace the exact scan, gate unchanged.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") >= _SS_MIN_CHARS
    )
    q = emb.filter(F.col("vec_id") < _SS_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cand = emb.join(docs, emb.vec_id == docs.doc_id).select(
        F.col("vec_id").alias("cid"),
        "embedding",
        F.col("lang").alias("cand_lang"),
        F.col("source").alias("cand_source"),
    )
    scored = cand.join(F.broadcast(q), F.col("cid") != F.col("qid")).select(
        "qid",
        "cid",
        "cand_lang",
        "cand_source",
        (
            F.expr(_HN_DOT) / (F.expr(_HN_QNORM) * F.expr(_HN_CNORM))
        ).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "cid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SS_TOPK)
        .orderBy("qid", "rk")
    )


# --------------------------------------------------------------------------
# S3/S4 legacy JSONL+zstd staging glue (SURVEY §2.1)
# --------------------------------------------------------------------------


@register(
    "jsonl_roundtrip_stats",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT doc_id) AS n_ids,
           COUNT(DISTINCT md5(text)) AS n_text_hashes,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents
    """,
)
def jsonl_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4 legacy-staging glue, value-checked as a roundtrip: write the
    documents table as ``part-*.jsonl.zst`` shards (the reference's
    first staging format, reference:build_db.py:183-219), read them back
    through the PERMISSIVE shard reader
    (reference:dedup_staged.py:187-217), and aggregate integrity stats —
    equal to the same aggregate over the parquet source iff the
    roundtrip is lossless.  md5(text) distinct-count pins content
    integrity engine-agnostically (no sha1 in DuckDB 1.0)."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from wiki_references_db_spark.sources.jsonl import (
        read_jsonl_zst,
        write_jsonl_zst,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    shard_dir = os.path.join(
        tempfile.gettempdir(),
        f"wikirefs_jsonl_roundtrip_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(shard_dir, ignore_errors=True)
    write_jsonl_zst(d, shard_dir)
    back = read_jsonl_zst(spark, shard_dir, schema).select(*schema.fieldNames())
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.countDistinct(F.md5("text")).alias("n_text_hashes"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


# --------------------------------------------------------------------------
# CSV source/sink glue (interchange-format completeness next to the
# S3/S4 JSONL+zstd glue above)
# --------------------------------------------------------------------------


@register(
    "csv_roundtrip_stats",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT doc_id) AS n_ids,
           COUNT(DISTINCT md5(text)) AS n_text_hashes,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents
    """,
)
def csv_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange glue, value-checked as a roundtrip like
    ``jsonl_roundtrip_stats``: write the documents table as gzipped
    RFC-4180 CSV shards (header, quote-all, double-quote escaping),
    read them back through an explicit schema with PERMISSIVE
    corrupt-record capture, and aggregate integrity stats — equal to
    the same aggregate over the parquet source iff the roundtrip is
    lossless.

    Scale notes: the writer emits one shard per input partition (no
    repartition — rotation is the upstream partitioner's job, as with
    the parquet stager); gzip shards are non-splittable, so read
    parallelism is per-file, the same contract as the reference's
    subprocess-per-shard staging loops.  multiLine stays OFF (the
    splittable fast path); embedded newlines would need multiLine=true
    and that trade-off is documented here rather than silently paid."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    shard_dir = os.path.join(
        tempfile.gettempdir(),
        f"wikirefs_csv_roundtrip_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(shard_dir, ignore_errors=True)
    (
        d.write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .option("escape", '"')
        .option("compression", "gzip")
        .csv(shard_dir)
    )
    back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .csv(shard_dir)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.countDistinct(F.md5("text")).alias("n_text_hashes"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


# --------------------------------------------------------------------------
# ORC source/sink glue (columnar-interchange completeness next to the
# CSV and JSONL+zstd glue above — ORC is the other splittable columnar
# format Spark ships a native vectorized reader for)
# --------------------------------------------------------------------------


@register(
    "orc_roundtrip_stats",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT doc_id) AS n_ids,
           COUNT(DISTINCT md5(text)) AS n_text_hashes,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents
    """,
)
def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange glue, value-checked as a roundtrip like
    ``csv_roundtrip_stats``: write the documents table as zstd ORC
    stripes, read it back through an explicit schema, and aggregate
    integrity stats — equal to the same aggregate over the parquet
    source iff the roundtrip is lossless.

    Scale notes: ORC is splittable (stripe-level splits), so unlike the
    gzip CSV shards read parallelism is NOT capped at one task per
    file; the native vectorized reader keeps the scan JVM-side with
    predicate pushdown into stripe/row-group statistics, the same scan
    contract as the parquet staging path (plans/stage.py).  The writer
    emits one file per input partition — rotation stays the upstream
    partitioner's job, as with the parquet stager."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    shard_dir = os.path.join(
        tempfile.gettempdir(),
        f"wikirefs_orc_roundtrip_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(shard_dir, ignore_errors=True)
    d.write.mode("overwrite").option("compression", "zstd").orc(shard_dir)
    back = spark.read.schema(schema).orc(shard_dir).select(*schema.fieldNames())
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.countDistinct(F.md5("text")).alias("n_text_hashes"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


# --------------------------------------------------------------------------
# Bigram language-model document scoring (log-free, add-one smoothed)
# --------------------------------------------------------------------------


@register(
    "bigram_lm_doc_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
    ), bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
    ), c2 AS (
        SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1
    ), vocab AS (
        SELECT COUNT(DISTINCT tok) AS v
        FROM (SELECT unnest(t) AS tok FROM toks)
    ), q AS (
        SELECT b.doc_id,
               CAST(round(CAST(c2.n2 + 1 AS DOUBLE) / (c1.n1 + vocab.v)
                          * 1000000000.0) AS BIGINT) AS qp
        FROM bg b
        JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
        JOIN c1 ON c1.w1 = b.w1
        CROSS JOIN vocab
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(CAST(SUM(qp) AS BIGINT) AS DOUBLE)
             / (1000000000.0 * COUNT(*)) AS lm_score
    FROM q
    GROUP BY doc_id
    ORDER BY lm_score DESC, doc_id
    LIMIT 25
    """,
)
def bigram_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean add-one-smoothed bigram probability — the
    bigram upgrade of ``rare_token_score``'s unigram rarity proxy, and
    the log-free stand-in for LM-perplexity quality filtering (fluent,
    corpus-typical text scores high; shuffled or boilerplate-fragment
    text scores low because its adjacent-token pairs are corpus-rare).
    Top-25 most-fluent documents.

    Spark-first scale shape: the bigram "model" is one
    map-side-combinable groupBy on (w1, w2); the start count rides a
    sum() window over the w1 key of that SAME aggregate (r14 — the r13
    form re-grouped into a separate c1 table and joined it back, a
    vocabulary-sized broadcast build at scale; the window is one
    exchange of the vocabulary-sized c2, no join, A/B a wash locally at
    strictly less work, bench_runs/r14/ab_bigram_win.txt); scoring
    re-joins the doc-bigram stream on the (w1, w2) key — the
    explode/count/re-join shape, with the vocabulary size as a
    broadcast scalar.  Per-pair probabilities quantize to 1e-9 fixed
    point BEFORE the per-doc sum (float addition is not associative
    across partitionings; integer sums are), so the ranked cut is
    bit-stable across engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKENS).alias("t"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) < 2 THEN array() "
                "ELSE transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS w1, "
                "element_at(t, i + 1) AS w2)) END"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    # The bigram stream feeds the model aggregate AND the scoring
    # re-join; persist so tokenize + bigram fan-out run once (measured
    # 0.80s -> 0.59s at sf0.1; persisting the narrower token table
    # instead was no better than recompute).  Lifetime: bench and the
    # test sweeps clearCache() after each query.
    # DISK_ONLY: ~one row per corpus token (corpus-proportional).
    bg = persist_corpus(bg)
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    vocab = toks.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    model = c2.withColumn("n1", F.sum("n2").over(Window.partitionBy("w1")))
    q = (
        bg.join(model, ["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                (F.col("n2") + 1).cast("double")
                / (F.col("n1") + F.col("v"))
                * 1000000000.0
            )
            .cast("long")
            .alias("qp"),
        )
    )
    return (
        q.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum("qp").cast("double")
                / (F.lit(1000000000.0) * F.count(F.lit(1)))
            ).alias("lm_score"),
        )
        .orderBy(F.desc("lm_score"), "doc_id")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Deterministic mergeable sample-quantile sketch (+ error eval)
# --------------------------------------------------------------------------

# Keep a row iff the first md5 nibble of its unique key is '0' (rate
# 1/16).  Hash sampling is what makes this a SKETCH: the union of
# per-shard samples IS the sample of the union (mergeable, no
# coordination), and the sample is rerun- and partitioning-stable.
_SQK_KEEP_SPARK = (
    "substring(md5(concat(CAST(l_orderkey AS STRING), '-', "
    "CAST(l_linenumber AS STRING))), 1, 1) = '0'"
)
_SQK_KEEP_SQL = (
    "substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || "
    "CAST(l_linenumber AS VARCHAR)), 1, 1) = '0'"
)
_SQK_PS = (0.5, 0.9, 0.99)


@register(
    "sketch_sample_quantiles",
    oracle=f"""
    WITH s_ranked AS (
        SELECT l_extendedprice AS v,
               ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
                                  l_linenumber) AS rn
        FROM lineitem WHERE {_SQK_KEEP_SQL}
    ), x_ranked AS (
        SELECT l_extendedprice AS v,
               ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
                                  l_linenumber) AS rn
        FROM lineitem
    ), s_n AS (SELECT MAX(rn) AS n FROM s_ranked),
    x_n AS (SELECT MAX(rn) AS n FROM x_ranked),
    spec AS (
        SELECT p, CAST(p AS DOUBLE) * (s_n.n - 1) + 1 AS s_pos,
               CAST(p AS DOUBLE) * (x_n.n - 1) + 1 AS x_pos,
               s_n.n AS s_n, x_n.n AS x_n
        FROM (SELECT UNNEST([{", ".join(str(p) for p in _SQK_PS)}]) AS p),
             s_n, x_n
    ), spec2 AS (
        SELECT p,
               CAST(FLOOR(s_pos) AS BIGINT) AS s_li, s_pos - FLOOR(s_pos) AS s_frac, s_n,
               CAST(FLOOR(x_pos) AS BIGINT) AS x_li, x_pos - FLOOR(x_pos) AS x_frac, x_n
        FROM spec
    ), sq AS (
        SELECT s.p, lo.v + (hi.v - lo.v) * s.s_frac AS sample_q
        FROM spec2 s
        JOIN s_ranked lo ON lo.rn = s.s_li
        JOIN s_ranked hi ON hi.rn = LEAST(s.s_li + 1, s.s_n)
    ), xq AS (
        SELECT s.p, lo.v + (hi.v - lo.v) * s.x_frac AS exact_q
        FROM spec2 s
        JOIN x_ranked lo ON lo.rn = s.x_li
        JOIN x_ranked hi ON hi.rn = LEAST(s.x_li + 1, s.x_n)
    )
    SELECT CAST(sq.p AS DOUBLE) AS p, sq.sample_q, xq.exact_q,
           (sq.sample_q - xq.exact_q) / xq.exact_q AS rel_err
    FROM sq JOIN xq ON xq.p = sq.p
    ORDER BY p
    """,
)
def sketch_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a deterministic 1/16 hash sample, with
    the measured error against the exact interpolated quantile — the
    mergeable-quantile-sketch member of the sketch family (KMV / HLL /
    count-min / Bloom), same ships-with-its-eval discipline as
    ``ann_lsh_recall`` / ``phash_recall_eval``.  A hash sample is the
    simplest mergeable quantile summary: per-shard samples union into
    the corpus sample with no coordination and no accuracy cliff, and
    the content-hash predicate makes it rerun- and engine-stable where
    ``TABLESAMPLE`` is neither.

    Spark-first scale shape: HISTOGRAM-BUCKET SELECTION, not a global
    sort — the relation never shuffles.  Pass 1 aggregates count /
    sample-count / min / max (map-side combinable, 1 row out); pass 2
    builds a 1024-bucket value histogram (shuffle payload = 1024 rows,
    not N); the driver walks the prefix sums to locate which bucket
    holds each needed order statistic and at what LOCAL rank; pass 3
    ranks ONLY the <= 12 needed buckets (window partitioned by bucket
    over a few hundred rows each) and broadcast-joins the (bucket,
    local-rank) spec.  Bucketing by any monotone float transform of v
    is rank-exact: equal values share a bucket and prefix counts
    partition the total order, so no float rounding can move an order
    statistic.  Degenerate skew (one value overflowing a bucket) only
    grows pass 3\'s local sort — the refinement is recursive bucketing,
    not needed at any tested scale.  Replaced the prior two
    ``global_row_number`` range-sorts after measuring 3.0s -> ~0.6s at
    sf0.1: the 600k-row range shuffle + persist dominated, and a
    selection problem does not need a sort.  The interpolation
    ``lo + (hi - lo) * frac`` is the same IEEE expression tree in both
    engines."""
    num_buckets = 1024
    base = load_table(spark, sf_dir, "lineitem")
    # Pass 1 prunes to the value column only (min/max/count — no md5,
    # no tiebreak keys): a 1-column parquet scan.
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
    ).collect()[0]
    n = stats["n"]
    empty = spark.createDataFrame(
        [], "p double, sample_q double, exact_q double, rel_err double"
    )
    if n == 0:
        return empty
    mn, mx = float(stats["mn"]), float(stats["mx"])
    li = base.select(
        F.col("l_extendedprice").alias("v"), "l_orderkey", "l_linenumber"
    ).withColumn("f", F.expr(_SQK_KEEP_SPARK).cast("int"))
    if mx > mn:
        bexpr = F.least(
            F.lit(num_buckets - 1),
            F.floor(
                (F.col("v").cast("double") - mn) / (mx - mn) * num_buckets
            ),
        ).cast("int")
    else:
        bexpr = F.lit(0)
    bucketed = li.withColumn("b", bexpr)
    hist = sorted(
        bucketed.groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("f").alias("cf"))
        .collect(),
        key=lambda r: r["b"],
    )
    prefix = {}
    acc, accf = 0, 0
    for r in hist:
        prefix[r["b"]] = (acc, accf)
        acc += r["c"]
        accf += int(r["cf"] or 0)
    ns = accf
    if ns == 0:
        return empty

    def locate(rank: int, flagged: bool) -> tuple[int, int]:
        for r in hist:
            base = prefix[r["b"]][1 if flagged else 0]
            cnt = int(r["cf"] or 0) if flagged else r["c"]
            if rank <= base + cnt:
                return r["b"], rank - base
        raise AssertionError("rank beyond histogram totals")

    specs = []
    for p in _SQK_PS:
        for flagged, total, role in ((False, n, "x"), (True, ns, "s")):
            pos = p * (total - 1) + 1
            lo = int(pos // 1)
            frac = pos - float(lo)
            hi = min(lo + 1, total)
            for side, rk in (("lo", lo), ("hi", hi)):
                b, lr = locate(rk, flagged)
                specs.append((p, f"{role}_{side}", frac, b, lr, flagged))
    spec_df = spark.createDataFrame(
        specs,
        "p double, role string, frac double, sb int, lr long, flagged boolean",
    )
    needed = sorted({s[3] for s in specs})
    wloc = Window.partitionBy("b").orderBy("v", "l_orderkey", "l_linenumber")
    wrun = wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sub = (
        bucketed.filter(F.col("b").isin(needed))
        .withColumn("rn_l", F.row_number().over(wloc))
        .withColumn("sf_l", F.sum("f").over(wrun))
    )
    picked = sub.join(
        F.broadcast(spec_df),
        (F.col("b") == F.col("sb"))
        & (
            (
                F.col("flagged")
                & (F.col("f") == 1)
                & (F.col("sf_l") == F.col("lr"))
            )
            | (~F.col("flagged") & (F.col("rn_l") == F.col("lr")))
        ),
    ).select("p", "role", "frac", "v")

    def pick(role: str, col: str) -> F.Column:
        return F.max(F.when(F.col("role") == role, F.col(col)))

    return (
        picked.groupBy("p")
        .agg(
            pick("x_lo", "v").alias("xlo"),
            pick("x_hi", "v").alias("xhi"),
            pick("x_lo", "frac").alias("xfrac"),
            pick("s_lo", "v").alias("slo"),
            pick("s_hi", "v").alias("shi"),
            pick("s_lo", "frac").alias("sfrac"),
        )
        .select(
            "p",
            (
                F.col("slo") + (F.col("shi") - F.col("slo")) * F.col("sfrac")
            ).alias("sample_q"),
            (
                F.col("xlo") + (F.col("xhi") - F.col("xlo")) * F.col("xfrac")
            ).alias("exact_q"),
        )
        .select(
            "p",
            "sample_q",
            "exact_q",
            (
                (F.col("sample_q") - F.col("exact_q")) / F.col("exact_q")
            ).alias("rel_err"),
        )
        .orderBy("p")
    )


# --------------------------------------------------------------------------
# Embedding coreset: one representative per IVF cell
# --------------------------------------------------------------------------

from wiki_references_db_spark.queries.training import (  # noqa: E402
    _IVF_CENT_MOD,
    _IVF_CENT_REM,
    _NORMS_SQL,
    _dot_expr,
    _dot_sql,
    _map_assign,
    _norm_expr,
)


@register(
    "embedding_coreset_per_cell",
    oracle=f"""
    WITH {_NORMS_SQL.strip()},
    cents AS (
        SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
        WHERE vec_id % {_IVF_CENT_MOD} = {_IVF_CENT_REM}
    ),
    vc_dots AS (
        SELECT e.vec_id, c.cent_id,
               {_dot_sql("e.embedding", "c.ce")} AS dot
        FROM embeddings e CROSS JOIN cents c
    ),
    vc_cos AS (
        SELECT d.vec_id, d.cent_id, d.dot / (nv.nrm * nc.nrm) AS cosine
        FROM vc_dots d
        JOIN norms nv ON nv.vec_id = d.vec_id
        JOIN norms nc ON nc.vec_id = d.cent_id
    ),
    assign AS (
        SELECT vec_id, cent_id AS cell, cosine FROM (
            SELECT vec_id, cent_id, cosine,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY cosine DESC, cent_id) AS rn
            FROM vc_cos
        ) WHERE rn = 1
    )
    SELECT cell, n_members, rep_vec_id, rep_cosine FROM (
        SELECT cell,
               COUNT(*) OVER (PARTITION BY cell) AS n_members,
               vec_id AS rep_vec_id, cosine AS rep_cosine,
               row_number() OVER (PARTITION BY cell
                   ORDER BY cosine DESC, vec_id) AS rk
        FROM assign
    ) WHERE rk = 1
    ORDER BY cell
    """,
)
def embedding_coreset_per_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreset construction by cell-representative election: every
    vector is assigned to its nearest IVF centroid (the same coarse
    quantizer as ``ann_ivf_probe`` / ``pq_codebook_assign``), and each
    cell elects the member closest to its centroid (tie -> min vec_id)
    — compressing the corpus ~{_IVF_CENT_MOD}:1 while preserving its
    cluster structure.  This is the diverse-subset / dataset-
    distillation sampler of the embedding family: unlike a uniform hash
    sample it guarantees every occupied region of embedding space keeps
    a witness, with the cell population as the weight for weighted
    downstream training.

    Spark-first scale shape (r14): the assignment is the zero-shuffle
    map-side argmax fold (_map_assign — the r13 n x k crossJoin +
    rank-1 window pair shuffled ALL n x k cosine rows by vec_id); the
    election is a rank-1 window keyed by cell over the n assignment
    rows, and the output is one row per cell — the shuffle payload
    collapses from (corpus x centroids)-sized to corpus-sized to
    codebook-sized."""
    e = load_table_parallel(spark, sf_dir, "embeddings")
    # Norms ride inline (r13, guide §2.3/§2.4); the centroid side reads
    # the raw scan (the broadcast build does its own placement).
    raw = load_table(spark, sf_dir, "embeddings")
    cents = raw.filter(F.col("vec_id") % _IVF_CENT_MOD == _IVF_CENT_REM).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ce"),
        F.expr(_norm_expr("embedding")).alias("nrm_c"),
    )
    assign = _map_assign(e, cents, with_cosine=True)
    w_c = Window.partitionBy("cell").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        assign.withColumn("n_members", F.count(F.lit(1)).over(
            Window.partitionBy("cell")
        ))
        .withColumn("rk", F.row_number().over(w_c))
        .filter(F.col("rk") == 1)
        .select(
            "cell",
            "n_members",
            F.col("vec_id").alias("rep_vec_id"),
            F.col("cosine").alias("rep_cosine"),
        )
        .orderBy("cell")
    )


# --------------------------------------------------------------------------
# Simpson lexical diversity (log-free entropy stand-in)
# --------------------------------------------------------------------------


@register(
    "token_simpson_diversity",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ), tc AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
    ), agg AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(SUM(c * c) AS BIGINT) AS sum_sq
        FROM tc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           1.0 - CAST(sum_sq AS DOUBLE) / (n_tokens * n_tokens)
             AS simpson_diversity
    FROM agg
    ORDER BY simpson_diversity, doc_id
    LIMIT 25
    """,
)
def token_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Simpson lexical diversity 1 - sum(p_i^2) — the
    log-free stand-in for token-entropy quality filtering (Shannon
    entropy needs ln, which is not bit-stable across JVM libm and
    DuckDB libm — the same reason ``bm25_rank_no_log`` and
    ``rare_token_score`` avoid logs): a document dominated by one
    repeated token scores near 0, maximally varied text near 1.
    Bottom-25 least-diverse documents — the degenerate/spammy tail a
    quality gate drops.

    Exactness: sum(c^2) and n are integers (any association order), the
    diversity is ONE double division on integer operands — identical
    bits in both engines, so the ranked cut is stable.  Shape: two
    map-side-combinable keyed aggregates ((doc, token) then doc), no
    joins, no windows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.expr(_TOKENS)).alias("tok"))
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        tc.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                F.lit(1.0)
                - F.col("sum_sq").cast("double")
                / (F.col("n_tokens") * F.col("n_tokens"))
            ).alias("simpson_diversity"),
        )
        .orderBy("simpson_diversity", "doc_id")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Source centroid similarity (semantic twin of source_overlap_matrix)
# --------------------------------------------------------------------------


@register(
    "source_centroid_similarity",
    oracle="""
    WITH rows_ AS (
        SELECT d.source, j,
               CAST(round(CAST(e.embedding[j] AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS q
        FROM embeddings e
        JOIN documents d ON d.doc_id = e.vec_id,
             unnest(generate_series(1, len(e.embedding))) AS t(j)
    ), cents AS (
        SELECT source, j, CAST(SUM(q) AS BIGINT) AS c
        FROM rows_ GROUP BY source, j
    ), nrm AS (
        SELECT source, CAST(SUM(c * c) AS BIGINT) AS n2
        FROM cents GROUP BY source
    ), dots AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(SUM(a.c * b.c) AS BIGINT) AS dot
        FROM cents a JOIN cents b ON a.j = b.j AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT d.source_a, d.source_b,
           CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
             AS centroid_cosine
    FROM dots d
    JOIN nrm na ON na.source = d.source_a
    JOIN nrm nb ON nb.source = d.source_b
    ORDER BY source_a, source_b
    """,
)
def source_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-source embedding
    CENTROIDS — the semantic-axis twin of ``source_overlap_matrix``
    (that one detects literal content sharing; this one detects topical
    convergence even with zero shared text: two crawls of the same
    domain family sit near cosine 1 here while their content matrix
    stays empty).  The corpus-mixing report reads both together.

    Determinism across engines: each embedding element quantizes to
    1e-6 integer fixed point BEFORE any cross-row sum (float addition
    is not associative; integer sums are — the
    ``embedding_pca_power_iter`` discipline), centroids stay as
    UN-normalized integer component sums (cosine is scale-invariant,
    so dividing by the doc count would only reintroduce floats), and
    dot/norm accumulate as exact integers; the final cosine is
    sqrt+divide on deterministically-rounded IEEE doubles.  Shape: one
    explode scan, a (source, dim)-keyed map-side-combinable aggregate;
    the centroid relation (n_sources x dim rows) is tiny and
    broadcast-joins on dim for the pairwise dots — at 100 TB only the
    element relation is large, and it shuffles exactly once."""
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    rows = (
        e.join(d, e.vec_id == d.doc_id)
        .select("source", F.posexplode("embedding").alias("pos", "x"))
        .select(
            "source",
            (F.col("pos") + 1).cast("long").alias("j"),
            F.round(F.col("x").cast("double") * F.lit(1000000.0))
            .cast("long")
            .alias("q"),
        )
    )
    # Default (memory-first) persist: bounded at n_sources x dims
    # rows — NOT corpus-proportional, so it may live in executor memory.
    cents = (
        rows.groupBy("source", "j").agg(F.sum("q").alias("c")).persist()
    )
    nrm = cents.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).alias("n2")
    )
    dots = (
        same_key_pairs(
            F.broadcast(cents), ["j"], "source", payload=["c"], strategy="join"
        )
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("c_a") * F.col("c_b")).alias("dot"))
    )
    na = nrm.select(
        F.col("source").alias("source_a"), F.col("n2").alias("n2a")
    )
    nb = nrm.select(
        F.col("source").alias("source_b"), F.col("n2").alias("n2b")
    )
    return (
        dots.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("n2a").cast("double"))
                    * F.sqrt(F.col("n2b").cast("double"))
                )
            ).alias("centroid_cosine"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# Schema evolution across staging shard generations (mergeSchema read)
# --------------------------------------------------------------------------


@register(
    "schema_evolution_merge_stats",
    oracle="""
    WITH merged AS (
        SELECT doc_id, text, lang,
               CASE WHEN doc_id % 2 = 1 THEN source END AS source,
               CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
        FROM documents
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN n_chars IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new_schema,
           CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_old_schema,
           CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS total_chars_new,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM merged
    """,
)
def schema_evolution_merge_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Schema evolution across staging-shard generations, value-checked
    as a roundtrip: half the corpus is written under the ORIGINAL
    3-column shard schema (doc_id, text, lang) and half under the
    evolved 5-column one (+ source, n_chars), then ONE ``mergeSchema``
    read reconciles both generations — old-generation rows surface the
    late-added columns as NULLs, exactly what a long-lived lake's
    readers must tolerate after any additive migration (the reference's
    own staging format grew columns across versions:
    reference:build_db.py schema constants vs the final models.py
    schema).  The aggregate equals the same CASE-split over the source
    table iff the merge is lossless and NULL-backfills precisely the
    old-generation rows.  Plain (non-partitioned) empty writes still
    emit a schema footer, so the empty-corpus case infers fine."""
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    base = os.path.join(
        tempfile.gettempdir(),
        "wikirefs_schemaevo_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(base, ignore_errors=True)
    v1, v2 = os.path.join(base, "v1"), os.path.join(base, "v2")
    d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", "lang"
    ).write.mode("overwrite").parquet(v1)
    d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).write.mode("overwrite").parquet(v2)
    merged = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("n_chars").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new_schema"),
        F.sum(F.when(F.col("n_chars").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_old_schema"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias(
            "total_chars_new"
        ),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of lexical and semantic ranks
# --------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF damping constant (Cormack et al.)
_RRF_QUERIES = 3
_RRF_TOPK = 10

_RRF_SCORE = (
    "CAST(1 AS DOUBLE) / CAST({k} + rank_lex AS DOUBLE)"
    " + CAST(1 AS DOUBLE) / CAST({k} + rank_sem AS DOUBLE)"
).format(k=_RRF_K)


@register(
    "rrf_hybrid_rank",
    oracle=f"""
    WITH cand AS (
        SELECT e.vec_id AS cid, e.embedding AS embedding,
               list_distinct({_TOKENS_SQL}) AS toks
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    ),
    q AS (
        SELECT cid AS qid, embedding AS qe, toks AS qtoks
        FROM cand WHERE cid < {_RRF_QUERIES}
    ),
    scored AS (
        SELECT q.qid, c.cid,
               len(list_filter(c.toks, t -> list_contains(q.qtoks, t)))
                   AS overlap,
               {_HN_DOT_SQL} / ({_HN_QNORM_SQL} * {_HN_CNORM_SQL}) AS cosine
        FROM cand c CROSS JOIN q
        WHERE c.cid <> q.qid
    ),
    ranked AS (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY overlap DESC, cid) AS rank_lex,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cosine DESC, cid) AS rank_sem
        FROM scored
    ),
    fused AS (
        SELECT qid, cid, rank_lex, rank_sem, {_RRF_SCORE} AS rrf_score
        FROM ranked
    )
    SELECT qid, cid, rank_lex, rank_sem, rrf_score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY rrf_score DESC, cid) AS rk
        FROM fused
    ) WHERE rk <= {_RRF_TOPK}
    """,
)
def rrf_hybrid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: rank candidates
    lexically (distinct shared tokens with the query document — the
    more-like-this form of BM25-side retrieval) and semantically
    (embedding cosine), then fuse with the standard
    1/(60+r_lex) + 1/(60+r_sem) RRF score and keep the top 10 per
    query.  RRF is THE production fusion rule for lexical+vector
    hybrid search because it needs no score calibration between the
    two systems — only ranks — which also makes it bit-exact across
    engines (integer ranks, two correctly-rounded divisions).

    Spark-first scale shape: the 3 query rows broadcast; token overlap
    is a per-row higher-order intersection against the broadcast query
    token arrays (no token explode, no corpus shuffle); both rankings
    and the fused top-k are rank-limit windows partitioned by query.
    At 100 TB the exact candidate scan is replaced by each system's
    own candidate generator (LSH/IVF for the vector side, an inverted
    index for the lexical side) and the fusion stage is unchanged —
    RRF only ever sees (qid, cid, rank) rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.expr(_TOKENS)).alias("toks")
    )
    cand = emb.join(docs, emb.vec_id == docs.doc_id).select(
        F.col("vec_id").alias("cid"), "embedding", "toks"
    )
    q = cand.filter(F.col("cid") < _RRF_QUERIES).select(
        F.col("cid").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("toks").alias("qtoks"),
    )
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            F.expr("size(filter(toks, t -> array_contains(qtoks, t)))").alias(
                "overlap"
            ),
            (
                F.expr(_HN_DOT) / (F.expr(_HN_QNORM) * F.expr(_HN_CNORM))
            ).alias("cosine"),
        )
    )
    wl = Window.partitionBy("qid").orderBy(F.desc("overlap"), "cid")
    ws = Window.partitionBy("qid").orderBy(F.desc("cosine"), "cid")
    ranked = scored.select(
        "qid",
        "cid",
        F.row_number().over(wl).alias("rank_lex"),
        F.row_number().over(ws).alias("rank_sem"),
    )
    fused = ranked.withColumn("rrf_score", F.expr(_RRF_SCORE))
    wf = Window.partitionBy("qid").orderBy(F.desc("rrf_score"), "cid")
    return (
        fused.withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") <= _RRF_TOPK)
        .select("qid", "cid", "rank_lex", "rank_sem", "rrf_score")
    )


# --------------------------------------------------------------------------
# Hybrid retrieval over REAL candidate generators (the 100 TB RRF form)
# --------------------------------------------------------------------------

# Lexical index unit: word BIGRAMS (the synthetic corpus has a 31-token
# vocabulary where every unigram is a stopword — df ~78% of docs — so
# the honest inverted-index unit is the phrase gram).  The cap is
# RELATIVE (drop grams present in > 6% of documents): a stopgram
# filter is scale-invariant where an absolute posting-length cap is
# not — measured df for these bigrams is ~5.7% of docs at BOTH 500 and
# 5000 documents, so the same fraction works at every SF.
_RRF_STOP_FRACTION = 0.06

_RRF_BIGRAMS = (
    "CASE WHEN size(tk) < 2 THEN CAST(array() AS ARRAY<STRING>) "
    "ELSE array_distinct(transform(sequence(1, size(tk) - 1), "
    "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))) END"
)
# DuckDB: generate_series(1, 0) is empty (Spark's sequence would count
# DOWN — hence the CASE guard above, mirroring _CDC_CUTS).
_RRF_BIGRAMS_SQL = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(tk) - 1, 0)), "
    "i -> concat(tk[i], ' ', tk[i + 1])))"
)

_RRF_FUSE_LEX = (
    f"CAST(1 AS DOUBLE) / CAST({_RRF_K} + rank_lex AS DOUBLE)"
)
_RRF_FUSE_SEM = (
    f"CAST(1 AS DOUBLE) / CAST({_RRF_K} + rank_sem AS DOUBLE)"
)


@register(
    "rrf_hybrid_generators",
    oracle=f"""
    WITH cfg AS ({_NEARDUP_CFG_SQL}),
    {_NORMS_SQL.strip()},
    {_NEARDUP_BANDS_SQL},
    qb AS (
        SELECT vec_id, nrm, band_id, band_key FROM bands
        WHERE vec_id < {_RRF_QUERIES}
    ),
    scand AS (
        SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid,
               q.nrm AS nrm_q, c.nrm AS nrm_c
        FROM qb q JOIN bands c
          ON q.band_id = c.band_id AND q.band_key = c.band_key
        WHERE c.vec_id <> q.vec_id
    ),
    sem AS (
        SELECT s.qid, s.cid,
               {_dot_sql("eq.embedding", "ec.embedding")}
                   / (s.nrm_q * s.nrm_c) AS cosine
        FROM scand s
        JOIN embeddings eq ON eq.vec_id = s.qid
        JOIN embeddings ec ON ec.vec_id = s.cid
    ),
    rsem AS (
        SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, cid) AS rank_sem
        FROM sem
    ),
    grams AS MATERIALIZED (
        SELECT doc_id, unnest({_RRF_BIGRAMS_SQL}) AS bg
        FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents)
    ),
    ndocs AS (SELECT COUNT(*) AS n FROM documents),
    keep AS (
        SELECT bg FROM grams GROUP BY bg
        HAVING COUNT(*) <= (SELECT n FROM ndocs) * {_RRF_STOP_FRACTION}
    ),
    idx AS MATERIALIZED (
        SELECT g.doc_id, g.bg FROM grams g JOIN keep k ON k.bg = g.bg
    ),
    qg AS (
        SELECT doc_id AS qid, bg FROM idx WHERE doc_id < {_RRF_QUERIES}
    ),
    lex AS (
        SELECT q.qid, i.doc_id AS cid, COUNT(*) AS overlap
        FROM qg q JOIN idx i ON i.bg = q.bg AND i.doc_id <> q.qid
        GROUP BY q.qid, i.doc_id
    ),
    rlex AS (
        SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY overlap DESC, cid) AS rank_lex
        FROM lex
    ),
    fused AS (
        SELECT COALESCE(l.qid, s.qid) AS qid,
               COALESCE(l.cid, s.cid) AS cid,
               l.rank_lex AS rank_lex, s.rank_sem AS rank_sem,
               COALESCE({_RRF_FUSE_LEX.replace("rank_lex", "l.rank_lex")},
                        CAST(0 AS DOUBLE))
             + COALESCE({_RRF_FUSE_SEM.replace("rank_sem", "s.rank_sem")},
                        CAST(0 AS DOUBLE)) AS rrf_score
        FROM rlex l FULL OUTER JOIN rsem s
          ON l.qid = s.qid AND l.cid = s.cid
    )
    SELECT qid, cid, rank_lex, rank_sem, rrf_score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY rrf_score DESC, cid) AS rk
        FROM fused
    ) WHERE rk <= {_RRF_TOPK}
    """,
)
def rrf_hybrid_generators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF hybrid retrieval over REAL candidate generators — the
    100 TB form ``rrf_hybrid_rank``'s docstring promises, as a checked
    query: the exact corpus scan is REPLACED on both sides while the
    fusion stage is untouched (RRF only ever sees (qid, cid, rank)
    rows).  Semantic side: candidates from the SAME corpus-adaptive
    banded sign-LSH the dedup/decontam family ships
    (``_neardup_band_rows``), exact cosine computed only on band
    collisions, ranked per query.  Lexical side: a stopgram-filtered
    word-bigram inverted index (drop grams in > 6% of documents — a
    RELATIVE cap, scale-invariant where an absolute posting cap is
    not), candidates ranked by distinct shared grams.  A candidate
    seen by only one generator gets that side's reciprocal-rank term
    alone — the standard RRF treatment of non-overlapping candidate
    lists.

    Spark-first scale shape: the query band rows and query gram rows
    BROADCAST (O(queries), not O(corpus)); LSH candidates are one
    broadcast-hash probe over the band table; lexical candidates are
    one broadcast-hash probe over the inverted index; both rankings,
    the fusion, and the top-k are rank-limit windows partitioned by
    query.  No corpus x corpus pair ever forms — candidate volume per
    query is (bands x bucket size) + (query grams x posting length),
    both independent of total corpus size for fixed generator knobs."""
    raw = load_table(spark, sf_dir, "embeddings")
    e = load_table_parallel(spark, sf_dir, "embeddings")
    bands = _neardup_band_rows(e, raw)
    # r14 (guide §2.1): the query band rows are folded from ONLY the
    # query vectors (predicate-pushed scan slice; cfg still counts the
    # full corpus, so band keys are identical) — the r13 form ran the
    # corpus-wide band fold a SECOND time just to keep queries x bands
    # rows of it.  Same-JVM A/B 1.36 -> 1.24 s min
    # (bench_runs/r14/ab_rrf_qb.txt).
    qb = _neardup_band_rows(
        raw.filter(F.col("vec_id") < _RRF_QUERIES), raw
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("nrm").alias("nrm_q"),
        F.col("band_id").alias("q_band_id"),
        F.col("band_key").alias("q_band_key"),
    )
    scand = (
        F.broadcast(qb)
        .join(
            bands.alias("c"),
            (F.col("q_band_id") == F.col("c.band_id"))
            & (F.col("q_band_key") == F.col("c.band_key"))
            & (F.col("c.vec_id") != F.col("qid")),
        )
        .select(
            "qid",
            F.col("c.vec_id").alias("cid"),
            "nrm_q",
            F.col("c.nrm").alias("nrm_c"),
        )
        .distinct()
    )
    eq = raw.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    ec = raw.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    sem = (
        scand.join(F.broadcast(eq.filter(F.col("qid") < _RRF_QUERIES)), "qid")
        .join(ec, "cid")
        .select(
            "qid",
            "cid",
            (
                F.expr(_dot_expr("qe", "ce")) / (F.col("nrm_q") * F.col("nrm_c"))
            ).alias("cosine"),
        )
    )
    ws = Window.partitionBy("qid").orderBy(F.desc("cosine"), "cid")
    rsem = sem.select(
        "qid", "cid", F.row_number().over(ws).alias("rank_sem")
    )

    d = load_table_parallel(spark, sf_dir, "documents")
    # r13 optimization (guide §2.1/§2.3): the stopgram filter used to
    # tokenize the corpus TWICE (once for the document-frequency
    # aggregate, once for the index pass) and broadcast the KEEP list —
    # the entire sub-6%-DF vocabulary, corpus-sized at scale.  A
    # count() window over the gram key keeps the DF AND the posting
    # rows in ONE exchange of a single tokenize pass; the document
    # count rides a one-row broadcast.  No vocabulary-sized list is
    # broadcast in either direction, and the persist budget is the
    # same filtered index the r12 code cached (probed twice: query
    # grams + lexical candidates).
    grams = d.select("doc_id", F.expr(_TOKENS).alias("tk")).select(
        "doc_id", F.explode(F.expr(_RRF_BIGRAMS)).alias("bg")
    )
    nd = d.agg(F.count(F.lit(1)).alias("n"))
    wdf = Window.partitionBy("bg")
    idx = persist_corpus(
        grams.withColumn("df", F.count(F.lit(1)).over(wdf))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") <= F.col("n") * _RRF_STOP_FRACTION)
        .select("doc_id", "bg")
    )
    qg = idx.filter(F.col("doc_id") < _RRF_QUERIES).select(
        F.col("doc_id").alias("qid"), F.col("bg").alias("q_bg")
    )
    lex = (
        F.broadcast(qg)
        .join(
            idx.alias("i"),
            (F.col("q_bg") == F.col("i.bg"))
            & (F.col("i.doc_id") != F.col("qid")),
        )
        .groupBy("qid", F.col("i.doc_id").alias("cid"))
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    wl = Window.partitionBy("qid").orderBy(F.desc("overlap"), "cid")
    rlex = lex.select(
        "qid", "cid", F.row_number().over(wl).alias("rank_lex")
    )

    fused = rlex.join(rsem, ["qid", "cid"], "full_outer").select(
        "qid",
        "cid",
        "rank_lex",
        "rank_sem",
        (
            F.coalesce(F.expr(_RRF_FUSE_LEX), F.lit(0.0).cast("double"))
            + F.coalesce(F.expr(_RRF_FUSE_SEM), F.lit(0.0).cast("double"))
        ).alias("rrf_score"),
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("rrf_score"), "cid")
    return (
        fused.withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") <= _RRF_TOPK)
        .select("qid", "cid", "rank_lex", "rank_sem", "rrf_score")
    )


# --------------------------------------------------------------------------
# MMR diversified top-k (round 13): generate -> fuse (RRF) -> DIVERSIFY
# --------------------------------------------------------------------------

from wiki_references_db_spark.queries.training import (  # noqa: E402
    _COSINE_SQL,
    _N_QUERY_VECS,
    _cosine_pairs,
)

_MMR_POOL = 8  # relevance pool per query (candidate-generator output)
_MMR_K = 4  # diversified selections per query
# lambda = 0.5: relevance and redundancy weighted equally.  0.5 is an
# EXACT binary fraction, so 0.5*x is a lossless halving and every MMR
# score is a correctly-rounded function of already-deterministic
# cosines — no accumulated float drift anywhere in the greedy chain.


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as a CTE chain: sel1..sel4, each step an
    argmax over the remaining pool of 0.5*rel - 0.5*max(sim to the
    already-selected set)."""
    steps = []
    prev_sels = []
    for i in range(1, _MMR_K + 1):
        if not prev_sels:
            steps.append(f"""
    sel1 AS (
        SELECT qid, cid, rel, 0.5 * rel AS mmr_score FROM (
            SELECT qid, cid, rel,
                   row_number() OVER (PARTITION BY qid
                       ORDER BY rel DESC, cid) AS rn
            FROM pool
        ) WHERE rn = 1
    )""")
        else:
            sel_union = " UNION ALL ".join(
                f"SELECT qid, cid FROM sel{j}" for j in prev_sels
            )
            steps.append(f"""
    sel{i} AS (
        SELECT qid, cid, rel, mmr_score FROM (
            SELECT p.qid, p.cid, p.rel,
                   0.5 * p.rel - 0.5 * MAX(s.sim) AS mmr_score,
                   row_number() OVER (PARTITION BY p.qid
                       ORDER BY 0.5 * p.rel - 0.5 * MAX(s.sim) DESC,
                                p.cid) AS rn
            FROM pool p
            JOIN ({sel_union}) chosen{i}
              ON chosen{i}.qid = p.qid AND chosen{i}.cid <> p.cid
            JOIN sims s
              ON s.qid = p.qid AND s.ca = p.cid AND s.cb = chosen{i}.cid
            WHERE p.cid NOT IN (SELECT cid FROM ({sel_union}) x
                                WHERE x.qid = p.qid)
            GROUP BY p.qid, p.cid, p.rel
        ) WHERE rn = 1
    )""")
        prev_sels.append(i)
    ranked = " UNION ALL ".join(
        f"SELECT qid, {i} AS rank, cid, mmr_score FROM sel{i}"
        for i in range(1, _MMR_K + 1)
    )
    return (
        _COSINE_SQL
        + f"""
    , pool AS (
        SELECT qid, cid, cosine AS rel FROM (
            SELECT qid, cid, cosine,
                   row_number() OVER (PARTITION BY qid
                       ORDER BY cosine DESC, cid) AS rn
            FROM cosines
        ) WHERE rn <= {_MMR_POOL}
    ),
    sims AS (
        SELECT a.qid, a.cid AS ca, b.cid AS cb,
               {_dot_sql("ea.embedding", "eb.embedding")}
                   / (na.nrm * nb.nrm) AS sim
        FROM pool a
        JOIN pool b ON b.qid = a.qid AND b.cid <> a.cid
        JOIN embeddings ea ON ea.vec_id = a.cid
        JOIN embeddings eb ON eb.vec_id = b.cid
        JOIN norms na ON na.vec_id = a.cid
        JOIN norms nb ON nb.vec_id = b.cid
    ),{",".join(steps)}
    SELECT qid, rank, cid, mmr_score FROM ({ranked}) out
    """
    )


@register("mmr_diversify_topk", oracle=_mmr_oracle())
def mmr_diversify_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): from each query's top-8 cosine pool, greedily
    select 4 results maximizing 0.5*relevance - 0.5*max-similarity-to-
    already-selected — the de-duplicating re-rank stage a retrieval
    pipeline runs AFTER candidate generation and fusion (this family's
    ``ann_*`` generators and ``rrf_hybrid_*`` fusion), so near-identical
    corpus hits don't crowd out distinct results.  lambda = 0.5 is an
    exact binary fraction: every MMR score is one halving + one
    subtraction of already-bit-deterministic cosines, so the greedy
    argmax chain is bit-identical across engines (tie-break cid).

    Spark-first scale shape: the greedy loop is unrolled k=4 times
    (the kmeans_lloyd_update / graph-loop-body discipline — each step
    is a keyed join + rank-limit window, no driver-side iteration over
    rows); all pairwise similarity is confined to the POOL (pool x
    pool per query = 64 pairs, never corpus x corpus), and the pool
    itself comes from the rank-limited relevance window, so at 100 TB
    the only corpus-sized work is the candidate generator this stage
    deliberately reuses."""
    cos = _cosine_pairs(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    pool = (
        cos.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMR_POOL)
        .select("qid", "cid", F.col("cosine").alias("rel"))
    )
    # pool feeds the pairwise-sim join (twice) and every greedy step.
    pool = pool.persist()
    e = load_table(spark, sf_dir, "embeddings")
    from wiki_references_db_spark.queries.training import (
        _dot_expr,
        _norm_expr,
    )

    emb = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.expr(_norm_expr("embedding")).alias("nrm"),
    )
    a = pool.select("qid", F.col("cid").alias("ca")).join(
        emb.select(F.col("cid").alias("ca"), F.col("ce").alias("ea"),
                   F.col("nrm").alias("na")),
        "ca",
    )
    b = pool.select("qid", F.col("cid").alias("cb")).join(
        emb.select(F.col("cid").alias("cb"), F.col("ce").alias("eb"),
                   F.col("nrm").alias("nb")),
        "cb",
    )
    sims = (
        a.join(b, ["qid"])
        .filter(F.col("ca") != F.col("cb"))
        .select(
            "qid",
            "ca",
            "cb",
            (
                F.expr(_dot_expr("ea", "eb")) / (F.col("na") * F.col("nb"))
            ).alias("sim"),
        )
        .persist()
    )
    selected = (
        pool.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("rel").desc(), F.col("cid")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "qid",
            F.lit(1).alias("rank"),
            "cid",
            (F.lit(0.5) * F.col("rel")).alias("mmr_score"),
        )
    )
    for i in range(2, _MMR_K + 1):
        # sims restricted to (candidate, already-selected) pairs, then
        # max-reduced per candidate — the redundancy term.
        sims_sel = sims.join(
            selected.select("qid", F.col("cid").alias("cb")), ["qid", "cb"]
        )
        remaining = pool.join(
            selected.select("qid", "cid"), ["qid", "cid"], "left_anti"
        )
        scored = (
            remaining.join(
                sims_sel.select("qid", F.col("ca").alias("cid"), "sim"),
                ["qid", "cid"],
            )
            .groupBy("qid", "cid", "rel")
            .agg(
                (
                    F.lit(0.5) * F.col("rel") - F.lit(0.5) * F.max("sim")
                ).alias("mmr_score")
            )
        )
        pick = (
            scored.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(
                        F.col("mmr_score").desc(), F.col("cid")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select("qid", F.lit(i).alias("rank"), "cid", "mmr_score")
        )
        # localCheckpoint per step (graph-loop discipline, see
        # operators/graph.py): without it each step re-inlines every
        # prior step's pick into the next anti-join/sim join and the
        # executed plan balloons to ~400 Exchanges; checkpointed, the
        # selected set is 3*i rows and every step's plan is flat.
        # eager=False, unlike the graph ops: the greedy chain then
        # computes at the FIRST ACTION rather than during DataFrame
        # construction, so the bench/stress harnesses (which time the
        # noop write, not fn()) measure the real work.
        selected = selected.unionByName(pick).localCheckpoint(eager=False)
    return selected.select("qid", F.col("rank").cast("int").alias("rank"),
                           "cid", "mmr_score")


# --------------------------------------------------------------------------
# In-engine classifier training: integer-exact full-batch perceptron
# --------------------------------------------------------------------------

# Integer text-statistic features shared by the perceptron trainer and
# the AUC meter below.  All four are exact BIGINTs with proven
# cross-engine token parity (_TOKENS / _TOKENS_SQL), so every weight,
# margin, and rank statistic downstream is exact integer arithmetic —
# the property that makes an ITERATIVE trainer value-hashable across
# engines (same discipline as kmeans_lloyd_update's fixed-point sums,
# but with no quantization step at all).
_FEAT_SPARK = [
    ("x1", "CAST(size({t}) AS BIGINT)"),
    ("x2", "CAST(size(array_distinct({t})) AS BIGINT)"),
    ("x3", "CAST(size(filter({t}, t -> length(t) >= 8)) AS BIGINT)"),
    ("x4", "CAST(n_chars AS BIGINT)"),
]
_FEAT_SQL = """
        CAST(len({t}) AS BIGINT) AS x1,
        CAST(len(list_distinct({t})) AS BIGINT) AS x2,
        CAST(len(list_filter({t}, t -> length(t) >= 8)) AS BIGINT) AS x3,
        CAST(n_chars AS BIGINT) AS x4
"""
# Weak labels by source provenance (the standard quality-classifier
# setup: curated sources positive, the rest negative): src0-src9 -> +1.
_LABEL_POS_SQL = "CAST(substr(source, 4) AS INT) < 10"
_LABEL_POS_SPARK = "CAST(substring(source, 4, 8) AS INT) < 10"

_PERC_ITERS = 3


def _perc_upd_sql(wcte: str | None) -> str:
    """One full-batch update's sufficient statistics: misclassified
    count and the summed gradient, against the weights in CTE ``wcte``
    (None = the zero initial weights, where every margin is 0 and every
    document is misclassified)."""
    if wcte is None:
        frm, margin = "feat", "0"
    else:
        frm = f"feat, {wcte}"
        margin = (
            f"{wcte}.w1*x1 + {wcte}.w2*x2 + {wcte}.w3*x3 + {wcte}.w4*x4"
            f" + {wcte}.b"
        )
    return f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_mis,
               CAST(COALESCE(SUM(y*x1), 0) AS BIGINT) AS dw1,
               CAST(COALESCE(SUM(y*x2), 0) AS BIGINT) AS dw2,
               CAST(COALESCE(SUM(y*x3), 0) AS BIGINT) AS dw3,
               CAST(COALESCE(SUM(y*x4), 0) AS BIGINT) AS dw4,
               CAST(COALESCE(SUM(y), 0) AS BIGINT) AS db
        FROM {frm} WHERE y * ({margin}) <= 0
    """


# The shared CTE prefix (features + the three unrolled updates) —
# reused verbatim by the trainer's oracle and by confusion_matrix_eval,
# whose oracle applies the SAME final weights (wc) the trainer emits;
# the streaming scorer's oracle trains on the corpus slice only.
def _perc_ctes_sql(where: str = "") -> str:
    return f"""feat AS (
        SELECT {_FEAT_SQL.strip().format(t=_TOKENS_SQL)},
               CASE WHEN {_LABEL_POS_SQL}
                    THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y
        FROM documents{where}
    ),
    ua AS ({_perc_upd_sql(None)}),
    wa AS (SELECT dw1 AS w1, dw2 AS w2, dw3 AS w3, dw4 AS w4, db AS b,
                  n_mis FROM ua),
    ub AS ({_perc_upd_sql("wa")}),
    wb AS (SELECT wa.w1 + ub.dw1 AS w1, wa.w2 + ub.dw2 AS w2,
                  wa.w3 + ub.dw3 AS w3, wa.w4 + ub.dw4 AS w4,
                  wa.b + ub.db AS b, ub.n_mis FROM wa, ub),
    uc AS ({_perc_upd_sql("wb")}),
    wc AS (SELECT wb.w1 + uc.dw1 AS w1, wb.w2 + uc.dw2 AS w2,
                  wb.w3 + uc.dw3 AS w3, wb.w4 + uc.dw4 AS w4,
                  wb.b + uc.db AS b, uc.n_mis FROM wb, uc)"""


_PERC_CTES_SQL = _perc_ctes_sql()


def _doc_features(d: DataFrame, with_id: bool = False) -> DataFrame:
    """The shared integer feature + weak-label projection over any
    frame with (text, source, n_chars) — the static paths project the
    documents table; the streaming scorer applies the same expressions
    to each micro-batch (with doc_id kept for the output rows)."""
    cols = [F.col("doc_id")] if with_id else []
    cols += [
        F.expr(e.format(t=_TOKENS)).alias(name) for name, e in _FEAT_SPARK
    ]
    cols.append(
        F.expr(
            f"IF({_LABEL_POS_SPARK}, CAST(1 AS BIGINT),"
            " CAST(-1 AS BIGINT))"
        ).alias("y")
    )
    return d.select(*cols)


_PERC_WCOLS = ("w1", "w2", "w3", "w4", "b")


def _perceptron_frames(spark: SparkSession, sf_dir: str):
    """The shared training loop over the full documents table: returns
    (trajectory rows, persisted feature frame).  The trainer emits the
    trajectory; ``confusion_matrix_eval`` scores the features against
    its last row's weights."""
    feat = persist_corpus(
        _doc_features(load_table(spark, sf_dir, "documents"))
    )
    return _perceptron_loop(feat), feat


def _perceptron_loop(feat: DataFrame) -> list[tuple]:
    """Three unrolled exact full-batch updates over a (persisted)
    feature frame, with the weights held on the driver: each iteration
    is one aggregate over the documents its literal weights misclassify,
    and the update ``w + coalesce(sum(y*x), 0)`` is computed inside that
    aggregate, so it stays BIGINT arithmetic with ANSI overflow checks.
    Returns one row per iteration: (iter, n_miscls, w1, w2, w3, w4, b).

    The expressions are SQL strings, one py4j call each: built from
    Column objects, the ~90 calls took 0.11-0.14 s of driver time per
    iteration (4-vCPU VM), about as long as the iteration's two jobs."""
    w = (0,) * len(_PERC_WCOLS)
    grads = [f"y * x{k}" for k in range(1, 5)] + ["y"]
    traj = []
    for it in range(1, _PERC_ITERS + 1):
        row = (
            feat.filter(f"y * ({_perc_margin_sql(w)}) <= 0")
            .agg(
                F.expr("CAST(COUNT(1) AS BIGINT) AS n_miscls"),
                *[
                    F.expr(
                        f"CAST(CAST({wk} AS BIGINT) + COALESCE(SUM({g}), 0)"
                        f" AS BIGINT) AS {c}"
                    )
                    for c, wk, g in zip(_PERC_WCOLS, w, grads)
                ],
            )
            .first()
        )
        w = tuple(row[c] for c in _PERC_WCOLS)
        traj.append((it, row["n_miscls"], *w))
    return traj


def _perc_margin_sql(w: tuple) -> str:
    """The raw margin ``w1*x1 + w2*x2 + w3*x3 + w4*x4 + b`` against the
    weights ``w = (w1, w2, w3, w4, b)`` as BIGINT literals."""
    return (
        "CAST({} AS BIGINT)*x1 + CAST({} AS BIGINT)*x2"
        " + CAST({} AS BIGINT)*x3 + CAST({} AS BIGINT)*x4"
        " + CAST({} AS BIGINT)".format(*w)
    )


def _perc_rows(spark: SparkSession, traj: list[tuple]) -> DataFrame:
    """The trajectory as literal rows over a one-row range: no job, and
    nothing in the plan but the generator."""
    rows = ", ".join(
        "struct(CAST({} AS INT) AS iter, CAST({} AS BIGINT) AS n_miscls,"
        " CAST({} AS BIGINT) AS w1, CAST({} AS BIGINT) AS w2,"
        " CAST({} AS BIGINT) AS w3, CAST({} AS BIGINT) AS w4,"
        " CAST({} AS BIGINT) AS b)".format(*r)
        for r in traj
    )
    return spark.range(1, numPartitions=1).selectExpr(f"inline(array({rows}))")


@register(
    "perceptron_quality_train",
    oracle=f"""
    WITH {_PERC_CTES_SQL}
    SELECT 1 AS iter, n_mis AS n_miscls, w1, w2, w3, w4, b FROM wa
    UNION ALL
    SELECT 2 AS iter, n_mis AS n_miscls, w1, w2, w3, w4, b FROM wb
    UNION ALL
    SELECT 3 AS iter, n_mis AS n_miscls, w1, w2, w3, w4, b FROM wc
    """,
)
def perceptron_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-ENGINE classifier training: three unrolled full-batch
    perceptron iterations (learning rate 1) fitting integer text
    statistics to weak source-provenance quality labels — the training
    loop a 100 TB curation pipeline runs to bootstrap a quality filter
    from trusted/untrusted source lists (fastText-style weak
    supervision, reduced to its exactly-computable core).

    Each iteration is ONE distributed scan-aggregate: filter the
    feature frame to the documents misclassified by the current weights
    (margin y*(w.x + b) <= 0, the weights inlined as BIGINT literals)
    and aggregate the updated weights w + sum(y*x), b + sum(y) in the
    same pass; the update keeps every weight an exact BIGINT, so —
    unlike gradient descent on a sigmoid — the whole trajectory is
    bit-identical across engines with NO quantization grid.
    Per-iteration output rows carry the misclassified count (evaluated
    BEFORE that iteration's update) and the post-update weights.

    Scale shape: the corpus is touched once per iteration (map-side
    partial aggregation, 1-row result); the five weights come back to
    the driver and go out again as literals in the next iteration's
    filter, so no plan grows with the iteration count and nothing is
    broadcast or checkpointed.  Training runs while the query is built;
    the returned frame holds the trajectory as literal rows.
    Magnitude: |w| <= n_docs * max|x|, so margins stay inside BIGINT up
    to ~1e14 documents at these feature scales."""
    traj, feat = _perceptron_frames(spark, sf_dir)
    feat.unpersist()
    return _perc_rows(spark, traj)


# --------------------------------------------------------------------------
# Model evaluation: exact tie-corrected ROC-AUC by rank statistics
# --------------------------------------------------------------------------


@register(
    "auc_rank_eval",
    oracle=f"""
    WITH feat AS (
        SELECT (1000000 * CAST(len(list_distinct({_TOKENS_SQL})) AS BIGINT))
                   // CAST(len({_TOKENS_SQL}) AS BIGINT) AS score,
               CASE WHEN {_LABEL_POS_SQL} THEN 1 ELSE 0 END AS pos
        FROM documents
    ),
    per AS (
        SELECT score, CAST(SUM(pos) AS BIGINT) AS np,
               CAST(COUNT(*) - SUM(pos) AS BIGINT) AS nn
        FROM feat GROUP BY score
    ),
    cum AS (
        SELECT np, nn,
               CAST(COALESCE(SUM(nn) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cneg
        FROM per
    ),
    u AS (SELECT CAST(SUM(2*np*cneg + np*nn) AS BIGINT) AS u2 FROM cum),
    tot AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
                   CAST(SUM(nn) AS BIGINT) AS n_neg FROM per)
    SELECT n_pos, n_neg, u2,
           (1000000 * u2) // (2 * n_pos * n_neg) AS auc_ppm
    FROM tot, u
    """,
)
def auc_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of a lexical-diversity quality score against the
    weak source-provenance labels, via the Mann-Whitney U rank
    statistic — the model-evaluation meter paired with
    ``perceptron_quality_train`` (train a filter, then measure any
    scorer's ranking power against the same labels).

    AUC = P(score_pos > score_neg) + P(tie)/2 over all pos x neg pairs.
    Computed WITHOUT forming pairs and WITHOUT floats: aggregate to
    per-score (n_pos, n_neg) counts, take a global running sum of
    negatives over ascending score (``operators.ordered
    .global_running_sum`` — P-way range partition + exact prefix
    offsets, never a single-partition window), and sum
    2*np*cneg_below + np*nn per score.  That is exactly 2U with the
    standard tie correction (ties contribute half), kept doubled so
    every intermediate is an integer; ``auc_ppm`` floor-divides once at
    the end.  Integer division and integer sums are bit-identical
    across engines — no float comparison anywhere.

    Scale shape: the pair count n_pos*n_neg never materializes (it
    appears only as a divisor); the shuffled payload is one row per
    DISTINCT score, and the score domain is bounded by construction
    (0..1e6 ppm), so the rank pass is capped at ~1e6 rows regardless of
    corpus size.  At extreme counts (n_pos*n_neg > ~4.6e18) the final
    ppm division needs int128/double — the exact U2 output column is
    the scale-safe artifact."""
    from wiki_references_db_spark.operators.ordered import global_running_sum

    d = load_table(spark, sf_dir, "documents")
    feat = d.select(
        F.expr(
            f"(1000000 * CAST(size(array_distinct({_TOKENS})) AS BIGINT))"
            f" div CAST(size({_TOKENS}) AS BIGINT)"
        ).alias("score"),
        F.expr(f"IF({_LABEL_POS_SPARK}, 1, 0)").alias("pos"),
    )
    per = persist_corpus(
        feat.groupBy("score").agg(
            F.sum("pos").cast("long").alias("np"),
            (F.count(F.lit(1)) - F.sum("pos")).cast("long").alias("nn"),
        )
    )
    cum = global_running_sum(per, [F.col("score")], F.col("nn"), "cum_nn")
    u = cum.select(
        (
            2 * F.col("np") * (F.col("cum_nn") - F.col("nn"))
            + F.col("np") * F.col("nn")
        ).alias("contrib")
    ).agg(F.sum("contrib").cast("long").alias("u2"))
    tot = per.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
    )
    return tot.crossJoin(F.broadcast(u)).select(
        "n_pos",
        "n_neg",
        "u2",
        F.expr("(1000000 * u2) div (2 * n_pos * n_neg)").alias("auc_ppm"),
    )


# --------------------------------------------------------------------------
# Model evaluation: confusion matrix of the trained perceptron
# --------------------------------------------------------------------------


@register(
    "confusion_matrix_eval",
    oracle=f"""
    WITH {_PERC_CTES_SQL},
    scored AS (
        SELECT y, wc.w1*x1 + wc.w2*x2 + wc.w3*x3 + wc.w4*x4 + wc.b AS m
        FROM feat, wc
    ),
    cm AS (
        SELECT
          CAST(SUM(CASE WHEN y = 1 AND m > 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS tp,
          CAST(SUM(CASE WHEN y = -1 AND m > 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS fp,
          CAST(SUM(CASE WHEN y = -1 AND m <= 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS tn,
          CAST(SUM(CASE WHEN y = 1 AND m <= 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS fn
        FROM scored
    )
    SELECT tp, fp, tn, fn,
           (1000000 * (tp + tn)) // (tp + fp + tn + fn) AS accuracy_ppm
    FROM cm
    """,
)
def confusion_matrix_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVE side of ``perceptron_quality_train``: re-run the same
    three exact training iterations, apply the FINAL weights back to
    every document (predicted positive iff the raw margin w.x + b is
    strictly > 0), and reduce to the exact confusion matrix against the
    weak source-provenance labels — train-then-apply as one checked
    query, the closed loop a curation pipeline runs before trusting a
    bootstrapped quality filter.

    Everything stays integer (weights, margins, cell counts; the
    accuracy ppm floor-divides once at the end), so the full
    train+score+evaluate composition is bit-identical across engines.
    Scale shape: training as in the trainer (one scan-aggregate per
    iteration, while the query is built); scoring is ONE more corpus
    scan with the final weights inlined as literals (no join); the
    confusion reduce is a 4-counter global aggregate with map-side
    partials."""
    traj, feat = _perceptron_frames(spark, sf_dir)
    scored = feat.selectExpr("y", f"{_perc_margin_sql(traj[-1][2:])} AS m")
    cm = scored.agg(
        F.sum(F.when((F.col("y") == 1) & (F.col("m") > 0), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("y") == -1) & (F.col("m") > 0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((F.col("y") == -1) & (F.col("m") <= 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
        F.sum(F.when((F.col("y") == 1) & (F.col("m") <= 0), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
    )
    return cm.select(
        "tp",
        "fp",
        "tn",
        "fn",
        F.expr(
            "(1000000 * (tp + tn)) div (tp + fp + tn + fn)"
        ).alias("accuracy_ppm"),
    )


# --------------------------------------------------------------------------
# Model evaluation: precision/recall curve at every observed threshold
# --------------------------------------------------------------------------


# The shared threshold-sweep CTE prefix (per-distinct-score counts +
# ascending cumulatives + totals) — reused by the PR curve and the
# decision stump, which argmins the same sweep.
_SWEEP_CTES_SQL = f"""feat AS (
        SELECT (1000000 * CAST(len(list_distinct({_TOKENS_SQL})) AS BIGINT))
                   // CAST(len({_TOKENS_SQL}) AS BIGINT) AS score,
               CASE WHEN {_LABEL_POS_SQL} THEN 1 ELSE 0 END AS pos
        FROM documents
    ),
    per AS (
        SELECT score, CAST(SUM(pos) AS BIGINT) AS np,
               CAST(COUNT(*) - SUM(pos) AS BIGINT) AS nn
        FROM feat GROUP BY score
    ),
    tot AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
                   CAST(SUM(nn) AS BIGINT) AS n_neg FROM per),
    cum AS (
        SELECT score, np, nn,
               CAST(SUM(np) OVER (ORDER BY score
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cnp,
               CAST(SUM(nn) OVER (ORDER BY score
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cnn
        FROM per
    )"""


def _threshold_sweep_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(score, np, nn, cnp, cnn, n_pos, n_neg) — one row per distinct
    observed diversity score, with ascending inclusive cumulatives and
    the class totals broadcast on: the Spark mirror of
    ``_SWEEP_CTES_SQL``, shared by ``pr_curve_points`` and
    ``decision_stump_train``."""
    from wiki_references_db_spark.operators.ordered import global_running_sum

    d = load_table(spark, sf_dir, "documents")
    feat = d.select(
        F.expr(
            f"(1000000 * CAST(size(array_distinct({_TOKENS})) AS BIGINT))"
            f" div CAST(size({_TOKENS}) AS BIGINT)"
        ).alias("score"),
        F.expr(f"IF({_LABEL_POS_SPARK}, 1, 0)").alias("pos"),
    )
    per = persist_corpus(
        feat.groupBy("score").agg(
            F.sum("pos").cast("long").alias("np"),
            (F.count(F.lit(1)) - F.sum("pos")).cast("long").alias("nn"),
        )
    )
    tot = per.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
    )
    cum = global_running_sum(
        global_running_sum(per, [F.col("score")], F.col("np"), "cnp"),
        [F.col("score")],
        F.col("nn"),
        "cnn",
    )
    return cum.crossJoin(F.broadcast(tot))


@register(
    "pr_curve_points",
    oracle=f"""
    WITH {_SWEEP_CTES_SQL}
    SELECT score AS threshold,
           (n_pos - cnp + np) AS tp,
           (n_neg - cnn + nn) AS fp,
           (cnp - np) AS fn,
           (1000000 * (n_pos - cnp + np))
               // ((n_pos - cnp + np) + (n_neg - cnn + nn)) AS precision_ppm,
           (1000000 * (n_pos - cnp + np)) // n_pos AS recall_ppm
    FROM cum, tot
    """,
)
def pr_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The precision/recall curve of the lexical-diversity quality
    score against the weak source-provenance labels: one output row per
    DISTINCT observed score s, giving the exact confusion counts and
    precision/recall (ppm) of the rule "predict positive iff score >=
    s" — the threshold-sweep a pipeline runs to pick a quality-filter
    operating point, completing the eval family (AUC summarizes this
    curve; this emits it).

    Computed from the same per-distinct-score (n_pos, n_neg) counts as
    ``auc_rank_eval``: two ascending ``global_running_sum`` passes
    (cumulative positives / negatives BELOW each threshold — P-way
    range partition + exact prefix offsets, never a single-partition
    window) and the bounded identity tp(s) = n_pos - cum_np_excl(s).
    All counts are exact BIGINTs; the two ppm columns floor-divide
    once per row, and tp + fp >= 1 at every OBSERVED threshold so the
    precision division is total.

    Scale shape: the shuffled payload after the first aggregate is one
    row per distinct score, bounded by construction at 1e6 + 1 ppm
    values regardless of corpus size; the second running-sum pass runs
    on that already-bounded frame."""
    return _threshold_sweep_frame(spark, sf_dir).select(
        F.col("score").alias("threshold"),
        (F.col("n_pos") - F.col("cnp") + F.col("np")).alias("tp"),
        (F.col("n_neg") - F.col("cnn") + F.col("nn")).alias("fp"),
        (F.col("cnp") - F.col("np")).alias("fn"),
        F.expr(
            "(1000000 * (n_pos - cnp + np))"
            " div ((n_pos - cnp + np) + (n_neg - cnn + nn))"
        ).alias("precision_ppm"),
        F.expr("(1000000 * (n_pos - cnp + np)) div n_pos").alias(
            "recall_ppm"
        ),
    )


# --------------------------------------------------------------------------
# Annotation quality: inter-labeler agreement (Cohen's kappa, exact)
# --------------------------------------------------------------------------


@register(
    "labeler_agreement_kappa",
    oracle=f"""
    WITH lab AS (
        SELECT CASE WHEN {_LABEL_POS_SQL} THEN 1 ELSE 0 END AS a,
               CASE WHEN (1000000 *
                        CAST(len(list_distinct({_TOKENS_SQL})) AS BIGINT))
                        // CAST(len({_TOKENS_SQL}) AS BIGINT) >= 500000
                    THEN 1 ELSE 0 END AS b
        FROM documents
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(a) AS BIGINT) AS a_pos,
               CAST(SUM(b) AS BIGINT) AS b_pos,
               CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_agree
        FROM lab
    )
    SELECT n_docs, a_pos, b_pos, n_agree,
           (1000000 * n_agree) // n_docs AS po_ppm,
           (1000000 * (a_pos*b_pos + (n_docs-a_pos)*(n_docs-b_pos)))
               // (n_docs*n_docs) AS pe_ppm,
           (1000000 * ((n_agree*n_docs
                        - (a_pos*b_pos + (n_docs-a_pos)*(n_docs-b_pos)))
                       + (n_docs*n_docs
                          - (a_pos*b_pos + (n_docs-a_pos)*(n_docs-b_pos)))))
               // (n_docs*n_docs
                   - (a_pos*b_pos + (n_docs-a_pos)*(n_docs-b_pos)))
               AS kappa_plus1_ppm
    FROM agg
    """,
)
def labeler_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the two deterministic weak labelers the
    classifier family uses — source provenance (labeler A) vs a fixed
    lexical-diversity threshold at 500,000 ppm (labeler B) — the
    annotation-quality check a pipeline runs BEFORE trusting weak
    supervision: high kappa means the cheap label agrees with the
    trusted list beyond chance.

    Everything is exact integer arithmetic over one scan-aggregate
    (n, a_pos, b_pos, n_agree are the complete sufficient statistics
    for binary kappa).  Division discipline: Spark ``div`` truncates
    while DuckDB ``//`` floors, which DIVERGES on negative numerators —
    and kappa itself can be negative — so the emitted ppm columns are
    all non-negative by construction: observed/expected agreement
    (po, pe), and kappa SHIFTED by +1 (kappa in [-1, 1] makes the
    shifted numerator >= 0); subtract 1,000,000 to read kappa in ppm.
    The raw counts are emitted alongside so any consumer can recompute
    at full precision.

    Scale shape: one corpus scan, 4-counter global aggregate with
    map-side partials, then 1-row arithmetic.  The n^2 products cap
    the exact ppm forms at ~3e9 documents in BIGINT; beyond that the
    sufficient statistics remain exact and the divisions move to
    int128/double (same documented boundary as auc_rank_eval)."""
    d = load_table(spark, sf_dir, "documents")
    lab = d.select(
        F.expr(f"IF({_LABEL_POS_SPARK}, 1, 0)").alias("a"),
        F.expr(
            f"IF((1000000 * CAST(size(array_distinct({_TOKENS})) AS BIGINT))"
            f" div CAST(size({_TOKENS}) AS BIGINT) >= 500000, 1, 0)"
        ).alias("b"),
    )
    agg = lab.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("a").cast("long").alias("a_pos"),
        F.sum("b").cast("long").alias("b_pos"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("n_agree"),
    )
    pe_num = (
        "(a_pos*b_pos + (n_docs-a_pos)*(n_docs-b_pos))"
    )
    return agg.select(
        "n_docs",
        "a_pos",
        "b_pos",
        "n_agree",
        F.expr("(1000000 * n_agree) div n_docs").alias("po_ppm"),
        F.expr(f"(1000000 * {pe_num}) div (n_docs*n_docs)").alias("pe_ppm"),
        F.expr(
            f"(1000000 * ((n_agree*n_docs - {pe_num})"
            f" + (n_docs*n_docs - {pe_num})))"
            f" div (n_docs*n_docs - {pe_num})"
        ).alias("kappa_plus1_ppm"),
    )


# --------------------------------------------------------------------------
# In-engine training #2: error-minimizing decision stump
# --------------------------------------------------------------------------


@register(
    "decision_stump_train",
    oracle=f"""
    WITH {_SWEEP_CTES_SQL}
    SELECT score AS threshold,
           (n_pos - cnp + np) AS tp,
           (n_neg - cnn + nn) AS fp,
           (cnn - nn) AS tn,
           (cnp - np) AS fn,
           ((n_neg - cnn + nn) + (cnp - np)) AS error
    FROM cum, tot
    ORDER BY error ASC, threshold ASC
    LIMIT 1
    """,
)
def decision_stump_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry's SECOND model family: train a depth-1 decision
    stump ("predict positive iff diversity score >= t") by exact
    empirical-risk minimization — sweep every OBSERVED threshold,
    count misclassifications exactly, and pick the argmin (ties broken
    toward the smallest threshold, so the winner is unique and
    bit-identical across engines).  Where the perceptron fits a linear
    boundary by iteration, the stump solves its 1-D training problem
    EXACTLY in one pass — the standard weak learner a boosting loop
    would call, and a sanity floor every learned quality filter should
    beat.

    Reuses the shared threshold sweep (``_threshold_sweep_frame`` —
    per-distinct-score counts + P-way ascending running sums; error(t)
    = fp(t) + fn(t) is exact BIGINT arithmetic on that frame), then a
    TakeOrdered top-1 on (error, threshold) — the same bounded
    selection shape as ``topk_global``, over a frame capped at 1e6 + 1
    rows by score-domain construction."""
    sweep = _threshold_sweep_frame(spark, sf_dir)
    scored = sweep.select(
        F.col("score").alias("threshold"),
        (F.col("n_pos") - F.col("cnp") + F.col("np")).alias("tp"),
        (F.col("n_neg") - F.col("cnn") + F.col("nn")).alias("fp"),
        (F.col("cnn") - F.col("nn")).alias("tn"),
        (F.col("cnp") - F.col("np")).alias("fn"),
        (
            (F.col("n_neg") - F.col("cnn") + F.col("nn"))
            + (F.col("cnp") - F.col("np"))
        ).alias("error"),
    )
    return scored.orderBy(F.asc("error"), F.asc("threshold")).limit(1)


# --------------------------------------------------------------------------
# FIM (fill-in-middle) training transform: deterministic PSM split
# --------------------------------------------------------------------------


def _hex16_at(md5_expr: str, pos_fn: str, off: int) -> str:
    """16 bits of an md5 hex string starting at 1-based nibble ``off``,
    via hex-digit position lookup (``pos_fn``: DuckDB strpos / Spark
    instr) — the same engine-neutral idiom as profiling's _hex16."""
    terms = []
    for i, mult in enumerate((4096, 256, 16, 1)):
        terms.append(
            f"{mult} * ({pos_fn}('0123456789abcdef', "
            f"substr({md5_expr}, {off + i}, 1)) - 1)"
        )
    return "(" + " + ".join(terms) + ")"


@register(
    "fim_split_transform",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS_SQL} AS t,
               CAST(len({_TOKENS_SQL}) AS BIGINT) AS n,
               md5(coalesce(text, '')) AS h
        FROM documents
    ),
    cuts AS (
        SELECT doc_id, t, n,
               least(1 + ({_hex16_at('h', 'strpos', 1)} % (n - 1)),
                     1 + ({_hex16_at('h', 'strpos', 5)} % (n - 1))) AS lo,
               greatest(1 + ({_hex16_at('h', 'strpos', 1)} % (n - 1)),
                        1 + ({_hex16_at('h', 'strpos', 5)} % (n - 1))) AS hi
        FROM toks WHERE n >= 3
    )
    SELECT doc_id, n AS n_tokens, lo AS cut_lo, hi AS cut_hi,
           lo AS n_prefix, (hi - lo) AS n_middle, (n - hi) AS n_suffix,
           md5(coalesce(array_to_string(t[1:lo], ' '), '')) AS prefix_md5,
           md5(coalesce(array_to_string(t[lo+1:hi], ' '), ''))
               AS middle_md5,
           md5(coalesce(array_to_string(t[hi+1:n], ' '), '')) AS suffix_md5
    FROM cuts
    """,
)
def fim_split_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-middle (FIM) training transform: deterministically split
    every document's token sequence into (prefix, middle, suffix) —
    the PSM decomposition code/infilling pipelines apply to a fraction
    of the corpus so the model learns to complete a masked span from
    bidirectional context (public FIM recipe; no RNG: both cut points
    derive from 16-bit md5 slices of the document text itself, so the
    transform is bit-identical across engines and idempotent across
    reruns — the same seedless-hash discipline as
    ``importance_weighted_sample``).

    Cut semantics: for n >= 3 tokens, two cuts in [1, n-1] (hash mod
    n-1), ordered; prefix = tokens[1..lo] (never empty), middle =
    tokens[lo+1..hi] (empty iff the cuts collide — a legal FIM
    degenerate), suffix = tokens[hi+1..n] (never empty).  Documents
    under 3 tokens are not transformed (no room for a 3-way split).
    Output rows carry the exact split arithmetic plus md5 digests of
    the three reassembled segments, so the full text-level transform is
    value-hash-checked without shipping megabytes of segment text
    through the compare.

    Scale shape: map-only — one projection chain, no joins, no
    aggregates, no shuffle at all; Catalyst collapses the cut/slice
    chain into a single whole-stage-codegen scan stage."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.expr(_TOKENS).alias("t"),
        F.expr(f"CAST(size({_TOKENS}) AS BIGINT)").alias("n"),
        F.expr("md5(coalesce(text, ''))").alias("h"),
    ).filter(F.col("n") >= 3)
    ha = _hex16_at("h", "instr", 1)
    hb = _hex16_at("h", "instr", 5)
    cuts = toks.select(
        "doc_id",
        "t",
        "n",
        F.expr(
            f"least(1 + ({ha} % (n - 1)), 1 + ({hb} % (n - 1)))"
        ).alias("lo"),
        F.expr(
            f"greatest(1 + ({ha} % (n - 1)), 1 + ({hb} % (n - 1)))"
        ).alias("hi"),
    )
    return cuts.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.col("lo").alias("cut_lo"),
        F.col("hi").alias("cut_hi"),
        F.col("lo").alias("n_prefix"),
        (F.col("hi") - F.col("lo")).alias("n_middle"),
        (F.col("n") - F.col("hi")).alias("n_suffix"),
        F.expr("md5(array_join(slice(t, 1, CAST(lo AS INT)), ' '))").alias(
            "prefix_md5"
        ),
        F.expr(
            "md5(array_join(slice(t, CAST(lo + 1 AS INT),"
            " CAST(hi - lo AS INT)), ' '))"
        ).alias("middle_md5"),
        F.expr(
            "md5(array_join(slice(t, CAST(hi + 1 AS INT),"
            " CAST(n - hi AS INT)), ' '))"
        ).alias("suffix_md5"),
    )
