"""Training-data pipeline operators over the ``documents`` and
``embeddings`` tables: deduplication (exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine), similarity search (brute-force cosine top-k,
LSH-bucketed, IVF cell-probe), and text analysis (language-ID, quality
scoring, token counting, fingerprinting).

These generalize the reference's content-addressed dedup machinery
(reference:dedup_parquet.py, dedup_staged.py — md5/sha1 identity + hash-
partitioned DISTINCT) to the near-duplicate / similarity regime a 100 TB
training-data pipeline needs.

Cross-engine determinism notes:

- All hashing is md5 (present and bit-identical in Spark and DuckDB).
  MinHash "permutations" are min-of-md5(seed || shingle) — the minimum of
  hex strings is lexicographic, hence identical across engines.
- Dot products / norms are summed exactly (per-element cast to
  DECIMAL(28,10), exact sum, cast back to double) so cosine scores carry
  no float-association drift and rank identically everywhere.
- SimHash bit arithmetic is generated expressions over md5 nibbles —
  same bits in both dialects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wiki_references_db_spark.operators.pairs import same_key_pairs
from wiki_references_db_spark.queries import register
from wiki_references_db_spark.storage import persist_corpus
from wiki_references_db_spark.tables import load_table, load_table_parallel

# --------------------------------------------------------------------------
# Tokenization / shingling (shared expressions)
# --------------------------------------------------------------------------

# Spark-side: word tokens and distinct word-3-gram shingles.  The
# tokenization is ALWAYS hoisted into its own projection before the
# shingle lambda: re-evaluating split() inside the per-element lambda is
# O(len^2) per document (measured 60x slower in both engines).
_TOKENS = "split(coalesce(trim(text), ''), '\\\\s+')"
# Guard the <3-token case explicitly: Spark's sequence(1, 0) counts DOWN
# ([1, 0]), and under ANSI mode the out-of-bounds toks[i+1] then throws —
# whereas DuckDB's generate_series(1, 0) is empty.  The CASE mirrors the
# DuckDB semantics exactly: short documents shingle to [].
_SHINGLES_FROM_TOKS = """
CASE WHEN size(toks) < 3 THEN CAST(array() AS ARRAY<STRING>)
ELSE array_distinct(transform(
    sequence(1, size(toks) - 2),
    i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1])
)) END
"""

# DuckDB-side twins (1-indexed lists).
# NULL-text guard on BOTH sides (round-3 lesson: Spark size(NULL) is -1
# while DuckDB len(NULL) is NULL — coalesce keeps the engines aligned;
# a no-op on non-null data, and '' tokenizes to [''] in both engines).
_TOKENS_SQL = "regexp_split_to_array(coalesce(trim(text), ''), '\\s+')"
_SHINGLES_FROM_TOKS_SQL = """
list_distinct(list_transform(
    generate_series(1, greatest(len(toks) - 2, 0)),
    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])
))
"""


# The shingle table feeds signature building, the inverted index (twice)
# and the size lookup in both near-dup queries — persist one copy per
# (session, sf_dir) rather than re-tokenizing the corpus per branch.
_SHINGLE_CACHE: dict[tuple[str, str], DataFrame] = {}


def _docs_with_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _SHINGLE_CACHE.get(key)
    if cached is not None:
        # The bench/oracle harnesses clearCache() between queries, which
        # strips this frame's persist marker while the dict still hands
        # it out — a later shingle consumer would then silently
        # recompute the tokenize+shingle chain once PER PLAN BRANCH
        # (measured 5x wall on the 6-branch prefix-filter join).
        # Re-mark it; materialization happens lazily on next use.
        if not (
            cached.storageLevel.useMemory or cached.storageLevel.useDisk
        ):
            persist_corpus(cached)
        return cached
    # Repartition before the CPU-heavy shingle/hash expressions: a small
    # corpus can arrive as one parquet row-group = one task, serializing
    # the whole computation on one core.  (At production scale the file
    # count provides parallelism and AQE coalesces the excess.)
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr(_TOKENS).alias("toks"))
    # DISK_ONLY: ~docs x shingles-per-doc rows (corpus-proportional).
    out = persist_corpus(
        toks.select("doc_id", F.expr(_SHINGLES_FROM_TOKS).alias("shingles"))
    )
    _SHINGLE_CACHE[key] = out
    return out


_SHINGLE_CTE_SQL = f"""
WITH doc_toks AS (
    SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
doc_shingles AS (
    SELECT doc_id, {_SHINGLES_FROM_TOKS_SQL} AS shingles FROM doc_toks
),
shingle_rows AS (
    SELECT doc_id, unnest(shingles) AS shingle FROM doc_shingles
),
shingle_counts AS (
    SELECT doc_id, len(shingles) AS n_shingles FROM doc_shingles
)
"""

# --------------------------------------------------------------------------
# Exact deduplication
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(lower(trim(text))) AS content_hash,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(lower(trim(text)))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash with deterministic canonical survivor
    (min doc_id) — the distributed form of the reference's
    content-addressed DISTINCT (reference:dedup_parquet.py:74-86).
    One hash-shuffle on the 32-byte hash; no text moves twice."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dedup (exact pairwise over a shingle inverted index)
# --------------------------------------------------------------------------


# Document-frequency cap on shingles entering the inverted-index
# self-join.  Without it one stop-phrase shingle shared by m documents
# makes an m^2/2-pair bucket (m=10^6 -> 5*10^11 pairs — fatal at corpus
# scale).  With the cap the worst bucket is bounded at DF^2/2 = 500k
# pairs per shingle, independent of corpus size; a near-duplicate pair
# still shares many RARE shingles, so dropping ubiquitous ones barely
# moves Jaccard (and the oracle applies the identical cap, so the
# correctness check is exact, not approximate).
_MAX_SHINGLE_DF = 1000

# Shared by dedup_ngram_jaccard and dedup_substring_containment: the
# df-capped inverted-index pair generator (hot-shingle suppression, then
# the equi self-join on shingle).  ONE definition on each side so the cap
# handling and pair predicate cannot silently diverge between queries.
_CAPPED_PAIRS_CTE_SQL = f"""
    , hot_shingles AS (
        SELECT shingle FROM shingle_rows
        GROUP BY shingle HAVING COUNT(*) > {_MAX_SHINGLE_DF}
    ),
    capped_rows AS (
        SELECT doc_id, shingle FROM shingle_rows
        WHERE shingle NOT IN (SELECT shingle FROM hot_shingles)
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM capped_rows a JOIN capped_rows b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
"""


def _capped_pair_counts(ds: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(counts, pairs) over the df-capped inverted shingle index:
    counts = (doc_id, n_shingles) with FULL set sizes; pairs =
    (doc_a, doc_b, n_common) where only docs sharing a (non-hot)
    shingle ever meet in the shuffle.  The hot set is tiny by
    definition, so its suppression is a broadcast anti-join."""
    counts = ds.select("doc_id", F.size("shingles").alias("n_shingles"))
    all_rows = ds.select("doc_id", F.explode("shingles").alias("shingle"))
    hot = (
        all_rows.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _MAX_SHINGLE_DF)
        .select("shingle")
    )
    # The capped index feeds BOTH sides of the pair self-join; persist
    # so the tokenize -> shingle -> anti-join chain runs once, not twice
    # (measured 1.7x at sf0.1 for the containment consumer).  Lifetime:
    # bench and the test sweeps clearCache() after each query.
    # DISK_ONLY: <= docs x _MAX_SHINGLE_DF-capped shingle rows
    # (corpus-proportional).
    rows = persist_corpus(
        all_rows.join(F.broadcast(hot), "shingle", "left_anti")
    )
    pairs = (
        same_key_pairs(rows, ["shingle"], "doc_id", strategy="join")
        .groupBy(F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return counts, pairs


@register(
    "dedup_ngram_jaccard",
    oracle=_SHINGLE_CTE_SQL
    + _CAPPED_PAIRS_CTE_SQL
    + """
    SELECT p.doc_a, p.doc_b,
           CAST(p.n_common AS DOUBLE)
               / (sa.n_shingles + sb.n_shingles - p.n_common) AS jaccard
    FROM pairs p
    JOIN shingle_counts sa ON sa.doc_id = p.doc_a
    JOIN shingle_counts sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.n_common AS DOUBLE)
               / (sa.n_shingles + sb.n_shingles - p.n_common) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by word-3-gram Jaccard >= 0.6, computed via
    an inverted shingle index self-join (no O(n^2) cross join: only docs
    sharing a shingle ever meet in the shuffle), with a document-
    frequency cap (``_MAX_SHINGLE_DF``) so no single ubiquitous shingle
    can create a quadratic bucket.  Jaccard denominators still use the
    FULL shingle sets; only pair generation / intersection counting is
    capped, and the oracle applies the identical cap."""
    ds = _docs_with_shingles(spark, sf_dir)
    counts, pairs = _capped_pair_counts(ds)
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    jaccard = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding
# --------------------------------------------------------------------------

_N_HASHES = 8
_BAND_SIZE = 4  # 2 bands of 4 -> catches J >~ 0.6 pairs with high prob.

# The 8 minhash lanes come from 2 md5 calls per shingle, each sliced
# into four 32-bit (8-hex-char) lanes — same LSH quality as 8
# independent hashes at 1/4 the hash cost (md5 dominates signature
# building; at corpus scale that is the whole map stage).  Lane k uses
# md5('<k div 4>:' || shingle)[1 + 8*(k mod 4) .. +8]; the minimum of
# hex slices is lexicographic and engine-independent.
_SEED_GROUPS = _N_HASHES // 4


def _minhash_cols_spark():
    cols = []
    for k in range(_N_HASHES):
        g, off = k // 4, 1 + 8 * (k % 4)
        cols.append(
            F.expr(
                f"array_min(transform(hg{g}, h -> substring(h, {off}, 8)))"
            ).alias(f"mh{k}")
        )
    return cols


def _hash_group_cols_spark():
    return [
        F.expr(f"transform(shingles, s -> md5(concat('{g}:', s)))").alias(f"hg{g}")
        for g in range(_SEED_GROUPS)
    ]


def _minhash_sql_select() -> str:
    cols = []
    for k in range(_N_HASHES):
        g, off = k // 4, 1 + 8 * (k % 4)
        cols.append(
            f"list_min(list_transform(hg{g}, h -> substr(h, {off}, 8))) AS mh{k}"
        )
    return ",\n           ".join(cols)


def _hash_group_sql() -> str:
    return ", ".join(
        f"list_transform(shingles, s -> md5(concat('{g}:', s))) AS hg{g}"
        for g in range(_SEED_GROUPS)
    )


def _band_members():
    n_bands = _N_HASHES // _BAND_SIZE
    return [
        [f"mh{b * _BAND_SIZE + j}" for j in range(_BAND_SIZE)] for b in range(n_bands)
    ]


def _band_sql() -> list[str]:
    return [
        "concat_ws('|', " + ", ".join(members) + f") AS band{b}"
        for b, members in enumerate(_band_members())
    ]


def _band_cols_spark():
    return [
        F.concat_ws("|", *members).alias(f"band{b}")
        for b, members in enumerate(_band_members())
    ]



# Shared by dedup_minhash_lsh, dedup_incremental_batch and
# dedup_lsh_recall_curve: ONE definition of the banded-signature
# relation per dialect, so band count / lane slicing can never diverge
# between the dedup pipeline and its eval harness.
def _band_rows_cte_sql() -> str:
    return (
        """
    , hashed AS (
        SELECT doc_id, """ + _hash_group_sql() + """
        FROM doc_shingles
        WHERE len(shingles) > 0
    ),
    sigs AS (
        SELECT doc_id,
           """ + _minhash_sql_select() + """
        FROM hashed
    ),
    banded AS (
        SELECT doc_id, """ + ", ".join(_band_sql()) + """ FROM sigs
    ),
    band_rows AS (
        """ + "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_key FROM banded"
        for b in range(_N_HASHES // _BAND_SIZE)
    ) + """
    )
"""
    )


def _band_rows_spark(ds: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) rows of the LSH index.  Exploded
    structs rather than an OR of band equalities: candidate generation
    must stay a pure equi-join (hash join, shuffle on band keys) — an
    OR-join would plan a nested-loop cross product."""
    hashed = ds.select("doc_id", *_hash_group_cols_spark())
    sigs = hashed.select("doc_id", *_minhash_cols_spark())
    banded = sigs.select("doc_id", *_band_cols_spark())
    n_bands = _N_HASHES // _BAND_SIZE
    return banded.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.col(f"band{b}").alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select(
        "doc_id",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_key").alias("band_key"),
    )


_CANDIDATES_CTE_SQL = """
    , candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM band_rows a JOIN band_rows b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
"""


def _band_candidates(band_rows: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs colliding in any band — the ONE
    candidate-generation rule shared by the production dedup and its
    recall harness (a drift here would make the harness measure a
    different index than the dedup run uses)."""
    return (
        same_key_pairs(band_rows, ["band_id", "band_key"], "doc_id", strategy="join")
        .select(F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b"))
        .distinct()
    )


@register(
    "dedup_minhash_lsh",
    oracle=_SHINGLE_CTE_SQL
    + _band_rows_cte_sql()
    + _CANDIDATES_CTE_SQL
    + """
    , inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM candidates c
        JOIN shingle_rows ra ON ra.doc_id = c.doc_a
        JOIN shingle_rows rb ON rb.doc_id = c.doc_b AND rb.shingle = ra.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS DOUBLE)
               / (sa.n_shingles + sb.n_shingles - i.n_common) AS jaccard
    FROM inter i
    JOIN shingle_counts sa ON sa.doc_id = i.doc_a
    JOIN shingle_counts sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE)
               / (sa.n_shingles + sb.n_shingles - i.n_common) >= 0.6
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dedup: shingle -> 8 md5-minhashes -> 2 bands of 4
    -> band-bucket join for candidates -> exact Jaccard verify >= 0.6.

    The band join is the scale path: candidate generation is a shuffle on
    band keys (near-linear), never an all-pairs product.  "Permutations"
    are min-of-sliced-md5 (two digests per shingle, four 32-bit lanes
    each): the lexicographic min of hex slices is engine-independent,
    making the whole pipeline oracle-checkable."""
    ds = _docs_with_shingles(spark, sf_dir).filter(F.size("shingles") > 0)
    candidates = _band_candidates(_band_rows_spark(ds))

    rows = ds.select("doc_id", F.explode("shingles").alias("shingle"))
    counts = ds.select("doc_id", F.size("shingles").alias("n_shingles"))
    ra = rows.select(F.col("doc_id").alias("doc_a"), "shingle")
    rb = rows.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        candidates.join(ra, "doc_a")
        .join(rb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    jaccard = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )


# --------------------------------------------------------------------------
# SimHash fingerprinting
# --------------------------------------------------------------------------


def _simhash_exprs():
    """64-bit SimHash over distinct words, from the first 16 nibbles of
    md5(word).  Returns (spark_expr, duckdb_expr) producing identical
    64-char '0'/'1' strings."""
    spark_bits, sql_bits = [], []
    for k in range(64):
        j = k // 4 + 1  # 1-based nibble index into the md5 hex string
        shift = k % 4
        nib_spark = f"(instr('0123456789abcdef', substring(h, {j}, 1)) - 1)"
        nib_sql = f"(strpos('0123456789abcdef', substr(h, {j}, 1)) - 1)"
        bit_spark = f"(({nib_spark} div {2 ** shift}) % 2)"
        bit_sql = f"(({nib_sql} // {2 ** shift}) % 2)"
        spark_bits.append(
            f"CASE WHEN sum(CASE WHEN {bit_spark} = 1 THEN 1 ELSE -1 END) > 0 "
            "THEN '1' ELSE '0' END"
        )
        sql_bits.append(
            f"CASE WHEN sum(CASE WHEN {bit_sql} = 1 THEN 1 ELSE -1 END) > 0 "
            "THEN '1' ELSE '0' END"
        )
    return (
        "concat(" + ", ".join(spark_bits) + ")",
        "concat(" + ", ".join(sql_bits) + ")",
    )


_SIMHASH_SPARK, _SIMHASH_SQL = _simhash_exprs()


@register(
    "dedup_simhash",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, md5(w) AS h
        FROM (
            SELECT doc_id,
                   unnest(list_distinct({_TOKENS_SQL})) AS w
            FROM documents
        )
    ),
    fp AS (
        SELECT doc_id, {_SIMHASH_SQL} AS simhash64 FROM words GROUP BY doc_id
    )
    SELECT doc_id, simhash64, substr(simhash64, 1, 16) AS band16 FROM fp
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash document fingerprints (per-bit majority vote over
    md5(word) bit vectors of the distinct-word set) plus a 16-bit band
    prefix for bucketing near-duplicate candidates.

    SHUFFLE-FREE formulation: instead of explode(words) + 64-aggregate
    groupBy (a full shuffle of the word rows, plus ~1.5s of one-time
    codegen for the 64 aggregate expressions), the per-document bit-sum
    vector is folded with higher-order array functions —
    ``aggregate(hashes, zeros64, zip_with(+))`` — entirely inside one
    projection.  The job is map-only: at 100 TB it needs no exchange at
    all, and each document's simhash is computed where its text block
    is read.  sum(+-1) > 0 per bit is equivalent to
    2*sum(bit) > n_words (strict majority), which is what the final
    transform emits.

    Round-5 form shoot-out (sf0.1, in-session A/B, commit 69d5c65):
    this form 0.29s; r3 explode+groupBy 1.19s; packed-nibble
    16-bigint accumulator 2.2s; element_at(literal-array) lookup 2.8s.
    The 5.8x "regression" BENCH_r04 recorded was session-mode noise
    (same plan measures 0.29s-1.9s across fresh JVMs, pinned per
    session — README "Run-to-run variance (the round-5 bisect)"), not
    a plan change."""
    out = _simhash_fp_frame(spark, sf_dir)
    return out.select(
        "doc_id", "simhash64", F.substring("simhash64", 1, 16).alias("band16")
    )


def _simhash_fp_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash64) — the shuffle-free higher-order-function
    SimHash chain, shared verbatim by ``dedup_simhash`` (which appends
    its band16 column), the pigeonhole Hamming pair join
    (``simhash_hamming_pairs``) and the streaming probe
    (``stream_simhash_vs_corpus``).  Identical expression text to the
    pre-refactor inline form, so the ``dedup_simhash`` physical plan is
    unchanged."""
    d = load_table_parallel(spark, sf_dir, "documents")
    return _simhash_over(d)


def _simhash_over(d: DataFrame) -> DataFrame:
    """Apply the SimHash chain to any frame with (doc_id, text) — the
    static path reads the corpus table; the streaming probe applies the
    same expressions to each micro-batch."""
    toks = d.select(
        "doc_id", F.expr(f"array_distinct({_TOKENS})").alias("ws")
    )
    hs = toks.select(
        "doc_id",
        F.expr("size(ws)").alias("cnt"),
        F.expr("transform(ws, w -> md5(w))").alias("hs"),
    )
    acc = hs.select(
        "doc_id",
        "cnt",
        F.expr(
            """
            aggregate(hs, array_repeat(CAST(0 AS BIGINT), 64),
              (acc, h) -> zip_with(acc, transform(sequence(0, 63),
                  k -> shiftright(instr('0123456789abcdef',
                                        substring(h, k div 4 + 1, 1)) - 1,
                                  CAST(k % 4 AS INT)) % 2),
                (a, b) -> a + b))
            """
        ).alias("bitsums"),
    )
    return acc.select(
        "doc_id",
        F.expr(
            "array_join(transform(bitsums,"
            " s -> CASE WHEN 2*s > cnt THEN '1' ELSE '0' END), '')"
        ).alias("simhash64"),
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "is", "and")


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, n_chars,
               {_TOKENS_SQL} AS toks,
               length(text) AS text_len,
               length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS n_punct
        FROM documents
    )
    SELECT doc_id, lang,
           len(toks) AS n_tokens,
           CAST(len(toks) AS BIGINT) AS token_count,
           CAST(n_punct AS DOUBLE) / text_len AS punct_ratio,
           CAST(len(list_filter(toks, x -> x IN {_STOPWORDS})) AS DOUBLE)
               / len(toks) AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
           CAST(text_len AS DOUBLE) / len(toks) AS avg_token_span
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals: token count, punctuation ratio, stopword
    ratio, distinct-token ratio, average token span — the standard cheap
    quality filters of a training-data pipeline, all as built-in
    expressions (JVM codegen, no Python in the hot path)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr(_TOKENS)
    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    t = d.select(
        "doc_id",
        "lang",
        toks.alias("toks"),
        F.length("text").alias("text_len"),
        F.length(F.regexp_replace(F.col("text"), "[a-z0-9\\s]", "")).alias("n_punct"),
    )
    return t.select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_tokens"),
        F.size("toks").cast("long").alias("token_count"),
        (F.col("n_punct").cast("double") / F.col("text_len")).alias("punct_ratio"),
        (
            F.expr(f"size(filter(toks, x -> x in ({stop_list})))").cast("double")
            / F.size("toks")
        ).alias("stopword_ratio"),
        (F.size(F.array_distinct("toks")).cast("double") / F.size("toks")).alias(
            "distinct_ratio"
        ),
        (F.col("text_len").cast("double") / F.size("toks")).alias("avg_token_span"),
    )


_LANG_MARKERS = {
    "en": ("the", "a", "is"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "les", "et"),
}


@register(
    "lang_id_heuristic",
    oracle=(
        lambda: f"""
    WITH t AS (
        SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents
    ), scored AS (
        SELECT doc_id, lang,
               {", ".join(
                   f"len(list_filter(toks, x -> x IN {m})) AS score_{lng}"
                   for lng, m in _LANG_MARKERS.items()
               )}
        FROM t
    )
    SELECT doc_id, lang, score_en, score_es, score_de, score_fr,
           CASE
             WHEN score_en = 0 AND score_es = 0 AND score_de = 0 AND score_fr = 0
                  THEN 'unknown'
             WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr
                  THEN 'en'
             WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
             WHEN score_de >= score_fr THEN 'de'
             ELSE 'fr'
           END AS predicted_lang
    FROM scored
    """
    )(),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language identification (n-gram-heuristic family):
    per-language stopword hit counts + deterministic argmax."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.expr(_TOKENS).alias("toks"))
    score_cols = []
    for lng, markers in _LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            F.expr(f"size(filter(toks, x -> x in ({lst})))").alias(f"score_{lng}")
        )
    scored = t.select("doc_id", "lang", *score_cols)
    pred = (
        F.when(
            (F.col("score_en") == 0)
            & (F.col("score_es") == 0)
            & (F.col("score_de") == 0)
            & (F.col("score_fr") == 0),
            "unknown",
        )
        .when(
            (F.col("score_en") >= F.col("score_es"))
            & (F.col("score_en") >= F.col("score_de"))
            & (F.col("score_en") >= F.col("score_fr")),
            "en",
        )
        .when(
            (F.col("score_es") >= F.col("score_de"))
            & (F.col("score_es") >= F.col("score_fr")),
            "es",
        )
        .when(F.col("score_de") >= F.col("score_fr"), "de")
        .otherwise("fr")
    )
    return scored.select(
        "doc_id", "lang", "score_en", "score_es", "score_de", "score_fr",
        pred.alias("predicted_lang"),
    )


@register(
    "token_count_regex",
    # coalesce both sides: Spark's size(NULL) is -1 while DuckDB's
    # len(NULL) is NULL — null text is canonically ''.
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens,
           len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) AS ws_tokens
    FROM documents
    """,
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish pre-tokenizer
    regex ([a-z]+ | digit runs | single punctuation)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(
            F.expr(
                "regexp_extract_all(lower(coalesce(text, '')),"
                " '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"
            )
        ).alias("bpe_ish_tokens"),
        F.size(F.expr(_TOKENS)).alias("ws_tokens"),
    )


@register(
    "doc_fingerprint",
    # NULL text is canonically the empty document (engine-wide rule:
    # coalesce before any text derivation, so both engines fingerprint
    # the same value instead of diverging on NULL propagation).
    oracle="""
    WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents)
    SELECT doc_id,
           list_min(list_transform(
               generate_series(1, greatest(len(text) - 4, 1)),
               i -> md5(substr(text, i, 5))
           )) AS min_gram_fp,
           md5(concat(CAST(length(text) AS VARCHAR), ':', substr(text, 1, 64))) AS head_fp
    FROM d
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: minimum md5 over all char
    5-grams (rolling-hash family) plus a cheap head fingerprint.
    Repartitioned before the per-character md5 work — one hash per text
    position is the heaviest map stage in the text family and must not
    serialize on a single input split."""
    d = load_table_parallel(spark, sf_dir, "documents")
    d = d.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    return d.select(
        "doc_id",
        F.expr(
            "array_min(transform(sequence(1, greatest(length(text) - 4, 1)),"
            " i -> md5(substring(text, i, 5))))"
        ).alias("min_gram_fp"),
        F.md5(
            F.concat(
                F.length("text").cast("string"), F.lit(":"), F.substring("text", 1, 64)
            )
        ).alias("head_fp"),
    )


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------

_N_QUERY_VECS = 3
_TOPK = 10


# Vector math as single scalar expressions (higher-order array functions
# -> map-only, no explode/groupBy shuffle).  Doubles are folded in ARRAY
# ORDER on both engines (Spark `aggregate` with 0.0 seed, DuckDB
# `list_reduce` seeded by the first element — IEEE-identical for
# non-empty arrays), so results match bit-for-bit WITHOUT the ~10x cost
# of BigDecimal accumulation.
def _dot_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) ->"
        " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm_expr(a: str) -> str:
    return f"sqrt({_dot_expr(a, a)})"


def _dot_sql(a: str, b: str) -> str:
    """DuckDB twin: ordered fold over the zipped pair — scalar expression,
    no unnest/GROUP BY."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),"
        " (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


_NORMS_SQL = f"""
norms AS (
    SELECT vec_id, {_norm_sql("embedding")} AS nrm FROM embeddings
)
"""

# Exact pairwise cosine for the query vectors (ordered-double folds,
# scalar expressions — no unnest / GROUP BY in either engine).
_COSINE_SQL = f"""
WITH queries AS (
    SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {_N_QUERY_VECS}
),
{_NORMS_SQL.strip()},
dots AS (
    SELECT q.qid, c.vec_id AS cid, {_dot_sql("q.qe", "c.embedding")} AS dot
    FROM queries q
    JOIN embeddings c ON c.vec_id <> q.qid
),
cosines AS (
    SELECT d.qid, d.cid, d.dot / (nq.nrm * nc.nrm) AS cosine
    FROM dots d
    JOIN norms nq ON nq.vec_id = d.qid
    JOIN norms nc ON nc.vec_id = d.cid
)
"""


def _cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, cid, cosine) for the query vectors against all others —
    broadcast the handful of query vectors against the corpus and fold
    each dot product map-side, matching _COSINE_SQL bit-for-bit.  The
    only exchange left is the input repartition; at cluster scale this
    is the canonical brute-force layout (queries broadcast, corpus
    streamed)."""
    e = load_table_parallel(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.expr(_norm_expr("embedding")).alias("nrm_q"),
    )
    pairs = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.expr(_norm_expr("embedding")).alias("nrm_c"),
    ).join(F.broadcast(queries), F.col("cid") != F.col("qid"))
    return pairs.select(
        "qid",
        "cid",
        (
            F.expr(_dot_expr("qe", "ce")) / (F.col("nrm_q") * F.col("nrm_c"))
        ).alias("cosine"),
    )


@register(
    "ann_cosine_topk",
    oracle=_COSINE_SQL
    + f"""
    SELECT qid, cid, cosine FROM (
        SELECT qid, cid, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
        FROM cosines
    ) WHERE rn <= {_TOPK}
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors for the query vectors — the
    exact baseline every ANN variant is measured against.  At cluster
    scale this is query-broadcast + per-partition top-k + final merge
    (WindowGroupLimit does exactly that for the row_number filter)."""
    cos = _cosine_pairs(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    return (
        cos.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK)
        .drop("rn")
    )


_SIGN_BITS = 8


@register(
    "ann_lsh_bucketed",
    oracle=_COSINE_SQL
    + f"""
    , buckets AS (
        SELECT vec_id, concat({", ".join(
            f"CASE WHEN CAST(embedding[{k + 1}] AS DOUBLE) >= 0 THEN '1' ELSE '0' END"
            for k in range(_SIGN_BITS)
        )}) AS bucket
        FROM embeddings
    )
    SELECT qid, cid, cosine, bucket FROM (
        SELECT c.qid, c.cid, c.cosine, bq.bucket,
               row_number() OVER (PARTITION BY c.qid ORDER BY c.cosine DESC, c.cid) AS rn
        FROM cosines c
        JOIN buckets bq ON bq.vec_id = c.qid
        JOIN buckets bc ON bc.vec_id = c.cid AND bc.bucket = bq.bucket
    ) WHERE rn <= 5
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: vectors hash to an 8-bit sign pattern of their
    first 8 coordinates (axis-aligned hyperplane LSH for cosine); top-5
    neighbors are searched only within the query's bucket.  The scale
    path: candidate generation becomes a co-partitioned join on bucket
    keys instead of a full cross product."""
    e = load_table_parallel(spark, sf_dir, "embeddings")
    bucket = F.concat(
        *[
            F.when(F.col("embedding").getItem(k).cast("double") >= 0, "1").otherwise("0")
            for k in range(_SIGN_BITS)
        ]
    )
    # Candidate generation FIRST: a BroadcastHashJoin keyed on the bucket
    # hash prunes the corpus to same-bucket rows before any dot product is
    # evaluated (same shape as dedup_embedding_cosine's band join).  Only
    # the surviving ~1/2^bits of pairs pay for the cosine fold.
    queries = e.filter(F.col("vec_id") < _N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        bucket.alias("q_bucket"),
        F.expr(_norm_expr("embedding")).alias("nrm_q"),
    )
    corpus = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        bucket.alias("bucket"),
        F.expr(_norm_expr("embedding")).alias("nrm_c"),
    )
    cand = corpus.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("cid") != F.col("qid")),
    )
    scored = cand.select(
        "qid",
        "cid",
        (
            F.expr(_dot_expr("qe", "ce")) / (F.col("nrm_q") * F.col("nrm_c"))
        ).alias("cosine"),
        "bucket",
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid", "cosine", "bucket")
    )


@register(
    "embedding_norm_stats",
    oracle=f"""
    WITH norms AS (
        SELECT vec_id, label, {_norm_sql("embedding")} AS nrm FROM embeddings
    )
    SELECT label, COUNT(*) AS n_vectors,
           CAST(CAST(SUM(CAST(nrm AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS avg_norm,
           MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
    FROM norms GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding L2-norm statistics (vector-column hygiene
    check for the similarity pipeline).  Per-vector norms fold map-side
    (ordered doubles, see _norm_expr); only the CROSS-vector average
    keeps decimal accumulation, because multiset sum order across rows
    is engine-dependent and decimal addition is the commutative way to
    stay bit-identical."""
    e = load_table(spark, sf_dir, "embeddings")
    norms = e.select(
        "vec_id", "label", F.expr(_norm_expr("embedding")).alias("nrm")
    )
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.sum(F.col("nrm").cast("decimal(28,10)")).cast("double") / F.count(F.lit(1))).alias(
            "avg_norm"
        ),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection + IVF approximate search
# --------------------------------------------------------------------------

# Banded sign-LSH for cosine: 4 bands, each the sign pattern of `bits`
# consecutive coordinates (independent hyperplane groups).  A pair is a
# candidate if it collides in ANY band — recall 1-(1-p^bits)^4 where
# p = 1 - theta/pi per bit (~0.99 at cosine 0.95 with bits=4).
#
# The band WIDTH is corpus-adaptive, not fixed: bits =
# clamp(ceil(log2(n / target_bucket)), 4, 16), computed integer-exactly
# as the binary digit count of ceil(n/target)-1 (float log2 can land an
# ulp off a power-of-two boundary on one engine and not the other).
# With 2^bits ~ n/16 key values per band, expected bucket occupancy
# stays ~16 at ANY corpus size, so candidate pairs grow ~O(n) instead
# of the ~n^2/2^bits a fixed width degrades to once n >> 2^bits — the
# quadratic regime bench_runs/r10/stress_semdedup_10x.txt measured at
# 12.6x wall-clock on a 10x corpus with the old fixed bits=4 (the
# round-11 re-run with this rule is the after-number).  The cap of 16
# is the coordinate budget: 4 disjoint bands x 16 bits = all 64 dims;
# past 2^16 x 16 ~ 1M vectors a wider key needs hashed hyperplane
# projections (random signed sums of coordinates) instead of raw
# coordinate signs — same plan shape, wider key space.
_NEARDUP_BANDS = 4
_NEARDUP_TARGET_BUCKET = 16
_NEARDUP_MIN_BITS = 4
_NEARDUP_MAX_BITS = 16  # 64-dim corpus / 4 disjoint coordinate bands
# Tuned to the synthetic corpus (random-ish vectors, planted clusters at
# ~0.4-0.5 cosine); production near-dup dedup runs at >= 0.9.
_NEARDUP_THRESHOLD = 0.4

# ceil(log2(ceil(n/target))) as pure integer arithmetic: binary digit
# count of ceil(n/target)-1.  ONE rule, parameterized by the width cap
# (coordinate bands: the dimension budget; hashed-projection bands: a
# free constant) — a tweak to the rule applies to every generator at
# once.  One text per dialect (`//` vs `div` integer division is the
# only difference).
def _adaptive_bits_cfg_sql(cap: int) -> str:
    return (
        f"SELECT LEAST({cap}, GREATEST({_NEARDUP_MIN_BITS}, "
        f"LENGTH(BIN((COUNT(*) + {_NEARDUP_TARGET_BUCKET - 1}) "
        f"// {_NEARDUP_TARGET_BUCKET} - 1)))) AS bits FROM embeddings"
    )


def _adaptive_bits_cfg(e: DataFrame, cap: int) -> DataFrame:
    """1-row (bits) frame — the Spark twin of _adaptive_bits_cfg_sql."""
    return e.agg(
        F.least(
            F.lit(cap),
            F.greatest(
                F.lit(_NEARDUP_MIN_BITS),
                F.length(
                    F.bin(
                        F.expr(
                            f"(count(1) + {_NEARDUP_TARGET_BUCKET - 1})"
                            f" div {_NEARDUP_TARGET_BUCKET} - 1"
                        )
                    )
                ),
            ),
        )
        .cast("int")
        .alias("bits")
    )


_NEARDUP_CFG_SQL = _adaptive_bits_cfg_sql(_NEARDUP_MAX_BITS)


def _band_key_spark(g: int, arr: str = "embedding") -> str:
    """Band ``g``'s integer sign-key under the runtime ``bits`` column:
    bit i set iff ``arr``'s element g*bits+i is >= 0 (element_at is
    1-based, matching DuckDB's 1-based list index).  ``arr`` is the
    raw embedding for coordinate bands or the projection array for
    hashed-hyperplane bands — the fold is the same either way."""
    return (
        f"aggregate(sequence(0, bits - 1), CAST(0 AS BIGINT), "
        f"(acc, i) -> acc + IF(CAST(element_at({arr}, "
        f"CAST({g} * bits + i + 1 AS INT)) AS DOUBLE) >= 0, "
        f"shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
    )


def _band_key_sql(g: int, arr: str = "e.embedding") -> str:
    return (
        f"list_reduce(list_transform(range(0, c.bits), i -> "
        f"CASE WHEN CAST({arr}[{g} * c.bits + i + 1] AS DOUBLE) >= 0 "
        f"THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END), "
        f"(acc, v) -> acc + v)"
    )


_NEARDUP_BANDS_SQL = (
    "bands AS ("
    + " UNION ALL ".join(
        f"SELECT e.vec_id, {_norm_sql('e.embedding')} AS nrm,"
        f" {g} AS band_id, {_band_key_sql(g)} AS band_key"
        f" FROM embeddings e CROSS JOIN cfg c"
        for g in range(_NEARDUP_BANDS)
    )
    + ")"
)


def _neardup_band_rows(e: DataFrame, cfg_src: DataFrame | None = None) -> DataFrame:
    """(vec_id, nrm, band_id, band_key) under the corpus-adaptive band
    width: one ungrouped COUNT derives ``bits`` (broadcast 1-row cfg),
    band keys and the per-vector norm are computed map-side.  Exact
    twin of cfg + _NEARDUP_BANDS_SQL.  ``cfg_src`` lets callers count
    the RAW scan instead of the compute-repartitioned frame — the
    count is partition-invariant and the raw scan skips the exchange
    dependency (r13, guide §2.4)."""
    cfg = _adaptive_bits_cfg(cfg_src if cfg_src is not None else e, _NEARDUP_MAX_BITS)
    return (
        e.crossJoin(F.broadcast(cfg))
        .select(
            "vec_id",
            F.expr(_norm_expr("embedding")).alias("nrm"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(g).alias("band_id"),
                            F.expr(_band_key_spark(g)).alias("band_key"),
                        )
                        for g in range(_NEARDUP_BANDS)
                    ]
                )
            ).alias("b"),
        )
        .select("vec_id", "nrm", "b.band_id", "b.band_key")
    )


# Shared banded-LSH SQL tail (candidates -> embedding fetch -> exact
# cosine confirm), downstream of any ``bands`` CTE with
# (vec_id, nrm, band_id, band_key) rows.
_NEARDUP_PAIRS_TAIL_SQL = f"""candidates AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
               a.nrm AS nrm_a, b.nrm AS nrm_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.vec_id < b.vec_id
    ),
    pairs AS (
        SELECT c.id_a, c.id_b, c.nrm_a, c.nrm_b,
               ea.embedding AS ea, eb.embedding AS eb
        FROM candidates c
        JOIN embeddings ea ON ea.vec_id = c.id_a
        JOIN embeddings eb ON eb.vec_id = c.id_b
    )
    SELECT id_a, id_b,
           {_dot_sql("ea", "eb")} / (nrm_a * nrm_b) AS cosine
    FROM pairs
    WHERE {_dot_sql("ea", "eb")} / (nrm_a * nrm_b) >= {_NEARDUP_THRESHOLD}
"""


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH cfg AS ({_NEARDUP_CFG_SQL}),
    {_NEARDUP_BANDS_SQL},
    {_NEARDUP_PAIRS_TAIL_SQL}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded sign-LSH candidate
    generation (4 bands x corpus-adaptive hyperplane bits -> candidates
    collide in any band) followed by an exact ordered-fold cosine
    confirm at the threshold.  Generalizes the reference's content-hash
    dedup (reference:dedup_parquet.py — exact identity) to the
    semantic-dup regime of an embedding-indexed corpus.

    Scale shape: the band width follows 2^bits ~ n / target_bucket (see
    _NEARDUP_CFG_SQL — integer-exact, derived from one COUNT(*) of the
    corpus, broadcast as a 1-row cfg), so expected bucket occupancy is
    ~constant and candidate pairs grow ~O(n) at any corpus size — the
    fixed-width form this replaced measured 12.6x wall-clock on a 10x
    corpus (bench_runs/r10/stress_semdedup_10x.txt) because its 2^4 key
    space densified quadratically.  Band keys AND per-vector norms are
    computed map-side and carried ON the band rows (the norm is 8
    bytes; the old form re-joined a corpus-proportional norms table —
    broadcast — at the confirm step, the one corpus-sized broadcast in
    the tree), so the confirm needs no norm join at all: the only
    joins after candidate generation fetch the two embeddings by id.
    At 100 TB the band tables are the only wide shuffle, and a hot
    band key splits into bounded part-pair groups (the fan-out of
    ``operators/pairs.py``).  Where a coarse
    clustering exists, ``dedup_semdedup_cells`` is the alternative
    whose pair bound sum(|cell|^2) scales with the clustering
    granularity instead."""
    # Band keys/norms are computed over the compute-repartitioned frame;
    # the cfg COUNT and the two embedding-fetch joins read the RAW scan
    # (partition-invariant values, no exchange dependency — r13).
    raw = load_table(spark, sf_dir, "embeddings")
    e = load_table_parallel(spark, sf_dir, "embeddings")
    return _neardup_pairs_from_bands(raw, _neardup_band_rows(e, raw))


def _neardup_pairs_from_bands(e: DataFrame, bands: DataFrame) -> DataFrame:
    """Shared banded-LSH tail: same-band candidate pairs (norms carried
    on the band rows — no norm join at the confirm), embeddings fetched
    by id, exact ordered-fold cosine filtered at the threshold.  Used
    by both the coordinate-sign and hashed-projection band generators.

    Candidates come from the skew-safe part-pair fan-out
    (``operators/pairs.py``): the adaptive band width keeps expected
    bucket occupancy ~16, but a degenerate hot band key must not put
    its quadratic pair set through one task.

    The candidate frame is repartitioned to ``defaultParallelism`` ON
    the pair key BEFORE the distinct (guide §2.2): the candidate rows
    are ~30 bytes each, so AQE's bytes-based coalescing would fold the
    distinct's reduce side to a single task and serialize the confirm
    (two embedding fetches + a 64-lane dot per row) behind it.  A
    user-specified repartition count is exempt from AQE coalescing,
    and hash partitioning on (id_a, id_b) satisfies the distinct's
    distribution, so this is still exactly ONE exchange."""
    par = e.sparkSession.sparkContext.defaultParallelism
    cand = (
        same_key_pairs(
            bands, ["band_id", "band_key"], "vec_id",
            payload=["nrm"], strategy="fanout",
        )
        .select(
            F.col("vec_id_a").alias("id_a"), F.col("vec_id_b").alias("id_b"),
            "nrm_a", "nrm_b",
        )
        .repartition(par, "id_a", "id_b")
        .distinct()
    )
    ea = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    eb = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    pairs = cand.join(ea, "id_a").join(eb, "id_b")
    return (
        pairs.select(
            "id_a",
            "id_b",
            (
                F.expr(_dot_expr("ea", "eb"))
                / (F.col("nrm_a") * F.col("nrm_b"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= _NEARDUP_THRESHOLD)
    )


# IVF (inverted-file) ANN: coarse-quantize every vector to its nearest
# centroid cell; queries probe only the nprobe nearest cells.  Centroid
# choice here is a deterministic sample (vec_id % 125 == 7) so both
# engines agree without a kmeans dependency; the plan shape (assign ->
# cell-restricted search) is the production IVF layout.
_IVF_CENT_MOD = 125
_IVF_CENT_REM = 7
_IVF_NPROBE = 2
_IVF_TOPK = 5


@register(
    "ann_ivf_probe",
    oracle=f"""
    WITH {_NORMS_SQL.strip()},
    cents AS (
        SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
        WHERE vec_id % {_IVF_CENT_MOD} = {_IVF_CENT_REM}
    ),
    vc_pairs AS (
        SELECT e.vec_id, c.cent_id, e.embedding AS ea, c.ce AS eb
        FROM embeddings e CROSS JOIN cents c
    ),
    vc_dots AS (SELECT vec_id, cent_id, {_dot_sql("ea", "eb")} AS dot FROM vc_pairs),
    vc_cos AS (
        SELECT d.vec_id, d.cent_id, d.dot / (nv.nrm * nc.nrm) AS cosine
        FROM vc_dots d
        JOIN norms nv ON nv.vec_id = d.vec_id
        JOIN norms nc ON nc.vec_id = d.cent_id
    ),
    assign AS (
        SELECT vec_id, cent_id AS cell FROM (
            SELECT vec_id, cent_id,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY cosine DESC, cent_id) AS rn
            FROM vc_cos
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS qid, cent_id AS cell FROM (
            SELECT vec_id, cent_id,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY cosine DESC, cent_id) AS rn
            FROM vc_cos WHERE vec_id < {_N_QUERY_VECS}
        ) WHERE rn <= {_IVF_NPROBE}
    ),
    cand AS (
        SELECT p.qid, a.vec_id AS cid, p.cell
        FROM probes p JOIN assign a ON a.cell = p.cell
        WHERE a.vec_id <> p.qid
    ),
    qc_pairs AS (
        SELECT c.qid, c.cid, c.cell, eq.embedding AS ea, ec.embedding AS eb
        FROM cand c
        JOIN embeddings eq ON eq.vec_id = c.qid
        JOIN embeddings ec ON ec.vec_id = c.cid
    ),
    qc_dots AS (SELECT qid, cid, cell, {_dot_sql("ea", "eb")} AS dot FROM qc_pairs)
    SELECT qid, cid, cosine, cell FROM (
        SELECT d.qid, d.cid, d.cell,
               d.dot / (nq.nrm * nc.nrm) AS cosine,
               row_number() OVER (PARTITION BY d.qid
                   ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.cid) AS rn
        FROM qc_dots d
        JOIN norms nq ON nq.vec_id = d.qid
        JOIN norms nc ON nc.vec_id = d.cid
    ) WHERE rn <= {_IVF_TOPK}
    """,
)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: every vector is assigned to its nearest coarse
    centroid (deterministic sample as centroids); each query searches
    only its nprobe=2 closest cells and returns exact-cosine top-5
    within them.  The scale path ann_cosine_topk lacks: the inner
    search joins on the cell key, so a 1000-executor scan touches
    1/n_cells of the corpus per probe instead of everything."""
    raw = load_table(spark, sf_dir, "embeddings")
    e = load_table_parallel(spark, sf_dir, "embeddings")
    # r13 optimization (guide §2.3/§2.4): norms used to be a separate
    # corpus-sized frame joined back onto the vectors-x-centroids
    # intermediate — one shuffle join of the BIG frame by vec_id plus a
    # broadcast build per side.  Each side now carries its norm from
    # its own projection (computed once per row, map-side, identical
    # expression → identical doubles), so the cosine needs no joins.
    # Broadcast/fetch sides read the RAW scan — their own exchange (or
    # broadcast build) provides the placement; the compute repartition
    # is only for the corpus x centroids dot-product chain.
    cents = raw.filter(F.col("vec_id") % _IVF_CENT_MOD == _IVF_CENT_REM).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ce"),
        F.expr(_norm_expr("embedding")).alias("nrm_c"),
    )

    # r14 (guide §2.4): the corpus cell assignment is the zero-shuffle
    # map-side argmax fold (_map_assign) — the r13 form materialized a
    # corpus x n_centroids (vec, cent, cosine) persist and ran TWO
    # row_number windows over it (one rank-1 for the assignment, one
    # rank-nprobe for the probes), shuffling n x k rows by vec_id; the
    # persist, both window exchanges, and the DISK_ONLY cache write are
    # gone.  The probe side only ever needed the QUERY slice, so its
    # top-nprobe window now runs over queries x centroids rows — query-
    # proportional, never corpus-proportional.
    assign = _map_assign(e, cents)
    qc_cos = (
        raw.filter(F.col("vec_id") < _N_QUERY_VECS)
        .select(
            "vec_id",
            F.col("embedding").alias("ea"),
            F.expr(_norm_expr("embedding")).alias("nrm_v"),
        )
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cent_id",
            (
                F.expr(_dot_expr("ea", "ce")) / (F.col("nrm_v") * F.col("nrm_c"))
            ).alias("cosine"),
        )
    )
    w_v = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("cent_id"))
    probes = (
        qc_cos.withColumn("rn", F.row_number().over(w_v))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select(F.col("vec_id").alias("qid"), F.col("cent_id").alias("cell"))
    )
    cand = (
        F.broadcast(probes)
        .join(assign, "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), "cell")
    )
    # Only the query vectors can match the qid join key — broadcast the
    # FILTERED slice, never the whole corpus (same rule as _cosine_pairs).
    # Norms ride in the same projections as the embeddings they norm
    # (see the cents comment above) — no nq/ncd re-joins.
    eq = raw.filter(F.col("vec_id") < _N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("ea"),
        F.expr(_norm_expr("embedding")).alias("nrm_q"),
    )
    ec = raw.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("eb"),
        F.expr(_norm_expr("embedding")).alias("nrm_cd"),
    )
    qc = cand.join(F.broadcast(eq), "qid").join(ec, "cid")
    scored = qc.select(
        "qid",
        "cid",
        (
            F.expr(_dot_expr("ea", "eb")) / (F.col("nrm_q") * F.col("nrm_cd"))
        ).alias("cosine"),
        "cell",
    )
    w_q = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= _IVF_TOPK)
        .select("qid", "cid", "cosine", "cell")
    )


# --------------------------------------------------------------------------
# Deterministic cardinality sketch (KMV)
# --------------------------------------------------------------------------

_KMV_K = 64

# First 8 hex chars of an md5 -> integer in [0, 16^8), identical
# expression in both engines (positional nibble arithmetic).
_HASH_FRAC_SPARK = " + ".join(
    f"(instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}L"
    for i in range(8)
)
_HASH_FRAC_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
)


@register(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH hashes AS (
        SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h FROM events
    ),
    ranked AS (
        SELECT h, row_number() OVER (ORDER BY h) AS rn,
               COUNT(*) OVER () AS n_distinct
        FROM hashes
    )
    SELECT CAST(n_distinct AS BIGINT) AS exact_distinct,
           CASE WHEN n_distinct <= {_KMV_K} THEN CAST(n_distinct AS DOUBLE)
                ELSE ({_KMV_K} - 1) /
                     (CAST({_HASH_FRAC_SQL} AS DOUBLE) / {16 ** 8})
           END AS kmv_estimate
    FROM ranked WHERE rn = CASE WHEN n_distinct <= {_KMV_K}
                               THEN n_distinct ELSE {_KMV_K} END
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch over event users:
    keep the k smallest distinct md5 hashes; the k-th smallest, as a
    fraction of the hash space, estimates cardinality as (k-1)/frac.
    Unlike HLL the whole sketch is DETERMINISTIC and engine-independent
    (md5 + lexicographic order), so even the approximate answer is
    value-hash checked.

    Scale shape: ``orderBy(h).limit(k)`` compiles to
    TakeOrderedAndProject — a mergeable per-partition top-k, so the k
    smallest hashes are found WITHOUT ever sorting the distinct set in
    one task (the global row_number window this replaces would).  The
    k-th smallest is then ``max`` over those <=k rows, combined with the
    separate distinct count via a 1-row-by-1-row cross join."""
    e = load_table(spark, sf_dir, "events")
    hashes = e.select(
        F.md5(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    kth = hashes.orderBy("h").limit(_KMV_K).agg(F.max("h").alias("h"))
    stats = hashes.agg(F.count(F.lit(1)).alias("n_distinct"))
    frac = F.expr(_HASH_FRAC_SPARK).cast("double") / F.lit(float(16**8))
    return stats.crossJoin(kth).select(
        F.col("n_distinct").cast("long").alias("exact_distinct"),
        F.when(
            F.col("n_distinct") <= _KMV_K, F.col("n_distinct").cast("double")
        )
        .otherwise(F.lit(float(_KMV_K - 1)) / frac)
        .alias("kmv_estimate"),
    )


# --------------------------------------------------------------------------
# Deterministic dataset splitting
# --------------------------------------------------------------------------

# Split by the first two md5 nibbles of the doc id: 0..203 train (~80%),
# 204..229 val (~10%), 230..255 test (~10%).  Hash-based assignment is
# the reproducible form of random splitting: stable across engines,
# runs, and cluster sizes, and new documents never reshuffle old ones.
_SPLIT_BYTE_SPARK = (
    "(16 * (instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1)"
    " + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 2, 1)) - 1))"
)
_SPLIT_BYTE_SQL = (
    "(16 * (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1))"
)


@register(
    "split_train_val_test",
    oracle=f"""
    SELECT CASE WHEN {_SPLIT_BYTE_SQL} < 204 THEN 'train'
                WHEN {_SPLIT_BYTE_SQL} < 230 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(CAST(SUM(CAST(n_chars AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
             AS total_chars,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM documents
    GROUP BY 1
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-hash byte
    of the document id — the reproducible form of random splitting
    (stable across engines, reruns and cluster sizes; adding documents
    never moves existing ones between splits).  Output is per-split
    stats; the split column itself is a pure projection usable as a
    partitionBy key at write time."""
    d = load_table(spark, sf_dir, "documents")
    byte = F.expr(_SPLIT_BYTE_SPARK)
    split = (
        F.when(byte < 204, "train").when(byte < 230, "val").otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(28,10)")).cast("double").alias(
            "total_chars"
        ),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register(
    "ann_lsh_recall",
    oracle=_COSINE_SQL
    + f"""
    , buckets AS (
        SELECT vec_id, concat({", ".join(
            f"CASE WHEN CAST(embedding[{k + 1}] AS DOUBLE) >= 0 THEN '1' ELSE '0' END"
            for k in range(_SIGN_BITS)
        )}) AS bucket
        FROM embeddings
    ),
    exact5 AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
            FROM cosines
        ) WHERE rn <= 5
    ),
    lsh5 AS (
        SELECT qid, cid FROM (
            SELECT c.qid, c.cid,
                   row_number() OVER (PARTITION BY c.qid ORDER BY c.cosine DESC, c.cid) AS rn
            FROM cosines c
            JOIN buckets bq ON bq.vec_id = c.qid
            JOIN buckets bc ON bc.vec_id = c.cid AND bc.bucket = bq.bucket
        ) WHERE rn <= 5
    )
    SELECT e.qid,
           COUNT(l.cid) AS n_hit,
           CAST(COUNT(l.cid) AS DOUBLE) / 5.0 AS recall_at_5
    FROM exact5 e
    LEFT JOIN lsh5 l ON l.qid = e.qid AND l.cid = e.cid
    GROUP BY e.qid
    """,
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH-bucketed ANN against the exact brute-force
    top-5 — the evaluation operator every approximate index needs
    before it replaces the exact path in production.  Reuses the two
    registered pipelines (query-broadcast exact scoring; candidate-first
    bucket join) and intersects their top-5 sets with a left join, so
    the measurement itself is one small keyed aggregate."""
    exact = _cosine_pairs(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    exact5 = (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid")
    )
    lsh5 = ann_lsh_bucketed(spark, sf_dir).select(
        F.col("qid").alias("l_qid"), F.col("cid").alias("l_cid")
    )
    return (
        exact5.join(
            lsh5,
            (F.col("qid") == F.col("l_qid")) & (F.col("cid") == F.col("l_cid")),
            "left",
        )
        .groupBy("qid")
        .agg(F.count("l_cid").alias("n_hit"))
        .select(
            "qid",
            "n_hit",
            (F.col("n_hit").cast("double") / 5.0).alias("recall_at_5"),
        )
    )


# The registry already holds ann_ivf_probe's full oracle chain (it
# registered above in this module); embed it as a derived table so the
# recall measurement uses the IDENTICAL IVF definition.
from wiki_references_db_spark.queries import _ORACLES as _REGISTERED_ORACLES

_IVF_ORACLE_SQL = _REGISTERED_ORACLES["ann_ivf_probe"]


@register(
    "ann_ivf_recall",
    oracle=f"""
    SELECT e.qid,
           COUNT(l.cid) AS n_hit,
           CAST(COUNT(l.cid) AS DOUBLE) / 5.0 AS recall_at_5
    FROM (
        {_COSINE_SQL}
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
            FROM cosines
        ) WHERE rn <= 5
    ) e
    LEFT JOIN (
        SELECT qid, cid FROM ({_IVF_ORACLE_SQL}) ivf
    ) l ON l.qid = e.qid AND l.cid = e.cid
    GROUP BY e.qid
    """,
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF cell-probe index against the exact
    brute-force top-5 — with nprobe=2 over ~4 cells this quantifies the
    probe-count/recall tradeoff the way a production index sweep would.
    Same measurement shape as ann_lsh_recall: intersect the two
    registered pipelines' top-5 sets with a left join and one keyed
    aggregate."""
    exact = _cosine_pairs(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    exact5 = (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid")
    )
    ivf5 = ann_ivf_probe(spark, sf_dir).select(
        F.col("qid").alias("l_qid"), F.col("cid").alias("l_cid")
    )
    return (
        exact5.join(
            ivf5,
            (F.col("qid") == F.col("l_qid")) & (F.col("cid") == F.col("l_cid")),
            "left",
        )
        .groupBy("qid")
        .agg(F.count("l_cid").alias("n_hit"))
        .select(
            "qid",
            "n_hit",
            (F.col("n_hit").cast("double") / 5.0).alias("recall_at_5"),
        )
    )


# --------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (real registers, bit-exact oracle)
# --------------------------------------------------------------------------

# 32-bit hash from the first 8 hex chars of md5: Spark parses hex with
# conv(); the DuckDB twin assembles the same integer from nibble
# positions.  bucket = low 6 bits (m=64), w = high 26 bits,
# rho = leading-zero count of w within 26 bits + 1 = 27 - bitlength(w)
# (bin() gives the minimal binary string in BOTH engines), and the
# estimate is the standard alpha_m * m^2 / sum(2^-M_j) with the sum
# folded in fixed bucket order so the doubles are bit-identical.
_HLL_M = 64
_HLL_ALPHA = 0.709  # alpha_64 = 0.7213 / (1 + 1.079/64), rounded as literal

_HLL_HASH_SQL = "(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456) + ((strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216) + ((strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576) + ((strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536) + ((strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096) + ((strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256) + ((strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16) + ((strpos('0123456789abcdef', substr(h, 8, 1)) - 1) * 1))"


@register(
    "sketch_hll_distinct",
    oracle=f"""
    WITH hashed AS (
        SELECT DISTINCT user_id,
               {_HLL_HASH_SQL.replace('h,', "md5(CAST(user_id AS VARCHAR)),")} AS hv
        FROM events
    ),
    parts AS (
        SELECT hv % {_HLL_M} AS bucket, hv // {_HLL_M} AS w FROM hashed
    ),
    regs AS (
        SELECT bucket,
               MAX(CASE WHEN w = 0 THEN 27
                        ELSE 27 - length(bin(w)) END) AS rho
        FROM parts GROUP BY bucket
    ),
    spine AS (
        SELECT s.b AS bucket, COALESCE(r.rho, 0) AS rho
        FROM (SELECT UNNEST(generate_series(0, {_HLL_M - 1})) AS b) s
        LEFT JOIN regs r ON r.bucket = s.b
    ),
    folded AS (
        SELECT list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                       list(pow(2.0, -rho) ORDER BY bucket)),
                   (acc, v) -> acc + v) AS ssum,
               CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_empty
        FROM spine
    )
    SELECT {_HLL_M} - n_empty AS n_buckets_used,
           CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M * _HLL_M} / ssum
               AS hll_estimate,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_distinct
    FROM folded
    """,
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed HyperLogLog, not a wrapper: 64 registers built by a
    map-side-combined MAX per bucket (the sketch IS the shuffle payload
    — 64 rows however big the input), dense spine, and the harmonic-sum
    estimate folded in fixed bucket order so both engines produce the
    identical double.  Reported next to the exact distinct count so the
    sketch error is visible.  This is the mergeable-state pattern every
    distributed approximate aggregate uses; merging shards = elementwise
    MAX of registers."""
    e = load_table(spark, sf_dir, "events")
    hv = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    hashed = e.select("user_id").distinct().select(hv.alias("hv"))
    parts = hashed.select(
        (F.col("hv") % _HLL_M).alias("bucket"),
        F.expr(f"hv div {_HLL_M}").alias("w"),
    )
    regs = parts.groupBy("bucket").agg(
        F.max(
            F.when(F.col("w") == 0, 27).otherwise(
                27 - F.length(F.bin(F.col("w")))
            )
        ).alias("rho")
    )
    spine = (
        e.sparkSession.range(0, _HLL_M)
        .select(F.col("id").alias("bucket"))
        .join(F.broadcast(regs), "bucket", "left")
        .select("bucket", F.coalesce("rho", F.lit(0)).alias("rho"))
    )
    folded = spine.agg(
        F.expr(
            "aggregate(sort_array(collect_list(struct(bucket, "
            "pow(2.0D, -rho) AS term))), CAST(0 AS DOUBLE), "
            "(acc, s) -> acc + s.term)"
        ).alias("ssum"),
        F.sum((F.col("rho") == 0).cast("int")).cast("long").alias("n_empty"),
    )
    exact = e.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return (
        folded.crossJoin(F.broadcast(exact))
        .select(
            (F.lit(_HLL_M) - F.col("n_empty")).alias("n_buckets_used"),
            (F.lit(_HLL_ALPHA) * F.lit(_HLL_M * _HLL_M) / F.col("ssum")).alias(
                "hll_estimate"
            ),
            "exact_distinct",
        )
    )


# --------------------------------------------------------------------------
# Sliding-window distinct counts via HLL register merge (sketch rollup)
# --------------------------------------------------------------------------

_HLL_USER_HASH_SQL = _HLL_HASH_SQL.replace(
    "h,", "md5(CAST(user_id AS VARCHAR)),"
)


@register(
    "sketch_hll_sliding_union",
    oracle=f"""
    WITH hu AS (
        SELECT DISTINCT date_trunc('hour', ts) AS hr, user_id FROM events
    ),
    hashed AS (
        SELECT hr, {_HLL_USER_HASH_SQL} AS hv FROM hu
    ),
    parts AS (
        SELECT hr, hv % {_HLL_M} AS bucket, hv // {_HLL_M} AS w FROM hashed
    ),
    regs AS (
        SELECT hr, bucket,
               MAX(CASE WHEN w = 0 THEN 27
                        ELSE 27 - length(bin(w)) END) AS rho
        FROM parts GROUP BY hr, bucket
    ),
    hrs AS (SELECT DISTINCT hr FROM hu),
    merged AS (
        SELECT r.target, r.bucket, MAX(r.rho) AS rho
        FROM (SELECT hr + to_hours(t.k) AS target, bucket, rho
              FROM regs, UNNEST([0, 1, 2]) AS t(k)) r
        JOIN hrs h ON h.hr = r.target
        GROUP BY r.target, r.bucket
    ),
    folded AS (
        -- No dense-spine join: an absent bucket contributes exactly
        -- 2^0 = 1.0 to the sum and counts as an empty register, both
        -- recoverable from the present buckets alone.  Plain SUM is
        -- safe here: every term is a power of two in [2^-27, 1], so a
        -- 64-term double sum is EXACT in any order (33-bit precision
        -- span), and both engines produce the identical double.
        SELECT target,
               SUM(pow(2.0, -rho))
                 + ({_HLL_M} - COUNT(*)) AS ssum,
               CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END)
                 + ({_HLL_M} - COUNT(*)) AS BIGINT) AS n_empty
        FROM merged GROUP BY target
    ),
    exact AS (
        SELECT r.target, COUNT(DISTINCT r.user_id) AS exact_3h
        FROM (SELECT hr + to_hours(t.k) AS target, user_id
              FROM hu, UNNEST([0, 1, 2]) AS t(k)) r
        JOIN hrs h ON h.hr = r.target
        GROUP BY r.target
    )
    SELECT strftime(f.target, '%Y-%m-%d %H:%M:%S') AS hour,
           {_HLL_M} - f.n_empty AS n_buckets_used,
           CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M * _HLL_M} / f.ssum
               AS hll_estimate_3h,
           e.exact_3h
    FROM folded f JOIN exact e ON e.target = f.target
    """,
)
def sketch_hll_sliding_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-3-hour distinct users per hour by MERGING per-hour HLL
    sketches (element-wise register MAX) — the pre-aggregated sketch
    rollup every metrics warehouse runs: build each hour's 64-register
    sketch once, then ANY sliding/cumulative/calendar window over hours
    is a register merge, never a rescan of raw events.

    Scale shape (r14, guide §2.4): the sliding union replicates each
    hour's registers to the <=3 target hours it serves via explode — a
    map-only fan-out with a second keyed MAX, no range join, no
    nested-loop — and each explode carries an at-offset-0 flag whose
    MAX marks which targets are REAL hours, so the r13 hour-spine frame
    (a third lineage replay of the scan+distinct) and its two broadcast
    joins are gone: the register arm filters at0 = 1 after folding and
    the final inner join prunes phantom targets from the exact arm.
    Absent buckets never materialize: they contribute exactly 2^0 = 1.0
    to the indicator sum and count as empty registers, both recovered
    arithmetically from the present buckets (every term is a power of
    two in [2^-27, 1], so the 64-term double sum is exact in any
    order).  The exact trailing distinct (same explode-replication on
    (hour, user)) rides along as the visible-error baseline.  Both arms
    re-derive the deduped (hour, user) relation from the same
    column-pruned scan; recomputing it beats caching it (an explicit
    persist measured ~1.7x SLOWER at sf0.1 — the cache write costs more
    than the second scan+distinct, and at full scale it is also the
    only intermediate proportional to corpus size).  A FULL
    single-materialization form (fan out raw events x3 pre-dedup so
    registers, exact counts and the spine flag all ride ONE aggregation
    chain with zero scans repeated and zero joins) was built and
    measured 1.4x slower same-JVM at sf0.1 — the serial 3-shuffle chain
    cannot overlap the way the two independent arms do, and the x3
    pre-dedup explode triples the first shuffle's input
    (bench_runs/r14/ab_hll_onepass.txt: old 0.656 / one-pass 0.887 /
    this form 0.606)."""
    e = load_table(spark, sf_dir, "events")
    hu = e.select(
        F.date_trunc("hour", F.col("ts")).alias("hr"), "user_id"
    ).distinct()
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    parts = hu.select(
        "hr",
        (hv % _HLL_M).alias("bucket"),
        (hv / F.lit(_HLL_M)).cast("bigint").alias("w"),
    )
    regs = parts.groupBy("hr", "bucket").agg(
        F.max(
            F.when(F.col("w") == 0, 27).otherwise(
                27 - F.length(F.bin(F.col("w")))
            )
        ).alias("rho")
    )
    targets3 = F.explode(
        F.array(
            F.struct(F.col("hr").alias("target"), F.lit(1).alias("at0")),
            F.struct(
                (F.col("hr") + F.expr("INTERVAL 1 HOUR")).alias("target"),
                F.lit(0).alias("at0"),
            ),
            F.struct(
                (F.col("hr") + F.expr("INTERVAL 2 HOUR")).alias("target"),
                F.lit(0).alias("at0"),
            ),
        )
    )
    merged = (
        regs.select(targets3.alias("t"), "bucket", "rho")
        .groupBy(F.col("t.target").alias("target"), "bucket")
        .agg(F.max("rho").alias("rho"), F.max("t.at0").alias("at0"))
    )
    folded = (
        merged.groupBy("target")
        .agg(
            (
                F.sum(F.pow(F.lit(2.0), -F.col("rho")))
                + (F.lit(_HLL_M) - F.count(F.lit(1)))
            ).alias("ssum"),
            (
                F.sum((F.col("rho") == 0).cast("int"))
                + (F.lit(_HLL_M) - F.count(F.lit(1)))
            )
            .cast("long")
            .alias("n_empty"),
            F.max("at0").alias("at0"),
        )
        .filter(F.col("at0") == 1)
    )
    exact = (
        hu.select(targets3.alias("t"), "user_id")
        .groupBy(F.col("t.target").alias("target"))
        .agg(F.countDistinct("user_id").alias("exact_3h"))
    )
    return folded.join(exact, "target").select(
        F.date_format(F.col("target"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        (F.lit(_HLL_M) - F.col("n_empty")).alias("n_buckets_used"),
        (F.lit(_HLL_ALPHA) * F.lit(_HLL_M * _HLL_M) / F.col("ssum")).alias(
            "hll_estimate_3h"
        ),
        "exact_3h",
    )


# --------------------------------------------------------------------------
# Count-min sketch (heavy-hitter frequency estimation, mergeable counters)
# --------------------------------------------------------------------------

_CM_W = 64   # counters per row
_CM_D = 4    # independent hash rows (md5 bytes 0..3)
_CM_PROBES = ("the", "spark", "merge", "vector", "window")


def _cm_row_byte_sql(j: int) -> str:
    nib = "(strpos('0123456789abcdef', substr(md5(tok), {p}, 1)) - 1)"
    return f"((16 * {nib.format(p=2 * j + 1)} + {nib.format(p=2 * j + 2)}) % {_CM_W})"


def _cm_row_byte_spark(j: int) -> str:
    nib = "(instr('0123456789abcdef', substring(md5(tok), {p}, 1)) - 1)"
    return f"((16 * {nib.format(p=2 * j + 1)} + {nib.format(p=2 * j + 2)}) % {_CM_W})"


@register(
    "sketch_countmin_heavy",
    oracle=f"""
    WITH tok_rows AS (
        SELECT tok FROM (SELECT {_TOKENS_SQL} AS toks FROM documents),
             UNNEST(toks) AS u(tok)
    ),
    cells AS (
        {" UNION ALL ".join(
            f"SELECT {j} AS row_id, {_cm_row_byte_sql(j)} AS col_id, COUNT(*) AS c "
            f"FROM tok_rows GROUP BY {_cm_row_byte_sql(j)}"
            for j in range(_CM_D)
        )}
    ),
    probes AS (
        SELECT p.tok,
               {" ".join(
                   f"((16 * (strpos('0123456789abcdef', substr(md5(p.tok), {2 * j + 1}, 1)) - 1)"
                   f" + (strpos('0123456789abcdef', substr(md5(p.tok), {2 * j + 2}, 1)) - 1)) % {_CM_W}) AS col{j},"
                   for j in range(_CM_D)
               ).rstrip(",")}
        FROM (SELECT UNNEST({list(_CM_PROBES)}) AS tok) p
    ),
    est AS (
        SELECT p.tok,
               LEAST({", ".join(
                   f"(SELECT c FROM cells WHERE row_id = {j} AND col_id = p.col{j})"
                   for j in range(_CM_D)
               )}) AS cm_estimate
        FROM probes p
    ),
    exact AS (
        SELECT tok, COUNT(*) AS exact_count FROM tok_rows GROUP BY tok
    )
    SELECT e.tok AS token,
           CAST(e.cm_estimate AS BIGINT) AS cm_estimate,
           CAST(COALESCE(x.exact_count, 0) AS BIGINT) AS exact_count
    FROM est e LEFT JOIN exact x ON x.tok = e.tok
    """,
)
def sketch_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream: d=4 independent hash rows
    (md5 bytes) x w=64 counters, each row built by one map-side-combined
    aggregate — the sketch is 256 integers however large the corpus, and
    merging shards is elementwise addition.  Probe tokens report
    min-over-rows estimates beside their exact counts, making the
    overestimate bias visible.  All hashing and counting is integer —
    bit-exact across engines."""
    d = load_table(spark, sf_dir, "documents")
    tok_rows = d.select(F.explode(F.expr(_TOKENS)).alias("tok"))
    cells = None
    for j in range(_CM_D):
        row = tok_rows.groupBy(
            F.expr(_cm_row_byte_spark(j)).alias("col_id")
        ).agg(F.count(F.lit(1)).alias("c")).select(
            F.lit(j).alias("row_id"), "col_id", "c"
        )
        cells = row if cells is None else cells.unionByName(row)
    probes = spark.createDataFrame(
        [(t,) for t in _CM_PROBES], "tok string"
    ).select(
        "tok",
        *[
            F.expr(_cm_row_byte_spark(j).replace("md5(tok)", "md5(tok)")).alias(
                f"col{j}"
            )
            for j in range(_CM_D)
        ],
    )
    est = probes
    for j in range(_CM_D):
        cj = cells.filter(F.col("row_id") == j).select(
            F.col("col_id").alias(f"col{j}"), F.col("c").alias(f"c{j}")
        )
        est = est.join(F.broadcast(cj), f"col{j}", "left")
    exact = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        est.select(
            F.col("tok").alias("token"),
            F.least(*[F.col(f"c{j}") for j in range(_CM_D)])
            .cast("bigint")
            .alias("cm_estimate"),
        )
        .join(
            F.broadcast(
                exact.select(F.col("tok").alias("token"), "exact_count")
            ),
            "token",
            "left",
        )
        .select(
            "token",
            "cm_estimate",
            F.coalesce("exact_count", F.lit(0)).cast("bigint").alias("exact_count"),
        )
    )


# --------------------------------------------------------------------------
# Bloom filter membership (bit-set registers, exact integer arithmetic)
# --------------------------------------------------------------------------

_BLOOM_M = 1024  # bits
_BLOOM_K = 4     # hash functions (md5 byte pairs 0..3)


def _bloom_pos_sql(j: int, key: str) -> str:
    nib = f"(strpos('0123456789abcdef', substr(md5({key}), {{p}}, 1)) - 1)"
    b_hi = f"(16 * {nib.format(p=4 * j + 1)} + {nib.format(p=4 * j + 2)})"
    b_lo = f"(16 * {nib.format(p=4 * j + 3)} + {nib.format(p=4 * j + 4)})"
    return f"(({b_hi} * 256 + {b_lo}) % {_BLOOM_M})"


def _bloom_pos_spark(j: int, key: str) -> str:
    nib = f"(instr('0123456789abcdef', substring(md5({key}), {{p}}, 1)) - 1)"
    b_hi = f"(16 * {nib.format(p=4 * j + 1)} + {nib.format(p=4 * j + 2)})"
    b_lo = f"(16 * {nib.format(p=4 * j + 3)} + {nib.format(p=4 * j + 4)})"
    return f"(({b_hi} * 256 + {b_lo}) % {_BLOOM_M})"


@register(
    "sketch_bloom_membership",
    oracle=f"""
    WITH members AS (
        SELECT CAST(o_orderkey AS VARCHAR) AS k
        FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS (
        {" UNION ".join(
            f"SELECT DISTINCT {_bloom_pos_sql(j, 'k')} AS pos FROM members"
            for j in range(_BLOOM_K)
        )}
    ),
    density AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bits_set FROM bits
    ),
    probes AS (
        SELECT CAST(g.g AS BIGINT) AS probe_key,
               CAST(g.g AS VARCHAR) AS k
        FROM (SELECT UNNEST(generate_series(1, 20)) AS g) g
    )
    SELECT p.probe_key,
           ({" AND ".join(
               f"EXISTS(SELECT 1 FROM bits b WHERE b.pos = {_bloom_pos_sql(j, 'p.k')})"
               for j in range(_BLOOM_K)
           )}) AS claimed,
           EXISTS(SELECT 1 FROM members m WHERE m.k = p.k) AS actual,
           d.n_bits_set
    FROM probes p CROSS JOIN density d
    """,
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter as data: k=4 md5-derived bit positions per member
    key over m=1024 bits, the bit set built by explode+distinct (shard
    merge = set union) and broadcast for probing — the join-pruning
    filter a 100 TB pipeline ships to the scan side to skip
    non-matching rows.  Twenty probe keys report the filter's claim
    beside ground truth (false positives possible, false negatives
    impossible) plus the filter's bit density.  Integer arithmetic
    end to end."""
    o = load_table(spark, sf_dir, "orders")
    members = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").cast("string").alias("k")
    )
    bits = None
    for j in range(_BLOOM_K):
        b = members.select(F.expr(_bloom_pos_spark(j, "k")).alias("pos"))
        bits = b if bits is None else bits.unionByName(b)
    bits = bits.distinct()
    density = bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_bits_set"))
    probes = spark.range(1, 21).select(
        F.col("id").alias("probe_key"), F.col("id").cast("string").alias("k")
    )
    claimed = probes
    for j in range(_BLOOM_K):
        bj = bits.select(F.col("pos").alias(f"pos{j}"))
        claimed = claimed.withColumn(
            f"p{j}", F.expr(_bloom_pos_spark(j, "k"))
        ).join(
            F.broadcast(bj.withColumn(f"hit{j}", F.lit(True))),
            F.col(f"p{j}") == F.col(f"pos{j}"),
            "left",
        )
    actual = members.select(
        F.col("k").alias("mk"), F.lit(True).alias("is_member")
    )
    return (
        claimed.join(F.broadcast(actual), F.col("k") == F.col("mk"), "left")
        .crossJoin(F.broadcast(density))
        .select(
            "probe_key",
            (
                F.coalesce("hit0", F.lit(False))
                & F.coalesce("hit1", F.lit(False))
                & F.coalesce("hit2", F.lit(False))
                & F.coalesce("hit3", F.lit(False))
            ).alias("claimed"),
            F.coalesce("is_member", F.lit(False)).alias("actual"),
            "n_bits_set",
        )
    )


# --------------------------------------------------------------------------
# Distributed k-means (one Lloyd iteration over the embedding corpus)
# --------------------------------------------------------------------------

_KM_CENT_MOD = 125
_KM_CENT_REM = 7


@register(
    "kmeans_lloyd_update",
    oracle=f"""
    WITH {_NORMS_SQL.strip()},
    cents AS (
        SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
        WHERE vec_id % {_KM_CENT_MOD} = {_KM_CENT_REM}
    ),
    vc_cos AS (
        SELECT e.vec_id, c.cent_id,
               {_dot_sql("e.embedding", "c.ce")} / (nv.nrm * nc.nrm) AS cosine
        FROM embeddings e
        CROSS JOIN cents c
        JOIN norms nv ON nv.vec_id = e.vec_id
        JOIN norms nc ON nc.vec_id = c.cent_id
    ),
    assign AS (
        SELECT vec_id, cent_id AS cell FROM (
            SELECT vec_id, cent_id,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY cosine DESC, cent_id) AS rn
            FROM vc_cos
        ) WHERE rn = 1
    ),
    member_dims AS (
        SELECT a.cell, CAST(u.d AS INT) AS dim,
               CAST(round(CAST(e.embedding[u.d] AS DOUBLE) * 1000000)
                    AS BIGINT) AS val
        FROM assign a
        JOIN embeddings e ON e.vec_id = a.vec_id,
        UNNEST(generate_series(1, len(e.embedding))) AS u(d)
    )
    SELECT cell, dim,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(val) AS DOUBLE) / 1000000.0 / COUNT(*) AS centroid
    FROM member_dims
    GROUP BY cell, dim
    """,
)
def kmeans_lloyd_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd iteration over the embedding corpus: assign
    every vector to its nearest centroid by cosine (the same broadcast
    centroid table as ann_ivf_probe), then recompute each centroid as
    the per-dimension mean of its members — assign is a broadcast join +
    per-vector window (never all-pairs), the update is ONE keyed
    (cell, dim) aggregate with map-side partials.  At 100 TB this is
    the iteration body you loop: centroids stay broadcast-sized, the
    corpus is touched once per round.

    Determinism: group-order float summation is not associative, so the
    per-dimension mean sums 1e-6 fixed-point quantized elements
    (``round(x * 1e6)`` as BIGINT — exact integer arithmetic, order-free,
    and both engines round doubles half-away-from-zero) and divides
    once — bit-identical doubles, giving the iterative algorithm a
    hashable oracle.  (float32 -> DECIMAL casts differ cross-engine:
    Spark rounds the exact binary expansion, DuckDB the shortest repr.)"""
    e = load_table_parallel(spark, sf_dir, "embeddings")
    # r13 optimization (guide §2.3/§2.4): nrm used to be a separate
    # corpus frame self-joined back on vec_id purely to attach a value
    # computable in the projection — the join (and its exchange) is
    # gone; the centroid side reads the raw scan (broadcast build does
    # its own placement).  r14 (guide §2.4): the assignment is the
    # zero-shuffle map-side argmax fold (_map_assign) — the n x k
    # crossJoin + row_number window pair is gone, and the member
    # embedding rides out of the assignment, so the join back on
    # vec_id is gone too.
    raw = load_table(spark, sf_dir, "embeddings")
    cents = raw.filter(F.col("vec_id") % _KM_CENT_MOD == _KM_CENT_REM).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ce"),
        F.expr(_norm_expr("embedding")).alias("nrm_c"),
    )
    member_dims = (
        _map_assign(e, cents, ("embedding",))
        .select("cell", F.posexplode("embedding").alias("pos", "v"))
        .select(
            "cell",
            (F.col("pos") + 1).cast("int").alias("dim"),
            F.round(F.col("v").cast("double") * 1000000).cast("long").alias("val"),
        )
    )
    return member_dims.groupBy("cell", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        (
            F.sum("val").cast("double") / 1000000.0 / F.count(F.lit(1))
        ).alias("centroid"),
    )


# --------------------------------------------------------------------------
# Embedding compression: symmetric int8 quantization + reconstruction error
# --------------------------------------------------------------------------


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH scaled AS (
        SELECT vec_id, embedding,
               list_aggregate(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE))), 'max') AS amax
        FROM embeddings
    ),
    quant AS (
        SELECT vec_id, amax,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) / amax * 127) AS BIGINT))
                   AS qs,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
        FROM scaled WHERE amax > 0
    )
    SELECT vec_id,
           CAST(amax AS DOUBLE) AS scale,
           CAST(list_aggregate(qs, 'min') AS BIGINT) AS q_min,
           CAST(list_aggregate(qs, 'max') AS BIGINT) AS q_max,
           CAST(list_aggregate(
               list_transform(generate_series(1, len(xs)),
                   i -> CAST(round(abs(xs[i] - CAST(qs[i] AS DOUBLE) / 127
                                       * amax) * 1000000000) AS BIGINT)),
               'sum') AS BIGINT) AS abs_err_1e9
    FROM quant
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the compression step that turns a 100 TB float32 vector store into
    25 TB: scale = max|x|, q = round(x/scale*127), plus the per-vector
    reconstruction-error account.  Entirely map-side higher-order array
    expressions — no explode, no shuffle, nothing wide: the plan is one
    projection over the scan (embarrassingly parallel at any scale;
    plan-asserted shuffle-free in tests/test_plan_shapes.py).

    Determinism: the summed reconstruction error is quantized to 1e-9
    fixed-point BIGINTs before the in-array fold (same device as
    kmeans_lloyd_update) — exact integer sums, order-free, identical in
    both engines; q itself is an integer everywhere."""
    e = load_table(spark, sf_dir, "embeddings")
    scaled = e.select(
        "vec_id",
        "embedding",
        F.expr(
            "aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))),"
            " CAST(0 AS DOUBLE), (acc, v) -> greatest(acc, v))"
        ).alias("amax"),
    ).filter(F.col("amax") > 0)
    quant = scaled.select(
        "vec_id",
        "amax",
        F.expr(
            "transform(embedding,"
            " x -> CAST(round(CAST(x AS DOUBLE) / amax * 127) AS BIGINT))"
        ).alias("qs"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("xs"),
    )
    return quant.select(
        "vec_id",
        F.col("amax").cast("double").alias("scale"),
        F.array_min("qs").cast("long").alias("q_min"),
        F.array_max("qs").cast("long").alias("q_max"),
        F.expr(
            "aggregate(zip_with(xs, qs,"
            " (x, q) -> CAST(round(abs(x - CAST(q AS DOUBLE) / 127 * amax)"
            " * 1000000000) AS BIGINT)),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("abs_err_1e9"),
    )


# --------------------------------------------------------------------------
# KMV sketch set operations (union / intersection cardinality estimates)
# --------------------------------------------------------------------------


@register(
    "sketch_kmv_setops",
    oracle=f"""
    WITH ha AS (
        SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h
        FROM events WHERE event_type = 'click'
    ),
    hb AS (
        SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h
        FROM events WHERE event_type = 'purchase' AND user_id % 3 = 0
    ),
    hu AS (SELECT h FROM ha UNION SELECT h FROM hb),
    su AS (SELECT h FROM hu ORDER BY h LIMIT {_KMV_K}),
    kth AS (SELECT MAX(h) AS h, COUNT(*) AS k_eff FROM su),
    rho AS (
        SELECT COUNT(*) AS n_both FROM su
        WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)
    ),
    ex AS (
        SELECT (SELECT COUNT(*) FROM hu) AS exact_union,
               (SELECT COUNT(*) FROM ha
                WHERE h IN (SELECT h FROM hb)) AS exact_intersection
    )
    SELECT CAST(ex.exact_union AS BIGINT) AS exact_union,
           CAST(ex.exact_intersection AS BIGINT) AS exact_intersection,
           CASE WHEN ex.exact_union <= {_KMV_K}
                THEN CAST(ex.exact_union AS DOUBLE)
                ELSE ({_KMV_K} - 1) /
                     (CAST({_HASH_FRAC_SQL} AS DOUBLE) / {16 ** 8})
           END AS union_est,
           (CAST(rho.n_both AS DOUBLE) / kth.k_eff) *
           CASE WHEN ex.exact_union <= {_KMV_K}
                THEN CAST(ex.exact_union AS DOUBLE)
                ELSE ({_KMV_K} - 1) /
                     (CAST({_HASH_FRAC_SQL} AS DOUBLE) / {16 ** 8})
           END AS intersection_est
    FROM kth CROSS JOIN rho CROSS JOIN ex
    """,
)
def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketches are MERGEABLE under set operations — the property
    that makes them a 100 TB tool: the k smallest hashes of A ∪ B are
    computable from the two k-row sketches alone, the union cardinality
    follows from the merged k-th minimum, and the intersection follows
    from the Jaccard fraction of merged-sketch members present in both
    sides (|su ∩ A ∩ B| / k x union_est — inclusion-exclusion without
    touching the raw sets again).  Everything downstream of the two
    TakeOrderedAndProject sketch builds runs on k-row relations.
    Deterministic md5 + lexicographic order keeps even the approximate
    answers value-hash checkable."""
    e = load_table(spark, sf_dir, "events")
    ha = (
        e.filter(F.col("event_type") == "click")
        .select(F.md5(F.col("user_id").cast("string")).alias("h"))
        .distinct()
    )
    hb = (
        e.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 3 == 0))
        .select(F.md5(F.col("user_id").cast("string")).alias("h"))
        .distinct()
    )
    hu = ha.union(hb).distinct()
    su = hu.orderBy("h").limit(_KMV_K)
    kth = su.agg(F.max("h").alias("h"), F.count(F.lit(1)).alias("k_eff"))
    n_both = (
        su.join(ha, "h", "left_semi")
        .join(hb, "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ex = hu.agg(F.count(F.lit(1)).alias("exact_union")).crossJoin(
        F.broadcast(
            ha.join(hb, "h", "left_semi").agg(
                F.count(F.lit(1)).alias("exact_intersection")
            )
        )
    )
    frac = F.expr(_HASH_FRAC_SPARK).cast("double") / F.lit(float(16**8))
    union_est = F.when(
        F.col("exact_union") <= _KMV_K, F.col("exact_union").cast("double")
    ).otherwise(F.lit(float(_KMV_K - 1)) / frac)
    return (
        kth.crossJoin(F.broadcast(n_both))
        .crossJoin(F.broadcast(ex))
        .select(
            F.col("exact_union").cast("long").alias("exact_union"),
            F.col("exact_intersection").cast("long").alias("exact_intersection"),
            union_est.alias("union_est"),
            (
                # greatest(k_eff, 1): identical whenever the sketch is
                # non-empty (k_eff >= 1); keeps an empty corpus from
                # tripping ANSI divide-by-zero (n_both is 0 there).
                (
                    F.col("n_both").cast("double")
                    / F.greatest(F.col("k_eff"), F.lit(1))
                )
                * union_est
            ).alias("intersection_est"),
        )
    )


# --------------------------------------------------------------------------
# IVF-PQ with exact re-rank — the full production ANN index architecture
# --------------------------------------------------------------------------

_PQR_SUBDIM = 8
_PQR_NSUB = 8
_PQR_CODES = 4
_PQR_SHORTLIST = 10

# Ordered squared-distance folds (identical trees in both engines).
_PQR_SUBDIST = (
    "aggregate(zip_with(sub, cent, (x, y) ->"
    " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
_PQR_SUBDIST_SQL = (
    "list_reduce(list_transform(list_zip(v.sub, cb.cent),"
    " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
    " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),"
    " (acc, v) -> acc + v)"
)
_PQR_ADIST = (
    "aggregate(zip_with(qe, rvec, (x, y) ->"
    " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
_PQR_ADIST_SQL = (
    "list_reduce(list_transform(list_zip(q.embedding, r.rvec),"
    " z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
    " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),"
    " (acc, v) -> acc + v)"
)


def _pq_codebook(e: DataFrame) -> DataFrame:
    """The PQ codebook as ONE row ``cb``: a (cb_s, code, cent) struct per
    subspace and code — the subvectors of vec_id < _PQR_CODES — sorted by
    subspace, then code.  Broadcast it for ``_pq_nearest``."""
    subspaces = F.array([F.lit(i) for i in range(_PQR_NSUB)])
    return (
        e.filter(F.col("vec_id") < _PQR_CODES)
        .select(
            F.col("vec_id").cast("int").alias("code"),
            F.explode(subspaces).alias("cb_s"),
            "embedding",
        )
        .select(
            "cb_s",
            "code",
            F.expr(
                f"slice(embedding, cb_s * {_PQR_SUBDIM} + 1, {_PQR_SUBDIM})"
            ).alias("cent"),
        )
        .agg(
            F.array_sort(F.collect_list(F.struct("cb_s", "code", "cent"))).alias(
                "cb"
            )
        )
    )


def _pq_nearest(s: str) -> str:
    """SQL over the codebook row ``cb``: the entry of subspace ``s``
    nearest to the subvector ``sub``, as struct(code, cent, d).  A
    map-side argmin fold, no window: strict < over the code-ascending
    scan keeps the smallest code on identical distances, the oracle
    window's (dist2 ASC, code ASC) tie-break."""
    return (
        "aggregate("
        f"transform(filter(cb, c -> c.cb_s = {s}), c -> named_struct("
        "'code', c.code, 'cent', c.cent, "
        f"'d', {_PQR_SUBDIST.replace('cent', 'c.cent')})), "
        "named_struct('code', CAST(NULL AS INT), "
        "'cent', CAST(NULL AS ARRAY<FLOAT>), 'd', CAST(NULL AS DOUBLE)), "
        "(b, x) -> IF(b.code IS NULL OR x.d < b.d, x, b))"
    )


_IVF_PQ_ORACLE_SQL = f"""
    WITH {_NORMS_SQL.strip()},
    subs AS (
        SELECT vec_id, ss.s AS s,
               list_slice(embedding, ss.s * {_PQR_SUBDIM} + 1,
                          ss.s * {_PQR_SUBDIM} + {_PQR_SUBDIM}) AS sub
        FROM embeddings,
             (SELECT UNNEST(generate_series(0, {_PQR_NSUB - 1})) AS s) ss
    ),
    codebook AS (
        SELECT CAST(vec_id AS INT) AS code, s AS cb_s, sub AS cent
        FROM subs WHERE vec_id < {_PQR_CODES}
    ),
    cdists AS (
        SELECT v.vec_id, v.s, cb.code, cb.cent,
               {_PQR_SUBDIST_SQL} AS dist2
        FROM subs v JOIN codebook cb ON cb.cb_s = v.s
    ),
    codes AS (
        SELECT vec_id, s, cent FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY dist2, code) AS rk
            FROM cdists
        ) WHERE rk = 1
    ),
    recon AS (
        SELECT vec_id, flatten(list(cent ORDER BY s)) AS rvec
        FROM codes GROUP BY vec_id
    ),
    cents AS (
        SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
        WHERE vec_id % {_IVF_CENT_MOD} = {_IVF_CENT_REM}
    ),
    vc_pairs AS (
        SELECT e.vec_id, c.cent_id, e.embedding AS ea, c.ce AS eb
        FROM embeddings e CROSS JOIN cents c
    ),
    vc_dots AS (SELECT vec_id, cent_id, {_dot_sql("ea", "eb")} AS dot FROM vc_pairs),
    vc_cos AS (
        SELECT d.vec_id, d.cent_id, d.dot / (nv.nrm * nc.nrm) AS cosine
        FROM vc_dots d
        JOIN norms nv ON nv.vec_id = d.vec_id
        JOIN norms nc ON nc.vec_id = d.cent_id
    ),
    assign AS (
        SELECT vec_id, cent_id AS cell FROM (
            SELECT vec_id, cent_id,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY cosine DESC, cent_id) AS rn
            FROM vc_cos
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS qid, cent_id AS cell FROM (
            SELECT vec_id, cent_id,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY cosine DESC, cent_id) AS rn
            FROM vc_cos WHERE vec_id < {_N_QUERY_VECS}
        ) WHERE rn <= {_IVF_NPROBE}
    ),
    cand AS (
        SELECT DISTINCT p.qid, a.vec_id AS cid
        FROM probes p JOIN assign a ON a.cell = p.cell
        WHERE a.vec_id <> p.qid
    ),
    approx AS (
        SELECT c.qid, c.cid, {_PQR_ADIST_SQL} AS adist2
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.qid
        JOIN recon r ON r.vec_id = c.cid
    ),
    shortlist AS (
        SELECT qid, cid FROM (
            SELECT qid, cid, row_number() OVER (
                PARTITION BY qid ORDER BY adist2, cid) AS arn
            FROM approx
        ) WHERE arn <= {_PQR_SHORTLIST}
    ),
    exact AS (
        SELECT s.qid, s.cid,
               {_dot_sql("q.embedding", "c2.embedding")}
                 / (nq.nrm * nc.nrm) AS cosine
        FROM shortlist s
        JOIN embeddings q ON q.vec_id = s.qid
        JOIN embeddings c2 ON c2.vec_id = s.cid
        JOIN norms nq ON nq.vec_id = s.qid
        JOIN norms nc ON nc.vec_id = s.cid
    )
    SELECT qid, cid, cosine, rk FROM (
        SELECT qid, cid, cosine, row_number() OVER (
            PARTITION BY qid ORDER BY cosine DESC, cid) AS rk
        FROM exact
    ) WHERE rk <= {_IVF_TOPK}
    ORDER BY qid, rk
"""


@register(
    "ann_ivf_pq_rerank",
    oracle=_IVF_PQ_ORACLE_SQL,
)
def ann_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN index architecture in one plan — IVF-PQ
    with exact re-rank (the FAISS IndexIVFPQ shape): coarse-quantize the
    corpus into IVF cells, PQ-encode every vector (8 subspaces x 4
    codes, codebook = the subvectors of vec_id 0..3), probe nprobe=2
    cells per query, score candidates by ASYMMETRIC distance (true
    query vector vs PQ-reconstructed candidate — the ADC lookup), keep
    a 10-deep shortlist, and exact-cosine re-rank it to top-5.

    Spark-first scale shape: every stage is the scale form of its
    family — the codebook and coarse centroids broadcast; PQ encoding
    is a map-side argmin fold per subspace (no shuffle); cell
    probing joins on the cell key (1/n_cells of the corpus touched per
    probe); the ADC pass only scores candidates, and the expensive
    exact cosine touches at most shortlist x queries rows.
    Reconstruction folds doubles in array order (flatten of
    subspace-sorted centroids), bit-identical across engines.
    """
    e = load_table_parallel(spark, sf_dir, "embeddings")
    # --- PQ encode the corpus --------------------------------------------
    # Each vector's reconstruction is its nearest codebook entries,
    # concatenated in subspace order, all map-side: no n x 8 x codes
    # distance rows are shuffled, and no per-vector regrouping either.
    subs = (
        f"transform(sequence(0, {_PQR_NSUB - 1}),"
        f" s -> slice(embedding, s * {_PQR_SUBDIM} + 1, {_PQR_SUBDIM}))"
    )
    # With an empty codebook no vector has a reconstruction, as in the
    # oracle, whose ranking window then has no rows.
    recon = (
        e.crossJoin(F.broadcast(_pq_codebook(e)))
        .filter(F.size("cb") > 0)
        .select(
            "vec_id",
            F.expr(
                f"flatten(transform({subs}, (sub, s) -> {_pq_nearest('s')}.cent))"
            ).alias("rvec"),
        )
    )
    # --- coarse IVF assign + probes (same construction as ann_ivf_probe) -
    # r13 optimization (guide §2.3/§2.4, mirrors ann_ivf_probe): norms
    # ride inline in each side's projection instead of a corpus-sized
    # frame re-joined onto the vectors-x-centroids intermediate.
    raw = load_table(spark, sf_dir, "embeddings")
    cents = raw.filter(F.col("vec_id") % _IVF_CENT_MOD == _IVF_CENT_REM).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ce"),
        F.expr(_norm_expr("embedding")).alias("nrm_c"),
    )
    # r14 (guide §2.4, mirrors ann_ivf_probe): map-side argmax for the
    # corpus assignment (no n x k window shuffle), query-sliced
    # crossJoin + top-nprobe window for the probes.
    assign = _map_assign(e, cents)
    qc_cos = (
        raw.filter(F.col("vec_id") < _N_QUERY_VECS)
        .select(
            "vec_id",
            F.col("embedding").alias("ea"),
            F.expr(_norm_expr("embedding")).alias("nrm_v"),
        )
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cent_id",
            (
                F.expr(_dot_expr("ea", "ce")) / (F.col("nrm_v") * F.col("nrm_c"))
            ).alias("cosine"),
        )
    )
    w_v = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("cent_id")
    )
    probes = (
        qc_cos.withColumn("rn", F.row_number().over(w_v))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select(F.col("vec_id").alias("qid"), F.col("cent_id").alias("cell"))
    )
    cand = (
        F.broadcast(probes)
        .join(assign, "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"))
        .distinct()
    )
    # --- ADC shortlist: true query vector vs PQ reconstruction ----------
    eq = raw.filter(F.col("vec_id") < _N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.expr(_norm_expr("embedding")).alias("nrm_q"),
    )
    approx = (
        cand.join(F.broadcast(eq), "qid")
        .join(recon.select(F.col("vec_id").alias("cid"), "rvec"), "cid")
        .select("qid", "cid", F.expr(_PQR_ADIST).alias("adist2"))
    )
    w_a = Window.partitionBy("qid").orderBy("adist2", "cid")
    shortlist = (
        approx.withColumn("arn", F.row_number().over(w_a))
        .filter(F.col("arn") <= _PQR_SHORTLIST)
        .select("qid", "cid")
    )
    # --- exact re-rank ----------------------------------------------------
    ec = raw.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("eb"),
        F.expr(_norm_expr("embedding")).alias("nrm_cd"),
    )
    scored = (
        shortlist.join(F.broadcast(eq), "qid")
        .join(ec, "cid")
        .select(
            "qid",
            "cid",
            (
                F.expr(_dot_expr("qe", "eb")) / (F.col("nrm_q") * F.col("nrm_cd"))
            ).alias("cosine"),
        )
    )
    w_q = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w_q))
        .filter(F.col("rk") <= _IVF_TOPK)
        .select("qid", "cid", "cosine", "rk")
        .orderBy("qid", "rk")
    )


@register(
    "ann_ivf_pq_recall",
    oracle=f"""
    SELECT e.qid,
           COUNT(l.cid) AS n_hit,
           CAST(COUNT(l.cid) AS DOUBLE) / 5.0 AS recall_at_5
    FROM (
        {_COSINE_SQL}
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
            FROM cosines
        ) WHERE rn <= 5
    ) e
    LEFT JOIN (
        SELECT qid, cid FROM ({_IVF_PQ_ORACLE_SQL}) pq
    ) l ON l.qid = e.qid AND l.cid = e.cid
    GROUP BY e.qid
    """,
)
def ann_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF-PQ + ADC + exact-rerank pipeline against the
    exact brute-force top-5 — the index-quality number a production
    IVF-PQ deployment sweeps (nprobe, code budget, shortlist depth)
    against.  Same measurement shape as ann_lsh_recall /
    ann_ivf_recall: intersect the registered pipeline's top-5 with the
    exact top-5 via a left join and one keyed aggregate."""
    exact = _cosine_pairs(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("cid").asc()
    )
    exact5 = (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "cid")
    )
    pq5 = ann_ivf_pq_rerank(spark, sf_dir).select(
        F.col("qid").alias("l_qid"), F.col("cid").alias("l_cid")
    )
    return (
        exact5.join(
            pq5,
            (F.col("qid") == F.col("l_qid")) & (F.col("cid") == F.col("l_cid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("l_cid").alias("n_hit"),
            (F.count("l_cid").cast("double") / F.lit(5.0)).alias(
                "recall_at_5"
            ),
        )
    )


# --------------------------------------------------------------------------
# Asymmetric containment dedup (boilerplate / quote / subset detection)
# --------------------------------------------------------------------------


@register(
    "dedup_substring_containment",
    oracle=_SHINGLE_CTE_SQL
    + _CAPPED_PAIRS_CTE_SQL
    + """
    SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a FROM (
        SELECT p.doc_a, p.doc_b,
               CAST(p.n_common AS DOUBLE) / sa.n_shingles AS cont_a_in_b,
               CAST(p.n_common AS DOUBLE) / sb.n_shingles AS cont_b_in_a
        FROM pairs p
        JOIN shingle_counts sa ON sa.doc_id = p.doc_a
        JOIN shingle_counts sb ON sb.doc_id = p.doc_b
    ) WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.8
    """,
)
def dedup_substring_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplicate detection by shingle CONTAINMENT
    (|A∩B| / |A|), the RefinedWeb/CCNet-style complement to symmetric
    Jaccard: a short document quoted or templated inside a long one has
    low Jaccard (the union is dominated by the long doc) but containment
    ~1.0, so Jaccard-only dedup ships the boilerplate straight into the
    training set.  Flags pairs where EITHER direction's containment is
    >= 0.8.

    Same 100 TB plan as ``dedup_ngram_jaccard`` (which generalizes the
    reference's exact content-hash dedup, reference:dedup_parquet.py):
    one inverted shingle index self-join — only docs sharing a shingle
    ever meet in the shuffle — with the document-frequency cap keeping
    any ubiquitous shingle from creating a quadratic bucket.  The
    containment denominators use the FULL per-doc shingle counts; only
    intersection counting is capped, identically in the oracle."""
    ds = _docs_with_shingles(spark, sf_dir)
    counts, pairs = _capped_pair_counts(ds)
    ca = counts.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")
    )
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_common").cast("double") / F.col("na")).alias("cont_a_in_b"),
            (F.col("n_common").cast("double") / F.col("nb")).alias("cont_b_in_a"),
        )
        .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= 0.8)
    )


# --------------------------------------------------------------------------
# BPE tokenizer induction: pair statistics + one applied merge
# --------------------------------------------------------------------------


@register(
    "bpe_pair_merge",
    oracle="""
    WITH words AS (
        SELECT w, COUNT(*) AS freq FROM (
            SELECT lower(unnest(regexp_split_to_array(
                       coalesce(trim(text), ''), '\\s+'))) AS w
            FROM documents
        ) WHERE regexp_matches(w, '^[a-z]{2,20}$')
        GROUP BY w
    ),
    pair_rows1 AS (
        SELECT unnest(list_transform(
                   generate_series(1, length(w) - 1),
                   i -> w[i] || ' ' || w[i+1])) AS pair,
               freq
        FROM words
    ),
    counts1 AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM pair_rows1 GROUP BY pair
    ),
    best AS (SELECT pair AS bp FROM counts1 ORDER BY cnt DESC, pair LIMIT 1),
    spaced AS (
        SELECT array_to_string(list_transform(
                   generate_series(1, length(w)), i -> w[i]), ' ') AS sp,
               freq
        FROM words
    ),
    merged AS (
        SELECT replace(sp, b.bp, replace(b.bp, ' ', '')) AS m, freq
        FROM spaced CROSS JOIN best b
    ),
    pair_rows2 AS (
        SELECT unnest(list_transform(
                   generate_series(1, greatest(len(syms) - 1, 0)),
                   i -> syms[i] || ' ' || syms[i+1])) AS pair,
               freq
        FROM (SELECT string_split(m, ' ') AS syms, freq FROM merged)
    ),
    counts2 AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM pair_rows2 GROUP BY pair
    ),
    unioned AS (
        SELECT 1 AS iter, pair, cnt FROM counts1
        UNION ALL
        SELECT 2 AS iter, pair, cnt FROM counts2
    )
    SELECT iter, rnk, pair, cnt FROM (
        SELECT iter,
               CAST(row_number() OVER (PARTITION BY iter
                        ORDER BY cnt DESC, pair) AS BIGINT) AS rnk,
               pair, cnt
        FROM unioned
    ) WHERE rnk <= 10
    """,
)
def bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One real BPE (byte-pair-encoding) vocabulary-induction step over
    the corpus: adjacent-symbol pair frequencies, the argmax merge
    applied, and the post-merge pair frequencies — the loop body a
    tokenizer trainer repeats ~50k times.  Returns the top-10 pairs of
    both iterations as (iter, rnk, pair, cnt).

    The 100 TB insight is WHERE the work runs: classic BPE operates on
    the word-frequency dictionary, not the corpus.  The only
    corpus-scale operation here is the word-count aggregate (one keyed
    shuffle with map-side partial aggregation); every pair count, the
    merge application, and the re-count run over the DISTINCT-word
    table — vocabulary-sized, orders of magnitude smaller — with the
    argmax merge pair broadcast as a 1-row table.  Merge application is
    string replace over the spaced symbol form; both engines replace
    left-to-right non-overlapping, which IS greedy BPE merge order.
    All counts are exact integers, so cross-engine hashing is exact
    (the oracle pins DuckDB's window SUM back to BIGINT — round-3
    HUGEINT lesson)."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.expr(_TOKENS)).alias("w0"))
        .select(F.lower("w0").alias("w"))
        .filter(F.col("w").rlike("^[a-z]{2,20}$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs1 = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> concat(substring(w, i, 1), ' ', substring(w, i+1, 1)))"
            )
        ).alias("pair"),
        "freq",
    )
    counts1 = pairs1.groupBy("pair").agg(F.sum("freq").alias("cnt"))
    best = (
        counts1.orderBy(F.col("cnt").desc(), "pair")
        .limit(1)
        .select(F.col("pair").alias("bp"))
    )
    spaced = words.select(
        F.expr(
            "array_join(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1)), ' ')"
        ).alias("sp"),
        "freq",
    )
    merged = spaced.crossJoin(F.broadcast(best)).select(
        F.expr("replace(sp, bp, replace(bp, ' ', ''))").alias("m"), "freq"
    )
    syms = merged.select(F.split("m", " ").alias("syms"), "freq")
    # Spark's sequence(1, 0) counts DOWN — guard the fully-merged
    # 1-symbol words exactly like the shingle builder does.
    pairs2 = syms.select(
        F.explode(
            F.expr(
                "CASE WHEN size(syms) < 2 THEN CAST(array() AS ARRAY<STRING>)"
                " ELSE transform(sequence(1, size(syms) - 1),"
                " i -> concat(syms[i-1], ' ', syms[i])) END"
            )
        ).alias("pair"),
        "freq",
    )
    counts2 = pairs2.groupBy("pair").agg(F.sum("freq").alias("cnt"))
    unioned = counts1.select(F.lit(1).alias("iter"), "pair", "cnt").union(
        counts2.select(F.lit(2).alias("iter"), "pair", "cnt")
    )
    w_rank = Window.partitionBy("iter").orderBy(F.col("cnt").desc(), "pair")
    return (
        unioned.withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rnk") <= 10)
        .select("iter", "rnk", "pair", "cnt")
    )


# --------------------------------------------------------------------------
# Leakage-safe GROUP split (all docs of a source stay in one split)
# --------------------------------------------------------------------------

_GROUP_BYTE_SPARK = (
    "(16 * (instr('0123456789abcdef', substring(md5(coalesce(source, '')), 1, 1)) - 1)"
    " + (instr('0123456789abcdef', substring(md5(coalesce(source, '')), 2, 1)) - 1))"
)
_GROUP_BYTE_SQL = (
    "(16 * (strpos('0123456789abcdef', substr(md5(coalesce(source, '')), 1, 1)) - 1)"
    " + (strpos('0123456789abcdef', substr(md5(coalesce(source, '')), 2, 1)) - 1))"
)


@register(
    "group_split_no_leakage",
    oracle=f"""
    SELECT CASE WHEN {_GROUP_BYTE_SQL} < 204 THEN 'train'
                WHEN {_GROUP_BYTE_SQL} < 230 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(CAST(SUM(CAST(n_chars AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
             AS total_chars,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM documents
    GROUP BY 1
    """,
)
def group_split_no_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/10/10 split: the split byte hashes the GROUP key
    (``source``), not the document id, so every document of a source
    lands in the same split by construction.  This is the eval-hygiene
    complement to ``split_train_val_test`` — per-document hashing puts
    near-identical documents from one crawl domain on both sides of the
    train/test fence, silently inflating eval scores; group splitting
    is how real corpus pipelines cut that leak.  Same scale shape as
    any keyed aggregate (one map-side-combined shuffle); the split
    column is a pure projection usable as a ``partitionBy`` key at
    write time, and adding documents never moves an existing source
    between splits."""
    d = load_table(spark, sf_dir, "documents")
    byte = F.expr(_GROUP_BYTE_SPARK)
    split = (
        F.when(byte < 204, "train").when(byte < 230, "val").otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.col("n_chars").cast("decimal(28,10)")).cast("double").alias(
            "total_chars"
        ),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# --------------------------------------------------------------------------
# Incremental dedup: a new batch against the existing corpus index
# --------------------------------------------------------------------------


# Shared with streams.stream_dedup_vs_corpus: ONE definition of the
# delta-vs-corpus candidate/verify math per dialect.
_INCR_DEDUP_TAIL_SQL = """
    , candidates AS (
        SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
        FROM band_rows n JOIN band_rows c
          ON n.band_id = c.band_id AND n.band_key = c.band_key
        WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
    ),
    inter AS (
        SELECT cd.new_doc, cd.corpus_doc, COUNT(*) AS n_common
        FROM candidates cd
        JOIN shingle_rows ra ON ra.doc_id = cd.new_doc
        JOIN shingle_rows rb ON rb.doc_id = cd.corpus_doc
                            AND rb.shingle = ra.shingle
        GROUP BY cd.new_doc, cd.corpus_doc
    )
    SELECT i.new_doc, i.corpus_doc,
           CAST(i.n_common AS DOUBLE)
               / (sa.n_shingles + sb.n_shingles - i.n_common) AS jaccard
    FROM inter i
    JOIN shingle_counts sa ON sa.doc_id = i.new_doc
    JOIN shingle_counts sb ON sb.doc_id = i.corpus_doc
    WHERE CAST(i.n_common AS DOUBLE)
               / (sa.n_shingles + sb.n_shingles - i.n_common) >= 0.6
    """


@register(
    "dedup_incremental_batch",
    oracle=_SHINGLE_CTE_SQL + _band_rows_cte_sql() + _INCR_DEDUP_TAIL_SQL,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: an incoming delta batch (docs with
    ``doc_id % 10 = 0`` stand in for today's crawl) checked against the
    EXISTING corpus's MinHash band index — the production ingestion
    shape, where re-deduping the whole corpus per batch
    (``dedup_minhash_lsh``) would be quadratic over the pipeline's
    lifetime.

    The candidate join is strictly batch-side x index-side on the
    (band_id, band_key) equi-key: corpus x corpus pairs are never
    generated (the index was already deduped when built) and neither
    are batch x batch pairs (in-batch dups are the ordinary small
    in-batch pass).  Per batch the work is hash-the-delta + one
    shuffle of the delta's band rows against the index buckets —
    linear in batch size, independent of corpus size beyond the
    bucket lookup.  At production scale the banded corpus relation is
    a persisted table (bucketed BY band_key, so the probe is
    shuffle-free on the corpus side); here both sides derive from one
    scan so the oracle can mirror the math."""
    ds = _docs_with_shingles(spark, sf_dir).filter(F.size("shingles") > 0)
    band_rows = _band_rows_spark(ds)
    batch = band_rows.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("new_doc"), "band_id", "band_key"
    )
    index = band_rows.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("corpus_doc"), "band_id", "band_key"
    )
    candidates = (
        batch.join(index, ["band_id", "band_key"])
        .select("new_doc", "corpus_doc")
        .distinct()
    )
    rows = ds.select("doc_id", F.explode("shingles").alias("shingle"))
    counts = ds.select("doc_id", F.size("shingles").alias("n_shingles"))
    ra = rows.select(F.col("doc_id").alias("new_doc"), "shingle")
    rb = rows.select(F.col("doc_id").alias("corpus_doc"), "shingle")
    inter = (
        candidates.join(ra, "new_doc")
        .join(rb, ["corpus_doc", "shingle"])
        .groupBy("new_doc", "corpus_doc")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(
        F.col("doc_id").alias("new_doc"), F.col("n_shingles").alias("na")
    )
    cb = counts.select(
        F.col("doc_id").alias("corpus_doc"), F.col("n_shingles").alias("nb")
    )
    jaccard = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        inter.join(ca, "new_doc")
        .join(cb, "corpus_doc")
        .select("new_doc", "corpus_doc", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )


# --------------------------------------------------------------------------
# PCA top component by matrix-free power iteration (2 unrolled steps)
# --------------------------------------------------------------------------


@register(
    "embedding_pca_power_iter",
    oracle="""
    WITH s1 AS (
        SELECT vec_id,
               list_reduce(list_transform(embedding, v -> CAST(v AS DOUBLE)),
                           (acc, v) -> acc + v) AS s
        FROM embeddings
    ),
    rows_ AS (
        SELECT e.vec_id, j, CAST(e.embedding[j] AS DOUBLE) AS xj
        FROM embeddings e,
             unnest(generate_series(1, len(e.embedding))) AS t(j)
    ),
    w1 AS (
        SELECT r.j,
               CAST(SUM(CAST(round(r.xj * s1.s * 1000000000.0) AS BIGINT))
                    AS BIGINT) AS wf
        FROM rows_ r JOIN s1 ON s1.vec_id = r.vec_id
        GROUP BY r.j
    ),
    m1 AS (SELECT MAX(abs(wf)) AS m FROM w1),
    v1 AS (
        SELECT j, CAST(wf AS DOUBLE) / CAST(m AS DOUBLE) AS vj
        FROM w1 CROSS JOIN m1
    ),
    s2 AS (
        SELECT r.vec_id,
               CAST(SUM(CAST(round(r.xj * v1.vj * 1000000000000.0) AS BIGINT))
                    AS BIGINT) AS sf
        FROM rows_ r JOIN v1 ON v1.j = r.j
        GROUP BY r.vec_id
    ),
    w2 AS (
        SELECT r.j,
               CAST(SUM(CAST(round(
                   r.xj * (CAST(s2.sf AS DOUBLE) / 1000000000000.0)
                        * 1000000000.0) AS BIGINT)) AS BIGINT) AS wf
        FROM rows_ r JOIN s2 ON s2.vec_id = r.vec_id
        GROUP BY r.j
    ),
    m2 AS (SELECT MAX(abs(wf)) AS m FROM w2)
    SELECT CAST(w2.j AS BIGINT) AS j,
           CAST(w2.wf AS DOUBLE) / CAST(m2.m AS DOUBLE) AS loading
    FROM w2 CROSS JOIN m2
    """,
)
def embedding_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding matrix by TWO unrolled
    matrix-free power iterations: w = X^T (X v) needs only per-row dot
    products and one per-component aggregate — no d x d covariance is
    ever materialized, which is why power/Lanczos methods are how tall
    matrices are factored on clusters (the loop body you repeat to
    convergence, same family as pagerank_2iter / kmeans_lloyd_update).
    Output: the 64 components of the iterate, max-abs-normalized.

    Determinism across engines: the per-row dot X v is a SEQUENTIAL
    array fold (identical IEEE order both sides); every cross-row sum
    quantizes to integer fixed point first (1e-9 for component sums,
    1e-12 for the second iteration's row dots — cross-row float
    addition is not associative, integer sums are); iterates normalize
    by max-|component| (an integer max, exact) instead of the L2 norm
    (whose sqrt would reintroduce float drift).  At true corpus scale
    the 1e-9 quantum and BIGINT headroom bound the row count at ~1e9
    per partial sum — beyond that, widen to DECIMAL accumulators."""
    e = load_table(spark, sf_dir, "embeddings")
    s1 = e.select(
        "vec_id",
        F.expr(
            "aggregate(transform(embedding, v -> CAST(v AS DOUBLE)),"
            " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        ).alias("s"),
    )
    # rows (the exploded N x d element relation) feeds all three join
    # subtrees (w1, s2, w2); persist so the scan+explode runs once, not
    # per consumer (cache lifetime: callers clearCache per query).
    # DISK_ONLY: N x d element rows (corpus-proportional).
    rows = persist_corpus(
        e.select(
            "vec_id", F.posexplode("embedding").alias("pos", "xj0")
        ).select(
            "vec_id",
            (F.col("pos") + 1).cast("long").alias("j"),
            F.col("xj0").cast("double").alias("xj"),
        )
    )
    w1 = (
        rows.join(s1, "vec_id")
        .select(
            "j",
            F.round(F.col("xj") * F.col("s") * F.lit(1000000000.0))
            .cast("long")
            .alias("q"),
        )
        .groupBy("j")
        .agg(F.sum("q").alias("wf"))
    )
    m1 = w1.agg(F.max(F.abs(F.col("wf"))).alias("m"))
    v1 = w1.crossJoin(F.broadcast(m1)).select(
        "j",
        (F.col("wf").cast("double") / F.col("m").cast("double")).alias("vj"),
    )
    s2 = (
        rows.join(v1, "j")
        .select(
            "vec_id",
            F.round(F.col("xj") * F.col("vj") * F.lit(1000000000000.0))
            .cast("long")
            .alias("q"),
        )
        .groupBy("vec_id")
        .agg(F.sum("q").alias("sf"))
    )
    w2 = (
        rows.join(s2, "vec_id")
        .select(
            "j",
            F.round(
                F.col("xj")
                * (F.col("sf").cast("double") / F.lit(1000000000000.0))
                * F.lit(1000000000.0)
            )
            .cast("long")
            .alias("q"),
        )
        .groupBy("j")
        .agg(F.sum("q").alias("wf"))
    )
    m2 = w2.agg(F.max(F.abs(F.col("wf"))).alias("m"))
    return w2.crossJoin(F.broadcast(m2)).select(
        "j",
        (F.col("wf").cast("double") / F.col("m").cast("double")).alias(
            "loading"
        ),
    )


# --------------------------------------------------------------------------
# LSH recall curve: the dedup family's eval harness
# --------------------------------------------------------------------------


@register(
    "dedup_lsh_recall_curve",
    oracle=_SHINGLE_CTE_SQL
    + _CAPPED_PAIRS_CTE_SQL
    + _band_rows_cte_sql()
    + _CANDIDATES_CTE_SQL
    + """
    , exact AS (
        SELECT p.doc_a, p.doc_b,
               CAST(p.n_common AS DOUBLE)
                   / (sa.n_shingles + sb.n_shingles - p.n_common) AS j
        FROM pairs p
        JOIN shingle_counts sa ON sa.doc_id = p.doc_a
        JOIN shingle_counts sb ON sb.doc_id = p.doc_b
        WHERE CAST(p.n_common AS DOUBLE)
                   / (sa.n_shingles + sb.n_shingles - p.n_common) >= 0.1
    )
    SELECT LEAST(CAST(FLOOR(e.j * 10) AS BIGINT), 9) AS bucket,
           COUNT(*) AS n_pairs,
           COUNT(c.doc_a) AS n_caught,
           COUNT(c.doc_a) / COUNT(*) AS recall
    FROM exact e LEFT JOIN candidates c
      ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
    GROUP BY 1
    """,
)
def dedup_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup family's eval harness (the twin of ann_lsh_recall /
    ann_ivf_recall for the ANN family): empirical LSH candidate recall
    per exact-Jaccard decile.  Ground truth is every pair with exact
    Jaccard >= 0.1 from the df-capped inverted index; the banded
    (band_id, band_key) index's candidate set is LEFT-joined onto it,
    and each decile bucket reports how many true pairs the bands
    caught — the measured S-curve that tells an operator whether 2
    bands of 4 actually deliver the >=0.6-recall the MinHash theory
    promises BEFORE a 100 TB dedup run commits to the banding.

    At production scale the harness runs on a deterministic document
    sample (e.g. md5(doc_id) prefix) — the exact ground truth is only
    needed at calibration size, while the banded side is the same
    index the full run uses.  Same plans as the production queries it
    evaluates (shared band / pair helpers — the harness cannot drift
    from what it measures);
    integer counts and exact integer-ratio recalls, so the curve
    hashes identically across engines."""
    ds = _docs_with_shingles(spark, sf_dir).filter(F.size("shingles") > 0)
    counts, pairs = _capped_pair_counts(_docs_with_shingles(spark, sf_dir))
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    j = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    exact = (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select("doc_a", "doc_b", j.alias("j"))
        .filter(F.col("j") >= 0.1)
    )
    cand = _band_candidates(_band_rows_spark(ds)).withColumn(
        "hit", F.lit(1)
    )
    return (
        exact.join(cand, ["doc_a", "doc_b"], "left")
        .groupBy(
            F.least(F.floor(F.col("j") * 10).cast("long"), F.lit(9).cast("long")).alias(
                "bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count("hit").alias("n_caught"),
            (F.count("hit") / F.count(F.lit(1))).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# Passage-level global dedup with document reassembly (CCNet-style)
# --------------------------------------------------------------------------

_PARA_TOKS = 10


@register(
    "dedup_paragraphs_global",
    oracle=f"""
    WITH doc_toks AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ),
    paras AS (
        SELECT doc_id, i AS idx,
               array_to_string(
                   toks[(i*{_PARA_TOKS}+1):(i*{_PARA_TOKS}+{_PARA_TOKS})],
                   ' ') AS para
        FROM doc_toks,
             unnest(generate_series(
                 0,
                 CAST(ceil(len(toks)/{_PARA_TOKS}.0) AS BIGINT) - 1)) AS t(i)
    ),
    firsts AS (
        SELECT doc_id, idx, para FROM (
            SELECT doc_id, idx, para,
                   row_number() OVER (PARTITION BY md5(para)
                       ORDER BY doc_id, idx) AS rn
            FROM paras
        ) WHERE rn = 1
    ),
    totals AS (
        SELECT doc_id, COUNT(*) AS n_paras FROM paras GROUP BY doc_id
    ),
    kept AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               md5(string_agg(para, ' ' ORDER BY idx)) AS kept_md5
        FROM firsts GROUP BY doc_id
    )
    SELECT t.doc_id,
           t.n_paras,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.n_kept, 0) / t.n_paras AS retained_frac,
           k.kept_md5
    FROM totals t LEFT JOIN kept k ON k.doc_id = t.doc_id
    """,
)
def dedup_paragraphs_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup, CCNet-style: the dedup unit is the PASSAGE
    (fixed 10-token blocks standing in for paragraphs — the synthetic
    corpus has no newlines), each passage is kept only at its globally
    FIRST occurrence (ordered by doc_id, then position), and documents
    are reassembled from their surviving passages.  This removes the
    boilerplate that document-level dedup cannot touch (headers, nav
    bars, license blocks repeated across distinct pages) — per doc:
    passage count, survivors, retained fraction, and the md5 of the
    reassembled text (the hash, not the text — driver outputs stay
    scalar and small).

    Scale shape: one explode (linear fan-out corpus -> passages), one
    keyed window on the passage hash for first-occurrence election
    (never a self-join — the hash partitions the shuffle), and one
    ordered re-aggregation per document.  Reassembly sorts each doc's
    surviving (idx, para) pairs with array_sort — NOT collect_list
    order, which is partition-nondeterministic."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr(_TOKENS).alias("toks"))
    paras = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(toks)/{_PARA_TOKS}.0) AS INT) - 1),"
                f" i -> concat_ws(' ', slice(toks, i*{_PARA_TOKS}+1, {_PARA_TOKS})))"
            )
        ).alias("idx", "para"),
    ).select("doc_id", F.col("idx").cast("long").alias("idx"), "para")
    w = Window.partitionBy(F.md5("para")).orderBy("doc_id", "idx")
    firsts = (
        paras.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "idx", "para")
    )
    totals = paras.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras"))
    kept = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct(idx, para))),"
                    " s -> s.para)"
                ),
            )
        ).alias("kept_md5"),
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (
            F.coalesce("n_kept", F.lit(0)) / F.col("n_paras")
        ).alias("retained_frac"),
        "kept_md5",
    )


# --------------------------------------------------------------------------
# IDF-weighted sparse cosine over shingle features (fixed point)
# --------------------------------------------------------------------------

_SPARSE_COS_THRESHOLD = 0.5


@register(
    "sparse_idf_cosine_pairs",
    oracle=_SHINGLE_CTE_SQL
    + f"""
    , n AS (SELECT COUNT(*) AS n_docs FROM documents),
    dfs AS (
        SELECT shingle, COUNT(*) AS df FROM shingle_rows GROUP BY shingle
    ),
    wrows AS (
        SELECT r.doc_id, r.shingle,
               CAST(round(n.n_docs * 100.0 / d.df) AS BIGINT) AS qw
        FROM shingle_rows r
        JOIN dfs d ON d.shingle = r.shingle
        CROSS JOIN n
        WHERE d.df <= {_MAX_SHINGLE_DF}
    ),
    norms_f AS (
        SELECT doc_id, CAST(SUM(qw * qw) AS BIGINT) AS nf
        FROM wrows GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.qw * b.qw) AS BIGINT) AS dotf
        FROM wrows a JOIN wrows b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.doc_a, d.doc_b,
           CAST(d.dotf AS DOUBLE) / (sqrt(CAST(na.nf AS DOUBLE))
               * sqrt(CAST(nb.nf AS DOUBLE))) AS cosine
    FROM dots d
    JOIN norms_f na ON na.doc_id = d.doc_a
    JOIN norms_f nb ON nb.doc_id = d.doc_b
    WHERE CAST(d.dotf AS DOUBLE) / (sqrt(CAST(na.nf AS DOUBLE))
               * sqrt(CAST(nb.nf AS DOUBLE))) >= {_SPARSE_COS_THRESHOLD}
    """,
)
def sparse_idf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SPARSE-vector similarity join: documents as IDF-weighted
    shingle vectors, pair cosine computed through the inverted index —
    the classic n-gram-TF-IDF near-dup scorer that sits between
    unweighted Jaccard (``dedup_ngram_jaccard``: every shingle equal)
    and dense-embedding cosine (``dedup_embedding_cosine``: no features
    at all).  Rare shingles dominate the score, so boilerplate overlap
    on common phrasing no longer inflates similarity.

    Scale shape: the df table is computed once and serves BOTH the
    ubiquity cap (df <= {_MAX_SHINGLE_DF}, preventing quadratic hot
    buckets) and the weights; pair scoring is the same capped
    inverted-index equi self-join as the Jaccard query; weights
    quantize to integer fixed point (round(100 * N/df)) so every
    cross-row sum is an exact BIGINT and the only floats are one
    sqrt+divide per surviving pair — bit-identical across engines."""
    d = load_table(spark, sf_dir, "documents")
    ds = _docs_with_shingles(spark, sf_dir)
    rows = ds.select("doc_id", F.explode("shingles").alias("shingle"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    dfs = rows.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # The weighted-rows relation feeds THREE consumers (norms and both
    # sides of the dot-product self-join); persisting it runs the
    # tokenize -> shingle -> df-join chain once instead of three times
    # (measured 2.7x at sf0.1: 2.7s -> 1.0s).  Same lifetime contract
    # as dedup_jaccard_prefix_filter's prefix relation: bench and the
    # test sweeps clearCache() after materializing each query.
    # DISK_ONLY: <= docs x capped-shingle rows (corpus-proportional).
    wrows = persist_corpus(
        rows.join(dfs, "shingle")
        .filter(F.col("df") <= _MAX_SHINGLE_DF)
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "shingle",
            F.round(F.col("n_docs") * 100.0 / F.col("df"))
            .cast("long")
            .alias("qw"),
        )
    )
    norms_f = wrows.groupBy("doc_id").agg(
        F.sum(F.col("qw") * F.col("qw")).alias("nf")
    )
    dots = (
        same_key_pairs(wrows, ["shingle"], "doc_id", payload=["qw"], strategy="join")
        .groupBy(
            F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b")
        )
        .agg(F.sum(F.col("qw_a") * F.col("qw_b")).alias("dotf"))
    )
    na = norms_f.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("na"))
    nb = norms_f.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nb"))
    cosine = F.col("dotf").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= _SPARSE_COS_THRESHOLD)
    )


# --------------------------------------------------------------------------
# Prefix-filtered set-similarity join (All-Pairs/PPJoin candidate pruning)
# --------------------------------------------------------------------------


@register(
    "dedup_jaccard_prefix_filter",
    oracle=_SHINGLE_CTE_SQL
    + """
    , pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingle_rows a JOIN shingle_rows b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST(p.n_common AS DOUBLE)
               / (sa.n_shingles + sb.n_shingles - p.n_common) AS jaccard
    FROM pairs p
    JOIN shingle_counts sa ON sa.doc_id = p.doc_a
    JOIN shingle_counts sb ON sb.doc_id = p.doc_b
    WHERE 5 * p.n_common >= 3 * (sa.n_shingles + sb.n_shingles - p.n_common)
    """,
)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard >= 3/5 pairs via PREFIX FILTERING (the
    All-Pairs / PPJoin candidate-pruning principle): order every
    document's shingle set by ascending corpus frequency, index only
    the first ``n - ceil(t*n) + 1`` (rarest) shingles, and generate a
    candidate pair only when two PREFIXES collide — provably LOSSLESS
    at threshold t (any pair with J >= t must share a prefix shingle
    under a common global order), which the oracle checks by computing
    the exact UNCAPPED inverted-index join and hash-comparing.

    This is the third candidate-generation strategy of the Jaccard
    family and its sharpest: ``dedup_ngram_jaccard`` indexes every
    (non-hot) shingle [O(sum |x|) index, DF-cap needed to bound hot
    buckets]; ``dedup_minhash_lsh`` is probabilistic [loses true pairs
    below the S-curve]; prefix filtering indexes only the (1-t)
    fraction of rarest shingles per doc — ubiquitous shingles never
    enter the index AT ALL (they are never in anyone's rare-first
    prefix), so hot buckets are structurally impossible rather than
    capped, and the filter is exact.

    All threshold tests run in INTEGER arithmetic (t = 3/5:
    ``5*c >= 3*(na+nb-c)``, ``ceil(3n/5) = (3n+4) div 5``) so prefix
    lengths and the final cut are bit-stable in both engines; the
    reported jaccard is one double division, identical expression tree.
    Length filter ``5*min(na,nb) >= 3*max(na,nb)`` prunes pairs whose
    sizes alone bound J below t before verification.

    r14 (guide §2.3/§2.4): the prefix derivation is JOIN-FREE — the
    per-doc set size is projected BEFORE the explode (the r13 form
    re-derived it as a separate counts frame and equi-joined it back),
    and the shingle document frequency is a count() window over the
    shingle key instead of a groupBy re-joined to the rows.  That
    removes two joins whose build sides were CORPUS-proportional
    broadcasts at scale (the full per-doc counts table and the entire
    shingle-DF vocabulary — the same hazard class the r13
    rrf_hybrid_generators fix retired); what remains is two exchanges
    of the narrow rows relation (shingle, then doc_id), both keyed
    aggregation-shaped.  Same-JVM A/B at sf0.1: 2.03 -> 1.21 s min
    (bench_runs/r14/ab_jaccard_noj.txt).  Candidates are the join
    strategy of ``operators/pairs.py``: the prefix index is far sparser
    than an LSH band table, and a residual hot shingle partition is
    split by AQE skew-join handling on the plain equi-join.
    """
    ds = _docs_with_shingles(spark, sf_dir).filter(F.size("shingles") > 0)
    rows = ds.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.explode("shingles").alias("shingle"),
    )
    wdf = Window.partitionBy("shingle")
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    # The prefix relation is (1-t)-fraction-of-shingles small and feeds
    # BOTH sides of the candidate self-join; persist it so the
    # df-computation + per-doc rank chain runs once, not twice.
    # DISK_ONLY: (1-t)-fraction of the doc x shingle relation
    # (corpus-proportional).
    prefix = persist_corpus(
        rows.withColumn("df", F.count(F.lit(1)).over(wdf))
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= F.expr("n - (3 * n + 4) div 5 + 1"))
        .select("doc_id", "n", "shingle")
    )
    cand = (
        same_key_pairs(prefix, ["shingle"], "doc_id", payload=["n"], strategy="join")
        .filter(
            (5 * F.col("n_a") >= 3 * F.col("n_b"))
            & (5 * F.col("n_b") >= 3 * F.col("n_a"))
        )
        .select(F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b"))
        .distinct()
    )
    sa = ds.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = ds.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    nc = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            nc.alias("nc"),
            F.size("sh_a").alias("na"),
            F.size("sh_b").alias("nb"),
        )
        .filter(5 * F.col("nc") >= 3 * (F.col("na") + F.col("nb") - F.col("nc")))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("nc").cast("double")
                / (F.col("na") + F.col("nb") - F.col("nc"))
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Two-phase distributed heavy hitters (local-threshold candidate pruning)
# --------------------------------------------------------------------------


@register(
    "heavy_hitters_two_phase",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' ')
                   AS s
        FROM toks, LATERAL unnest(range(1, greatest(len(t) - 1, 1))) AS g(i)
    ), tc AS (
        SELECT s, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs
        FROM sh GROUP BY s
    ), n AS (SELECT CAST(SUM(n_total) AS BIGINT) AS n FROM tc)
    SELECT s AS shingle, n_total, n_docs
    FROM tc
    WHERE n_total * 4000 >= (SELECT n FROM n)
    ORDER BY n_total DESC, shingle
    """,
)
def heavy_hitters_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed heavy hitters (word-3-gram shingles with global
    frequency >= N/4000) via the two-phase local-threshold scheme — the
    MapReduce classic the mergeable-sketch family (count-min, KMV, HLL)
    complements with exact output: phase 1 counts shingles per hash
    shard and keeps only shingles whose SHARD-LOCAL count clears
    N/(4000*P) (pigeonhole: a globally heavy shingle must be locally
    heavy in at least one of P shards, since its max shard count is
    >= c/P); phase 2 re-counts exactly ONLY the surviving candidates
    and applies the global threshold.

    The DuckDB oracle computes the heavy set DIRECTLY (one global
    count, no pruning), so the value-hash equality is a machine-checked
    proof that the candidate pruning is lossless — same verification
    pattern as ``dedup_jaccard_prefix_filter``.

    Scale shape: at 100 TB the full (shingle, count) relation is the
    bottleneck a naive groupBy ships through the shuffle; here phase 1's
    shard-local filter runs map-side-combinable per (shard, shingle)
    and discards the singleton tail BEFORE anything global happens, the
    candidate set (<= 4000*P shingles by construction) broadcasts, and
    phase 2's exact re-count shuffles only candidate rows.  P is fixed
    at 4 so the local threshold still prunes at test scale; production
    sets it to the executor-partition count (the guarantee holds for
    any P >= 1).  N itself folds from the phase-1 partials — no third
    scan."""
    n_shards = 4
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKENS).alias("t"))
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 3 THEN "
                "transform(sequence(1, size(t) - 2), "
                "          i -> concat_ws(' ', slice(t, i, 3))) "
                "ELSE slice(t, 1, 0) END"
            )
        ).alias("s"),
    )
    local = sh.groupBy(
        F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).alias("shard"), "s"
    ).agg(F.count(F.lit(1)).alias("cb"))
    ntot = local.agg(F.sum("cb").alias("n"))
    cands = (
        local.crossJoin(F.broadcast(ntot))
        .filter(F.col("cb") * (4000 * n_shards) >= F.col("n"))
        .select("s")
        .distinct()
    )
    exact = (
        sh.join(F.broadcast(cands), "s", "semi")
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
    return (
        exact.crossJoin(F.broadcast(ntot))
        .filter(F.col("n_total") * 4000 >= F.col("n"))
        .select(F.col("s").alias("shingle"), "n_total", "n_docs")
        .orderBy(F.desc("n_total"), "shingle")
    )


# --------------------------------------------------------------------------
# Priority sampling (weighted top-k sample with HT threshold estimator)
# --------------------------------------------------------------------------

# Deterministic uniform draw per document: the first FOUR md5 nibbles of
# the doc id as an integer h in [0, 65535]; u = (h + 1) / 65536 in (0, 1].
# priority = w / u = w * 65536 / (h + 1) — pure integer hash + one IEEE
# multiply/divide, so both engines compute bit-identical priorities (no
# transcendentals: the classic exp/log weighted-sampling formulations
# are NOT correctly rounded cross-engine, w/u is).
_PRIO_H_SPARK = (
    "(4096 * (instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1)"
    " + 256 * (instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 2, 1)) - 1)"
    " + 16 * (instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 3, 1)) - 1)"
    " + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 4, 1)) - 1))"
)
_PRIO_H_SQL = (
    "(4096 * (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)"
    " + 256 * (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)"
    " + 16 * (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1)"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1))"
)

_PRIO_K = 30  # sample size


@register(
    "priority_weighted_sample",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
               CAST(n_chars AS DOUBLE) * 65536.0 / (({_PRIO_H_SQL}) + 1)
                 AS priority
        FROM documents
    ), top_k1 AS (
        SELECT * FROM scored
        ORDER BY priority DESC, doc_id LIMIT {_PRIO_K + 1}
    ), tau AS (
        SELECT MIN(priority) AS tau FROM top_k1
    ), sel AS (
        SELECT * FROM top_k1 ORDER BY priority DESC, doc_id LIMIT {_PRIO_K}
    )
    SELECT s.doc_id, s.weight, s.priority,
           CASE WHEN s.weight > t.tau THEN s.weight ELSE t.tau END
             AS ht_est_weight
    FROM sel s CROSS JOIN tau t
    ORDER BY s.priority DESC, s.doc_id
    """,
)
def priority_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): a weighted-without-
    replacement sample of k documents where item i gets priority
    q_i = w_i / u_i (u_i a deterministic hash-uniform in (0,1]) and the
    k highest-priority items are kept — the one-pass, mergeable way to
    draw a weight-proportional sample at any scale, and the estimator
    the sample ships with is UNBIASED: with tau = the (k+1)-th priority,
    max(w_i, tau) estimates each item's weight contribution, so
    subset-sum queries over the sample are expectation-exact (the DLT
    result; variance is near-optimal among all k-sample schemes).
    Weight here = n_chars, the token-budget proxy a corpus sampler
    would actually use.

    Exactness discipline: u is an integer hash (first four md5 nibbles
    + 1, over 65536), so priority is one IEEE multiply + divide —
    bit-identical cross-engine with NO transcendentals (the exp/log
    Efraimidis-Spirakis key u^(1/w) is not reproducible across math
    libraries; w/u is).  The HT threshold is written as an explicit
    CASE, not greatest(), to dodge engine-specific NULL semantics.

    Scale shape: scoring is a pure projection on the scan; both the
    k+1 cut and the final k cut are TakeOrderedAndProject (per-partition
    heaps of k+1, driver merge of partition tops — no global sort, no
    shuffle of the corpus); tau is a 1-row broadcast.  Priorities are
    also mergeable across corpus shards: the top-(k+1) of a union is
    computable from per-shard top-(k+1)s, which is why DLT is the
    sampling primitive inside every distributed frequency/quantile
    sketch library.  Caveat (documented, not hit at any test SF): with
    n <= k the threshold degenerates and ht_est_weight over-reports;
    production callers should emit weight as-is when n <= k."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("weight"),
        (
            F.col("n_chars").cast("double")
            * F.lit(65536.0)
            / (F.expr(_PRIO_H_SPARK) + F.lit(1))
        ).alias("priority"),
    )
    top_k1 = scored.orderBy(F.col("priority").desc(), "doc_id").limit(
        _PRIO_K + 1
    )
    tau = top_k1.agg(F.min("priority").alias("tau"))
    sel = top_k1.orderBy(F.col("priority").desc(), "doc_id").limit(_PRIO_K)
    return (
        sel.crossJoin(F.broadcast(tau))
        .select(
            "doc_id",
            "weight",
            "priority",
            F.when(F.col("weight") > F.col("tau"), F.col("weight"))
            .otherwise(F.col("tau"))
            .alias("ht_est_weight"),
        )
        .orderBy(F.col("priority").desc(), "doc_id")
    )


# --------------------------------------------------------------------------
# AMS (Tug-of-War) sketch: second frequency moment F2 estimation
# --------------------------------------------------------------------------

_AMS_W = 64  # counters per estimator row
_AMS_D = 5   # estimator rows (median taken over these), sliced from
             # disjoint nibble ranges of ONE md5 per key: in the
             # random-oracle model disjoint bit ranges of a single hash
             # are independent, so one 128-bit md5 funds all 5 rows'
             # (bucket, sign) draws (15 of 32 nibbles used) -- 5x fewer
             # hash evaluations than one md5 per row, and each derived
             # expression stays small enough for whole-stage codegen
             # (the previous one-md5-per-row form inlined 15 full md5
             # trees into two CASE expressions; the generated method
             # blew past the JIT's huge-method limit and ran
             # interpreted: 6.9s -> 1.1s at sf0.1 for identical
             # estimator quality, most of the rest being the one
             # unavoidable md5+conv per key).


def _ams_nib(engine: str, p: int) -> str:
    """Nibble p (1-indexed) of the per-key hash.

    SQL side reads hex digit p of the md5 text ``h`` (strpos lookup);
    Spark side extracts the same digit from ``hv`` = the first 15
    nibbles of that md5 parsed as ONE 60-bit integer (conv once per
    row), via integer div/mod — 15 string slices per row replaced by
    15 register-math ops, identical values by construction."""
    if engine == "spark":
        return f"((hv div {16 ** (15 - p)}) % 16)"
    return f"(strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"


def _ams_bucket(engine: str, j: int) -> str:
    return (
        f"((16 * {_ams_nib(engine, 3 * j + 1)}"
        f" + {_ams_nib(engine, 3 * j + 2)}) % {_AMS_W})"
    )


def _ams_sign(engine: str, j: int) -> str:
    return (
        f"(CASE WHEN {_ams_nib(engine, 3 * j + 3)} % 2 = 0"
        f" THEN 1 ELSE -1 END)"
    )


@register(
    "sketch_ams_f2",
    oracle=f"""
    WITH h AS (
        SELECT md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem
    ), cells AS (
        {" UNION ALL ".join(
            f"SELECT {j} AS row_id, {_ams_bucket('sql', j)} AS bucket, "
            f"CAST(SUM({_ams_sign('sql', j)}) AS BIGINT) AS c "
            f"FROM h GROUP BY 2"
            for j in range(_AMS_D)
        )}
    ), est AS (
        SELECT row_id, CAST(SUM(c * c) AS BIGINT) AS f2_est
        FROM cells GROUP BY row_id
    ), med AS (
        SELECT f2_est AS median_f2_est FROM est
        ORDER BY f2_est LIMIT 1 OFFSET {_AMS_D // 2}
    ), exact AS (
        SELECT CAST(SUM(f * f) AS BIGINT) AS exact_f2
        FROM (SELECT COUNT(*) AS f FROM lineitem GROUP BY l_partkey)
    )
    SELECT e.row_id, e.f2_est, m.median_f2_est, x.exact_f2,
           CAST(m.median_f2_est AS DOUBLE) / x.exact_f2 AS median_ratio
    FROM est e CROSS JOIN med m CROSS JOIN exact x
    ORDER BY e.row_id
    """,
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS / Tug-of-War sketch for the second frequency moment
    F2 = sum over keys of (count^2) -- the self-join size of the part-key
    stream, THE statistic a query optimizer / skew planner wants without
    paying for a per-key aggregate.  Each of 5 estimator rows
    hashes every item to one of 64 counters and adds a hash-chosen
    +-1; sum(counter^2) is an unbiased F2 estimate (sign cross-terms
    cancel in expectation -- Alon-Matias-Szegedy '96), and the median
    over rows tames the variance.  The EXACT F2 rides along for the
    measured-accuracy discipline every sketch in this family follows.

    Exactness: the entire sketch is INTEGER arithmetic (md5-nibble
    buckets, +-1 signs, bigint squares) -- zero floats until the final
    single ratio division, so cross-engine parity is trivial rather
    than delicate.

    Scale shape (round-7 rewrite, commit fb5e93c, same-JVM shoot-out:
    1.02s -> 0.41s at sf0.1, value diff 0): because bucket and sign
    depend only on the KEY's hash, each cell counter equals
    sum over keys of f * sign — so the sketch is DERIVED from the
    per-key counts that the exact-F2 eval baseline already computes.
    One lineitem scan and one map-side-combined groupBy(l_partkey)
    fund BOTH outputs (Spark's ReuseExchange shares the shuffle across
    the two consumers — no persist needed, the persist variant
    measured 1.6x slower); md5+conv then run per DISTINCT key, not per
    row, and the 5x posexplode of PACKED small ints (bucket*2 +
    sign-bit — 2.6x cheaper than inline(array(struct...)), round-6
    measurement) fans out ~keys, not ~rows, before collapsing onto
    5 x 64 = 320 counters.  The counters stay mergeable across
    shards/streams by plain addition.  NOTE for a sketch-ONLY
    deployment (no exact baseline riding along): hash the raw stream
    into the 320 counters directly — that form never holds per-key
    state, which is the whole point of AMS when the key cardinality
    itself is the problem; here the baseline pays for the per-key
    aggregate anyway, so deriving the sketch from it is strictly
    cheaper."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    keys = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    hashed = keys.selectExpr(
        "f",
        "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 15),"
        " 16, 10) AS BIGINT) AS hv",
    )
    packs = ", ".join(
        f"({_ams_bucket('spark', j)} * 2 + ({_ams_nib('spark', 3 * j + 3)}"
        f" % 2))"
        for j in range(_AMS_D)
    )
    cells = (
        hashed.selectExpr(
            "f", f"posexplode(array({packs})) AS (row_id, p)"
        )
        .selectExpr(
            "row_id",
            "(p div 2) AS bucket",
            "CASE WHEN p % 2 = 0 THEN f ELSE -f END AS dc",
        )
        .groupBy("row_id", "bucket")
        .agg(F.sum("dc").alias("c"))
    )
    est = cells.groupBy("row_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("f2_est")
    )
    med = (
        est.orderBy("f2_est")
        .limit(_AMS_D // 2 + 1)
        .agg(F.max("f2_est").alias("median_f2_est"))
    )
    exact = keys.agg(F.sum(F.col("f") * F.col("f")).alias("exact_f2"))
    return (
        est.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(exact))
        .select(
            "row_id",
            "f2_est",
            "median_f2_est",
            "exact_f2",
            (
                F.col("median_f2_est").cast("double") / F.col("exact_f2")
            ).alias("median_ratio"),
        )
        .orderBy("row_id")
    )


# --------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic deduplication (Abbas et al. 2023,
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication").  Candidates are generated ONLY within coarse
# clusters — the published alternative to banded sign-LSH
# (dedup_embedding_cosine) when an IVF-style clustering already exists:
# pair cost drops from n^2 to sum(|cell|^2), and with k ~ sqrt(n) cells
# the per-cell work stays executor-sized at any corpus scale.
# Centroids reuse the IVF deterministic sample (vec_id % 125 == 7) so
# both engines agree without a kmeans dependency; production swaps in
# kmeans_lloyd_update centroids, broadcast the same way.
# --------------------------------------------------------------------------

_SEMDEDUP_TAU = _NEARDUP_THRESHOLD  # same near-dup regime as the LSH path

# Shared recall-eval pieces (semdedup %125/kfixed/ksqrt + banded LSH):
# ONE definition of the brute-force ground truth and of the
# n_true/n_captured/ppm report, so a change to either applies to every
# registered recall meter at once.
_RECALL_TRUTH_SQL = f"""truth AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    JOIN norms na ON na.vec_id = a.vec_id
    JOIN norms nb ON nb.vec_id = b.vec_id
    WHERE {_dot_sql("a.embedding", "b.embedding")} / (na.nrm * nb.nrm)
          >= {_SEMDEDUP_TAU}
)"""

_RECALL_SELECT_SQL = """
SELECT COUNT(*) AS n_true_pairs,
       COALESCE(CAST(SUM(captured) AS BIGINT), 0) AS n_captured_pairs,
       CASE WHEN COUNT(*) > 0
            THEN CAST(round(CAST(SUM(captured) AS DOUBLE) / COUNT(*)
                       * 1000000) AS BIGINT)
            ELSE 0 END AS recall_ppm
FROM flagged
"""

# ``flagged`` for an assignment-based eval: a true pair is captured iff
# both endpoints land in the same cell.
_RECALL_SAMECELL_FLAGGED_SQL = """flagged AS (
    SELECT CASE WHEN aa.cell = ab.cell THEN 1 ELSE 0 END AS captured
    FROM truth t
    JOIN assign aa ON aa.vec_id = t.id_a
    JOIN assign ab ON ab.vec_id = t.id_b
)"""


def _embedding_truth_pairs(e: DataFrame) -> DataFrame:
    """Brute-force exact-cosine ground truth (id_a, id_b) — the Spark
    twin of _RECALL_TRUTH_SQL.  Deliberately all-pairs: an eval
    harness sized for an eval slice, never a production path."""
    # r13 optimization (guide §2.3/§2.4): each side carries its norm
    # from its own projection (identical expression → identical
    # doubles) instead of two corpus self-joins against a norms frame.
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.expr(_norm_expr("embedding")).alias("nrm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.expr(_norm_expr("embedding")).alias("nrm_b"),
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(
            F.expr(_dot_expr("ea", "eb")) / (F.col("nrm_a") * F.col("nrm_b"))
            >= _SEMDEDUP_TAU
        )
        .select("id_a", "id_b")
    )


def _recall_report(flagged: DataFrame) -> DataFrame:
    """(n_true_pairs, n_captured_pairs, recall_ppm) from a frame with
    one 0/1 ``captured`` row per true pair — the _RECALL_SELECT_SQL
    twin."""
    cnt = F.count(F.lit(1))
    cap = F.coalesce(F.sum("captured"), F.lit(0)).cast("long")
    return flagged.agg(
        cnt.alias("n_true_pairs"),
        cap.alias("n_captured_pairs"),
        F.when(
            cnt > 0,
            F.round(cap.cast("double") / cnt * 1000000).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("recall_ppm"),
    )

_SEMDEDUP_ASSIGN_SQL = f"""
{_NORMS_SQL.strip()},
cents AS (
    SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
    WHERE vec_id % {_IVF_CENT_MOD} = {_IVF_CENT_REM}
),
ac AS (
    SELECT e.vec_id, c.cent_id,
           {_dot_sql("e.embedding", "c.ce")} / (nv.nrm * nc.nrm) AS cosine
    FROM embeddings e CROSS JOIN cents c
    JOIN norms nv ON nv.vec_id = e.vec_id
    JOIN norms nc ON nc.vec_id = c.cent_id
),
assign AS (
    SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY cosine DESC, cent_id) AS rn
        FROM ac
    ) WHERE rn = 1
)
"""


def _cents_arr(cents: DataFrame) -> DataFrame:
    """All centroids folded into ONE cent_id-ascending
    array<struct<cent_id, ce, nrm_c>> row for the map-side argmax —
    the same k-row payload the r13 form broadcast as a join hash
    relation, only the container changed."""
    return cents.agg(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "ce", "nrm_c"))
        ).alias("cents")
    )


def _map_assign(
    e: DataFrame, cents: DataFrame, cols=(), with_cosine: bool = False
) -> DataFrame:
    """(vec_id, *cols, cell[, cosine]): nearest-centroid assignment
    computed ENTIRELY map-side (r14, guide §2.4): the broadcast 1-row
    centroid array is folded per vector — cosine = ordered-fold
    dot / (|v||c|), the exact _SEMDEDUP_ASSIGN_SQL expression, with
    strict > over the cent_id-ascending scan reproducing the oracle
    window's (cosine DESC, cent_id ASC) row_number tie-break on
    identical doubles.  The r13 form exploded the corpus x k (crossJoin
    against the broadcast centroid TABLE) and shuffled ALL n x k cosine
    rows through a row_number window partitioned by vec_id — at
    k ~ sqrt(n) that exchange carries n^1.5 rows; this form shuffles
    nothing.  The per-vector norm is computed once, in the fold's zero
    element, so it is not re-evaluated per centroid."""
    expr = (
        "aggregate("
        f"transform(cents, c -> named_struct('cl', c.cent_id, "
        f"'nc', c.nrm_c, 'dt', {_dot_expr('embedding', 'c.ce')})), "
        "named_struct('cl', CAST(NULL AS BIGINT), "
        f"'cos', CAST(NULL AS DOUBLE), 'nv', {_norm_expr('embedding')}), "
        "(b, s) -> IF(b.cl IS NULL OR s.dt / (b.nv * s.nc) > b.cos, "
        "named_struct('cl', s.cl, 'cos', s.dt / (b.nv * s.nc), "
        "'nv', b.nv), b)"
        ")"
    )
    base = e.crossJoin(F.broadcast(_cents_arr(cents)))
    if not with_cosine:
        return base.select(
            "vec_id", *cols, F.expr(expr + ".cl").alias("cell")
        )
    # Alias the fold once (it is not collapse-cheap, so the optimizer
    # keeps one evaluation) and project both winner fields.
    return base.select(
        "vec_id", *cols, F.expr(expr).alias("bs")
    ).select(
        "vec_id",
        *cols,
        F.col("bs.cl").alias("cell"),
        F.col("bs.cos").alias("cosine"),
    )


def _mem_cols():
    """Wide-assign projection carried out of the map-side assignment
    by the cells/incremental/stream consumers: the member embedding and
    its norm (identical expression → identical doubles).  A function,
    not a constant: F.expr needs an active SparkContext."""
    return ("embedding", F.expr(_norm_expr("embedding")).alias("nrm"))


def _semdedup_assign(
    spark: SparkSession, sf_dir: str, cols=()
) -> tuple[DataFrame, DataFrame]:
    """(embeddings, assign) where assign = (vec_id, *cols, cell): every
    vector mapped to its nearest deterministic coarse centroid by exact
    cosine (ordered-double folds, bit-identical to
    _SEMDEDUP_ASSIGN_SQL).  ``cols`` lets consumers carry embedding /
    nrm / label straight out of the map-side pass instead of joining
    them back on vec_id afterwards (the assignment is a projection of
    the corpus scan, so every e column is available for free)."""
    e = load_table_parallel(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") % _IVF_CENT_MOD == _IVF_CENT_REM).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ce"),
        F.expr(_norm_expr("embedding")).alias("nrm_c"),
    )
    return e, _map_assign(e, cents, cols)


@register(
    "dedup_semdedup_cells",
    oracle=f"""
    WITH {_SEMDEDUP_ASSIGN_SQL.strip()},
    mem AS (
        SELECT a.cell, a.vec_id, e.embedding, n.nrm
        FROM assign a
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN norms n ON n.vec_id = a.vec_id
    ),
    pairs AS (
        SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
               {_dot_sql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
        FROM mem a JOIN mem b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    dropped AS (
        SELECT DISTINCT id_b AS vec_id FROM pairs WHERE cosine >= {_SEMDEDUP_TAU}
    )
    SELECT m.cell,
           COUNT(*) AS n_members,
           COUNT(d.vec_id) AS n_dropped,
           COUNT(*) - COUNT(d.vec_id) AS n_kept
    FROM mem m LEFT JOIN dropped d ON d.vec_id = m.vec_id
    GROUP BY m.cell
    ORDER BY m.cell
    """,
)
def dedup_semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: semantic dedup scoped to coarse clusters.  Assign every
    vector to its nearest centroid (broadcast, map-side), then score
    exact cosine ONLY between same-cell pairs and drop any vector with a
    lower-id same-cell neighbor at cosine >= tau (the deterministic
    min-id canonical-survivor rule, as in dedup_canonical_pick).
    Returns per-cell (n_members, n_dropped, n_kept) — integer columns,
    engine-exact.

    Scale shape vs dedup_embedding_cosine (banded LSH): no band tables
    and no candidate distinct — the ONLY wide shuffle is the equi-join
    on the cell key, and pair generation is sum(|cell|^2) bounded by the
    clustering granularity (k ~ sqrt(n) keeps cells executor-sized at
    100 TB; skewed mega-cells split under AQE skew-join handling).
    Generalizes the reference's content-hash dedup
    (reference:dedup_parquet.py — exact identity) to the semantic regime
    along the published cluster-scoped path."""
    _, assign = _semdedup_assign(spark, sf_dir, _mem_cols())
    return _semdedup_cells_report(assign)


def _semdedup_cells_report(assign: DataFrame) -> DataFrame:
    """Shared SemDeDup tail over any wide assign frame carrying
    (vec_id, embedding, nrm, cell): same-cell pairs >= tau, min-id
    canonical survivor, per-cell counts — used by both the %125-sample
    and the fixed-k assignments.  r14: the assignment is map-side, so
    embedding and nrm ride OUT of it directly — the r13 corpus
    equi-join that re-attached them on vec_id is gone."""
    # DISK_ONLY: corpus-proportional (vec_id, cell, embedding, nrm) —
    # read twice (both sides of the self-join) + once for the final
    # member count; the standard clearCache() per query releases it.
    mem = persist_corpus(
        assign.select("cell", "vec_id", "embedding", "nrm")
    )
    pairs = same_key_pairs(
        mem, ["cell"], "vec_id", payload=["embedding", "nrm"], strategy="join"
    )
    dropped = (
        pairs.select(
            "vec_id_b",
            (
                F.expr(_dot_expr("embedding_a", "embedding_b"))
                / (F.col("nrm_a") * F.col("nrm_b"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= _SEMDEDUP_TAU)
        .select(F.col("vec_id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        mem.select("cell", "vec_id")
        .join(dropped, "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("is_dropped").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("is_dropped")).alias("n_kept"),
        )
        .orderBy("cell")
    )


@register(
    "cell_label_purity",
    oracle=f"""
    WITH {_SEMDEDUP_ASSIGN_SQL.strip()},
    lab AS (
        SELECT a.cell, e.label, COUNT(*) AS c
        FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
        GROUP BY a.cell, e.label
    ),
    tot AS (SELECT cell, CAST(SUM(c) AS BIGINT) AS n_members FROM lab GROUP BY cell),
    top AS (
        SELECT cell, label AS majority_label, c AS majority_count FROM (
            SELECT cell, label, c,
                   row_number() OVER (PARTITION BY cell
                       ORDER BY c DESC, label) AS rn
            FROM lab
        ) WHERE rn = 1
    )
    SELECT t.cell, tot.n_members, t.majority_label, t.majority_count,
           CAST(round(CAST(t.majority_count AS DOUBLE) / tot.n_members
                      * 1000000) AS BIGINT) AS purity_ppm
    FROM top t JOIN tot ON tot.cell = t.cell
    ORDER BY t.cell
    """,
)
def cell_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation: majority-label purity per coarse
    cell (the standard external metric for a clustering used to drive
    cluster-balanced sampling or SemDeDup).  Purity is reported in
    fixed-point ppm (integer) so the cross-engine hash never touches a
    float division.

    Scale shape: the label histogram is one grouped aggregation on
    (cell, label) with map-side partials; the majority pick is a
    per-cell window over the k x labels histogram (k rows per group,
    never corpus rows).  The assignment itself is the broadcast
    map-side pass shared with dedup_semdedup_cells."""
    _, assign = _semdedup_assign(spark, sf_dir, ("label",))
    lab = (
        assign.groupBy("cell", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = lab.groupBy("cell").agg(F.sum("c").alias("n_members"))
    w = Window.partitionBy("cell").orderBy(F.col("c").desc(), F.col("label"))
    top = (
        lab.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cell",
            F.col("label").alias("majority_label"),
            F.col("c").alias("majority_count"),
        )
    )
    return (
        top.join(tot, "cell")
        .select(
            "cell",
            "n_members",
            "majority_label",
            "majority_count",
            F.round(
                F.col("majority_count").cast("double")
                / F.col("n_members")
                * 1000000
            )
            .cast("long")
            .alias("purity_ppm"),
        )
        .orderBy("cell")
    )


# Incremental tau is looser than the global 0.4: cross-slice (new-batch
# vs corpus) similarities on the synthetic embeddings run lower than
# within-corpus planted-cluster similarities, and 0.4 leaves ~1 dup at
# sf0.01 (vacuous as evidence).  0.35 marks 17 of the 50 batch vectors
# at sf0.01; production incremental dedup runs >= 0.9, as with the
# global form.
_SEMDEDUP_INC_TAU = 0.35


@register(
    "dedup_semdedup_incremental",
    oracle=f"""
    WITH {_SEMDEDUP_ASSIGN_SQL.strip()},
    mem AS (
        SELECT a.vec_id, a.cell, e.embedding, n.nrm,
               e.vec_id % 10 = 3 AS in_batch
        FROM assign a
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN norms n ON n.vec_id = a.vec_id
    ),
    dup AS (
        SELECT DISTINCT b.vec_id
        FROM mem b JOIN mem c ON b.cell = c.cell
                              AND b.in_batch AND NOT c.in_batch
        WHERE {_dot_sql("b.embedding", "c.embedding")} / (b.nrm * c.nrm)
              >= {_SEMDEDUP_INC_TAU}
    )
    SELECT m.cell,
           COUNT(*) AS n_batch,
           COUNT(d.vec_id) AS n_dup_vs_corpus,
           COUNT(*) - COUNT(d.vec_id) AS n_new
    FROM mem m LEFT JOIN dup d ON d.vec_id = m.vec_id
    WHERE m.in_batch
    GROUP BY m.cell
    ORDER BY m.cell
    """,
)
def dedup_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup: dedup an arriving batch (vec_id % 10 == 3,
    the same deterministic-slice convention as dedup_incremental_batch)
    against the existing corpus WITHOUT regenerating corpus-internal
    pairs.  Both sides are assigned to the shared coarse cells; a batch
    vector is a duplicate iff some same-cell CORPUS vector scores
    cosine >= tau.  Returns per-cell (n_batch, n_dup_vs_corpus, n_new).

    Scale shape — the semantic twin of ``dedup_incremental_batch``
    (MinHash band index): per-delta cost is batch x same-cell corpus
    members, linear in the delta for a fixed clustering; corpus x
    corpus is NEVER generated (the batch side of the pair join is
    filtered before the join, so the equi-join's left side is
    delta-sized).  At 100 TB the corpus-side cell index is the
    persisted artifact a scheduled ingest probes batch after batch."""
    _, assign = _semdedup_assign(spark, sf_dir, _mem_cols())
    # r14: embedding + nrm ride out of the map-side assignment — the
    # corpus equi-join that re-attached them on vec_id is gone.
    mem = assign.select(
        "cell",
        "vec_id",
        "embedding",
        "nrm",
        (F.col("vec_id") % 10 == 3).alias("in_batch"),
    )
    # DISK_ONLY: corpus-proportional, read twice (corpus side of the
    # probe + the final batch-side aggregation); clearCache() per query
    # releases it.  The batch side is re-derived from it by filter —
    # delta-sized rows only ever enter the join's left.
    mem = persist_corpus(mem)
    batch = mem.filter(F.col("in_batch")).select(
        "cell",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nrm_b"),
    )
    corpus = mem.filter(~F.col("in_batch")).select(
        F.col("cell").alias("cell_c"),
        F.col("embedding").alias("ec"),
        F.col("nrm").alias("nrm_c"),
    )
    dup = (
        batch.join(corpus, F.col("cell") == F.col("cell_c"))
        .select(
            "id_b",
            (
                F.expr(_dot_expr("eb", "ec")) / (F.col("nrm_b") * F.col("nrm_c"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= _SEMDEDUP_INC_TAU)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        mem.filter(F.col("in_batch"))
        .select("cell", "vec_id")
        .join(dup, "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.count("is_dup").alias("n_dup_vs_corpus"),
            (F.count(F.lit(1)) - F.count("is_dup")).alias("n_new"),
        )
        .orderBy("cell")
    )


@register(
    "semdedup_recall_eval",
    oracle=f"""
    WITH {_SEMDEDUP_ASSIGN_SQL.strip()},
    {_RECALL_TRUTH_SQL},
    {_RECALL_SAMECELL_FLAGGED_SQL}
    {_RECALL_SELECT_SQL}
    """,
)
def semdedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup coverage eval: what fraction of TRUE near-dup pairs
    (exact cosine >= tau over ALL pairs) land with both endpoints in
    the same coarse cell — i.e. are reachable by the cluster-scoped
    dedup at all?  Completes the eval symmetry the other candidate
    generators already have (dedup_lsh_recall_curve, phash_recall_eval,
    ann_ivf_recall): the known quality cost of cluster-scoped dedup is
    exactly the cross-cell pairs this measures (457627 ppm with the 4
    deterministic sample centroids at sf0.01 — the paper's remedy is
    more/better centroids or multi-probe assignment, both of which
    raise this number without changing the query's shape).

    Like phash_recall_eval, the ground truth is DELIBERATELY
    brute-force (broadcast all-pairs + exact cosine) — an EVAL harness
    sized for an eval slice, never the production dedup path; the
    production candidates come from dedup_semdedup_cells.  Output is a
    single row of integers (recall in fixed-point ppm)."""
    e, assign = _semdedup_assign(spark, sf_dir)
    return _semdedup_recall_report(e, assign)


def _semdedup_recall_report(e: DataFrame, assign: DataFrame) -> DataFrame:
    """Shared recall-eval tail over any (embeddings, assign) pair:
    brute-force exact-cosine ground truth vs same-cell capture."""
    truth = _embedding_truth_pairs(e)
    aa = assign.select(F.col("vec_id").alias("id_a"), F.col("cell").alias("cell_a"))
    ab = assign.select(F.col("vec_id").alias("id_b"), F.col("cell").alias("cell_b"))
    flagged = (
        truth.join(aa, "id_a")
        .join(ab, "id_b")
        .select(
            F.when(F.col("cell_a") == F.col("cell_b"), 1).otherwise(0).alias(
                "captured"
            )
        )
    )
    return _recall_report(flagged)


# --------------------------------------------------------------------------
# Fixed-k SemDeDup: the production centroid shape (k independent of n)
# --------------------------------------------------------------------------

# The %125-sample rule above makes CENTROID COUNT grow linearly with the
# corpus: assignment cost n x k becomes ~n^2/125 (quadratic) while the
# per-cell pair bound stays flat.  Production SemDeDup runs the OTHER
# side of that trade — k FIXED per deployment (kmeans centroids,
# broadcast), assignment exactly n x k (linear), per-cell pairs
# ~n^2/k growing as cells densify, recall ~flat as the corpus grows
# (semdedup_recall_eval_kfixed quantifies it).  Deployments size
# k ~ sqrt(n) to balance the two; BOTH registered shapes are the
# endpoints of that dial.  Centroids here are one Lloyd update from k
# deterministic seeds (vec_id < k) — the kmeans_lloyd_update iteration
# body as a subplan, exact via the same 1e-6 fixed-point member means,
# so both engines derive bit-identical centroid arrays without a
# kmeans dependency.
_SEMDEDUP_KFIXED_K = 16


def _semdedup_lloyd_assign_sql(seeds_sql: str, prefix: str = "") -> str:
    """The Lloyd-refined assignment CTE chain, parameterized by the
    seed-selection subquery (fixed k, sqrt-k, ...): seeds -> assign-0
    -> 1e-6 fixed-point per-dimension member means -> recombined
    centroid arrays -> final cosine argmax as ``assign``."""
    return f"""
{prefix}{_NORMS_SQL.strip()},
seeds AS ({seeds_sql}),
a0 AS (
    SELECT vec_id, cent_id AS cell FROM (
        SELECT e.vec_id, s.cent_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   {_dot_sql("e.embedding", "s.ce")} / (nv.nrm * ns.nrm)
                       DESC, s.cent_id) AS rn
        FROM embeddings e CROSS JOIN seeds s
        JOIN norms nv ON nv.vec_id = e.vec_id
        JOIN norms ns ON ns.vec_id = s.cent_id
    ) WHERE rn = 1
),
mdim AS (
    SELECT a.cell, CAST(u.d AS INT) AS dim,
           CAST(round(CAST(e.embedding[u.d] AS DOUBLE) * 1000000)
                AS BIGINT) AS val
    FROM a0 a JOIN embeddings e ON e.vec_id = a.vec_id,
    UNNEST(generate_series(1, len(e.embedding))) AS u(d)
),
upd AS (
    SELECT cell, CAST(SUM(val) AS DOUBLE) / 1000000.0 / COUNT(*) AS cv, dim
    FROM mdim GROUP BY cell, dim
),
kc AS (
    SELECT cell AS cent_id, list(cv ORDER BY dim) AS ce
    FROM upd GROUP BY cell
),
kcn AS (SELECT cent_id, ce, {_norm_sql("ce")} AS nrm_c FROM kc),
assign AS (
    SELECT vec_id, cent_id AS cell FROM (
        SELECT e.vec_id, k.cent_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   {_dot_sql("e.embedding", "k.ce")} / (nv.nrm * k.nrm_c)
                       DESC, k.cent_id) AS rn
        FROM embeddings e CROSS JOIN kcn k
        JOIN norms nv ON nv.vec_id = e.vec_id
    ) WHERE rn = 1
)
"""


_SEMDEDUP_KFIXED_ASSIGN_SQL = _semdedup_lloyd_assign_sql(
    "SELECT vec_id AS cent_id, embedding AS ce FROM embeddings"
    f" WHERE vec_id < {_SEMDEDUP_KFIXED_K}"
)

# k ~ sqrt(n): the BALANCED setting of the k dial deployments actually
# run — assignment n x sqrt(n) and same-cell pairs ~n x sqrt(n), both
# n^1.5 (between the sample rule's quadratic assignment and fixed k's
# quadratic pairs).  k is derived engine-side from one COUNT(*)
# (IEEE sqrt + ceil are correctly rounded in both engines, so the seed
# set is identical), broadcast as a 1-row kcfg.
_SEMDEDUP_KSQRT_ASSIGN_SQL = _semdedup_lloyd_assign_sql(
    "SELECT vec_id AS cent_id, embedding AS ce FROM embeddings"
    " WHERE vec_id < (SELECT kk FROM kcfg)",
    prefix=(
        "kcfg AS (SELECT CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE)))"
        " AS BIGINT) AS kk FROM embeddings),\n"
    ),
)


def _semdedup_lloyd_assign(
    spark: SparkSession, sf_dir: str, seeds_of, cols=()
) -> tuple[DataFrame, DataFrame]:
    """(embeddings, assign) under Lloyd-refined seed centroids:
    ``seeds_of(e)`` picks the seed rows (cent_id, ce, nrm_c), one exact
    Lloyd update recomputes each centroid as the 1e-6 fixed-point
    per-dimension member mean (the kmeans_lloyd_update body), then
    every vector is assigned to its nearest updated centroid by
    cosine.  Bit-identical to the SQL produced by
    _semdedup_lloyd_assign_sql for the matching seed predicate.

    Scale shape (r14): BOTH assignment passes are the zero-shuffle
    map-side argmax fold (_map_assign) — the r13 n x k crossJoin +
    row_number window pair is gone, and the seed pass carries the
    member embedding out directly, so the Lloyd update's join back on
    vec_id is gone too.  The update itself stays one keyed (cell, dim)
    aggregate with map-side partials and a k x dims regroup — nothing
    grows super-linearly in the corpus beyond the chosen k(n)."""
    e = load_table_parallel(spark, sf_dir, "embeddings")
    seeds = seeds_of(e)
    a0 = _map_assign(e, seeds, ("embedding",))
    upd = (
        a0.select("cell", F.posexplode("embedding").alias("pos", "v"))
        .select(
            "cell",
            (F.col("pos") + 1).cast("int").alias("dim"),
            F.round(F.col("v").cast("double") * 1000000)
            .cast("long")
            .alias("val"),
        )
        .groupBy("cell", "dim")
        .agg(
            (
                F.sum("val").cast("double") / 1000000.0 / F.count(F.lit(1))
            ).alias("cv")
        )
    )
    kc = (
        upd.groupBy("cell")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, cv))),"
                " s -> s.cv)"
            ).alias("ce")
        )
        .select(
            F.col("cell").alias("cent_id"),
            "ce",
            F.expr(_norm_expr("ce")).alias("nrm_c"),
        )
    )
    return e, _map_assign(e, kc, cols)


def _seed_cols(seeds: DataFrame) -> DataFrame:
    return seeds.select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ce"),
        F.expr(_norm_expr("embedding")).alias("nrm_c"),
    )


def _semdedup_assign_kfixed(
    spark: SparkSession, sf_dir: str, cols=()
) -> tuple[DataFrame, DataFrame]:
    return _semdedup_lloyd_assign(
        spark,
        sf_dir,
        lambda e: _seed_cols(e.filter(F.col("vec_id") < _SEMDEDUP_KFIXED_K)),
        cols,
    )


def _semdedup_assign_ksqrt(
    spark: SparkSession, sf_dir: str, cols=()
) -> tuple[DataFrame, DataFrame]:
    def seeds_of(e: DataFrame) -> DataFrame:
        kcfg = e.agg(
            F.ceil(F.sqrt(F.count(F.lit(1)).cast("double")))
            .cast("bigint")
            .alias("kk")
        )
        return _seed_cols(
            e.crossJoin(F.broadcast(kcfg)).filter(F.col("vec_id") < F.col("kk"))
        )

    return _semdedup_lloyd_assign(spark, sf_dir, seeds_of, cols)


@register(
    "dedup_semdedup_cells_kfixed",
    oracle=f"""
    WITH {_SEMDEDUP_KFIXED_ASSIGN_SQL.strip()},
    mem AS (
        SELECT a.cell, a.vec_id, e.embedding, n.nrm
        FROM assign a
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN norms n ON n.vec_id = a.vec_id
    ),
    pairs AS (
        SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
               {_dot_sql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
        FROM mem a JOIN mem b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    dropped AS (
        SELECT DISTINCT id_b AS vec_id FROM pairs WHERE cosine >= {_SEMDEDUP_TAU}
    )
    SELECT m.cell,
           COUNT(*) AS n_members,
           COUNT(d.vec_id) AS n_dropped,
           COUNT(*) - COUNT(d.vec_id) AS n_kept
    FROM mem m LEFT JOIN dropped d ON d.vec_id = m.vec_id
    GROUP BY m.cell
    ORDER BY m.cell
    """,
)
def dedup_semdedup_cells_kfixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup under the PRODUCTION centroid shape: k fixed at
    {k} (corpus-size-independent — one Lloyd update from k
    deterministic seeds, see _SEMDEDUP_KFIXED_ASSIGN_SQL), where
    ``dedup_semdedup_cells`` uses the %125 deterministic sample whose
    centroid count grows with the corpus.  Same tail: same-cell exact
    cosine >= tau, min-id survivor, per-cell counts.

    The two registered forms are the endpoints of the k dial the
    docstrings narrate: fixed k keeps assignment exactly n x k (linear,
    broadcast centroids) while per-cell pairs densify as ~n^2/k;
    the growing-k sample keeps cells ~constant-sized (pairs linear)
    while assignment densifies.  Deployments pick k ~ sqrt(n); the
    recall side of the same trade is measured by
    semdedup_recall_eval (fixed cells -> recall decays with corpus
    growth) vs semdedup_recall_eval_kfixed (recall ~flat)."""
    _, assign = _semdedup_assign_kfixed(spark, sf_dir, _mem_cols())
    return _semdedup_cells_report(assign)


dedup_semdedup_cells_kfixed.__doc__ = dedup_semdedup_cells_kfixed.__doc__.replace(
    "{k}", str(_SEMDEDUP_KFIXED_K)
)


@register(
    "semdedup_recall_eval_kfixed",
    oracle=f"""
    WITH {_SEMDEDUP_KFIXED_ASSIGN_SQL.strip()},
    {_RECALL_TRUTH_SQL},
    {_RECALL_SAMECELL_FLAGGED_SQL}
    {_RECALL_SELECT_SQL}
    """,
)
def semdedup_recall_eval_kfixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall half of the fixed-k trade: what fraction of TRUE
    near-dup pairs land same-cell under the k={k} Lloyd-updated
    centroids.  Together with ``semdedup_recall_eval`` (%125 sample)
    this turns the k dial's quality cost into two measured numbers:
    fixed k holds recall ~FLAT as the corpus grows (cells densify, so
    true neighbors stay together) — measured 257576 / 237288 / 244565
    ppm across sf0.001/0.01/0.1 — where the fixed-SAMPLE rule's recall
    decays (more, smaller cells split neighborhoods: 457627 ppm at
    sf0.01 -> 194565 at sf0.1).  Same deliberately brute-force ground
    truth as the sibling eval — an eval harness, never the production
    path."""
    e, assign = _semdedup_assign_kfixed(spark, sf_dir)
    return _semdedup_recall_report(e, assign)


semdedup_recall_eval_kfixed.__doc__ = semdedup_recall_eval_kfixed.__doc__.replace(
    "{k}", str(_SEMDEDUP_KFIXED_K)
)


# --------------------------------------------------------------------------
# Banded-LSH recall eval (the adaptive-width generator's quality half)
# --------------------------------------------------------------------------


# ``flagged`` for a banded-LSH eval: a true pair is captured iff it is
# a same-band candidate (downstream of any ``bands`` CTE + truth).
_RECALL_BANDED_FLAGGED_SQL = """cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.vec_id < b.vec_id
    ),
    flagged AS (
        SELECT CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS captured
        FROM truth t
        LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
    )"""


def _lsh_recall_from_bands(e: DataFrame, bands: DataFrame) -> DataFrame:
    """Spark twin of truth + _RECALL_BANDED_FLAGGED_SQL +
    _RECALL_SELECT_SQL over any band-row generator.  The band rows
    carry ``nrm`` for the dedup path; here it is unused and Catalyst's
    column pruning drops its fold from the physical plan — only the
    ORACLE recomputes norms for the truth CTE (eval-harness cost)."""
    truth = _embedding_truth_pairs(e)
    cand = (
        same_key_pairs(bands, ["band_id", "band_key"], "vec_id", strategy="join")
        .select(F.col("vec_id_a").alias("id_a"), F.col("vec_id_b").alias("id_b"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    flagged = truth.join(cand, ["id_a", "id_b"], "left").select(
        F.when(F.col("hit").isNotNull(), 1).otherwise(0).alias("captured")
    )
    return _recall_report(flagged)


@register(
    "embedding_lsh_recall_eval",
    oracle=f"""
    WITH cfg AS ({_NEARDUP_CFG_SQL}),
    {_NORMS_SQL.strip()},
    {_NEARDUP_BANDS_SQL},
    {_RECALL_TRUTH_SQL},
    {_RECALL_BANDED_FLAGGED_SQL}
    {_RECALL_SELECT_SQL}
    """,
)
def embedding_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall of the corpus-adaptive banded sign-LSH: the
    fraction of TRUE near-dup pairs (exact cosine >= tau over all
    pairs) that collide in at least one band under the SAME adaptive
    width ``dedup_embedding_cosine`` uses.  The round-11 width fix
    bought ~linear candidate growth by widening bands as the corpus
    grows — wider bands lower per-band collision probability (p^bits),
    so the recall cost of that trade must be a measured number, not an
    assumption: 439394 / 389831 / 161957 ppm at sf0.001/0.01/0.1
    (bits 5/5/7; this synthetic corpus's true pairs sit at ~0.4-0.5
    cosine where the per-bit collision probability is only ~0.57 —
    production near-dup at >= 0.9 cosine has ~0.85/bit, so the same
    widths hold far higher recall).  Holding recall FLAT while the
    width grows means growing the BAND COUNT alongside
    (recall ~ 1-(1-p^bits)^bands) — cost linear in bands, the standard
    LSH dial.  Completes the eval symmetry for the LAST candidate
    generator without one (MinHash: dedup_lsh_recall_curve; phash:
    phash_recall_eval; IVF: ann_ivf_recall; SemDeDup:
    semdedup_recall_eval/_kfixed).

    Like its siblings, the ground truth is DELIBERATELY brute-force
    (broadcast all-pairs exact cosine) — an eval harness sized for an
    eval slice, never the production path.  Single row of integers
    (fixed-point ppm)."""
    raw = load_table(spark, sf_dir, "embeddings")
    e = load_table_parallel(spark, sf_dir, "embeddings")
    return _lsh_recall_from_bands(e, _neardup_band_rows(e, raw))


# --------------------------------------------------------------------------
# sqrt-k SemDeDup: the balanced setting of the k dial
# --------------------------------------------------------------------------


@register(
    "dedup_semdedup_cells_ksqrt",
    oracle=f"""
    WITH {_SEMDEDUP_KSQRT_ASSIGN_SQL.strip()},
    mem AS (
        SELECT a.cell, a.vec_id, e.embedding, n.nrm
        FROM assign a
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN norms n ON n.vec_id = a.vec_id
    ),
    pairs AS (
        SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
               {_dot_sql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
        FROM mem a JOIN mem b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    dropped AS (
        SELECT DISTINCT id_b AS vec_id FROM pairs WHERE cosine >= {_SEMDEDUP_TAU}
    )
    SELECT m.cell,
           COUNT(*) AS n_members,
           COUNT(d.vec_id) AS n_dropped,
           COUNT(*) - COUNT(d.vec_id) AS n_kept
    FROM mem m LEFT JOIN dropped d ON d.vec_id = m.vec_id
    GROUP BY m.cell
    ORDER BY m.cell
    """,
)
def dedup_semdedup_cells_ksqrt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the BALANCED k-dial setting deployments actually
    run: k = ceil(sqrt(n)), derived engine-side from one COUNT(*)
    (IEEE sqrt/ceil are correctly rounded, so both engines pick the
    identical seed set) and refined by the same one-Lloyd-update body
    as the fixed-k form.  Completes the dial's three registered
    settings: %125 sample (k ~ n/125 — linear pairs, quadratic
    assignment), fixed k (linear assignment, quadratic pairs), and
    this sqrt point where BOTH terms are ~n^1.5 — the shape whose
    total cost curve is minimal for uniform cells, and the concrete
    answer to "what does production set k to?" as a checked query
    rather than a docstring sentence.  Same tail as the siblings:
    same-cell exact cosine >= tau, min-id survivor, per-cell counts."""
    _, assign = _semdedup_assign_ksqrt(spark, sf_dir, _mem_cols())
    return _semdedup_cells_report(assign)


@register(
    "semdedup_recall_eval_ksqrt",
    oracle=f"""
    WITH {_SEMDEDUP_KSQRT_ASSIGN_SQL.strip()},
    {_RECALL_TRUTH_SQL},
    {_RECALL_SAMECELL_FLAGGED_SQL}
    {_RECALL_SELECT_SQL}
    """,
)
def semdedup_recall_eval_ksqrt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall at the sqrt-k dial setting — the third point on the
    recall curve next to semdedup_recall_eval (%125 sample) and
    semdedup_recall_eval_kfixed (k=16): as the corpus grows, sqrt-k
    grows the cell count as sqrt(n), so recall sits between the
    sample rule's decay and fixed-k's flatness while BOTH cost terms
    stay ~n^1.5 — measured 186441 ppm at sf0.01 -> 176087 at sf0.1
    (~flat), vs the sample rule's 457627 -> 194565 decay and fixed-k's
    237288 -> 244565.  Same deliberately brute-force ground truth as
    its siblings — an eval harness, never the production path."""
    e, assign = _semdedup_assign_ksqrt(spark, sf_dir)
    return _semdedup_recall_report(e, assign)


# --------------------------------------------------------------------------
# Hashed-hyperplane banded LSH: the beyond-the-coordinate-budget form
# --------------------------------------------------------------------------

# The coordinate-sign generator above spends raw dimensions on key
# bits: 4 disjoint bands x <=16 bits exhausts a 64-dim embedding, so
# past 2^16 x 16 ~ 1M vectors the width clamp binds and bucket
# occupancy starts growing again.  The standard fix is HASHED
# HYPERPLANES — each key bit is the sign of the dot product with a
# fixed Rademacher (+-1) vector, so the key space is unbounded by the
# dimension.  The +-1 matrix is derived from md5 in PYTHON at import
# time (engine-independent by construction) and embedded as literal
# arrays in BOTH dialects: zero per-row hashing, the projections are
# plain fused multiply-add folds over literals.
_PROJ_MAX_BITS = 24  # cap well past the coordinate budget; 4 bands
_PROJ_DIM = 64


def _proj_sign_matrix() -> list[list[int]]:
    import hashlib

    mats = []
    for j in range(_NEARDUP_BANDS * _PROJ_MAX_BITS):
        row = []
        for d in range(_PROJ_DIM):
            h = hashlib.md5(f"hyperplane-{j}-{d}".encode()).hexdigest()
            row.append(1 if h[0] in "01234567" else -1)
        mats.append(row)
    return mats


_PROJ_SIGNS = _proj_sign_matrix()

_PROJ_CFG_SQL = _adaptive_bits_cfg_sql(_PROJ_MAX_BITS)

_PROJ_SMAT_SQL = (
    "["
    + ", ".join("[" + ", ".join(str(s) for s in row) + "]" for row in _PROJ_SIGNS)
    + "]"
)

_PROJ_SMAT_SPARK = (
    "array("
    + ", ".join(
        "array(" + ", ".join(str(s) for s in row) + ")" for row in _PROJ_SIGNS
    )
    + ")"
)

# Per-row hyperplane projections for the 4*bits needed hyperplanes:
# the fold multiplies each float coordinate by the matching +-1 literal
# in array order — IEEE-identical across engines.
_PROJ_ROWS_SQL = f"""projs AS (
        SELECT e.vec_id, {_norm_sql("e.embedding")} AS nrm,
               list_transform(range(0, {_NEARDUP_BANDS} * c.bits), j ->
                   list_reduce(list_transform(
                       list_zip(e.embedding, m.S[j + 1]),
                       z -> CAST(z[1] AS DOUBLE) * z[2]),
                     (acc, v) -> acc + v)) AS pj
        FROM embeddings e CROSS JOIN cfg c CROSS JOIN smat m
    )"""

_PROJ_BANDS_SQL = (
    "bands AS ("
    + " UNION ALL ".join(
        f"SELECT p.vec_id, p.nrm, {g} AS band_id,"
        f" {_band_key_sql(g, 'p.pj')} AS band_key"
        f" FROM projs p CROSS JOIN cfg c"
        for g in range(_NEARDUP_BANDS)
    )
    + ")"
)


def _proj_band_rows(e: DataFrame, cfg_src: DataFrame | None = None) -> DataFrame:
    """(vec_id, nrm, band_id, band_key) under hashed-hyperplane sign
    bits with the corpus-adaptive width capped at _PROJ_MAX_BITS —
    exact twin of cfg + _PROJ_ROWS_SQL + _PROJ_BANDS_SQL.  ``cfg_src``
    as in _neardup_band_rows."""
    cfg = _adaptive_bits_cfg(cfg_src if cfg_src is not None else e, _PROJ_MAX_BITS)
    projs = e.crossJoin(F.broadcast(cfg)).select(
        "vec_id",
        "bits",
        F.expr(_norm_expr("embedding")).alias("nrm"),
        F.expr(
            f"transform(sequence(0, {_NEARDUP_BANDS} * bits - 1), j -> "
            f"aggregate(zip_with(embedding, "
            f"element_at({_PROJ_SMAT_SPARK}, j + 1), "
            f"(x, s) -> CAST(x AS DOUBLE) * s), "
            f"CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
        ).alias("pj"),
    )

    return (
        projs.select(
            "vec_id",
            "nrm",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(g).alias("band_id"),
                            F.expr(_band_key_spark(g, "pj")).alias("band_key"),
                        )
                        for g in range(_NEARDUP_BANDS)
                    ]
                )
            ).alias("b"),
        )
        .select("vec_id", "nrm", "b.band_id", "b.band_key")
    )


@register(
    "dedup_embedding_cosine_projected",
    oracle=f"""
    WITH cfg AS ({_PROJ_CFG_SQL}),
    smat AS (SELECT {_PROJ_SMAT_SQL} AS S),
    {_PROJ_ROWS_SQL},
    {_PROJ_BANDS_SQL},
    {_NEARDUP_PAIRS_TAIL_SQL}
    """,
)
def dedup_embedding_cosine_projected(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-cosine near-dup pairs under HASHED-HYPERPLANE banded
    LSH — the beyond-1M-vectors form the coordinate-sign query's
    docstring prescribes, registered as a checked query instead of
    prose: each key bit is the sign of a dot product with a fixed
    md5-derived Rademacher vector (literal +-1 arrays, identical in
    both engines), so the adaptive band width is no longer capped by
    the embedding dimension (bits <= 24 here vs 16 for 4 disjoint
    coordinate bands on 64 dims).  Same adaptive rule
    (2^bits ~ n/16), same norms-on-band-rows confirm tail
    (_neardup_pairs_from_bands), same exact-cosine threshold.

    Cost shape: the projections are 4 x bits
    fused-multiply-add folds over literal arrays per row — map-side,
    zero per-row hashing, ~bits/16 x the coordinate form's key cost —
    and the candidate join is unchanged.  At dimensions or corpus
    sizes where the coordinate budget binds, this is the drop-in
    replacement; recall characteristics are the same sign-LSH
    1-(1-p^bits)^bands curve (the projected hyperplanes are
    data-independent, like the coordinate axes)."""
    raw = load_table(spark, sf_dir, "embeddings")
    e = load_table_parallel(spark, sf_dir, "embeddings")
    # The shared tail persists the band rows, so the hashed-hyperplane
    # fold — 4 x bits FMA folds per row — is warm for a catalog re-run
    # (pre-tail persist 1.24 vs 1.38 s at sf0.1, OPTIMIZATION_r13.md;
    # shared-tail form 0.659 -> 0.474 s min-of-2,
    # bench_runs/r14/ab_cosine_band_persist.txt).
    return _neardup_pairs_from_bands(raw, _proj_band_rows(e, raw))


@register(
    "embedding_lsh_projected_recall_eval",
    oracle=f"""
    WITH cfg AS ({_PROJ_CFG_SQL}),
    smat AS (SELECT {_PROJ_SMAT_SQL} AS S),
    {_NORMS_SQL.strip()},
    {_PROJ_ROWS_SQL},
    {_PROJ_BANDS_SQL},
    {_RECALL_TRUTH_SQL},
    {_RECALL_BANDED_FLAGGED_SQL}
    {_RECALL_SELECT_SQL}
    """,
)
def embedding_lsh_projected_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Candidate recall of the hashed-hyperplane banded LSH
    (``dedup_embedding_cosine_projected``) — the projected generator's
    own meter, so every registered candidate generator keeps a
    measured recall next to its measured cost.  Same shared
    brute-force ground truth, same report shape as
    ``embedding_lsh_recall_eval``; the two meters together confirm the
    docstring's claim that data-independent hashed hyperplanes sit on
    the same sign-LSH recall curve as raw coordinate axes at equal
    width/band settings — measured 318182 / 355932 / 154348 ppm at
    sf0.001/0.01/0.1 vs the coordinate meter's 439394 / 389831 /
    161957."""
    raw = load_table(spark, sf_dir, "embeddings")
    e = load_table_parallel(spark, sf_dir, "embeddings")
    return _lsh_recall_from_bands(e, _proj_band_rows(e, raw))


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken robust winnowing)
# --------------------------------------------------------------------------

# Char k-gram length and winnowing window: every substring match of
# length >= _WINNOW_K + _WINNOW_W - 1 is GUARANTEED to share at least
# one selected fingerprint (the winnowing guarantee), while expected
# selections are ~2/(w+1) of positions — the fingerprint set is ~4x
# smaller than the full k-gram hash set at these settings.
_WINNOW_K = 20
_WINNOW_W = 12
# Inverted-index document-frequency cap (same device as
# dedup_ngram_jaccard): a fingerprint shared by more than this many
# documents is boilerplate, not evidence, and joining through it would
# densify the candidate join quadratically in its bucket size.
_WINNOW_DF_CAP = 20
_WINNOW_MIN_SHARED = 2

_WINNOW_HS = f"""
CASE WHEN length(text) < {_WINNOW_K} THEN CAST(array() AS ARRAY<STRING>)
ELSE transform(sequence(1, length(text) - {_WINNOW_K - 1}),
               i -> md5(substring(text, i, {_WINNOW_K}))) END
"""

# Window minima: ties inside a window pick the same HASH either way, and
# the fingerprint is the hash VALUE (positions are not reported), so the
# rightmost-tie rule of the paper is value-irrelevant here.  Documents
# shorter than one full window still emit their global minimum — the
# guarantee degrades gracefully instead of dropping short docs.
_WINNOW_FPS = f"""
CASE WHEN size(hs) = 0 THEN CAST(array() AS ARRAY<STRING>)
WHEN size(hs) < {_WINNOW_W} THEN array(array_min(hs))
ELSE array_distinct(transform(sequence(1, size(hs) - {_WINNOW_W - 1}),
                              j -> array_min(slice(hs, j, {_WINNOW_W})))) END
"""

_WINNOW_HS_SQL = f"""
CASE WHEN length(text) < {_WINNOW_K} THEN CAST([] AS VARCHAR[])
ELSE list_transform(generate_series(1, length(text) - {_WINNOW_K - 1}),
                    i -> md5(substr(text, i, {_WINNOW_K}))) END
"""

_WINNOW_FPS_SQL = f"""
CASE WHEN len(hs) = 0 THEN CAST([] AS VARCHAR[])
WHEN len(hs) < {_WINNOW_W} THEN [list_min(hs)]
ELSE list_distinct(list_transform(generate_series(1, len(hs) - {_WINNOW_W - 1}),
                                  j -> list_min(list_slice(hs, j, j + {_WINNOW_W - 1})))) END
"""


# ONE definition of the full selection -> DF-cap -> pair chain, shared
# by the dedup query and its recall meter (the hrows/frows CTEs are
# MATERIALIZED: DuckDB otherwise inlines the k-gram hash array into the
# per-window list_min, re-hashing per position — measured 22 s -> 3.3 s
# at sf0.001).
_WINNOW_PAIRS_CTE_SQL = f"""d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
    hrows AS MATERIALIZED (SELECT doc_id, {_WINNOW_HS_SQL} AS hs FROM d),
    frows AS MATERIALIZED (SELECT doc_id, {_WINNOW_FPS_SQL} AS fps FROM hrows),
    fp_rows AS (SELECT doc_id, unnest(fps) AS fp FROM frows),
    kept AS (
        SELECT fp FROM fp_rows GROUP BY fp
        HAVING COUNT(*) BETWEEN 2 AND {_WINNOW_DF_CAP}
    ),
    krows AS (SELECT r.doc_id, r.fp FROM fp_rows r JOIN kept k ON k.fp = r.fp),
    wpairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM krows a JOIN krows b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
    )"""


def _winnowing_pair_frame(
    spark: SparkSession,
    sf_dir: str,
    df_cap: int = _WINNOW_DF_CAP,
    min_shared: int = _WINNOW_MIN_SHARED,
) -> DataFrame:
    """(doc_a, doc_b, n_shared) winnowing candidate pairs — the exact
    Spark twin of _WINNOW_PAIRS_CTE_SQL, shared by the dedup query and
    its recall meter.  ``df_cap`` is overridable ONLY for the
    recall/cost trade harness (tools/winnow_cap_trade.py); registered
    queries always run the module default so both engines agree."""
    d = load_table_parallel(spark, sf_dir, "documents")
    # persist_corpus is a COLLAPSE BARRIER first and a reuse cache
    # second: without it, Project-collapse inlines the hs array into
    # the explode's generator chain, re-hashing the full k-gram array
    # once PER WINDOW POSITION — O(len * w) md5 calls per document
    # (measured ~80x wall on this query).
    fps = persist_corpus(
        d.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        .select("doc_id", F.expr(_WINNOW_HS).alias("hs"))
        .select("doc_id", F.expr(_WINNOW_FPS).alias("fps"))
    )
    fp_rows = fps.select("doc_id", F.explode("fps").alias("fp"))
    # The DF cap is a count() window over the same fp key the pair
    # fan-out groups on, so the fp stream crosses one exchange, and it
    # bounds every surviving bucket at df_cap docs before the collect.
    kept = fp_rows.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    ).filter((F.col("df") >= 2) & (F.col("df") <= df_cap))
    return (
        same_key_pairs(kept, ["fp"], "doc_id", strategy="fanout", cap=df_cap)
        .groupBy(
            F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


@register(
    "dedup_winnowing_fingerprints",
    oracle=f"""
    WITH {_WINNOW_PAIRS_CTE_SQL}
    SELECT doc_a, doc_b, n_shared FROM wpairs
    """,
)
def dedup_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-duplicate candidates via robust winnowing
    (Schleimer, Wilkerson & Aiken, SIGMOD'03): hash every char
    20-gram, select each 12-window's minimum hash,
    and pair documents sharing >= 2 selected
    fingerprints.  Extends ``doc_fingerprint`` (one global min per doc)
    to the positional-guarantee form: any shared substring of length
    >= k + w - 1 is caught, with the index ~4x smaller than full
    k-gram shingling.

    Spark-first scale shape: hashing and window-minima are one map-side
    projection (higher-order functions, zero shuffle); pairs come from
    an inverted fingerprint index with a document-frequency cap
    (boilerplate fingerprints shared by > 20 docs are dropped BEFORE
    pairing, the same quadratic-bucket guard as
    ``dedup_ngram_jaccard``), so candidate pairs stay bounded
    by cap x index size — never all-pairs."""
    return _winnowing_pair_frame(spark, sf_dir)


# Guarantee length: a shared substring of at least this many chars MUST
# produce a shared selected fingerprint (before the DF cap and the
# >= MIN_SHARED evidence threshold, which are the losses the meter
# quantifies).
_WINNOW_GUARANTEE = _WINNOW_K + _WINNOW_W - 1

_WINNOW_TRUTH_SQL = f"""g31 AS (
        SELECT doc_id, unnest(
            CASE WHEN length(text) < {_WINNOW_GUARANTEE}
                 THEN CAST([] AS VARCHAR[])
            ELSE list_distinct(list_transform(
                generate_series(1, length(text) - {_WINNOW_GUARANTEE - 1}),
                i -> md5(substr(text, i, {_WINNOW_GUARANTEE})))) END) AS g
        FROM d
    ),
    gkept AS (
        SELECT g FROM g31 GROUP BY g
        HAVING COUNT(*) BETWEEN 2 AND {_WINNOW_DF_CAP}
    ),
    truth AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM g31 a JOIN gkept k ON k.g = a.g
        JOIN g31 b ON b.g = a.g AND a.doc_id < b.doc_id
    )"""


def _winnowing_truth_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) ground-truth pairs sharing a non-boilerplate
    guarantee-length gram — the Spark twin of _WINNOW_TRUTH_SQL,
    shared by the registered meter and the cap-trade harness (where
    the truth is HELD FIXED while the generator cap varies)."""
    d = load_table_parallel(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    g31 = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN length(text) < {_WINNOW_GUARANTEE} "
                f"THEN CAST(array() AS ARRAY<STRING>) "
                f"ELSE array_distinct(transform("
                f"sequence(1, length(text) - {_WINNOW_GUARANTEE - 1}), "
                f"i -> md5(substring(text, i, {_WINNOW_GUARANTEE})))) END"
            )
        ).alias("g"),
    )
    # Same DF-capped fan-out as _winnowing_pair_frame.
    kept = g31.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("g"))
    ).filter((F.col("df") >= 2) & (F.col("df") <= _WINNOW_DF_CAP))
    return (
        same_key_pairs(kept, ["g"], "doc_id", strategy="fanout", cap=_WINNOW_DF_CAP)
        .select(F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b"))
        .distinct()
    )


@register(
    "winnowing_recall_eval",
    oracle=f"""
    WITH {_WINNOW_PAIRS_CTE_SQL},
    {_WINNOW_TRUTH_SQL},
    flagged AS (
        SELECT CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS captured
        FROM truth t LEFT JOIN wpairs c
          ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    {_RECALL_SELECT_SQL}
    """,
)
def winnowing_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair recall of the winnowing candidate generator — the meter
    that keeps the candidate-generator/eval symmetry the dedup family
    maintains (every registered generator carries a measured recall
    next to its measured cost).  Ground truth: document pairs sharing
    at least one NON-BOILERPLATE guarantee-length gram (31 chars =
    k + w - 1; grams in more than the DF-cap of documents are excluded
    from the truth exactly as boilerplate fingerprints are excluded
    from the index, so the meter isolates the generator's OWN losses:
    window selection and the >= 2 shared-fingerprint evidence
    threshold, not the shared cap policy).  The winnowing guarantee
    says selection alone never loses such a pair; captured-fraction
    below 1.0 therefore prices the >= 2 evidence threshold — measured
    906250 / 964286 / 698762 ppm at sf0.001/0.01/0.1 under the
    registered settings.  The knobs were MEASURED, not guessed
    (tools/winnow_cap_trade.py, bench_runs/r12/winnow_cap_trade.txt,
    sf0.1 against this fixed truth): the evidence threshold is the
    recall dial — min_shared=1 captures 727/727 (1,000,000 ppm, the
    guarantee observed exactly) at 58,441 candidate pairs, =2 gives
    698,762 ppm at 3,607 pairs (16x fewer), =3 gives 405,777 ppm at
    498 — while the DF cap is NOT a recall knob here (cap 10 -> 100
    moves recall only 616,231 -> 700,138 ppm at fixed threshold); it
    is purely the quadratic-bucket guard.

    The truth side is an eval harness (full guarantee-gram inverted
    index), never a production path — same rationale as the LSH and
    SemDeDup recall meters."""
    truth = _winnowing_truth_frame(spark, sf_dir)
    cand = _winnowing_pair_frame(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    flagged = truth.join(cand, ["doc_a", "doc_b"], "left").select(
        F.when(F.col("hit").isNotNull(), 1).otherwise(0).alias("captured")
    )
    return _recall_report(flagged)


# --------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup
# --------------------------------------------------------------------------

# A chunk boundary opens at position i iff the first 2 hex chars of
# md5 of the 5-gram at i are <= '03' (4/256 = 1/64 of positions), so
# expected chunk length is ~64 chars and boundaries move WITH the
# content: an insertion early in a document shifts byte offsets but not
# the downstream boundaries — the property that makes CDC dedup robust
# where fixed-size blocks are not.
_CDC_GRAM = 5
_CDC_BOUNDARY_MAX = "03"
_CDC_MIN_REPORT_LEN = 16

_CDC_CUTS = f"""
CASE WHEN length(text) < {_CDC_GRAM} THEN CAST(array() AS ARRAY<INT>)
ELSE filter(sequence(1, length(text) - {_CDC_GRAM - 1}),
            i -> substring(md5(substring(text, i, {_CDC_GRAM})), 1, 2)
                 <= '{_CDC_BOUNDARY_MAX}') END
"""

_CDC_CHUNKS = """
filter(transform(sequence(1, size(bounds) - 1),
       j -> substring(text, element_at(bounds, j),
                      element_at(bounds, j + 1) - element_at(bounds, j))),
       c -> length(c) > 0)
"""

_CDC_CUTS_SQL = f"""
list_filter(generate_series(1, greatest(length(text) - {_CDC_GRAM - 1}, 0)),
            i -> substr(md5(substr(text, i, {_CDC_GRAM})), 1, 2)
                 <= '{_CDC_BOUNDARY_MAX}')
"""

_CDC_CHUNKS_SQL = """
list_filter(list_transform(generate_series(1, len(bounds) - 1),
            j -> substr(text, CAST(bounds[j] AS INT),
                        CAST(bounds[j + 1] - bounds[j] AS INT))),
            c -> length(c) > 0)
"""


# ONE definition of the doc -> CDC chunk-rows chain, shared by the
# dedup report and the streaming probe (queries/streams.py).
_CDC_CHUNKROWS_CTE_SQL = f"""d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
    cut_rows AS (SELECT doc_id, text, {_CDC_CUTS_SQL} AS cuts FROM d),
    bound_rows AS (
        SELECT doc_id, text,
               list_concat(list_concat([CAST(1 AS BIGINT)],
                   list_transform(cuts, c -> CAST(c AS BIGINT))),
                   [CAST(length(text) + 1 AS BIGINT)]) AS bounds
        FROM cut_rows
    ),
    chunk_rows AS (
        SELECT doc_id, unnest({_CDC_CHUNKS_SQL}) AS chunk FROM bound_rows
    )"""


def _cdc_chunk_rows(d: DataFrame) -> DataFrame:
    """(doc_id, chunk) content-defined chunk rows from a documents
    frame — the exact Spark twin of _CDC_CHUNKROWS_CTE_SQL."""
    return (
        d.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        .select("doc_id", "text", F.expr(_CDC_CUTS).alias("cuts"))
        .select(
            "doc_id",
            "text",
            F.expr(
                "concat(array(1), cuts, array(length(text) + 1))"
            ).alias("bounds"),
        )
        .select("doc_id", F.explode(F.expr(_CDC_CHUNKS)).alias("chunk"))
    )


@register(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH {_CDC_CHUNKROWS_CTE_SQL}
    SELECT md5(chunk) AS chunk_hash,
           CAST(length(chunk) AS BIGINT) AS chunk_len,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM chunk_rows
    WHERE length(chunk) >= {_CDC_MIN_REPORT_LEN}
    GROUP BY chunk
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup report: split every document at
    content-derived boundaries (rolling 5-gram hash below a
    1/64 threshold — the gear/Rabin CDC family used by dedup storage
    and by chunk-level corpus dedup) and report every chunk of
    >= 16 chars that recurs across >= 2 documents.
    Complements ``dedup_paragraphs_global`` (which needs newline
    structure): CDC finds shared spans in UNSTRUCTURED text because an
    edit shifts offsets but not downstream boundaries.

    Spark-first scale shape: boundary detection and chunk extraction
    are one map-side higher-order projection (no explode until chunks
    exist, ~len/64 rows per doc); the only shuffle is the group-by on
    the chunk content — at 100 TB that is an exact-dedup-shaped
    aggregation (hash-partitioned, map-side partial) over rows ~64x
    smaller than the corpus' character count."""
    d = load_table_parallel(spark, sf_dir, "documents")
    chunk_rows = _cdc_chunk_rows(d)
    return (
        chunk_rows.filter(F.length("chunk") >= _CDC_MIN_REPORT_LEN)
        .groupBy("chunk")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.md5("chunk").alias("chunk_hash"),
            F.length("chunk").cast("long").alias("chunk_len"),
            "n_docs",
            "n_occurrences",
        )
    )


# --------------------------------------------------------------------------
# Semantic (embedding-space) eval-set decontamination
# --------------------------------------------------------------------------

# Contamination threshold for the SYNTHETIC corpus (planted clusters at
# ~0.4-0.5 cosine; production decontamination runs at >= 0.9): set a
# notch below the dedup threshold because decontamination prefers false
# positives (a dropped training doc) over false negatives (a leaked
# eval neighbor), and the synthetic truth count at 0.4 is single-digit
# at the driver SF — too sparse to exercise the value path.
_DECONTAM_THRESHOLD = 0.3


@register(
    "semantic_decontaminate_lsh",
    oracle=f"""
    WITH cfg AS ({_NEARDUP_CFG_SQL}),
    {_NEARDUP_BANDS_SQL},
    cand AS (
        SELECT DISTINCT t.vec_id AS train_id, v.vec_id AS eval_id,
               t.nrm AS nrm_t, v.nrm AS nrm_v
        FROM bands t JOIN bands v
          ON t.band_id = v.band_id AND t.band_key = v.band_key
        WHERE t.vec_id % 20 <> 0 AND v.vec_id % 20 = 0
    ),
    pairs AS (
        SELECT c.train_id, c.eval_id, c.nrm_t, c.nrm_v,
               et.embedding AS ea, ev.embedding AS eb
        FROM cand c
        JOIN embeddings et ON et.vec_id = c.train_id
        JOIN embeddings ev ON ev.vec_id = c.eval_id
    ),
    hits AS (
        SELECT train_id, eval_id,
               {_dot_sql("ea", "eb")} / (nrm_t * nrm_v) AS cosine
        FROM pairs
        WHERE {_dot_sql("ea", "eb")} / (nrm_t * nrm_v) >= {_DECONTAM_THRESHOLD}
    )
    SELECT train_id, COUNT(*) AS n_eval_matches, MAX(cosine) AS max_cosine
    FROM hits GROUP BY train_id
    """,
)
def semantic_decontaminate_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC eval-set decontamination: flag training vectors whose
    embedding sits above the contamination cosine threshold (0.3
    here — see _DECONTAM_THRESHOLD) against ANY held-out eval vector (``vec_id % 20 = 0`` stands in for the
    benchmark set, mirroring ``decontaminate_ngram_overlap``'s eval
    slice).  Lexical n-gram decontamination misses paraphrases; this is
    the embedding-space complement modern pipelines run beside it.

    Spark-first scale shape: both sides go through the SAME
    corpus-adaptive banded sign-LSH as ``dedup_embedding_cosine``
    (band keys + norms map-side on the band rows), but the join is
    train x eval only — at 100 TB the eval side is KBs-to-MBs, so its
    band table broadcasts and the check is one broadcast-hash probe
    over the training bands, with exact-cosine confirm restricted to
    band collisions.  Candidates, not all-pairs, at every size."""
    raw = load_table(spark, sf_dir, "embeddings")
    e = load_table_parallel(spark, sf_dir, "embeddings")
    bands = _neardup_band_rows(e, raw)
    trainb = bands.filter(F.col("vec_id") % 20 != 0)
    evalb = bands.filter(F.col("vec_id") % 20 == 0)
    cand = (
        trainb.alias("t")
        .join(
            evalb.alias("v"),
            (F.col("t.band_id") == F.col("v.band_id"))
            & (F.col("t.band_key") == F.col("v.band_key")),
        )
        .select(
            F.col("t.vec_id").alias("train_id"),
            F.col("v.vec_id").alias("eval_id"),
            F.col("t.nrm").alias("nrm_t"),
            F.col("v.nrm").alias("nrm_v"),
        )
        # No pre-distinct repartition here (unlike
        # _neardup_pairs_from_bands): the train x eval candidate set is
        # far smaller than the corpus-wide one, and the same-JVM A/B
        # measured a wash (bench_runs/r13opt/ab_scoped_repart.txt).
        .distinct()
    )
    et = raw.select(F.col("vec_id").alias("train_id"), F.col("embedding").alias("ea"))
    ev = raw.select(F.col("vec_id").alias("eval_id"), F.col("embedding").alias("eb"))
    hits = (
        cand.join(et, "train_id")
        .join(ev, "eval_id")
        .select(
            "train_id",
            "eval_id",
            (
                F.expr(_dot_expr("ea", "eb")) / (F.col("nrm_t") * F.col("nrm_v"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= _DECONTAM_THRESHOLD)
    )
    return hits.groupBy("train_id").agg(
        F.count(F.lit(1)).alias("n_eval_matches"),
        F.max("cosine").alias("max_cosine"),
    )


@register(
    "decontam_recall_eval",
    oracle=f"""
    WITH cfg AS ({_NEARDUP_CFG_SQL}),
    {_NORMS_SQL.strip()},
    {_NEARDUP_BANDS_SQL},
    truth AS (
        SELECT t.vec_id AS train_id, v.vec_id AS eval_id
        FROM embeddings t JOIN embeddings v
          ON t.vec_id % 20 <> 0 AND v.vec_id % 20 = 0
        JOIN norms nt ON nt.vec_id = t.vec_id
        JOIN norms nv ON nv.vec_id = v.vec_id
        WHERE {_dot_sql("t.embedding", "v.embedding")} / (nt.nrm * nv.nrm)
              >= {_DECONTAM_THRESHOLD}
    ),
    cand AS (
        SELECT DISTINCT t.vec_id AS train_id, v.vec_id AS eval_id
        FROM bands t JOIN bands v
          ON t.band_id = v.band_id AND t.band_key = v.band_key
        WHERE t.vec_id % 20 <> 0 AND v.vec_id % 20 = 0
    ),
    flagged AS (
        SELECT CASE WHEN c.train_id IS NOT NULL THEN 1 ELSE 0 END AS captured
        FROM truth t
        LEFT JOIN cand c
          ON c.train_id = t.train_id AND c.eval_id = t.eval_id
    )
    {_RECALL_SELECT_SQL}
    """,
)
def decontam_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair recall of the decontamination candidate generator at the
    decontamination threshold — completes generator/meter symmetry for
    the LAST registered generator without one
    (``semantic_decontaminate_lsh``).  Ground truth: train x eval
    pairs whose EXACT cosine is >= tau = 0.3 (brute-force, but only
    over the train x eval cross — the eval slice is 1/20 of the
    corpus, so the truth itself is eval-harness-sized, never
    corpus^2).  Captured: the pair collides in >= 1 band under the
    SAME corpus-adaptive sign-LSH ``semantic_decontaminate_lsh``
    candidates come from, so the ppm prices exactly the generator the
    decontam query ships.  Measured under the registered settings:
    282051 / 226804 / 114060 ppm at sf0.001 / sf0.01 / sf0.1
    (78 / 97 / 1394 true pairs).  Low by construction on THIS corpus:
    the synthetic contaminated pairs sit at ~0.3-0.5 cosine where
    per-bit sign agreement is only ~0.60, so a 4-band generator tuned
    for near-dup (>= 0.9 cosine, ~0.85/bit agreement) captures a
    minority — the same caveat ``embedding_lsh_recall_eval`` measures
    for the dedup path, now priced for the decontam path too.
    Recall is dialed UP by adding bands (cost linear in bands), not by
    narrowing them — decontamination prefers false positives, so a
    deployment sets bands for its leak budget and this meter is the
    gauge.  Single row of integers (fixed-point ppm)."""
    raw = load_table(spark, sf_dir, "embeddings")
    e = load_table_parallel(spark, sf_dir, "embeddings")
    # r13 optimization (guide §2.4): norms were a separate frame joined
    # back onto each side — two self-joins of the corpus to attach a
    # value computable IN the projection.  Both sides now carry their
    # norm map-side (identical expression, identical values).
    t = e.filter(F.col("vec_id") % 20 != 0).select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("ea"),
        F.expr(_norm_expr("embedding")).alias("nrm_t"),
    )
    v = raw.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("eb"),
        F.expr(_norm_expr("embedding")).alias("nrm_v"),
    )
    truth = (
        t.join(F.broadcast(v), F.lit(True))
        .filter(
            F.expr(_dot_expr("ea", "eb")) / (F.col("nrm_t") * F.col("nrm_v"))
            >= _DECONTAM_THRESHOLD
        )
        .select("train_id", "eval_id")
    )
    bands = _neardup_band_rows(e, raw)
    cand = (
        bands.filter(F.col("vec_id") % 20 != 0)
        .alias("t")
        .join(
            bands.filter(F.col("vec_id") % 20 == 0).alias("v"),
            (F.col("t.band_id") == F.col("v.band_id"))
            & (F.col("t.band_key") == F.col("v.band_key")),
        )
        .select(
            F.col("t.vec_id").alias("train_id"),
            F.col("v.vec_id").alias("eval_id"),
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    flagged = truth.join(cand, ["train_id", "eval_id"], "left").select(
        F.when(F.col("hit").isNotNull(), 1).otherwise(0).alias("captured")
    )
    return _recall_report(flagged)


# --------------------------------------------------------------------------
# ExactSubstr-style maximal duplicated-run spans (round 13)
# --------------------------------------------------------------------------

# Word-5-gram span unit (the same gram width corpus_dup_span_stats
# profiles) and the span-length floor a removal pass would act on.
# MEASURED, not folklore (bench_runs/r13/dup_span_trade.txt, two SFs):
# N=3 floods every doc with chance trigram collisions (median span 4);
# the floor-filtered output is N-invariant for N in 4..8 (the floor is
# the precision knob); N=5 is the cheapest width that rejects the N=3
# flood while still seeing 5-7-token true spans that N=8 misses.
_RUN_GRAM = 5
_RUN_MIN_SPAN = 8


@register(
    "dup_span_maximal_runs",
    oracle=f"""
    WITH doc_toks AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ),
    grams AS (
        SELECT doc_id, len(toks) AS n_tokens, i - 1 AS pos,
               md5(array_to_string(toks[i:i+{_RUN_GRAM - 1}], ' ')) AS gh
        FROM doc_toks,
             unnest(generate_series(1, len(toks) - {_RUN_GRAM - 1})) AS t(i)
        WHERE len(toks) >= {_RUN_GRAM}
    ),
    freq AS (
        SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) > 1
    ),
    dup AS (
        SELECT g.doc_id, g.n_tokens, g.pos
        FROM grams g JOIN freq f ON f.gh = g.gh
    ),
    isl AS (
        SELECT doc_id, n_tokens, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM dup
    ),
    spans AS (
        SELECT doc_id, MIN(n_tokens) AS n_tokens,
               COUNT(*) + {_RUN_GRAM - 1} AS span_len
        FROM isl GROUP BY doc_id, grp
    ),
    covered AS (
        SELECT doc_id, COUNT(DISTINCT j) AS n_covered
        FROM dup, unnest(generate_series(pos, pos + {_RUN_GRAM - 1})) AS c(j)
        GROUP BY doc_id
    )
    SELECT s.doc_id,
           MIN(s.n_tokens) AS n_tokens,
           MAX(s.span_len) AS longest_dup_span,
           CAST(SUM(CASE WHEN s.span_len >= {_RUN_MIN_SPAN} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_long_spans,
           MIN(c.n_covered) AS n_covered_tokens,
           CAST(MIN(c.n_covered) AS DOUBLE) / MIN(s.n_tokens)
               AS dup_token_frac
    FROM spans s JOIN covered c ON c.doc_id = s.doc_id
    GROUP BY s.doc_id
    """,
)
def dup_span_maximal_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-SPAN report (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" removal
    unit): a token position is duplicated when its word-5-gram occurs
    at more than one (doc, pos) site in the corpus; consecutive
    duplicated positions merge into MAXIMAL runs (gaps-and-islands),
    and a run of L gram positions covers L+4 tokens.  Per document with
    any duplicated gram: token count, the longest duplicated span in
    tokens, how many maximal spans reach the removal floor
    (>= 8 tokens), and the exact duplicated-token coverage (union of
    the +-4 token windows, not the sum of span lengths — adjacent
    islands may overlap in token space).  ``corpus_dup_span_stats``
    reports the duplicated-gram FRACTION; this is the span-structure
    view an actual removal pass needs (what to cut, how long it is).

    Scale shape: gram hashing is map-side (one explode, linear
    fan-out); the only corpus-wide shuffle is the gram-frequency
    groupBy + the join back on the gram hash (both keyed on md5 —
    uniform).  Island detection windows partition BY DOCUMENT, so the
    run-merging never forms a global ordering; the +-4 coverage explode
    fans out a bounded x5 and dedups inside each doc partition.

    Loader: ``load_table_parallel`` (r13, guide §2.1) — the stage trace
    showed the tokenize + per-gram md5 chain on ONE task (the scan's
    single local split) writing a ~11 MB gram shuffle; the
    split-count-aware repartition spreads that map work and won the
    loader A/B 3/3 (bench_runs/r13opt/ab_dup_span_loader.txt; the same
    swap LOSES on corpus_dup_span_stats, measured there too, so this
    is per-query, not a blanket rule)."""
    d = load_table_parallel(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr(_TOKENS).alias("toks"))
    grams = toks.select(
        "doc_id",
        F.expr("size(toks)").cast("long").alias("n_tokens"),
        F.posexplode(
            F.expr(
                f"CASE WHEN size(toks) < {_RUN_GRAM}"
                " THEN CAST(array() AS ARRAY<STRING>)"
                f" ELSE transform(sequence(0, size(toks) - {_RUN_GRAM}),"
                f" i -> md5(concat_ws(' ', slice(toks, i + 1, {_RUN_GRAM}))))"
                " END"
            )
        ).alias("pos", "gh"),
    ).select("doc_id", "n_tokens", F.col("pos").cast("long").alias("pos"), "gh")
    # r13 optimization (guide §2.1/§2.3): the gram-frequency groupBy +
    # join-back pair tokenized the corpus TWICE and broadcast the
    # duplicated-gram list — a corpus-PROPORTIONAL broadcast at scale.
    # A count() window over the gram hash keeps the count AND the rows
    # in ONE exchange of a single tokenize pass (the sort it needs is
    # the same sort the SMJ fallback would have done).
    wg = Window.partitionBy("gh")
    dup = (
        grams.withColumn("cnt", F.count(F.lit(1)).over(wg))
        .filter(F.col("cnt") > 1)
        .select("doc_id", "n_tokens", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup.withColumn("grp", F.col("pos") - F.row_number().over(w))
    spans = isl.groupBy("doc_id", "grp").agg(
        F.min("n_tokens").alias("n_tokens"),
        (F.count(F.lit(1)) + F.lit(_RUN_GRAM - 1)).alias("span_len"),
        F.min("pos").alias("s"),
    )
    # r13 optimization (guide §2.3/§4): exact duplicated-token coverage
    # via interval union over the ISLANDS (one row each) instead of a
    # x{_RUN_GRAM} explode of every dup position + countDistinct: island
    # [s, s+span_len-1] in token space; islands sorted by s have
    # monotone ends (next start > this gram-end), so each island's NEW
    # tokens = end - max(s-1, running-max prev end) — integer-exact,
    # same union the explode counted.  The lag rides the doc_id
    # partitioning the island window already established, the coverage
    # branch (its persist + final join) collapses into the one groupBy.
    wlag = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = spans.withColumn(
        "new_cov",
        (F.col("s") + F.col("span_len") - 1)
        - F.greatest(
            F.col("s") - 1,
            F.coalesce(
                F.max(F.col("s") + F.col("span_len") - 1).over(wlag),
                F.col("s") - 1,
            ),
        ),
    )
    return contrib.groupBy("doc_id").agg(
        F.min("n_tokens").alias("n_tokens"),
        F.max("span_len").alias("longest_dup_span"),
        F.sum(
            F.when(F.col("span_len") >= _RUN_MIN_SPAN, 1).otherwise(0)
        ).alias("n_long_spans"),
        F.sum("new_cov").alias("n_covered_tokens"),
        (
            F.sum("new_cov").cast("double") / F.min("n_tokens")
        ).alias("dup_token_frac"),
    )


# --------------------------------------------------------------------------
# Matryoshka truncated-dimension retrieval recall (round 13)
# --------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32)


def _mrl_cand_sql(d: int) -> str:
    """Truncated-dim candidate top-k block for one Matryoshka prefix."""
    dot = _dot_sql(f"q.qe[1:{d}]", f"c.embedding[1:{d}]")
    nq = _norm_sql(f"q.qe[1:{d}]")
    nc = _norm_sql(f"c.embedding[1:{d}]")
    return f"""
        SELECT {d} AS dim, qid, cid FROM (
            SELECT q.qid, c.vec_id AS cid,
                   {dot} / ({nq} * {nc}) AS tcos,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY {dot} / ({nq} * {nc}) DESC, c.vec_id
                   ) AS rn
            FROM queries q JOIN embeddings c ON c.vec_id <> q.qid
            WHERE {nq} > 0 AND {nc} > 0
        ) WHERE rn <= {_TOPK}
    """


@register(
    "embedding_matryoshka_recall",
    oracle=_COSINE_SQL
    + f"""
    , truth AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                       ORDER BY cosine DESC, cid) AS rn
            FROM cosines
        ) WHERE rn <= {_TOPK}
    ),
    cand AS (
        {" UNION ALL ".join(_mrl_cand_sql(d) for d in _MRL_DIMS)}
    ),
    hits AS (
        SELECT cand.dim, COUNT(*) AS n_hits
        FROM cand JOIN truth ON truth.qid = cand.qid AND truth.cid = cand.cid
        GROUP BY cand.dim
    )
    SELECT d.dim, COALESCE(h.n_hits, 0) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
               / ({_TOPK} * {_N_QUERY_VECS}) AS recall_at_k
    FROM (VALUES {", ".join(f"({d})" for d in _MRL_DIMS)}) AS d(dim)
    LEFT JOIN hits h ON h.dim = d.dim
    """,
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation retrieval eval (Kusupati et al. 2022):
    top-10 cosine retrieval is re-run with each embedding TRUNCATED to
    its first 8 / 16 / 32 coordinates, and each prefix's hit set is
    scored against the full-64-dim exact top-10 — recall@10 per prefix
    width.  This is the meter behind the storage/latency dial every
    vector store exposes (shorter prefixes = smaller index + faster
    scan; the recall curve says what that dial costs), and the eval
    companion to ``embedding_quantize_int8`` / ``pq_codebook_assign``
    on the compression axis.

    Scale shape (r14 fused single pass, guide §2.3/§2.4): the truth
    pass and the x3-dim candidate fan-out used to be TWO full
    queries-x-corpus map passes (the second tripled through the heavy
    dot chain).  Every truncated dot and norm is a PREFIX FOLD of one
    elementwise product array — fold(slice(zip_with(q,c,*),1,d)) is
    bit-identical to fold(zip_with(slice(q,1,d),slice(c,1,d),*)), the
    ordered left fold visits the same doubles in the same order — so
    ONE corpus pass computes the product array and squares array once
    per (query, corpus) pair and emits 4 skinny (dim, tcos) rows (the
    full-64 truth cosine rides as a dim=64 row; its expression is
    _cosine_pairs' exact tree).  One row_number window on (dim, qid)
    produces truth AND all candidates; hits are a collect_set per
    (qid, cid) over the <= 4 x topk x queries winner rows (a dim d hit
    iff {d, 64} both present — exactly the old cand⋈truth equi-join).
    Same-JVM A/B 0.879 -> 0.650 s min
    (bench_runs/r14/ab_mrl_fused.txt); result-identical at all three
    SFs.  At 100 TB the meter still runs on a query SAMPLE exactly
    like the LSH / SemDeDup recall meters, now touching the corpus
    once instead of twice."""
    raw = load_table(spark, sf_dir, "embeddings")
    e = load_table_parallel(spark, sf_dir, "embeddings")
    dims = spark.createDataFrame([(d,) for d in _MRL_DIMS], "dim int")
    dims_lit = f"array({', '.join(str(d) for d in _MRL_DIMS)})"
    mult = "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)"
    addf = "(acc, v) -> acc + v"
    q = raw.filter(F.col("vec_id") < _N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.expr(_norm_expr("embedding")).alias("nrm_q"),
        F.expr(
            f"transform({dims_lit}, d -> SQRT(aggregate("
            f"slice(zip_with(embedding, embedding, {mult}), 1, d), "
            f"CAST(0 AS DOUBLE), {addf})))"
        ).alias("nqs"),
    )
    pre = (
        e.select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ce"),
            F.expr(_norm_expr("embedding")).alias("nrm_c"),
        )
        .join(F.broadcast(q), F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            "nrm_q",
            "nrm_c",
            "nqs",
            F.expr(f"zip_with(qe, ce, {mult})").alias("p"),
            F.expr(f"zip_with(ce, ce, {mult})").alias("sq"),
        )
    )
    # Inner transform computes each dim's (nq, nc, dot) once; the outer
    # one derives tcos and the validity flag (the old form's nq > 0 /
    # nc > 0 filters).  The dim=64 truth row carries ok=true — the r13
    # truth branch had no norm filter.
    row_expr = (
        "concat("
        "array(named_struct('dim', 64, 'tcos', "
        f"aggregate(p, CAST(0 AS DOUBLE), {addf}) / (nrm_q * nrm_c), "
        "'ok', true)), "
        f"transform("
        f"transform(sequence(1, {len(_MRL_DIMS)}), i -> named_struct("
        f"'dim', element_at({dims_lit}, i), "
        f"'nq', element_at(nqs, i), "
        f"'nc', SQRT(aggregate(slice(sq, 1, element_at({dims_lit}, i)), "
        f"CAST(0 AS DOUBLE), {addf})), "
        f"'dot', aggregate(slice(p, 1, element_at({dims_lit}, i)), "
        f"CAST(0 AS DOUBLE), {addf}))), "
        f"s -> named_struct('dim', s.dim, 'tcos', s.dot / (s.nq * s.nc), "
        f"'ok', s.nq > 0 AND s.nc > 0)))"
    )
    rows = (
        pre.select("qid", "cid", F.explode(F.expr(row_expr)).alias("s"))
        .filter(F.col("s.ok"))
        .select(
            "qid",
            "cid",
            F.col("s.dim").alias("dim"),
            F.col("s.tcos").alias("tcos"),
        )
    )
    w = Window.partitionBy("dim", "qid").orderBy(
        F.col("tcos").desc(), F.col("cid").asc()
    )
    top = (
        rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK)
        .select("dim", "qid", "cid")
    )
    hits = (
        top.groupBy("qid", "cid")
        .agg(F.collect_set("dim").alias("ds"))
        .filter(F.array_contains("ds", 64))
        .select(F.explode(F.expr("filter(ds, d -> d <> 64)")).alias("dim"))
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        dims.join(hits, "dim", "left")
        .select(
            "dim",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(_TOPK * _N_QUERY_VECS)
            ).alias("recall_at_k"),
        )
    )


# --------------------------------------------------------------------------
# SimHash pigeonhole Hamming join: the candidate generator the SimHash
# family was missing (fingerprints alone don't pair documents)
# --------------------------------------------------------------------------

# Manku/Jain/Sarma's classic setting (WWW'07 "Detecting Near-Duplicates
# for Web Crawling", public literature): to find every pair within
# Hamming distance K of a 64-bit fingerprint, split the bits into K+1
# blocks — any qualifying pair must agree EXACTLY on at least one block
# (pigeonhole), so an equi-join per block generates a candidate superset
# and an exact Hamming verify on the candidates is lossless.
_SIMHASH_HAM_K = 3  # 4 blocks of 16 bits
_SIMHASH_BLOCK_CAP = 1000  # boilerplate-bucket guard (quadratic-bucket cap)

# Shared dialect-neutral fingerprint CTE text for the oracles below:
# identical words -> md5 -> per-bit majority chain as dedup_simhash.
_SIMHASH_FP_CTE_SQL = f"""
    words AS (
        SELECT doc_id, md5(w) AS h
        FROM (
            SELECT doc_id,
                   unnest(list_distinct({_TOKENS_SQL})) AS w
            FROM documents
        )
    ),
    fp AS (
        SELECT doc_id, {_SIMHASH_SQL} AS f FROM words GROUP BY doc_id
    ),
    blocks AS (
        SELECT doc_id, f, i.b AS b, substr(f, i.b * 16 + 1, 16) AS blk
        FROM fp, (SELECT unnest(range(4)) AS b) i
    )
"""

_HAMMING64_SQL = (
    "CAST(list_sum(list_transform(range(1, 65), "
    "i -> CASE WHEN substr(fa, i, 1) <> substr(fb, i, 1) "
    "THEN 1 ELSE 0 END)) AS BIGINT)"
)
# Spark-side fast verify: the 64-char bit-string is packed into two
# 32-bit halves (conv base-2 of a 32-char slice maxes at 2^32 - 1, so
# the BIGINT cast can never overflow — a FULL 64-bit conv could) and
# Hamming distance becomes two xor+popcount instructions instead of a
# 64-iteration substring fold (~4x whole-query wall at sf0.1).  Value-
# identical to _HAMMING64_SQL, which the DuckDB oracle keeps as the
# readable spec form.  (A function, not a module constant: building a
# Column needs an active SparkContext, which imports must not assume.)
def _fp_halves() -> list:
    return [
        F.expr(
            "CAST(conv(substring(simhash64, 1, 32), 2, 10) AS BIGINT)"
        ).alias("ha"),
        F.expr(
            "CAST(conv(substring(simhash64, 33, 32), 2, 10) AS BIGINT)"
        ).alias("hb"),
    ]


_HAMMING64_INT_SPARK = (
    "CAST(bit_count(ha_a ^ ha_b) + bit_count(hb_a ^ hb_b) AS BIGINT)"
)


@register(
    "simhash_hamming_pairs",
    oracle=f"""
    WITH {_SIMHASH_FP_CTE_SQL.strip()},
    kept AS (
        SELECT b, blk FROM blocks GROUP BY b, blk
        HAVING COUNT(*) >= 2 AND COUNT(*) <= {_SIMHASH_BLOCK_CAP}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
                        a.f AS fa, c.f AS fb
        FROM blocks a
        JOIN kept k ON k.b = a.b AND k.blk = a.blk
        JOIN blocks c ON c.b = a.b AND c.blk = a.blk
                      AND a.doc_id < c.doc_id
    ),
    ham AS (
        SELECT doc_a, doc_b, {_HAMMING64_SQL} AS hamming FROM cand
    )
    SELECT doc_a, doc_b, hamming FROM ham
    WHERE hamming <= {_SIMHASH_HAM_K}
    """,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs within Hamming distance 3 of their 64-bit
    SimHash — the candidate-pair generator completing the SimHash
    family (``dedup_simhash`` emits fingerprints; this pairs them).

    Unlike the probabilistic LSH generators, pigeonhole banding is
    EXACT: a pair at distance <= K must agree on one of the K+1 =
    4 16-bit blocks, so the per-block equi-self-join produces a
    candidate superset and the Hamming verify loses nothing — recall
    is 1 by construction (no recall meter needed; the property test
    checks this against an all-pairs brute force).  The only loss is
    the documented boilerplate guard: a (block, value) bucket holding
    > 1000 documents (``_SIMHASH_BLOCK_CAP``) is dropped before the
    self-join (the same quadratic-bucket cap as ``dedup_ngram_jaccard``),
    and a pair is lost only if EVERY one of its agreeing blocks is such
    a bucket.

    Spark-first scale shape: fingerprints are the map-only
    ``_simhash_fp_frame`` chain (zero exchange); the persisted frame is
    a collapse barrier and is read by both sides of the block join;
    candidates go through distinct BEFORE the verify so each surviving
    pair is verified once, and the verify itself is two xor+popcount
    instructions over pre-packed 32-bit halves (``_fp_halves`` — the
    bit-string fold costs ~4x the whole query at sf0.1); at 100 TB the
    block index is 16 bits deep per block (65,536 buckets x 4), so
    bucket population scales as n/2^16 per block and the join output
    stays cap-bounded — never all-pairs.
    """
    fps = persist_corpus(
        _simhash_fp_frame(spark, sf_dir).select(
            "doc_id", "simhash64", *_fp_halves()
        )
    )
    blocks = fps.select(
        "doc_id",
        "ha",
        "hb",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), i -> struct(i AS b,"
                " substring(simhash64, i * 16 + 1, 16) AS blk))"
            )
        ).alias("e"),
    ).select("doc_id", "ha", "hb", "e.b", "e.blk")
    # The bucket-size guard is a count() window over the same (b, blk)
    # key the pair join shuffles on, so krows ends at one exchange and
    # both join sides read it via ReusedExchange.
    w = Window.partitionBy("b", "blk")
    krows = (
        blocks.withColumn("df", F.count(F.lit(1)).over(w))
        .filter((F.col("df") >= 2) & (F.col("df") <= _SIMHASH_BLOCK_CAP))
        .select("doc_id", "ha", "hb", "b", "blk")
    )
    cand = (
        same_key_pairs(krows, ["b", "blk"], "doc_id", payload=["ha", "hb"], strategy="join")
        .select(
            F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b"),
            "ha_a", "hb_a", "ha_b", "hb_b",
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr(_HAMMING64_INT_SPARK))
        .filter(F.col("hamming") <= _SIMHASH_HAM_K)
        .select("doc_a", "doc_b", "hamming")
    )
