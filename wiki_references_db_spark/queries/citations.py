"""Citation-lifecycle query surface (the reference's serving layer,
reference:api_v1.py:145-364 / explorer.py:152-393) as pure DataFrame
functions — the engine's flagship operator composition.

To make these oracle-checkable by the driver (which only registers the
synthetic TPC-H-ish tables as DuckDB views), the wiki-shaped staging
tables are *derived deterministically from orders/lineitem/part*:

- a customer  == a wiki page
- an order    == a revision of that page (revision_id = o_orderkey)
- a line item == a citation occurrence: raw identity md5('raw:'|page|part),
  normalized identity md5('norm:'|floor(part/10)) (several raw forms per
  normalized citation, as in the real data model)
- part attributes provide the template parameter payload

The SAME derivation is expressed in DuckDB SQL (CTE prefix below), so
every query here is value-hash checked end-to-end — semi-join presence,
lifecycle min/max/count aggregation, next-revision anti-join (removed_at),
template parameter pivot, pagination.

The real wikitext pipeline (mwrev bundles -> extractor UDFs -> staging ->
dedup -> warehouse) produces tables with these exact schemas; the query
functions in this module run unchanged against them (see
wiki_references_db_spark.plans.warehouse and tests/test_wiki_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wiki_references_db_spark.operators.relational import distinct_on
from wiki_references_db_spark.queries import register
from wiki_references_db_spark.tables import load_table

# --------------------------------------------------------------------------
# Shared derivation: TPC-H tables -> wiki-shaped staging tables
# --------------------------------------------------------------------------

# DuckDB CTE prefix shared by every oracle in this module.
STAGING_CTES = """
WITH lines AS (
    SELECT o_custkey AS page_id,
           o_orderkey AS revision_id,
           l_partkey,
           l_linenumber
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
revisions AS (
    SELECT o_orderkey AS revision_id,
           o_custkey AS page_id,
           lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey)
               AS parent_revision_id,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS revision_timestamp
    FROM orders
),
citation_histories AS (
    SELECT DISTINCT page_id,
           md5(concat('raw:', CAST(page_id AS VARCHAR), ':', CAST(l_partkey AS VARCHAR)))
               AS raw_sha1,
           revision_id
    FROM lines
),
instance_rows AS (
    SELECT page_id,
           md5(concat('raw:', CAST(page_id AS VARCHAR), ':', CAST(l_partkey AS VARCHAR)))
               AS raw_sha1,
           md5(concat('norm:', CAST(CAST((l_partkey - l_partkey % 10) / 10 AS BIGINT) AS VARCHAR)))
               AS normalized_sha1,
           l_linenumber % 3 AS reference_type,
           CASE WHEN l_partkey % 5 = 0
                THEN concat('ref_', CAST(l_partkey AS VARCHAR)) END AS reference_name,
           revision_id,
           l_linenumber,
           l_partkey
    FROM lines
),
citation_instances AS (
    SELECT page_id, raw_sha1, normalized_sha1, reference_type, reference_name
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY page_id, raw_sha1
            ORDER BY revision_id, l_linenumber
        ) AS rn
        FROM instance_rows
    ) WHERE rn = 1
),
template_data AS (
    SELECT DISTINCT i.normalized_sha1,
           p.p_brand AS template_name,
           'type' AS parameter_key,
           p.p_type AS parameter_value
    FROM instance_rows i JOIN part p ON i.l_partkey = p.p_partkey
),
ncwr AS (
    SELECT DISTINCT
           md5(concat('norm:', CAST(CAST((l_partkey - l_partkey % 10) / 10 AS BIGINT) AS VARCHAR)))
               AS normalized_sha1,
           concat('https://ex', CAST(l_partkey % 97 AS VARCHAR), '.example/p',
                  CAST(l_partkey AS VARCHAR)) AS url
    FROM lines
)
"""


# One derived-staging set per (session, sf_dir): the five wiki queries
# and the lifecycle query's three history branches all share the same
# persisted citation tables instead of re-running the lineitem⋈orders
# join per branch (measured ~2x on the flagship at sf0.1).
_STAGING_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def derive_staging(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Spark twin of STAGING_CTES (see module docstring); cached+persisted
    per (session, sf_dir)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _STAGING_CACHE.get(key)
    if cached is not None:
        # Harness clearCache() between queries strips persist markers on
        # frames this dict still hands out; re-mark so a later consumer
        # does not recompute the staging chain per plan branch (same
        # hazard as training._docs_with_shingles, where it measured 5x).
        for df in cached.values():
            if not (df.storageLevel.useMemory or df.storageLevel.useDisk):
                df.persist()
        return cached
    staging = _derive_staging_uncached(spark, sf_dir)
    # Memory-first (MEMORY_AND_DISK) is deliberate here: the staging
    # tables are the HOT serving working set, re-read by every
    # citations/serving query in the session; the level spills under
    # pressure anyway (storage.py policy — contrast with the DISK_ONLY
    # one-shot build artifacts).
    staging = {name: df.persist() for name, df in staging.items()}
    _STAGING_CACHE[key] = staging
    return staging


# One persisted `lines` per (session, sf_dir), shared by the full
# staging build AND the standalone cross-page queries.
_LINES_CACHE: dict[tuple[str, str], DataFrame] = {}


def _shared_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem⋈orders with both identity hashes attached — the root of
    every cross-page derivation, computed and persisted once.

    Repartition after the join: with orders broadcast, `lines` would
    inherit lineitem's file layout (often one partition locally) and
    serialize the md5/window work downstream on a single core.  Both
    identity hashes are computed HERE, before the persist, so md5 runs
    once per row, not once per consumer.  Crucially the cache is
    hash-partitioned by page_id: every downstream distinct/groupBy/
    window keyed on a superset of {page_id} (citation_histories
    distinct, the instance window, the lifecycle stats agg) satisfies
    its ClusteredDistribution from the cached partitioning and runs
    WITHOUT any further exchange."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _LINES_CACHE.get(key)
    if cached is not None:
        if not (
            cached.storageLevel.useMemory or cached.storageLevel.useDisk
        ):
            cached.persist()  # re-mark after a harness clearCache()
        return cached
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    raw_sha1 = F.md5(
        F.concat(
            F.lit("raw:"),
            F.col("page_id").cast("string"),
            F.lit(":"),
            F.col("l_partkey").cast("string"),
        )
    )
    norm_key = ((F.col("l_partkey") - F.col("l_partkey") % 10) / 10).cast("long")
    normalized_sha1 = F.md5(F.concat(F.lit("norm:"), norm_key.cast("string")))
    lines = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("page_id"),
            F.col("o_orderkey").alias("revision_id"),
            "l_partkey",
            "l_linenumber",
        )
        .repartition(spark.sparkContext.defaultParallelism, "page_id")
        .withColumn("raw_sha1", raw_sha1)
        .withColumn("normalized_sha1", normalized_sha1)
        # Memory-first: the flagship's shared root, hottest frame in the
        # session (storage.py policy).
        .persist()
    )
    _LINES_CACHE[key] = lines
    return lines


def _derive_staging_uncached(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    lines = _shared_lines(spark, sf_dir)

    w_page = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    revisions = orders.select(
        F.col("o_orderkey").alias("revision_id"),
        F.col("o_custkey").alias("page_id"),
        F.lag("o_orderkey").over(w_page).alias("parent_revision_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("revision_timestamp"),
    )

    citation_histories = lines.select(
        "page_id", "raw_sha1", "revision_id"
    ).distinct()

    instance_rows = lines.select(
        "page_id",
        "raw_sha1",
        "normalized_sha1",
        (F.col("l_linenumber") % 3).alias("reference_type"),
        F.when(
            F.col("l_partkey") % 5 == 0,
            F.concat(F.lit("ref_"), F.col("l_partkey").cast("string")),
        ).alias("reference_name"),
        "revision_id",
        "l_linenumber",
        "l_partkey",
    )
    citation_instances = distinct_on(
        instance_rows,
        ["page_id", "raw_sha1"],
        order_by=[F.col("revision_id"), F.col("l_linenumber")],
    ).select("page_id", "raw_sha1", "normalized_sha1", "reference_type", "reference_name")

    template_data = (
        instance_rows.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type")),
            instance_rows.l_partkey == F.col("p_partkey"),
        )
        .select(
            "normalized_sha1",
            F.col("p_brand").alias("template_name"),
            F.lit("type").alias("parameter_key"),
            F.col("p_type").alias("parameter_value"),
        )
        .distinct()
    )

    url = F.concat(
        F.lit("https://ex"),
        (F.col("l_partkey") % 97).cast("string"),
        F.lit(".example/p"),
        F.col("l_partkey").cast("string"),
    )
    ncwr = lines.select(
        F.col("normalized_sha1"), url.alias("url")
    ).distinct()

    return {
        "revisions": revisions,
        "citation_histories": citation_histories,
        "citation_instances": citation_instances,
        "template_data": template_data,
        "ncwr": ncwr,
    }


def derive_staging_for_page(
    spark: SparkSession, sf_dir: str, page_id: int, persist: bool = True
) -> dict[str, DataFrame]:
    """Page-sliced staging derivation for point queries (one page's
    citations/revisions — the reference's serving-path shape,
    reference:api_v1.py:145-364).

    Every staged-table derivation (md5 identity hashes, history distinct,
    instance survivor window, revision lag) is page-local, so slicing to
    the target page FIRST is semantics-preserving — and turns the build
    into a pushed-down parquet filter on orders plus one broadcast join
    over one page's rows, instead of an md5 + shuffle pass over the
    whole corpus.  This is the plan DuckDB reaches by pushing the page
    predicate through the staging CTEs, and the plan a 100 TB point
    lookup needs (touch one page's data, not 28.8B rows).  ``page_id``
    is a literal so the predicate reaches the scan (PushedFilters),
    prunes row groups via min/max stats, and keeps the whole plan
    scalar-subquery-free."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    ord_p = orders.filter(orders.o_custkey == F.lit(page_id)).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )

    w_page = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    revisions = ord_p.select(
        F.col("o_orderkey").alias("revision_id"),
        F.col("o_custkey").alias("page_id"),
        F.lag("o_orderkey").over(w_page).alias("parent_revision_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("revision_timestamp"),
    )

    raw_sha1 = F.md5(
        F.concat(
            F.lit("raw:"),
            F.col("page_id").cast("string"),
            F.lit(":"),
            F.col("l_partkey").cast("string"),
        )
    )
    norm_key = ((F.col("l_partkey") - F.col("l_partkey") % 10) / 10).cast("long")
    normalized_sha1 = F.md5(F.concat(F.lit("norm:"), norm_key.cast("string")))
    lines = (
        lineitem.join(
            F.broadcast(ord_p.select("o_orderkey", "o_custkey")),
            lineitem.l_orderkey == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("page_id"),
            F.col("o_orderkey").alias("revision_id"),
            "l_partkey",
            "l_linenumber",
        )
        .withColumn("raw_sha1", raw_sha1)
        .withColumn("normalized_sha1", normalized_sha1)
    )

    citation_histories = lines.select("page_id", "raw_sha1", "revision_id").distinct()
    instance_rows = lines.select(
        "page_id",
        "raw_sha1",
        "normalized_sha1",
        (F.col("l_linenumber") % 3).alias("reference_type"),
        F.when(
            F.col("l_partkey") % 5 == 0,
            F.concat(F.lit("ref_"), F.col("l_partkey").cast("string")),
        ).alias("reference_name"),
        "revision_id",
        "l_linenumber",
        "l_partkey",
    )
    citation_instances = distinct_on(
        instance_rows,
        ["page_id", "raw_sha1"],
        order_by=[F.col("revision_id"), F.col("l_linenumber")],
    ).select("page_id", "raw_sha1", "normalized_sha1", "reference_type", "reference_name")

    # r13 optimization (guide §5 caching / §2.4): the flagship tail
    # consumes citation_histories THREE times (present, lifecycle hist,
    # present_next) and each consumer used to recompute the whole
    # lineitem-scan ⋈ broadcast + md5 + distinct chain.  Persist the
    # page-sliced frames (one page's rows — hot working set per
    # storage.py policy, same treatment as the full-staging cache); the
    # bench/test harness clearCache() releases them per query.  A
    # long-running caller without that clearCache contract (e.g. a
    # per-request WSGI handler) must pass persist=False or unpersist
    # the frames itself — cache entries otherwise accumulate per page.
    out = {
        "revisions": revisions,
        "citation_histories": citation_histories,
        "citation_instances": citation_instances,
    }
    if persist:
        out = {name: df.persist() for name, df in out.items()}
    return out


# Deterministic query parameters, computed from the data itself so the
# same query works at every scale factor:
#   target page  = page with the most revisions (tie-break: smallest id)
#   target rev   = 3rd revision of that page (ascending revision_id)
TARGET_SQL = """
target_page AS (
    SELECT page_id FROM revisions
    GROUP BY page_id ORDER BY COUNT(*) DESC, page_id LIMIT 1
),
target_rev AS (
    SELECT revision_id FROM revisions
    WHERE page_id = (SELECT page_id FROM target_page)
    ORDER BY revision_id LIMIT 1 OFFSET 2
),
latest_rev AS (
    SELECT MAX(revision_id) AS revision_id FROM revisions
    WHERE page_id = (SELECT page_id FROM target_page)
),
next_rev AS (
    SELECT MIN(revision_id) AS revision_id FROM revisions
    WHERE page_id = (SELECT page_id FROM target_page)
      AND revision_id > (SELECT revision_id FROM target_rev)
)
"""


def _scalars(revisions: DataFrame) -> DataFrame:
    """All four query parameters as ONE 1-row DataFrame
    ``(page_id, target_revision_id, latest_revision_id, next_revision_id)``.

    Two tiny aggregations: a count-only top-1 finds the busiest page,
    then only THAT page's revision ids are collected into a sorted array
    — target (3rd), latest (last) and next (4th, == smallest id > target
    since ids are unique) are plain array lookups.  One broadcastable
    row replaces four separate aggregate subqueries — the previous
    formulation put 21 BroadcastExchanges and several SinglePartition
    aggregations into the flagship plan.  collect_list runs for exactly
    one page (bounded by revisions-per-page), never corpus-wide."""
    counts = revisions.groupBy("page_id").agg(F.count(F.lit(1)).alias("n"))
    top = (
        counts.orderBy(F.col("n").desc(), F.col("page_id").asc())
        .limit(1)
        .select("page_id")
    )
    arr = (
        revisions.join(F.broadcast(top), "page_id")
        .groupBy("page_id")
        .agg(F.sort_array(F.collect_list("revision_id")).alias("revs"))
    )
    return arr.select(
        "page_id",
        F.col("revs").getItem(2).alias("target_revision_id"),
        F.element_at("revs", -1).alias("latest_revision_id"),
        F.col("revs").getItem(3).alias("next_revision_id"),
    )


# Resolved target params per (session, sf_dir): one tiny job, reused by
# both page-scoped queries.
_PARAMS_CACHE: dict[tuple[str, str], dict] = {}


def resolve_target_params(spark: SparkSession, sf_dir: str) -> dict:
    """Run the parameter-resolution query (``_scalars``) and return the
    four scalars as plain Python values.  This is the ONLY driver-side
    collect in the serving surface — a 1-row, 4-column parameter fetch,
    mirroring the reference's own resolve-then-query serving shape
    (reference:api_v1.py:153-170).  The main query stays fully
    distributed."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _PARAMS_CACHE.get(key)
    if cached is not None:
        return cached
    orders = load_table(spark, sf_dir, "orders")
    rev_ids = orders.select(
        F.col("o_custkey").alias("page_id"), F.col("o_orderkey").alias("revision_id")
    )
    row = _scalars(rev_ids).first()
    if row is None:
        # Empty corpus (e.g. an empty incremental delta): null params
        # flow through as literals and every page-scoped predicate
        # filters to an empty result of the correct schema.
        params = {
            "page_id": None,
            "target_revision_id": None,
            "latest_revision_id": None,
            "next_revision_id": None,
        }
    else:
        params = row.asDict()
    _PARAMS_CACHE[key] = params
    return params


TYPE_LABELS = {0: "other", 1: "inline", 2: "endnote"}


def type_label(c: Column) -> Column:
    """reference_type presentation mapping (F11, reference:api_v1.py:14)."""
    return (
        F.when(c == 0, "other")
        .when(c == 1, "inline")
        .when(c == 2, "endnote")
        .otherwise(c.cast("string"))
    )


def citations_at_revision(
    staging: dict[str, DataFrame],
    page_id: int,
    target_revision_id: int,
    latest_revision_id: int,
    next_revision_id: int | None,
) -> DataFrame:
    """The flagship query (reference:api_v1.py:145-364): citations visible
    at revision R of page P with first/last-seen lifecycle, appearance
    count, currently_visible flag and removed_at anti-join.

    The scalar parameters are LITERALS, resolved beforehand by a separate
    tiny query (see ``_scalars`` / ``resolve_target_params``) — the same
    two-step shape as the reference's serving path, which resolves
    revision params first (reference:api_v1.py:153-170) and then runs the
    main statement.  Literal params keep the plan free of scalar-subquery
    subtrees (no repeated broadcast jobs, no driver-side re-analysis of
    deep lineages) and let the page/revision predicates push into the
    parquet scans.

    Operator composition: semi-join presence (J5) -> inner joins J1/J2 ->
    grouped lifecycle agg (A1) -> scalar latest/next revision (A2/A6) ->
    anti-join removed_at (J6).
    """
    ci = staging["citation_instances"]
    ch = staging["citation_histories"]
    rv = staging["revisions"]

    # One page's history slice (a pushed-down filter when staging reads
    # parquet; a no-op on an already page-sliced staging dict).
    chp = ch.filter(F.col("page_id") == F.lit(page_id))

    # Presence at target revision: semi-join (J5) reduced to a filter on
    # the page slice.
    present = chp.filter(F.col("revision_id") == F.lit(target_revision_id)).select(
        "page_id", "raw_sha1"
    )
    visible = ci.join(F.broadcast(present), ["page_id", "raw_sha1"], "left_semi")

    # Full history of the present instances + revision metadata (J1).
    # (Orphan history keys absent from citation_instances drop out in the
    # final inner join with `visible`, matching the reference's U7.)
    rvp = rv.filter(F.col("page_id") == F.lit(page_id)).select(
        "revision_id", "revision_timestamp"
    )
    hist = chp.join(F.broadcast(present), ["page_id", "raw_sha1"], "left_semi").join(
        F.broadcast(rvp), "revision_id"
    )
    stats = hist.groupBy("page_id", "raw_sha1").agg(
        F.min("revision_timestamp").alias("first_seen_ts"),
        F.max("revision_timestamp").alias("last_seen_ts"),
        F.min("revision_id").alias("first_seen_id"),
        F.max("revision_id").alias("last_seen_id"),
        F.count("revision_id").alias("appearance_count"),
    )

    # removed_at: present at R but absent at the next revision (J6 / A6).
    # With no next revision the branch is statically empty.
    if next_revision_id is not None:
        present_next = chp.filter(
            F.col("revision_id") == F.lit(next_revision_id)
        ).select("page_id", "raw_sha1", F.lit(1).alias("__in_next"))
    else:
        present_next = chp.filter(F.lit(False)).select(
            "page_id", "raw_sha1", F.lit(1).alias("__in_next")
        )
    removed_at = (
        F.when(F.col("__in_next").isNull(), F.lit(next_revision_id).cast("long"))
        if next_revision_id is not None
        else F.lit(None).cast("long")
    )

    out = (
        visible.join(F.broadcast(stats), ["page_id", "raw_sha1"])
        .join(F.broadcast(present_next), ["page_id", "raw_sha1"], "left")
        .select(
            "page_id",
            "raw_sha1",
            "normalized_sha1",
            type_label(F.col("reference_type")).alias("reference_type"),
            "reference_name",
            "first_seen_id",
            "first_seen_ts",
            "last_seen_id",
            "last_seen_ts",
            "appearance_count",
            (F.col("last_seen_id") == F.lit(latest_revision_id)).alias(
                "currently_visible"
            ),
            removed_at.alias("removed_at_revision_id"),
        )
    )
    return out


# --------------------------------------------------------------------------
# Registered driver-contract queries
# --------------------------------------------------------------------------


@register(
    "wiki_citations_at_revision",
    oracle=STAGING_CTES
    + ","
    + TARGET_SQL
    + """
    , present AS (
        SELECT page_id, raw_sha1 FROM citation_histories
        WHERE revision_id = (SELECT revision_id FROM target_rev)
    ),
    visible AS (
        SELECT ci.* FROM citation_instances ci
        WHERE EXISTS (
            SELECT 1 FROM present p
            WHERE p.page_id = ci.page_id AND p.raw_sha1 = ci.raw_sha1
        )
    ),
    stats AS (
        SELECT ch.page_id, ch.raw_sha1,
               MIN(r.revision_timestamp) AS first_seen_ts,
               MAX(r.revision_timestamp) AS last_seen_ts,
               MIN(r.revision_id) AS first_seen_id,
               MAX(r.revision_id) AS last_seen_id,
               COUNT(r.revision_id) AS appearance_count
        FROM citation_histories ch
        JOIN revisions r ON r.revision_id = ch.revision_id
        WHERE EXISTS (
            SELECT 1 FROM visible v
            WHERE v.page_id = ch.page_id AND v.raw_sha1 = ch.raw_sha1
        )
        GROUP BY ch.page_id, ch.raw_sha1
    ),
    present_next AS (
        SELECT page_id, raw_sha1 FROM citation_histories
        WHERE revision_id = (SELECT revision_id FROM next_rev)
    )
    SELECT v.page_id, v.raw_sha1, v.normalized_sha1,
           CASE v.reference_type WHEN 0 THEN 'other' WHEN 1 THEN 'inline'
                WHEN 2 THEN 'endnote' ELSE CAST(v.reference_type AS VARCHAR)
           END AS reference_type,
           v.reference_name,
           s.first_seen_id, s.first_seen_ts, s.last_seen_id, s.last_seen_ts,
           s.appearance_count,
           (s.last_seen_id = (SELECT revision_id FROM latest_rev)) AS currently_visible,
           CASE WHEN pn.raw_sha1 IS NULL AND (SELECT revision_id FROM next_rev) IS NOT NULL
                THEN (SELECT revision_id FROM next_rev) END AS removed_at_revision_id
    FROM visible v
    JOIN stats s ON s.page_id = v.page_id AND s.raw_sha1 = v.raw_sha1
    LEFT JOIN present_next pn
        ON pn.page_id = v.page_id AND pn.raw_sha1 = v.raw_sha1
    """,
)
def wiki_citations_at_revision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: every citation visible at a target revision of a page,
    with its full lifecycle (added-at / removed-at / present-at-latest)
    — the reference's J1/J2/J5/J6 semi/anti-join + history-stats core in
    one query (reference:api_v1.py citations endpoint)."""
    p = resolve_target_params(spark, sf_dir)
    staging = derive_staging_for_page(spark, sf_dir, p["page_id"])
    return citations_at_revision(
        staging,
        p["page_id"],
        p["target_revision_id"],
        p["latest_revision_id"],
        p["next_revision_id"],
    )


@register(
    "wiki_revisions_with_counts",
    oracle=STAGING_CTES
    + ","
    + TARGET_SQL
    + """
    SELECT r.revision_id, r.revision_timestamp, r.parent_revision_id,
           COUNT(ch.raw_sha1) AS citation_count
    FROM revisions r
    LEFT JOIN citation_histories ch ON ch.revision_id = r.revision_id
    WHERE r.page_id = (SELECT page_id FROM target_page)
    GROUP BY r.revision_id, r.revision_timestamp, r.parent_revision_id
    """,
)
def wiki_revisions_with_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revision list with per-revision citation counts — left outer join
    keeps zero-citation revisions (J3/A4, reference:api_v1.py:106-142)."""
    p = resolve_target_params(spark, sf_dir)
    staging = derive_staging_for_page(spark, sf_dir, p["page_id"])
    rv = staging["revisions"]
    ch = staging["citation_histories"]
    return (
        rv.join(ch, "revision_id", "left")
        .groupBy("revision_id", "revision_timestamp", "parent_revision_id")
        .agg(F.count("raw_sha1").alias("citation_count"))
    )


@register(
    "wiki_citation_history",
    oracle=STAGING_CTES
    + """
    , target_norm AS (
        SELECT normalized_sha1 FROM citation_instances
        GROUP BY normalized_sha1 ORDER BY COUNT(*) DESC, normalized_sha1 LIMIT 1
    )
    SELECT ch.revision_id, r.revision_timestamp, r.page_id
    FROM citation_instances ci
    JOIN citation_histories ch
        ON ch.page_id = ci.page_id AND ch.raw_sha1 = ci.raw_sha1
    JOIN revisions r ON r.revision_id = ch.revision_id
    WHERE ci.normalized_sha1 = (SELECT normalized_sha1 FROM target_norm)
    """,
)
def wiki_citation_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-page revision history of one content-addressed citation
    (reference:api_v1.py:444-476): instances of the most-reused
    normalized_sha1 joined back through history to revisions.

    Computed directly on the shared ``lines`` cache rather than the full
    staging build: normalized_sha1 is a pure function of the raw
    identity, so the instance count per citation is a countDistinct over
    lines, and the expensive distincts run only on the matched slice
    (one citation's rows) after the broadcast semi-join — never on the
    whole corpus.  The revision join needs no lag window, just the
    orders projection."""
    lines = _shared_lines(spark, sf_dir)
    target = (
        lines.groupBy("normalized_sha1")
        .agg(F.countDistinct("page_id", "raw_sha1").alias("n"))
        .orderBy(F.col("n").desc(), F.col("normalized_sha1").asc())
        .limit(1)
        .select("normalized_sha1")
    )
    matched_hist = (
        lines.join(F.broadcast(target), "normalized_sha1")
        .select("page_id", "raw_sha1", "revision_id")
        .distinct()
    )
    orders = load_table(spark, sf_dir, "orders")
    rv_lite = orders.select(
        F.col("o_orderkey").alias("revision_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
            "revision_timestamp"
        ),
        F.col("o_custkey").alias("rev_page_id"),
    )
    return (
        matched_hist.join(rv_lite, "revision_id")
        .select(
            "revision_id",
            "revision_timestamp",
            F.col("rev_page_id").alias("page_id"),
        )
    )


@register(
    "wiki_template_params_pivot",
    oracle=STAGING_CTES
    + """
    SELECT normalized_sha1,
           string_agg(
               concat(template_name, ':', parameter_key, '=', parameter_value),
               '|' ORDER BY concat(template_name, ':', parameter_key, '=', parameter_value)
           ) AS params
    FROM template_data
    GROUP BY normalized_sha1
    """,
)
def wiki_template_params_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template parameter pivot (A7, reference:api_v1.py:324-333): k=v
    assembly per citation, deterministically ordered."""
    td = derive_staging(spark, sf_dir)["template_data"]
    kv = F.concat(
        F.col("template_name"),
        F.lit(":"),
        F.col("parameter_key"),
        F.lit("="),
        F.col("parameter_value"),
    )
    return td.groupBy("normalized_sha1").agg(
        F.array_join(F.array_sort(F.collect_list(kv)), "|").alias("params")
    )


@register(
    "wiki_template_report",
    oracle=STAGING_CTES
    + """
    , target_tpl AS (
        SELECT template_name FROM template_data
        GROUP BY template_name ORDER BY COUNT(*) DESC, template_name LIMIT 1
    ),
    target_val AS (
        SELECT parameter_value FROM template_data
        WHERE template_name = (SELECT template_name FROM target_tpl)
          AND parameter_key = 'type'
        GROUP BY parameter_value ORDER BY COUNT(*) DESC, parameter_value LIMIT 1
    )
    SELECT DISTINCT normalized_sha1
    FROM template_data
    WHERE template_name = (SELECT template_name FROM target_tpl)
      AND parameter_key = 'type'
      AND parameter_value = (SELECT parameter_value FROM target_val)
    """,
)
def wiki_template_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template usage report (reference:api_v1.py:479-528): distinct
    citations using template T with parameter key/value equality."""
    td = derive_staging(spark, sf_dir)["template_data"]
    tpl = (
        td.groupBy("template_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("template_name").asc())
        .limit(1)
        .select("template_name")
    )
    with_tpl = td.join(F.broadcast(tpl), "template_name").filter(
        F.col("parameter_key") == "type"
    )
    val = (
        with_tpl.groupBy("parameter_value")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("parameter_value").asc())
        .limit(1)
        .select("parameter_value")
    )
    return (
        with_tpl.join(F.broadcast(val), "parameter_value")
        .select("normalized_sha1")
        .distinct()
    )


@register(
    "wiki_web_resource_lookup",
    oracle=STAGING_CTES
    + """
    , target_url AS (
        SELECT url FROM (
            SELECT concat('https://ex', CAST(l_partkey % 97 AS VARCHAR),
                          '.example/p', CAST(l_partkey AS VARCHAR)) AS url
            FROM lines
        ) GROUP BY url ORDER BY COUNT(*) DESC, url LIMIT 1
    ),
    hits AS (
        SELECT n.url, n.normalized_sha1, ci.page_id, ci.raw_sha1
        FROM ncwr n
        JOIN citation_instances ci ON ci.normalized_sha1 = n.normalized_sha1
        WHERE n.url = (SELECT url FROM target_url)
    )
    SELECT h.url, h.normalized_sha1, h.page_id,
           COUNT(DISTINCT h.raw_sha1) AS n_instances,
           COUNT(ch.revision_id) AS n_history_rows
    FROM hits h
    LEFT JOIN citation_histories ch
        ON ch.page_id = h.page_id AND ch.raw_sha1 = h.raw_sha1
    GROUP BY h.url, h.normalized_sha1, h.page_id
    """,
)
def wiki_web_resource_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL reverse lookup (reference:api_v1.py:531-570): which normalized
    citations contain a web resource, and on which pages / in how many
    revisions those instances appear.  The most-referenced URL is the
    deterministic target; the lookup itself is ncwr ⋈ instances ⋈
    history with the 1-row URL parameter broadcast."""
    staging = derive_staging(spark, sf_dir)
    ncwr = staging["ncwr"]
    ci = staging["citation_instances"]
    ch = staging["citation_histories"]
    url = F.concat(
        F.lit("https://ex"),
        (F.col("l_partkey") % 97).cast("string"),
        F.lit(".example/p"),
        F.col("l_partkey").cast("string"),
    )
    # Target = most-referenced URL over raw occurrence rows (not the
    # deduped ncwr pairs), tie-broken lexicographically — counted on the
    # shared lines cache, not a fresh lineitem⋈orders join.
    lines_urls = _shared_lines(spark, sf_dir).select(url.alias("url"))
    target = (
        lines_urls.groupBy("url")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("url").asc())
        .limit(1)
        .select("url")
    )
    hits = (
        ncwr.join(F.broadcast(target), "url")
        .join(ci.select("normalized_sha1", "page_id", "raw_sha1"), "normalized_sha1")
    )
    return (
        hits.join(ch, ["page_id", "raw_sha1"], "left")
        .groupBy("url", "normalized_sha1", "page_id")
        .agg(
            F.countDistinct("raw_sha1").alias("n_instances"),
            F.count("revision_id").alias("n_history_rows"),
        )
    )


@register(
    "wiki_other_articles",
    oracle=STAGING_CTES
    + """
    , target_page AS (
        SELECT page_id FROM revisions
        GROUP BY page_id ORDER BY COUNT(*) DESC, page_id LIMIT 1
    ),
    mine AS (
        SELECT DISTINCT normalized_sha1 FROM citation_instances
        WHERE page_id = (SELECT page_id FROM target_page)
    )
    SELECT ci.page_id, COUNT(DISTINCT ci.normalized_sha1) AS shared_citations
    FROM citation_instances ci
    JOIN mine m ON m.normalized_sha1 = ci.normalized_sha1
    WHERE ci.page_id <> (SELECT page_id FROM target_page)
    GROUP BY ci.page_id
    """,
)
def wiki_other_articles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Other-articles report (reference:explorer.py:467-558): pages that
    share content-addressed citations with the target page, with the
    count of shared normalized citations.  A self-join of instances on
    normalized_sha1 with the target page's (small) citation set
    broadcast — never an all-pairs page product."""
    staging = derive_staging(spark, sf_dir)
    ci = staging["citation_instances"]
    p = resolve_target_params(spark, sf_dir)
    mine = (
        ci.filter(F.col("page_id") == F.lit(p["page_id"]))
        .select("normalized_sha1")
        .distinct()
    )
    return (
        ci.join(F.broadcast(mine), "normalized_sha1")
        .filter(F.col("page_id") != F.lit(p["page_id"]))
        .groupBy("page_id")
        .agg(F.countDistinct("normalized_sha1").alias("shared_citations"))
    )
