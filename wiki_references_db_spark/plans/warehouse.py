"""Phase 2: deduplicated staging -> id-resolved warehouse.

Replaces the reference's FK-ordered PostgreSQL load
(reference:load_all.py:533-588: 11 phases of chunked SELECT..IN lookups
+ batched upserts) with one DAG of column-resolution joins:

- Surrogate ids are DETERMINISTIC: ``xxhash64`` of the natural key
  (SURVEY §2.8 U4).  Content-hash ids make full rebuilds reproducible,
  need no sequence coordination across 1000 executors, and turn every
  natural-key lookup (J7) into a pure column expression — most FK
  resolutions below don't even join.
- FK ordering (U5) becomes dataflow dependency; nothing is sequential.
- Orphan accounting (U7, reference:load_all.py:394-399): inner joins
  drop orphans; ``orphan_stats`` counts them via anti-joins.

Table shapes follow reference:models.py:18-572 (minus the Postgres-only
columns); `id` columns are BIGINT.

Four derived tables ride along, one per serving lookup that would
otherwise aggregate or join whole tables on every request.  Each is a
pure function of the other tables, built from the same build's outputs
and rebuilt with them — never updated incrementally — and keyed for a
point read:

- ``citation_cards`` (lookup key ``normalized_sha1``): one row per
  normalized citation with its hydrated child collections (other
  articles, extracted links, templates with their parameters);
- ``revision_cards`` (lookup key ``page_id``): one row per revision
  with its ``citation_count``;
- ``web_resource_cards`` (lookup key ``url``): one row per web
  resource with its domain and the citations that reference it;
- ``instance_cards`` (lookup key ``page_id``): one row per citation
  instance with its lifecycle (first/last seen, appearance count) and
  ``presence``, the runs of consecutive page revisions it appears in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wiki_references_db_spark.plans.sink import write_tables
from wiki_references_db_spark.schemas import WAREHOUSE


def _id(*cols) -> F.Column:
    return F.xxhash64(*cols)


def build_warehouse(staging: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """staging (deduplicated, natural keys) -> warehouse (surrogate ids).

    Join strategy: all dimension resolutions that DO need a join
    (domain value -> id for cited URLs, revision bundle registry) are
    broadcast; the big fact tables (citation_histories at ~28.8e9 rows
    design scale, reference:models.py:340-342) only ever join by
    pre-hashed keys they already carry.
    """
    containers = staging["containers"].select(
        _id("label").alias("id"), F.col("label")
    )

    domains = staging["domains"].select(
        _id("value").alias("id"),
        "value",
        F.element_at(F.split(F.col("value"), "\\."), -1).alias("top_level_domain"),
        F.when(
            F.col("for_container_label").isNotNull(), _id("for_container_label")
        ).alias("for_container"),
    )

    documents = staging["documents"].select(
        _id("has_container_label", "page_id").alias("id"),
        "language_code",
        _id("has_container_label").alias("has_container"),
        F.col("page_id"),
    )

    # web_resources: domain_id via hash of the label; instance_of_document
    # only resolvable for curid rows (they carry page_id + wiki domain).
    web_resources = staging["web_resources"].select(
        _id("url").alias("id"),
        "url",
        F.md5(F.col("url")).alias("url_hash"),
        F.when(
            F.col("page_id").isNotNull() & F.col("domain_label").isNotNull(),
            _id("domain_label", "page_id"),
        ).alias("instance_of_document"),
        F.when(F.col("domain_label").isNotNull(), _id("domain_label")).alias(
            "domain_id"
        ),
        "numeric_page_id",
        "numeric_namespace_id",
    )

    normalized_citations = staging["normalized_citations"].select(
        _id("normalized_sha1").alias("id"),
        "normalized_sha1",
        "reference_normalized",
        F.when(
            F.col("appears_on_page_id").isNotNull()
            & F.col("appears_on_domain").isNotNull(),
            _id("appears_on_domain", "appears_on_page_id"),
        ).alias("appears_on_article"),
    )

    citation_instances = staging["citation_instances"].select(
        _id("page_id", "raw_sha1").alias("id"),
        _id("normalized_sha1").alias("normalized_id"),
        "page_id",
        "raw_sha1",
        "reference_type",
        "reference_name",
    )

    # citation_history: (page_id, raw_sha1) -> instance id is a pure
    # expression — the 28.8B-row table never joins during the build.
    citation_histories = staging["citation_histories"].select(
        _id("page_id", "raw_sha1").alias("citation_instance_id"),
        "revision_id",
    )

    revisions = staging["revisions"].select(
        "revision_id",
        "page_id",
        "parent_revision_id",
        "revision_timestamp",
    )

    ncwr = staging["ncwr"].select(
        _id("normalized_sha1").alias("normalized_id"),
        _id("url").alias("web_resource_id"),
    )

    wiki_templates = staging["wiki_templates"].select(
        _id("domain_label", "name").alias("id"),
        _id("domain_label").alias("domain"),
        "name",
    )

    template_data = staging["template_data"].select(
        _id("domain_label", "template_name").alias("wiki_template_id"),
        _id("normalized_sha1").alias("normalized_id"),
        "offset_start",
        F.md5(F.col("parameter_key")).alias("parameter_key_md5"),
        "parameter_key",
        "parameter_value",
    )

    warehouse = {
        "containers": containers,
        "domains": domains,
        "documents": documents,
        "web_resources": web_resources,
        "normalized_citations": normalized_citations,
        "citation_instances": citation_instances,
        "citation_histories": citation_histories,
        "revisions": revisions,
        "ncwr": ncwr,
        "wiki_templates": wiki_templates,
        "template_data": template_data,
    }
    for name, (derive, _) in _DERIVED.items():
        warehouse[name] = derive(warehouse)
    return warehouse


def _sort_template_structs(arr):
    """array_sort with an explicit comparator: the template structs carry
    a MAP field, which Spark's default struct ordering cannot compare."""

    def cmp(left, right):
        def by(field):
            return (
                F.when(left[field] < right[field], -1)
                .when(left[field] > right[field], 1)
                .otherwise(0)
            )

        return (
            F.when(by("offset_start") != 0, by("offset_start"))
            .when(by("template_name") != 0, by("template_name"))
            .otherwise(by("wiki_template_id"))
        )

    return F.array_sort(arr, cmp)


def citation_cards(w: dict[str, DataFrame]) -> DataFrame:
    """One row per ``normalized_citations.id``: the normalized text plus
    its hydrated child collections (J8 + A7, reference:api_v1.py:145-441)
    — ``other_articles`` (page + document of the article it appears on),
    ``extracted_links`` (url + web_resource_id) and ``templates``
    (offset, name, id, parameter map).  Every array has a deterministic
    order via array_sort on its leading struct fields; a citation
    without links or templates carries NULL, not an empty array (left
    joins).  ``other_articles`` always holds exactly one entry: the
    ``id`` is unique and so is the document it left-joins to, so the
    array is built per row, with no aggregation."""
    other_articles = F.array(
        F.struct(
            F.col("oa_page_id").alias("page_id"),
            F.col("appears_on_article").alias("document_id"),
        )
    )

    links = (
        w["ncwr"]
        .join(
            w["web_resources"].select(
                F.col("id").alias("web_resource_id"), "url"
            ),
            "web_resource_id",
        )
        .groupBy("normalized_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("url"), F.col("web_resource_id")))
            ).alias("extracted_links")
        )
    )

    tpl = (
        w["template_data"]
        .join(
            w["wiki_templates"].select(
                F.col("id").alias("wiki_template_id"), F.col("name")
            ),
            "wiki_template_id",
        )
        .groupBy("normalized_id", "wiki_template_id", "name", "offset_start")
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("parameter_key"), F.col("parameter_value"))
                    )
                )
            ).alias("parameters")
        )
        .groupBy("normalized_id")
        .agg(
            _sort_template_structs(
                F.collect_list(
                    F.struct(
                        F.col("offset_start"),
                        F.col("name").alias("template_name"),
                        F.col("wiki_template_id"),
                        F.col("parameters"),
                    )
                )
            ).alias("templates")
        )
    )

    return (
        w["normalized_citations"]
        .join(
            w["documents"].select(F.col("id").alias("appears_on_article"),
                                  F.col("page_id").alias("oa_page_id")),
            "appears_on_article",
            "left",
        )
        .select(
            F.col("id").alias("normalized_id"),
            "normalized_sha1",
            "reference_normalized",
            other_articles.alias("other_articles"),
        )
        .join(links, "normalized_id", "left")
        .join(tpl, "normalized_id", "left")
    )


def revision_cards(w: dict[str, DataFrame]) -> DataFrame:
    """One row per revision with its ``citation_count``: the number of
    citation-instance history rows at that revision, 0 when there are
    none (J3/A4, reference:api_v1.py:68-142)."""
    counts = w["citation_histories"].groupBy("revision_id").agg(
        F.count("citation_instance_id").alias("citation_count")
    )
    return w["revisions"].join(counts, "revision_id", "left").select(
        "page_id",
        "revision_id",
        "revision_timestamp",
        "parent_revision_id",
        F.coalesce(F.col("citation_count"), F.lit(0)).alias("citation_count"),
    )


def web_resource_cards(w: dict[str, DataFrame]) -> DataFrame:
    """One row per web resource with its domain, its page id and
    ``referenced_by``: the sorted (normalized_sha1, appears_on_article)
    of every citation that links to it, NULL when none does
    (reference:api_v1.py:531-570)."""
    refs = (
        w["ncwr"]
        .join(
            w["normalized_citations"].select(
                F.col("id").alias("normalized_id"),
                "normalized_sha1",
                "appears_on_article",
            ),
            "normalized_id",
        )
        .groupBy("web_resource_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("normalized_sha1", "appears_on_article"))
            ).alias("referenced_by")
        )
    )
    dom = w["domains"].select(F.col("id").alias("domain_id"), F.col("value").alias("domain"))
    return (
        w["web_resources"]
        .join(dom, "domain_id", "left")
        .select(F.col("id").alias("web_resource_id"), "url", "domain", "numeric_page_id")
        .join(refs, "web_resource_id", "left")
    )


def instance_cards(w: dict[str, DataFrame]) -> DataFrame:
    """One row per citation instance that appears in a revision of its
    page: the instance's columns, its lifecycle over the page's
    revisions (first/last seen id and timestamp, ``appearance_count``)
    and ``presence``, the sorted maximal ``(from_id, to_id)`` runs of
    consecutive page revisions (in ``revision_id`` order) that carry
    it (reference:api_v1.py:145-364).  The instance is visible at a
    revision R of its page iff R lies in one of the runs, so a request
    needs no history rows.

    The runs are gaps-and-islands: a revision's ordinal within its page
    minus its row number within the instance is constant along a run.
    History rows count only at revisions of the instance's own page."""
    rev = w["revisions"].select(
        "revision_id",
        "page_id",
        "revision_timestamp",
        F.row_number()
        .over(Window.partitionBy("page_id").orderBy("revision_id"))
        .alias("page_ordinal"),
    )
    in_instance = Window.partitionBy("id", "page_id").orderBy("revision_id")
    runs = (
        w["citation_histories"]
        .join(rev, "revision_id")
        .withColumnRenamed("citation_instance_id", "id")
        .withColumn("island", F.col("page_ordinal") - F.row_number().over(in_instance))
        .groupBy("id", "page_id", "island")
        .agg(
            F.min("revision_id").alias("from_id"),
            F.max("revision_id").alias("to_id"),
            F.min("revision_timestamp").alias("first_ts"),
            F.max("revision_timestamp").alias("last_ts"),
            F.count("revision_id").alias("n"),
        )
    )
    lifecycle = runs.groupBy("id", "page_id").agg(
        F.min("from_id").alias("first_seen_id"),
        F.min("first_ts").alias("first_seen_ts"),
        F.max("to_id").alias("last_seen_id"),
        F.max("last_ts").alias("last_seen_ts"),
        F.sum("n").alias("appearance_count"),
        F.array_sort(F.collect_list(F.struct("from_id", "to_id"))).alias("presence"),
    )
    return w["citation_instances"].join(lifecycle, ["id", "page_id"]).select(
        "id",
        "page_id",
        "raw_sha1",
        "normalized_id",
        "reference_type",
        "reference_name",
        "first_seen_id",
        "first_seen_ts",
        "last_seen_id",
        "last_seen_ts",
        "appearance_count",
        "presence",
    )


# The derived tables: name -> (builder over the other tables, lookup
# key).  Each is written sorted within partitions on its lookup key, so
# parquet min/max stats let a point read skip row groups.
_DERIVED = {
    "citation_cards": (citation_cards, "normalized_sha1"),
    "revision_cards": (revision_cards, "page_id"),
    "web_resource_cards": (web_resource_cards, "url"),
    "instance_cards": (instance_cards, "page_id"),
}


def orphan_stats(staging: dict[str, DataFrame]) -> dict[str, int]:
    """U7 accounting: history rows whose (page_id, raw_sha1) has no
    citation instance, and ncwr rows without a web_resource/citation."""
    ch = staging["citation_histories"]
    ci = staging["citation_instances"].select("page_id", "raw_sha1").distinct()
    orphan_history = ch.join(ci, ["page_id", "raw_sha1"], "left_anti").count()

    ncwr = staging["ncwr"]
    nc = staging["normalized_citations"].select("normalized_sha1").distinct()
    orphan_ncwr = ncwr.join(nc, ["normalized_sha1"], "left_anti").count()
    return {
        "orphan_citation_histories": orphan_history,
        "orphan_ncwr": orphan_ncwr,
    }


# The two instance-keyed fact tables and their co-location keys:
# every downstream instance-keyed join (citation_histories ⋈
# citation_instances on citation_instance_id = id) and aggregation
# (groupBy citation_instance_id) plans exchange-free when both land
# bucketed on these keys with the SAME bucket count.  At the 28.8B-row
# design point that is THE shuffle to pay once at write time instead
# of per query (SURVEY §7.3 risk 5; the reference re-sorts per query
# inside Postgres instead).
_BUCKETED_FACTS: dict[str, tuple[list[str], list[str]]] = {
    # name -> (bucket keys, within-bucket sort keys).  The sort keys
    # extend the bucket key where a secondary column matters for
    # row-group skipping: history lookups filter by revision_id inside
    # an instance, so the plain-parquet path's
    # (citation_instance_id, revision_id) sort is preserved here too.
    "citation_histories": (
        ["citation_instance_id"],
        ["citation_instance_id", "revision_id"],
    ),
    "citation_instances": (["id"], ["id"]),
}


def write_warehouse(
    warehouse: dict[str, DataFrame],
    out_dir: str,
    history_buckets: int = 0,
    bucketed: bool = True,
    table_prefix: str = "wh",
) -> None:
    """Warehouse sink.  ``citation_histories`` — the 28.8B-row design
    point — is written sorted within partitions by its join key so
    parquet min/max row-group stats give data skipping, and optionally
    repartitioned by instance id (the dominant join key downstream).
    Never collected or broadcast (SURVEY §7.3 risk 5).

    Bucketing is the SERVING DEFAULT: whenever ``history_buckets`` > 0
    the two instance-keyed fact tables land as BUCKETED external catalog
    tables (pass ``bucketed=False`` to opt out and write plain sorted
    parquet, e.g. when no metastore will be present at read time).
    With ``bucketed=True`` (and ``history_buckets`` > 0) they land as
    (``{table_prefix}_{name}`` at ``{out_dir}/{name}``) via
    plans/bucketing.write_bucketed — bucket-hashed AND bucket-sorted on
    their co-location key, same bucket count on both sides, so
    Catalyst plans instance-keyed fact-fact joins and aggregations with
    zero Exchange (tests/test_warehouse_bucketing.py pins the plan).
    The files are still plain zstd parquet — a reader without the
    catalog entry sees an ordinary parquet directory.

    The four derived tables — ``citation_cards`` on
    ``normalized_sha1``, ``revision_cards`` on ``page_id``,
    ``web_resource_cards`` on ``url`` and ``instance_cards`` on
    ``page_id`` — are written as plain zstd parquet sorted within
    partitions on that lookup key.  They are derived from the other
    tables of the same ``warehouse`` dict, so writing them together
    keeps them consistent; there is no incremental update of them.

    FK ordering is dataflow, so the 15 tables are independent jobs
    submitted together (``plans.sink.write_tables``): each reads only
    its own inputs, never another table's written output, and the first
    error is re-raised after every write has finished."""
    from wiki_references_db_spark.plans.bucketing import write_bucketed

    def write(name: str, df: DataFrame) -> None:
        if bucketed and history_buckets and name in _BUCKETED_FACTS:
            keys, sort_keys = _BUCKETED_FACTS[name]
            write_bucketed(
                df,
                f"{table_prefix}_{name}",
                keys,
                history_buckets,
                path=f"{out_dir}/{name}",
                sort_keys=sort_keys,
            )
            return
        writer_df = df
        if name in _DERIVED:
            writer_df = df.sortWithinPartitions(_DERIVED[name][1])
        elif name == "citation_histories":
            if history_buckets:
                writer_df = df.repartition(history_buckets, "citation_instance_id")
            writer_df = writer_df.sortWithinPartitions("citation_instance_id", "revision_id")
        (
            writer_df.write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(f"{out_dir}/{name}")
        )

    write_tables(warehouse, write)


def read_warehouse(
    spark, out_dir: str, table_prefix: str | None = None
) -> dict[str, DataFrame]:
    """Load a written warehouse back as table DataFrames — the serving
    layer's production input (parquet scans with pushdown, not
    recomputed join DAGs).  Plain tables are read with their declared
    ``WAREHOUSE`` schemas, so no job merges parquet footers to infer
    them.  Pass the ``table_prefix`` used at write time to read the
    bucketed fact tables through the catalog (the bucket layout lives
    in the table catalog, not the files — a plain parquet read of the
    same directory is correct but re-shuffles)."""
    import os

    out: dict[str, DataFrame] = {}
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("_"):
            continue
        if table_prefix is not None and name in _BUCKETED_FACTS:
            out[name] = spark.table(f"{table_prefix}_{name}")
        else:
            out[name] = spark.read.schema(WAREHOUSE[name]).parquet(f"{out_dir}/{name}")
    return out
