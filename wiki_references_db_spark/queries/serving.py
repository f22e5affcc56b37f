"""Serving-layer query surface: every reference API endpoint as a pure
``(warehouse_tables, params) -> DataFrame`` function.

Endpoint map (reference:api_v1.py / explorer.py):

- ``article_revisions``            GET /article + /article/<id>/revisions
  (revision list + per-revision citation counts, reference:api_v1.py:68-142)
- ``article_citations``            GET /article/<id>/citations
  (the flagship: lifecycle + hydrated links/templates/other-articles,
  reference:api_v1.py:145-364)
- ``citation_detail``              GET /citation/<sha1>
  (reference:api_v1.py:367-441)
- ``citation_history``             GET /citation/<sha1>/history
  (reference:api_v1.py:444-476)
- ``template_report``              GET /template/<id>/report
  (reference:api_v1.py:479-528)
- ``web_resource_lookup``          GET /web_resource
  (reference:api_v1.py:531-570)

Request parameters arrive as Python literals (they come from an HTTP
layer); Catalyst folds them into pushed-down predicates.  What every
request of a session would recompute is read, not computed: the
warehouse's derived tables (plans/warehouse.py) are built once with it
— the set-oriented form of the reference's batched IN-lists +
Python-side grouping (J8, the N+1 avoidance noted at
reference:explorer.py:155-160).  Every route other than the flagship
is a point read of one narrow table or broadcasts only its filtered
side:

- the revision list filters ``revision_cards`` on ``page_id``;
- the citation card filters ``citation_cards`` on ``normalized_sha1``;
- the web-resource lookup filters ``web_resource_cards`` on ``url``;
- the template report semi-joins ``normalized_citations`` to the
  broadcast ids of the matching ``template_data`` rows;
- the citation history broadcasts the citation's instances, then their
  history rows, past a streamed ``revisions`` scan.

The flagship joins ``citation_cards`` to the page's broadcast
instances.  No request aggregates a child table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wiki_references_db_spark.operators.relational import paginate
from wiki_references_db_spark.plans.warehouse import _id
from wiki_references_db_spark.queries.citations import type_label


def article_revisions(w: dict[str, DataFrame], page_id: int, limit: int = 100,
                      offset: int = 0) -> DataFrame:
    """Revisions of a page with citation counts, zero-citation revisions
    included (J3/A4): the page's ``revision_cards`` rows."""
    rev = w["revision_cards"].filter(F.col("page_id") == page_id).select(
        "revision_id", "revision_timestamp", "parent_revision_id", "citation_count"
    )
    return paginate(
        rev,
        [F.col("revision_timestamp").asc(), F.col("revision_id").asc()],
        limit=limit,
        offset=offset,
    )


def resolve_revision(w: dict[str, DataFrame], page_id: int,
                     revision_id: int | None) -> dict:
    """Resolve the flagship's scalar params (target/latest/next revision
    ids) with ONE tiny aggregation over the page's revisions — the
    reference's own resolve-then-query serving shape
    (reference:api_v1.py:153-170).  The 1-row collect keeps every
    scalar-subquery subtree (and its repeated broadcast jobs) out of the
    main plan, whose page/revision predicates then push into the
    parquet scans as literals.  ``latest_revision_id`` is None when the
    page has no revisions."""
    rev = w["revisions"].filter(F.col("page_id") == page_id)
    row = rev.groupBy().agg(
        F.max("revision_id").alias("latest"),
        F.min(
            F.when(F.col("revision_id") > F.lit(revision_id), F.col("revision_id"))
        ).alias("next_after_given"),
    ).first()
    latest = row["latest"] if row else None
    if revision_id is None:
        target, nxt = latest, None
    else:
        target, nxt = revision_id, row["next_after_given"] if row else None
    return {
        "target_revision_id": target,
        "latest_revision_id": latest,
        "next_revision_id": nxt,
    }


def article_citations(
    w: dict[str, DataFrame],
    page_id: int,
    revision_id: int | None = None,
    raw: bool = False,
    limit: int = 100,
    offset: int = 0,
    resolved: dict | None = None,
) -> DataFrame:
    """The flagship (reference:api_v1.py:145-364): citations visible at a
    revision with lifecycle stats, currently_visible, removed_at, and —
    in normalized mode — the hydrated links / templates / other-articles
    of their ``citation_cards`` row.  ``resolved`` is the
    :func:`resolve_revision` result for the same page and revision, for
    a caller that already ran it.

    The lifecycle is ONE ``groupBy(citation_instance_id)`` over the
    page's instance history: first/last seen, appearance count, and two
    presence flags — at the target revision (which instances are
    visible) and at the next revision (``removed_at``).  The history is
    joined to the page's revisions only: instance ids hash the page id,
    so a page's instances appear in no other page's revisions.  Over
    the bucketed history table the aggregation plans with no
    Exchange."""
    p = resolved or resolve_revision(w, page_id, revision_id)
    target, latest, nxt = (
        p["target_revision_id"],
        p["latest_revision_id"],
        p["next_revision_id"],
    )
    rev = w["revisions"].filter(F.col("page_id") == page_id)
    stats = (
        w["citation_histories"]
        .join(F.broadcast(rev.select("revision_id", "revision_timestamp")),
              "revision_id")
        .groupBy("citation_instance_id")
        .agg(
            F.min("revision_timestamp").alias("first_seen_ts"),
            F.max("revision_timestamp").alias("last_seen_ts"),
            F.min("revision_id").alias("first_seen_id"),
            F.max("revision_id").alias("last_seen_id"),
            F.count("revision_id").alias("appearance_count"),
            F.max(F.col("revision_id") == F.lit(target).cast("long")).alias("__at_target"),
            F.max(F.col("revision_id") == F.lit(nxt).cast("long")).alias("__at_next"),
        )
        .filter(F.col("__at_target"))
    )
    ci = w["citation_instances"].filter(F.col("page_id") == page_id)
    base = stats.join(F.broadcast(ci), stats.citation_instance_id == ci.id)

    lifecycle = [
        "reference_name",
        "first_seen_id",
        "first_seen_ts",
        "last_seen_id",
        "last_seen_ts",
        "appearance_count",
        (F.col("last_seen_id") == F.lit(latest).cast("long")).alias("currently_visible"),
    ]
    instance_id = F.col("id").alias("citation_instance_id")
    label = type_label(F.col("reference_type")).alias("reference_type")
    if raw:
        out = base.select(instance_id, "raw_sha1", label, *lifecycle)
    else:
        # removed_at is NULL when the instance is still there at the next
        # revision, and when there is no next revision (flag NULL).
        removed_at = F.when(~F.col("__at_next"), F.lit(nxt).cast("long"))
        out = F.broadcast(base).join(w["citation_cards"], "normalized_id").select(
            instance_id,
            "normalized_sha1",
            "reference_normalized",
            label,
            *lifecycle,
            removed_at.alias("removed_at_revision_id"),
            "other_articles",
            "extracted_links",
            "templates",
        )
    return paginate(
        out,
        [F.col("last_seen_ts").desc(), F.col("citation_instance_id").asc()],
        limit=limit,
        offset=offset,
    )


def citation_history(
    w: dict[str, DataFrame], normalized_sha1: str, page_id: int | None = None
) -> DataFrame:
    """All revisions where any instance of a normalized citation appears
    (reference:api_v1.py:444-476), one row per instance and revision, so
    two instances in one revision give two rows.  The normalized id is
    the warehouse's own hash of the sha1, a literal filter on the
    instances.  The citation's instances, then their history rows, are
    broadcast; ``revisions`` is only streamed.  The result is one
    citation's history, so it sorts within one partition after one hash
    exchange instead of a range-partitioned sort."""
    ci = w["citation_instances"].filter(
        F.col("normalized_id") == _id(F.lit(normalized_sha1))
    )
    hist = w["citation_histories"].join(
        F.broadcast(ci.select(F.col("id").alias("citation_instance_id"))),
        "citation_instance_id",
    )
    rev = w["revisions"]
    if page_id is not None:
        rev = rev.filter(F.col("page_id") == page_id)
    return (
        rev.join(F.broadcast(hist.select("revision_id")), "revision_id")
        .select("revision_id", "revision_timestamp", "page_id")
        .repartition(1, "revision_id")
        .sortWithinPartitions("revision_timestamp", "revision_id")
    )


def citation_detail(w: dict[str, DataFrame], normalized_sha1: str) -> DataFrame:
    """Citation card (reference:api_v1.py:367-441): the citation's
    ``citation_cards`` row — normalized text + hydrated
    articles/links/templates as collected arrays, 1 row."""
    return (
        w["citation_cards"]
        .filter(F.col("normalized_sha1") == normalized_sha1)
        .withColumnRenamed("other_articles", "appears_on_articles")
    )


def template_report(
    w: dict[str, DataFrame],
    wiki_template_id: int,
    parameter_key: str,
    parameter_value: str,
    limit: int = 100,
    offset: int = 0,
) -> DataFrame:
    """Citations using template T with key=value (reference:api_v1.py:479-528):
    ``normalized_citations`` semi-joined to the broadcast ids of the
    matching ``template_data`` rows.  ``normalized_citations.id`` is
    unique, so each citation comes out once."""
    td = w["template_data"].filter(
        (F.col("wiki_template_id") == wiki_template_id)
        & (F.col("parameter_key") == parameter_key)
        & (F.col("parameter_value") == parameter_value)
    )
    out = (
        w["normalized_citations"]
        .join(F.broadcast(td.select(F.col("normalized_id").alias("id"))), "id", "left_semi")
        .select("normalized_sha1", "reference_normalized", "appears_on_article")
    )
    return paginate(
        out, [F.col("normalized_sha1").asc()], limit=limit, offset=offset
    )


def web_resource_lookup(w: dict[str, DataFrame], url: str) -> DataFrame:
    """Reverse lookup: which citations reference a URL
    (reference:api_v1.py:531-570) — the URL's ``web_resource_cards``
    row."""
    return w["web_resource_cards"].filter(F.col("url") == url)


def name_only_refs(w: dict[str, DataFrame], page_id: int) -> DataFrame:
    """Named-instance convenience from the explorer: instances whose
    normalized text is just a name-only ref tag
    (reference:explorer.py:20-26,486-491) — the regex-predicate operator
    P6 in service position."""
    ci = w["citation_instances"].filter(
        (F.col("page_id") == page_id)
        & F.col("reference_name").isNotNull()
        & (F.col("reference_name") != "")
    )
    nc = w["normalized_citations"].select(
        F.col("id").alias("normalized_id"), "reference_normalized"
    )
    pattern = r'(?i)^<ref\s+name\s*=\s*("[^"]*"|\'[^\']*\'|[^\s/>]+)\s*/\s*>$'
    return ci.join(nc, "normalized_id").withColumn(
        "is_name_only", F.col("reference_normalized").rlike(pattern)
    )
