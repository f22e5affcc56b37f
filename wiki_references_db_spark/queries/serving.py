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
reference:explorer.py:155-160).  Every route is a point read of one
narrow table or broadcasts only its filtered side:

- the revision list filters ``revision_cards`` on ``page_id``;
- the flagship resolves its revisions from ``revision_cards``, then
  filters ``instance_cards`` on ``page_id`` and on the presence runs
  that hold the target; normalized mode broadcasts those rows into one
  join to ``citation_cards``;
- the citation card filters ``citation_cards`` on ``normalized_sha1``;
- the web-resource lookup filters ``web_resource_cards`` on ``url``;
- the template report semi-joins ``normalized_citations`` to the
  broadcast ids of the matching ``template_data`` rows;
- the citation history broadcasts the citation's instances, then their
  history rows, past a streamed ``revisions`` scan.

No request aggregates a child table.
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
    """Resolve the flagship's scalar params with ONE tiny aggregation
    over the page's ``revision_cards`` rows — the reference's own
    resolve-then-query serving shape (reference:api_v1.py:153-170):

    - ``target_revision_id``: the given revision, else the latest;
    - ``latest_revision_id``: None when the page has no revisions;
    - ``next_revision_id``: the page's first revision after the given
      one, None without a given revision;
    - ``target_exists``: whether the target is a revision of the page.

    The 1-row collect keeps every scalar subquery out of the flagship's
    plan, whose predicates then reach the scan as literals.  The page's
    rows are read in one task, so the aggregation needs no exchange and
    runs as one job."""
    rev = w["revision_cards"].filter(F.col("page_id") == page_id).coalesce(1)
    given = F.lit(revision_id).cast("long")
    row = rev.groupBy().agg(
        F.max("revision_id").alias("latest"),
        F.min(F.when(F.col("revision_id") > given, F.col("revision_id"))).alias("next"),
        F.max(F.col("revision_id") == given).alias("given_exists"),
    ).first()
    latest = row["latest"]
    if revision_id is None:
        return {
            "target_revision_id": latest,
            "latest_revision_id": latest,
            "next_revision_id": None,
            "target_exists": latest is not None,
        }
    return {
        "target_revision_id": revision_id,
        "latest_revision_id": latest,
        "next_revision_id": row["next"],
        "target_exists": bool(row["given_exists"]),
    }


def _present_at(revision_id: int) -> F.Column:
    """Whether one of the instance's ``presence`` runs holds the page
    revision ``revision_id``."""
    rid = F.lit(revision_id).cast("long")
    return F.exists("presence", lambda run: (run["from_id"] <= rid) & (rid <= run["to_id"]))


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

    The page's ``instance_cards`` rows carry every lifecycle number, so
    the request reads no history: an instance is visible at the target
    iff one of its ``presence`` runs holds it, and it was removed at
    the next revision iff none holds that one.  A target that is not a
    revision of the page gives no rows.  Raw mode reads nothing else;
    normalized mode broadcasts the page's visible instances into one
    join to ``citation_cards``."""
    p = resolved or resolve_revision(w, page_id, revision_id)
    target, latest, nxt = (
        p["target_revision_id"],
        p["latest_revision_id"],
        p["next_revision_id"],
    )
    visible = _present_at(target) if p["target_exists"] else F.lit(False)
    base = w["instance_cards"].filter((F.col("page_id") == page_id) & visible)

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
        # revision, and when there is no next revision.
        removed_at = F.lit(None).cast("long")
        if nxt is not None:
            removed_at = F.when(~_present_at(nxt), F.lit(nxt).cast("long"))
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
