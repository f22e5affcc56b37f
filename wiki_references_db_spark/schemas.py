"""Explicit StructType schemas for every table in the engine.

Two layers, mirroring the reference's own design (SURVEY.md §1):

- STAGING: natural-key columnar tables written by the extract phase
  (reference:build_db.py:18-78 defines the same 11 schemas in PyArrow).
- WAREHOUSE: surrogate-id tables produced by the warehouse build
  (reference:models.py:18-572 defines them as SQLAlchemy models).

Schemas are always declared, never inferred.  ``revision_timestamp`` stays
a string ('YYYY-MM-DD HH:MM:SS'): the reference stores it that way
(reference:models.py:389) and lexicographic order == chronological order,
which several queries rely on.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
)


def _schema(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, nullable=True) for n, t in fields])


# --------------------------------------------------------------------------
# Staging layer (natural keys) — parity with reference:build_db.py:18-78
# --------------------------------------------------------------------------

STAGING = {
    "containers": _schema(("label", StringType())),
    "domains": _schema(
        ("value", StringType()),
        ("for_container_label", StringType()),
    ),
    "documents": _schema(
        ("language_code", StringType()),
        ("has_container_label", StringType()),
        ("page_id", IntegerType()),
    ),
    "web_resources": _schema(
        ("url", StringType()),
        ("domain_label", StringType()),
        ("numeric_page_id", IntegerType()),
        ("numeric_namespace_id", IntegerType()),
        ("page_id", IntegerType()),
    ),
    "citation_instances": _schema(
        ("page_id", IntegerType()),
        ("raw_sha1", StringType()),
        ("normalized_sha1", StringType()),
        ("reference_type", ShortType()),
        ("reference_name", StringType()),
    ),
    "normalized_citations": _schema(
        ("normalized_sha1", StringType()),
        ("reference_normalized", StringType()),
        ("appears_on_page_id", IntegerType()),
        ("appears_on_domain", StringType()),
    ),
    "citation_histories": _schema(
        ("page_id", IntegerType()),
        ("raw_sha1", StringType()),
        ("revision_id", LongType()),
    ),
    "revisions": _schema(
        ("revision_id", LongType()),
        ("page_id", IntegerType()),
        ("parent_revision_id", LongType()),
        ("revision_timestamp", StringType()),
    ),
    "ncwr": _schema(
        ("normalized_sha1", StringType()),
        ("url", StringType()),
    ),
    "wiki_templates": _schema(
        ("domain_label", StringType()),
        ("name", StringType()),
    ),
    "template_data": _schema(
        ("domain_label", StringType()),
        ("template_name", StringType()),
        ("normalized_sha1", StringType()),
        ("offset_start", IntegerType()),
        ("parameter_key", StringType()),
        ("parameter_value", StringType()),
    ),
}

# --------------------------------------------------------------------------
# Warehouse layer (surrogate ids): plans/warehouse.build_warehouse's
# output as its written files read back, every field nullable
# (tests/test_warehouse_bucketing.py pins the equality)
# --------------------------------------------------------------------------

_ID, _INT, _STR = LongType(), IntegerType(), StringType()

WAREHOUSE = {
    "containers": _schema(("id", _ID), ("label", _STR)),
    "domains": _schema(
        ("id", _ID), ("value", _STR), ("top_level_domain", _STR), ("for_container", _ID),
    ),
    "documents": _schema(
        ("id", _ID), ("language_code", _STR), ("has_container", _ID), ("page_id", _INT),
    ),
    "web_resources": _schema(
        ("id", _ID),
        ("url", _STR),
        ("url_hash", _STR),
        ("instance_of_document", _ID),
        ("domain_id", _ID),
        ("numeric_page_id", _INT),
        ("numeric_namespace_id", _INT),
    ),
    "normalized_citations": _schema(
        ("id", _ID),
        ("normalized_sha1", _STR),
        ("reference_normalized", _STR),
        ("appears_on_article", _ID),
    ),
    "citation_instances": _schema(
        ("id", _ID),
        ("normalized_id", _ID),
        ("page_id", _INT),
        ("raw_sha1", _STR),
        ("reference_type", ShortType()),
        ("reference_name", _STR),
    ),
    "citation_histories": _schema(("citation_instance_id", _ID), ("revision_id", _ID)),
    "revisions": _schema(
        ("revision_id", _ID),
        ("page_id", _INT),
        ("parent_revision_id", _ID),
        ("revision_timestamp", _STR),
    ),
    "ncwr": _schema(("normalized_id", _ID), ("web_resource_id", _ID)),
    "wiki_templates": _schema(("id", _ID), ("domain", _ID), ("name", _STR)),
    "template_data": _schema(
        ("wiki_template_id", _ID),
        ("normalized_id", _ID),
        ("offset_start", _INT),
        ("parameter_key_md5", _STR),
        ("parameter_key", _STR),
        ("parameter_value", _STR),
    ),
    "citation_cards": _schema(
        ("normalized_id", _ID),
        ("normalized_sha1", _STR),
        ("reference_normalized", _STR),
        ("other_articles", ArrayType(_schema(("page_id", _INT), ("document_id", _ID)))),
        ("extracted_links", ArrayType(_schema(("url", _STR), ("web_resource_id", _ID)))),
        (
            "templates",
            ArrayType(
                _schema(
                    ("offset_start", _INT),
                    ("template_name", _STR),
                    ("wiki_template_id", _ID),
                    ("parameters", MapType(_STR, _STR)),
                )
            ),
        ),
    ),
    "revision_cards": _schema(
        ("page_id", _INT),
        ("revision_id", _ID),
        ("revision_timestamp", _STR),
        ("parent_revision_id", _ID),
        ("citation_count", _ID),
    ),
    "web_resource_cards": _schema(
        ("web_resource_id", _ID),
        ("url", _STR),
        ("domain", _STR),
        ("numeric_page_id", _INT),
        (
            "referenced_by",
            ArrayType(_schema(("normalized_sha1", _STR), ("appears_on_article", _ID))),
        ),
    ),
    "instance_cards": _schema(
        ("id", _ID),
        ("page_id", _INT),
        ("raw_sha1", _STR),
        ("normalized_id", _ID),
        ("reference_type", ShortType()),
        ("reference_name", _STR),
        ("first_seen_id", _ID),
        ("first_seen_ts", _STR),
        ("last_seen_id", _ID),
        ("last_seen_ts", _STR),
        ("appearance_count", _ID),
        ("presence", ArrayType(_schema(("from_id", _ID), ("to_id", _ID)))),
    ),
}

# Dedup keys per staging table (reference:dedup_parquet.py:60-219 and
# reference:dedup_staged.py:58-71).  full_row=True tables use full-row
# DISTINCT (D1); the rest keep one survivor per key (D2).
DEDUP_KEYS = {
    "containers": (["label"], True),
    "domains": (["value"], False),
    "documents": (["has_container_label", "page_id"], False),
    "web_resources": (["url"], False),
    "citation_instances": (["page_id", "raw_sha1"], False),
    "normalized_citations": (["normalized_sha1"], False),
    "citation_histories": (["page_id", "raw_sha1", "revision_id"], True),
    "revisions": (["revision_id"], False),
    "ncwr": (["normalized_sha1", "url"], True),
    "wiki_templates": (["domain_label", "name"], True),
    "template_data": (
        ["domain_label", "template_name", "normalized_sha1", "offset_start", "parameter_key"],
        False,
    ),
}

# --------------------------------------------------------------------------
# Raw revisions (output of the .mwrev.zst source, reference:build_db.py:222-276)
# --------------------------------------------------------------------------

RAW_REVISION = _schema(
    ("page_id", IntegerType()),
    ("namespace_id", IntegerType()),
    ("revision_id", LongType()),
    ("parent_revision_id", LongType()),
    ("revision_timestamp", StringType()),
    ("revision_text", StringType()),
    ("source_bundle", StringType()),
)

# Per-revision output of the extract phase's one Python pass
# (plans/stage.py): each reference's extracted fields that the staging
# tables read (inventory: reference:build_db.py:334-435), its normalized
# text, and its template rows.
EXTRACTED_REFERENCES = ArrayType(
    _schema(
        ("raw_reference", StringType()),
        ("reference_normalized", StringType()),
        ("reference_type", ShortType()),
        ("reference_name", StringType()),
        ("urls", ArrayType(StringType())),
        (
            "template_rows",
            ArrayType(
                _schema(
                    ("template_name", StringType()),
                    ("offset_start", IntegerType()),
                    ("parameter_key", StringType()),
                    ("parameter_value", StringType()),
                )
            ),
        ),
    )
)
