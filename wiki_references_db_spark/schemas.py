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
