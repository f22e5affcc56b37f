"""Extract phase: raw revisions -> the 11 natural-key staging tables.

Reproduces reference:build_db.py:289-463 (process_revisions) as one
declarative plan.  Like the reference's loop, each revision enters
Python once after its bundle is parsed: one Arrow-batched pandas UDF
extracts its references, normalizes each one and derives its template
rows.  That per-revision result is the phase's only persisted relation;
``explode`` fans it out to references and template rows, and the staging
tables are narrow JVM projections of those.  The reference's subprocess
pool, batch buffers, file rotation and marker files all dissolve into
the Spark job.

Faithfully reproduced quirks:
- ``revisions`` staging rows are emitted per *reference*, so a revision
  with zero extracted references does not appear
  (reference:build_db.py:368-373); dedup collapses the duplicates.
- template offsets use the nth-occurrence-of-'{{Name' search with
  full-text and ref-offset fallbacks (reference:build_db.py:397-421),
  where n counts across ALL of the reference's templates, not per name.
- ``domain_label`` for cited URLs is the parsed host, null when parsing
  fails (reference:build_db.py:379-385); we use ``try_parse_url`` which
  (like urlparse) yields null rather than erroring.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from wiki_references_db_spark.functions.extract import extract_references
from wiki_references_db_spark.functions.wikitext import normalize_template_name, normalize_wikitext
from wiki_references_db_spark.plans.sink import write_tables
from wiki_references_db_spark.schemas import EXTRACTED_REFERENCES, STAGING
from wiki_references_db_spark.storage import persist_corpus


def _find_nth(haystack: str, needle: str, n: int) -> int:
    start = -1
    for _ in range(n):
        start = haystack.find(needle, start + 1)
        if start == -1:
            break
    return start


def _template_rows_one(norm: str, templates: list[dict], ref_offset: int) -> list[dict]:
    out: list[dict] = []
    for idx, tpl in enumerate(templates, start=1):
        name = normalize_template_name(tpl["template_name"])
        if not name:
            continue
        offset = _find_nth(norm, "{{" + name, idx)
        if offset < 0:
            offset = norm.find(tpl["full_text"])
            if offset < 0:
                offset = ref_offset
        emitted = False
        for p in tpl["parameters"]:
            if not p["key"]:
                continue
            out.append(
                {
                    "template_name": name,
                    "offset_start": offset,
                    "parameter_key": p["key"],
                    "parameter_value": p["value"],
                }
            )
            emitted = True
        if not emitted:
            # Parameterless template still registers in wiki_templates.
            out.append(
                {
                    "template_name": name,
                    "offset_start": offset,
                    "parameter_key": None,
                    "parameter_value": None,
                }
            )
    return out


def _extract_one(text: str | None, domain: str) -> list[dict]:
    out: list[dict] = []
    for ref in extract_references(text, include_offsets=True, domain=domain):
        norm = normalize_wikitext(ref["raw_reference"])
        out.append(
            {
                "raw_reference": ref["raw_reference"],
                "reference_normalized": norm,
                "reference_type": ref["reference_type"],
                "reference_name": ref["reference_name"],
                "urls": ref["urls"],
                "template_rows": _template_rows_one(
                    norm, ref["templates"], ref["offset_start"]
                ),
            }
        )
    return out


def _extract_udf(domain: str):
    """revision_text -> EXTRACTED_REFERENCES under the domain's
    section/template config: the extract phase's one Python pass."""

    @pandas_udf(EXTRACTED_REFERENCES)
    def _udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _extract_one(t, domain))

    return _udf


def stage_revisions(
    raw: DataFrame, domain: str = "en.wikipedia.org"
) -> dict[str, DataFrame]:
    """Build all 11 staging tables (schemas: reference:build_db.py:18-78).

    Returned DataFrames are *not* deduplicated — that is phase 1.5
    (plans/dedup_tables.py), exactly as in the reference.
    """
    spark = raw.sparkSession
    language_code = domain.split(".")[0]
    # One row per revision with its extracted references: every staging
    # table reads it, so the bundle parse and the extraction UDF run once
    # per revision instead of once per sink.  The revision text does not
    # ride along.
    # DISK_ONLY: one row per revision, sized by its references
    # (corpus-proportional).
    revs = persist_corpus(
        raw.select(
            "page_id",
            "namespace_id",
            "revision_id",
            "parent_revision_id",
            "revision_timestamp",
            _extract_udf(domain)(F.col("revision_text")).alias("refs"),
        )
    )
    # The blank-reference filter stays JVM-side: Spark's trim strips
    # spaces only, Python's strip() all whitespace.
    refs = revs.select(
        "page_id",
        "revision_id",
        "parent_revision_id",
        "revision_timestamp",
        F.explode("refs").alias("ref"),
    ).filter(F.trim(F.col("ref.raw_reference")) != "").select(
        "*",
        F.sha1(F.col("ref.reference_normalized")).alias("normalized_sha1"),
        F.sha1(F.col("ref.raw_reference")).alias("raw_sha1"),
    )

    def cast_to(table: str, df: DataFrame) -> DataFrame:
        schema = STAGING[table]
        return df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )

    # The domain's own rows are literals over a one-row range: no staged
    # table reads driver-side Python data through an RDD.
    domain_row = spark.range(1, numPartitions=1)
    containers = domain_row.select(F.lit(domain).alias("label"))

    documents = cast_to(
        "documents",
        revs.select(
            F.lit(language_code).alias("language_code"),
            F.lit(domain).alias("has_container_label"),
            F.col("page_id"),
        ),
    )

    curid_url = F.concat(
        F.lit(f"https://{domain}/w/index.php?curid="), F.col("page_id").cast("string")
    )
    wr_curid = revs.select(
        curid_url.alias("url"),
        F.lit(domain).alias("domain_label"),
        F.col("page_id").alias("numeric_page_id"),
        F.col("namespace_id").alias("numeric_namespace_id"),
        F.col("page_id"),
    )

    ref_urls = refs.select(
        "normalized_sha1", F.explode(F.col("ref.urls")).alias("url")
    ).filter(F.col("url").isNotNull() & (F.col("url") != ""))
    url_host = F.expr("try_parse_url(url, 'HOST')")
    wr_cited = ref_urls.select(
        F.col("url"),
        url_host.alias("domain_label"),
        F.lit(None).cast("int").alias("numeric_page_id"),
        F.lit(None).cast("int").alias("numeric_namespace_id"),
        F.lit(None).cast("int").alias("page_id"),
    )
    web_resources = cast_to("web_resources", wr_curid.unionByName(wr_cited))

    domains = cast_to(
        "domains",
        domain_row.select(
            F.lit(domain).alias("value"), F.lit(domain).alias("for_container_label")
        ).unionByName(
            ref_urls.select(
                url_host.alias("value"),
                F.lit(None).cast("string").alias("for_container_label"),
            ).filter(F.col("value").isNotNull())
        ),
    )

    citation_instances = cast_to(
        "citation_instances",
        refs.select(
            "page_id",
            "raw_sha1",
            "normalized_sha1",
            F.col("ref.reference_type").alias("reference_type"),
            F.col("ref.reference_name").alias("reference_name"),
        ),
    )

    normalized_citations = cast_to(
        "normalized_citations",
        refs.select(
            "normalized_sha1",
            F.col("ref.reference_normalized").alias("reference_normalized"),
            F.col("page_id").alias("appears_on_page_id"),
            F.lit(domain).alias("appears_on_domain"),
        ),
    )

    citation_histories = cast_to(
        "citation_histories", refs.select("page_id", "raw_sha1", "revision_id")
    )

    revisions = cast_to(
        "revisions",
        refs.select(
            "revision_id", "page_id", "parent_revision_id", "revision_timestamp"
        ),
    )

    ncwr = cast_to("ncwr", ref_urls.select("normalized_sha1", "url"))

    tpl_rows = refs.select(
        "normalized_sha1", F.explode("ref.template_rows").alias("t")
    )

    wiki_templates = cast_to(
        "wiki_templates",
        tpl_rows.select(
            F.lit(domain).alias("domain_label"),
            F.col("t.template_name").alias("name"),
        ),
    )

    template_data = cast_to(
        "template_data",
        tpl_rows.filter(F.col("t.parameter_key").isNotNull()).select(
            F.lit(domain).alias("domain_label"),
            F.col("t.template_name").alias("template_name"),
            "normalized_sha1",
            F.col("t.offset_start").alias("offset_start"),
            F.col("t.parameter_key").alias("parameter_key"),
            F.col("t.parameter_value").alias("parameter_value"),
        ),
    )

    return {
        "containers": containers,
        "domains": domains,
        "documents": documents,
        "web_resources": web_resources,
        "citation_instances": citation_instances,
        "normalized_citations": normalized_citations,
        "citation_histories": citation_histories,
        "revisions": revisions,
        "ncwr": ncwr,
        "wiki_templates": wiki_templates,
        "template_data": template_data,
    }


def write_staging(
    staging: dict[str, DataFrame], out_dir: str, max_records_per_file: int = 1_000_000
) -> None:
    """Staging sink: ZSTD parquet with file rotation — the Spark form of
    the reference's ParquetStagingWriter (reference:build_db.py:83-177;
    row-group sizing is a writer option, not semantics).

    The 11 tables are independent jobs submitted together
    (``plans.sink.write_tables``): each reads at most the phase's one
    persisted relation, which is computed once, and the first error is
    re-raised after every write has finished."""

    def write(name: str, df: DataFrame) -> None:
        (
            df.write.mode("overwrite")
            .option("compression", "zstd")
            .option("maxRecordsPerFile", max_records_per_file)
            .parquet(f"{out_dir}/{name}")
        )

    write_tables(staging, write)


def read_staging(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """The 11 staging tables under ``out_dir``, read with their declared
    ``STAGING`` schemas: no job merges the parquet footers to infer
    them."""
    return {
        name: spark.read.schema(schema).parquet(f"{out_dir}/{name}")
        for name, schema in STAGING.items()
    }
