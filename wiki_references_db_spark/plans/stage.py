"""Extract phase: raw revisions -> the 11 natural-key staging tables.

Reproduces reference:build_db.py:289-463 (process_revisions) as one
declarative plan: the extractor UDF runs once per revision, ``explode``
fans out references, and the staging tables are narrow projections of the
result.  The reference's subprocess pool, batch buffers, file rotation
and marker files all dissolve into the Spark job.

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
from wiki_references_db_spark.storage import persist_corpus
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from wiki_references_db_spark.functions.udfs import make_extract_references_udf, normalize_wikitext_udf
from wiki_references_db_spark.functions.wikitext import normalize_template_name
from wiki_references_db_spark.schemas import STAGING

TEMPLATE_ROWS = ArrayType(
    StructType(
        [
            StructField("template_name", StringType()),
            StructField("offset_start", IntegerType()),
            StructField("parameter_key", StringType()),
            StructField("parameter_value", StringType()),
        ]
    )
)


def _find_nth(haystack: str, needle: str, n: int) -> int:
    start = -1
    for _ in range(n):
        start = haystack.find(needle, start + 1)
        if start == -1:
            break
    return start


def _template_rows_one(norm: str, templates, ref_offset) -> list[dict]:
    out: list[dict] = []
    if templates is None:
        return out
    norm = norm or ""
    for idx, tpl in enumerate(templates, start=1):
        if tpl is None:
            continue
        name = normalize_template_name(tpl["template_name"] or "")
        if not name:
            continue
        offset = _find_nth(norm, "{{" + name, idx)
        if offset < 0:
            offset = norm.find(tpl["full_text"] or "")
            if offset < 0:
                offset = int(ref_offset) if ref_offset is not None else 0
        # Arrow hands nested arrays to pandas as numpy arrays: use
        # explicit None/len checks, never bare truthiness.
        params = tpl["parameters"]
        if params is None:
            params = []
        emitted = False
        for p in params:
            if p is None or not p["key"]:
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


@pandas_udf(TEMPLATE_ROWS)
def _template_rows_udf(
    norm: pd.Series, templates: pd.Series, ref_offset: pd.Series
) -> pd.Series:
    # Plain zip over the three series: pd.DataFrame.apply(axis=1) builds a
    # pandas Row object per input row, which is pure overhead on the
    # hottest Python stage of the extract pipeline.
    return pd.Series(
        [_template_rows_one(n, t, o)
         for n, t, o in zip(norm, templates, ref_offset)],
        index=norm.index,
        dtype=object,
    )


def extract_refs(raw: DataFrame, domain: str = "en.wikipedia.org") -> DataFrame:
    """Raw revisions -> one row per extracted reference with normalized
    text + content hashes.  The two UDF invocations are the only Python
    in the plan; hashing is JVM-side ``sha1``."""
    extract_udf = make_extract_references_udf(domain)
    refs = raw.select(
        "page_id",
        "namespace_id",
        "revision_id",
        "parent_revision_id",
        "revision_timestamp",
        "source_bundle",
        F.explode(extract_udf(F.col("revision_text"))).alias("ref"),
    ).filter(F.trim(F.col("ref.raw_reference")) != "")
    return (
        refs.withColumn(
            "reference_normalized", normalize_wikitext_udf(F.col("ref.raw_reference"))
        )
        .withColumn("normalized_sha1", F.sha1(F.col("reference_normalized")))
        .withColumn("raw_sha1", F.sha1(F.col("ref.raw_reference")))
    )


def stage_revisions(
    raw: DataFrame, domain: str = "en.wikipedia.org"
) -> dict[str, DataFrame]:
    """Build all 11 staging tables (schemas: reference:build_db.py:18-78).

    Returned DataFrames are *not* deduplicated — that is phase 1.5
    (plans/dedup_tables.py), exactly as in the reference.
    """
    spark = raw.sparkSession
    language_code = domain.split(".")[0]
    # The exploded-references DataFrame feeds 7 of the 11 staging tables;
    # persist it (memory, disk spill) so the two pandas UDFs — by far the
    # most expensive stage — run ONCE over the corpus instead of once per
    # table sink.  This is the Spark form of the reference's single-pass
    # process_revisions loop (reference:build_db.py:289-463), which also
    # extracts each revision exactly once and fans out to 11 buffers.
    # DISK_ONLY: one row per extracted reference (corpus-proportional).
    refs = persist_corpus(extract_refs(raw, domain))
    # The two page-metadata tables (documents, curid web_resources) need
    # only (page_id, namespace_id) — persist that slim projection so they
    # do not re-decompress and re-parse every bundle per sink.  Unlike
    # `raw` itself this carries no revision text, so the cache is a few
    # bytes per revision at any scale.
    # DISK_ONLY: two ints per revision (slim but corpus-proportional).
    raw_meta = persist_corpus(raw.select("page_id", "namespace_id"))

    def cast_to(table: str, df: DataFrame) -> DataFrame:
        schema = STAGING[table]
        return df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )

    containers = spark.createDataFrame([(domain,)], STAGING["containers"])

    documents = cast_to(
        "documents",
        raw_meta.select(
            F.lit(language_code).alias("language_code"),
            F.lit(domain).alias("has_container_label"),
            F.col("page_id"),
        ),
    )

    curid_url = F.concat(
        F.lit(f"https://{domain}/w/index.php?curid="), F.col("page_id").cast("string")
    )
    wr_curid = raw_meta.select(
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
        spark.createDataFrame([(domain, domain)], STAGING["domains"]).unionByName(
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
            "reference_normalized",
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

    # Persisted: the template-row UDF feeds two sinks (wiki_templates,
    # template_data); without the persist it runs once per sink.
    tpl_rows = refs.select(
        "normalized_sha1",
        F.explode(
            _template_rows_udf(
                F.col("reference_normalized"),
                F.col("ref.templates"),
                F.col("ref.offset_start"),
            )
        ).alias("t"),
    )
    # DISK_ONLY: one row per template occurrence (corpus-proportional).
    tpl_rows = persist_corpus(tpl_rows)

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
    row-group sizing is a writer option, not semantics)."""
    for name, df in staging.items():
        (
            df.write.mode("overwrite")
            .option("compression", "zstd")
            .option("maxRecordsPerFile", max_records_per_file)
            .parquet(f"{out_dir}/{name}")
        )


def read_staging(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """The 11 staging tables under ``out_dir``, read with their declared
    ``STAGING`` schemas: no job merges the parquet footers to infer
    them."""
    return {
        name: spark.read.schema(schema).parquet(f"{out_dir}/{name}")
        for name, schema in STAGING.items()
    }
