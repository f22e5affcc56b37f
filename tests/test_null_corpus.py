"""Null-injected-corpus parity sweep: every registered query must STILL
hash-match its DuckDB oracle when nullable payload columns actually
carry NULLs (documents.text, events.props, events.value — the driver's
synthetic data never does, so this gate covers what real data will).

Divergence classes this catches (all found live when the sweep was
first run — 20 of 172 queries diverged):

- NULL propagation asymmetries: Spark's ``concat`` nulls the whole
  result while DuckDB's skips NULL args; Spark's ``size(NULL)`` is -1
  while DuckDB's ``len(NULL)`` is NULL.
- NULL sort placement: Spark orders NULLs first under ASC, DuckDB last
  — any NULL entering a rank/NTILE order shifts every bucket.
- pandas dtype artifacts: a NULL-bearing integer column canonicalizes
  as float64 on one side only.

Engine-wide conventions the fixes established (documented where
applied): null text is canonically the empty document / empty payload;
null measurement values are excluded from value statistics.
"""

import os

import pytest
from pyspark.sql import functions as F

from wiki_references_db_spark.oracle import check_query
from wiki_references_db_spark.queries import all_oracles, all_queries
from wiki_references_db_spark.tables import TESTDATA_TABLES, load_table

SRC_SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def null_sf_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("null_sf"))
    for t in TESTDATA_TABLES:
        df = load_table(spark, SRC_SF, t)
        if t == "documents":
            df = df.withColumn(
                "text",
                F.when(F.col("doc_id") % 17 == 0, F.lit(None)).otherwise(
                    F.col("text")
                ),
            )
        if t == "events":
            df = df.withColumn(
                "props",
                F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
                    F.col("props")
                ),
            ).withColumn(
                "value",
                F.when(F.col("event_id") % 19 == 0, F.lit(None)).otherwise(
                    F.col("value")
                ),
            )
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, f"{t}.parquet")
        )
    return out


def test_every_query_matches_oracle_on_null_injected_corpus(spark, null_sf_dir):
    qs, oracles = all_queries(), all_oracles()
    failures = {}
    for name in sorted(oracles):
        try:
            res = check_query(spark, name, qs[name], oracles[name], null_sf_dir)
            if not res.ok:
                failures[name] = res.detail[:160]
        except Exception as e:  # noqa: BLE001 - report all at once
            failures[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:140]}"
        spark.catalog.clearCache()
    assert not failures, failures


def test_source_length_ks_matches_oracle_with_null_sources(spark, tmp_path):
    """``documents.source`` is nullable but the testdata never carries a
    NULL there.  ``source_length_ks`` builds a source -> count map per
    length, and a NULL map key aborts the whole query; on a copy with
    the source of every seventh document NULL it must still match its
    oracle, the NULL source reported as its own row."""
    out = str(tmp_path)
    df = load_table(spark, SRC_SF, "documents").withColumn(
        "source",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("source")),
    )
    assert df.filter(F.col("source").isNull()).count() > 0
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    name = "source_length_ks"
    res = check_query(spark, name, all_queries()[name], all_oracles()[name], out)
    assert res.ok, res.detail
    assert res.spark_rows == len(
        load_table(spark, SRC_SF, "documents").select("source").distinct().collect()
    ) + 1
