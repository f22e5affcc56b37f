"""Reference-table loading (``tables.load_table``): the declared schemas
are the ones Spark infers from the testdata at every scale factor, a
declared table loads with no Spark job, ``events`` keeps its inferred
read, and no query reads a reference table around ``load_table``."""

import ast
import datetime
import os
import pathlib
import textwrap

import pytest

from wiki_references_db_spark import queries, tables
from wiki_references_db_spark.tables import TESTDATA_SCHEMAS, load_table, table_path


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_equal_inferred(spark, sf_dir, scale):
    d = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), scale)
    if not os.path.isdir(d):
        pytest.skip(f"no {scale} testdata")
    for name in TESTDATA_SCHEMAS:
        inferred = spark.read.parquet(table_path(d, name)).schema
        assert load_table(spark, d, name).schema == inferred, name


def test_declared_tables_load_without_a_job(spark, sf_dir, count_jobs):
    for name in TESTDATA_SCHEMAS:
        assert count_jobs(lambda: load_table(spark, sf_dir, name).schema) == 0, name


def test_events_keeps_its_inferred_read(spark, sf_dir, tmp_path, count_jobs):
    # The testdata's TIMESTAMP_NTZ column and a Spark-written copy's
    # TIMESTAMP column both come back as a TIMESTAMP ``ts``.
    assert "events" not in TESTDATA_SCHEMAS
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() > 0
    spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 12, 30))],
        "event_id long, ts timestamp",
    ).write.parquet(table_path(str(tmp_path), "events"))
    assert count_jobs(lambda: load_table(spark, str(tmp_path), "events")) >= 1
    rows = load_table(spark, str(tmp_path), "events").collect()
    assert [(r.event_id, r.ts) for r in rows] == [
        (1, datetime.datetime(2024, 1, 1, 12, 30))
    ]


def _inferring_sf_reads(source: str) -> list[int]:
    """Line numbers of ``<x>.read.parquet(...)`` calls whose arguments
    name ``sf_dir``, directly or through a local assigned from it: each
    one is a schema-inference job that ``load_table`` would not run."""
    tree = ast.parse(source)
    hits = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        tainted = {"sf_dir"}
        assigns = [n for n in ast.walk(fn) if isinstance(n, ast.Assign)]
        grown = True
        while grown:
            grown = False
            for a in assigns:
                if _names(a.value) & tainted:
                    new = {n for t in a.targets for n in _names(t)} - tainted
                    tainted |= new
                    grown = grown or bool(new)
        for call in ast.walk(fn):
            if (
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr == "parquet"
                and isinstance(call.func.value, ast.Attribute)
                and call.func.value.attr == "read"
                and any(_names(a) & tainted for a in call.args)
            ):
                hits.add(call.lineno)
    return sorted(hits)


def _names(node) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def test_no_query_infers_a_reference_table_schema():
    # The detector finds the one inferring read that is meant to exist
    # (tables.py, for tables without a declared schema) and a local-
    # variable path, so an empty result below is not vacuous.
    assert _inferring_sf_reads(pathlib.Path(tables.__file__).read_text())
    assert _inferring_sf_reads(textwrap.dedent("""
        def q(spark, sf_dir):
            path = f"{sf_dir}/documents.parquet"
            return spark.read.parquet(path)
    """)) == [4]
    offenders = {
        p.name: lines
        for p in sorted(pathlib.Path(queries.__file__).parent.glob("*.py"))
        if (lines := _inferring_sf_reads(p.read_text()))
    }
    assert not offenders, offenders
