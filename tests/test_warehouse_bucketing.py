"""Bucketed warehouse write path (SURVEY §7.3 risk 5): the two
instance-keyed fact tables land bucketed on their co-location key, so
instance-keyed history joins and aggregations plan with ZERO Exchange on
the bucketed side — the write pays the 28.8B-row shuffle once instead of
every query.  The serving routes read the derived card tables."""

import os
import re

import pytest
from pyspark.sql import functions as F

from wiki_references_db_spark.plans.dedup_tables import dedup_staging
from wiki_references_db_spark.plans.stage import stage_revisions
from wiki_references_db_spark.plans.warehouse import (
    build_warehouse,
    read_warehouse,
    write_warehouse,
)
from wiki_references_db_spark.queries import serving
from wiki_references_db_spark.router import ServingRouter
from wiki_references_db_spark.sources.mwrev import read_mwrev_bundles, write_mwrev_zst
from wiki_references_db_spark.wsgi import result_body
from tests.test_wiki_pipeline import FIXTURE

BUCKETS = 4
PREFIX = "whbtest"


@pytest.fixture(scope="module")
def warehouses(spark, tmp_path_factory):
    """(plain dict-of-DataFrames warehouse, bucketed-read warehouse)."""
    bundle_dir = tmp_path_factory.mktemp("bundles_whb")
    write_mwrev_zst(os.path.join(bundle_dir, "fixture-00.mwrev.zst"), FIXTURE)
    raw = read_mwrev_bundles(spark, str(bundle_dir))
    deduped = dedup_staging(stage_revisions(raw, domain="en.wikipedia.org"))
    w = build_warehouse(deduped)
    out_dir = str(tmp_path_factory.mktemp("wh_bucketed"))
    write_warehouse(
        w, out_dir, history_buckets=BUCKETS, bucketed=True, table_prefix=PREFIX
    )
    plain = {k: v.localCheckpoint() for k, v in w.items()}
    bucketed = read_warehouse(spark, out_dir, table_prefix=PREFIX)
    yield plain, bucketed
    for name in ("citation_histories", "citation_instances"):
        spark.sql(f"DROP TABLE IF EXISTS {PREFIX}_{name}")


@pytest.fixture
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    except Exception:
        old_aqe = None
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    if old_aqe is not None:
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe
        )
    else:
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """Run ``df``, then return its executed plan: the adaptive final plan
    only, without the initial plan printed after it."""
    assert df.collect()
    return _executed_plan(df).split("== Initial Plan ==")[0]


_TREE_PREFIX = re.compile(r"^[\s:+\-|]*")


def _subtrees(plan: str, node: str) -> list[str]:
    """The plan text below each ``node`` operator of a plan tree."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        depth = len(_TREE_PREFIX.match(line).group(0))
        if not re.match(rf"(\*\(\d+\) )?{node}\b", line[depth:]):
            continue
        below = []
        for nxt in lines[i + 1:]:
            if len(_TREE_PREFIX.match(nxt).group(0)) <= depth:
                break
            below.append(nxt)
        out.append("\n".join(below))
    return out


def _scans(plan: str, table: str) -> bool:
    """Whether ``plan`` scans the warehouse directory ``table``."""
    return re.search(rf"/{table}[\],]", plan) is not None


def test_history_instance_join_is_shuffle_free(warehouses, no_broadcast):
    """The dominant serving join — citation_histories ⋈
    citation_instances on the instance id — plans as a SortMergeJoin
    with NO Exchange on either side when both tables are read through
    the bucketed catalog entries."""
    plain, bucketed = warehouses
    joined = bucketed["citation_histories"].join(
        bucketed["citation_instances"],
        F.col("citation_instance_id") == F.col("id"),
    )
    plan = _executed_plan(joined)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    expected = plain["citation_histories"].join(
        plain["citation_instances"],
        F.col("citation_instance_id") == F.col("id"),
    )
    assert joined.count() == expected.count()


def test_lifecycle_aggregation_is_exchange_free(warehouses, no_broadcast):
    """Per-instance lifecycle stats (groupBy citation_instance_id over
    the history table) need no Exchange over the bucketed scan."""
    _, bucketed = warehouses
    stats = bucketed["citation_histories"].groupBy("citation_instance_id").agg(
        F.min("revision_id").alias("first_rev"),
        F.max("revision_id").alias("last_rev"),
        F.count(F.lit(1)).alias("n"),
    )
    plan = _executed_plan(stats)
    assert "HashAggregate" in plan or "SortAggregate" in plan, plan
    assert "Exchange" not in plan, plan
    assert stats.count() > 0


def test_flagship_identical_over_bucketed_warehouse(warehouses):
    """Reference semantics unchanged: article_citations over the
    bucketed-read warehouse row-for-row equals the in-memory warehouse
    result (hydrated mode, the full flagship surface)."""
    plain, bucketed = warehouses
    got = serving.article_citations(bucketed, 100, revision_id=1002)
    want = serving.article_citations(plain, 100, revision_id=1002)
    assert sorted(got.columns) == sorted(want.columns)
    cols = sorted(got.columns)

    def rows_as_json(df):
        # MAP-typed hydration columns rule out exceptAll; a canonical
        # JSON rendering of each row compares the full nested payload.
        return sorted(
            r["j"]
            for r in df.select(
                F.to_json(F.struct(*cols)).alias("j")
            ).collect()
        )

    got_rows, want_rows = rows_as_json(got), rows_as_json(want)
    assert got_rows == want_rows
    assert len(got_rows) > 0


def test_flagship_reads_no_history_and_shuffles_nothing(warehouses):
    """The FLAGSHIP serving query (article_citations — the path behind
    the registered serving query and the WSGI shell) is a filter on the
    page's instance_cards rows: it scans no citation_histories and
    plans no shuffle Exchange; raw mode broadcasts nothing either, and
    normalized mode broadcasts only the page's instance cards into its
    citation_cards join."""
    _, bucketed = warehouses
    for raw in (False, True):
        plan = _final_plan(
            serving.article_citations(bucketed, 100, revision_id=1002, raw=raw))
        assert _scans(plan, "instance_cards"), plan
        assert not _scans(plan, "citation_histories"), plan
        assert not re.search(r"(?<!Broadcast)Exchange", plan), plan
        broadcasts = _subtrees(plan, "BroadcastExchange")
        if raw:
            assert not broadcasts, plan
        else:
            (broadcast,) = broadcasts
            assert _scans(broadcast, "instance_cards"), plan


def test_flagship_costs_two_jobs_raw_three_normalized(warehouses, count_jobs):
    """Through the router and the WSGI body: one job resolves the
    revisions, raw mode reads instance_cards in one more, and normalized
    mode adds the broadcast of the page's visible cards."""
    _, bucketed = warehouses
    router = ServingRouter(bucketed)
    for raw, want in (("true", 2), ("false", 3)):
        params = {"revision_id": "1002", "raw": raw}
        jobs = count_jobs(lambda: result_body(
            router.dispatch("GET", "/api/v1/article/100/citations", params)))
        assert jobs == want, raw


def test_read_warehouse_runs_no_job(warehouses, spark, tmp_path, count_jobs):
    """read_warehouse reads the plain tables with their declared
    WAREHOUSE schemas: no schema-inference job runs, and every schema
    equals the one Spark infers from the files build_warehouse's
    output was written to."""
    plain, _ = warehouses
    out_dir = str(tmp_path / "wh_plain")
    write_warehouse(plain, out_dir, bucketed=False)
    tables = {}
    assert count_jobs(lambda: tables.update(read_warehouse(spark, out_dir))) == 0
    assert sorted(tables) == sorted(plain)
    for name, df in tables.items():
        assert df.schema == spark.read.parquet(f"{out_dir}/{name}").schema, name


def test_bucketed_write_runs_the_sequential_job_count(spark, tmp_path, count_jobs):
    """The 15 concurrent writes inherit the caller's job group, and run
    the 32 jobs the same writes ran one table at a time.  The input is
    materialized first, as the written dedup output is in the ETL: over
    a persisted relation no job has computed yet, each concurrent
    adaptive plan submits its own job to materialize the cache."""
    bundles = tmp_path / "bundles"
    bundles.mkdir()
    write_mwrev_zst(str(bundles / "fixture-00.mwrev.zst"), FIXTURE)
    deduped = dedup_staging(stage_revisions(read_mwrev_bundles(spark, str(bundles))))
    w = build_warehouse({k: v.localCheckpoint() for k, v in deduped.items()})
    out_dir = str(tmp_path / "wh")
    prefix = f"{PREFIX}_jobs"
    try:
        jobs = count_jobs(lambda: write_warehouse(
            w, out_dir, history_buckets=BUCKETS, bucketed=True, table_prefix=prefix))
        assert sorted(os.listdir(out_dir)) == sorted(w)
        assert jobs == 32
    finally:
        for name in ("citation_histories", "citation_instances"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{name}")


def test_flagship_hydration_reads_citation_cards(warehouses):
    """Normalized-mode hydration is one join to the prebuilt
    citation_cards table: no per-request collect_list aggregation and
    no shuffle on the normalized id."""
    _, bucketed = warehouses
    plan = _executed_plan(serving.article_citations(bucketed, 100, revision_id=1002))
    assert "hashpartitioning(normalized_id" not in plan, plan
    assert "collect_list" not in plan, plan


def test_citation_detail_is_exchange_free(warehouses):
    """The citation card route is a filtered scan of citation_cards."""
    _, bucketed = warehouses
    sha1 = bucketed["citation_cards"].select("normalized_sha1").first()[0]
    df = serving.citation_detail(bucketed, sha1)
    plan = _executed_plan(df)
    assert "Exchange" not in plan, plan
    assert df.count() == 1


def test_unbucketed_read_of_bucketed_files_still_works(warehouses, spark, tmp_path):
    """The bucketed layout degrades gracefully: the same directory read
    WITHOUT the catalog prefix is an ordinary parquet scan with
    identical rows (a consumer without the metastore loses only the
    co-location proof, not correctness)."""
    plain, bucketed = warehouses
    # bucketed["citation_histories"] is a catalog table backed by files
    # under the warehouse out_dir; re-read those files as plain parquet.
    location = (
        spark.sql(f"DESCRIBE FORMATTED {PREFIX}_citation_histories")
        .filter(F.col("col_name") == "Location")
        .first()["data_type"]
    )
    raw = spark.read.parquet(location)
    assert raw.count() == bucketed["citation_histories"].count()


def test_bucketed_histories_keep_revision_subsort(warehouses, spark):
    """ADVICE r9: the bucketed default must retain the plain path's
    (citation_instance_id, revision_id) secondary sort — the catalog
    entry records both sort columns, so revision-bounded history scans
    keep their row-group skipping."""
    sort_row = (
        spark.sql(f"DESCRIBE FORMATTED {PREFIX}_citation_histories")
        .filter(F.col("col_name") == "Sort Columns")
        .first()
    )
    assert sort_row is not None
    assert "citation_instance_id" in sort_row["data_type"], sort_row
    assert "revision_id" in sort_row["data_type"], sort_row


def test_point_routes_are_exchange_free(warehouses):
    """The revision list and the web-resource lookup are filters on a
    derived card table: no shuffle and no broadcast."""
    _, bucketed = warehouses
    url = bucketed["web_resources"].select("url").first()[0]
    for df in (serving.article_revisions(bucketed, 100),
               serving.web_resource_lookup(bucketed, url)):
        plan = _final_plan(df)
        assert "Exchange" not in plan, plan


def test_template_report_never_moves_normalized_citations(warehouses):
    """Only the filtered template_data side is broadcast;
    normalized_citations streams past it through no Exchange."""
    _, bucketed = warehouses
    td = bucketed["template_data"].filter("parameter_value IS NOT NULL").first()
    plan = _final_plan(serving.template_report(
        bucketed, td.wiki_template_id, td.parameter_key, td.parameter_value))
    assert _scans(plan, "normalized_citations"), plan
    (broadcast,) = _subtrees(plan, "BroadcastExchange")
    assert _scans(broadcast, "template_data"), plan
    for node in ("Exchange", "BroadcastExchange"):
        for below in _subtrees(plan, node):
            assert not _scans(below, "normalized_citations"), plan


def test_citation_history_never_broadcasts_revisions(warehouses):
    """The citation's instances and history rows are broadcast; the
    revisions scan is streamed, and the sort is one exchange to a single
    partition, not a range partitioning."""
    _, bucketed = warehouses
    sha1 = bucketed["citation_cards"].select("normalized_sha1").first()[0]
    plan = _final_plan(serving.citation_history(bucketed, sha1))
    assert _scans(plan, "revisions"), plan
    broadcasts = _subtrees(plan, "BroadcastExchange")
    assert broadcasts, plan
    for below in broadcasts:
        assert not _scans(below, "revisions"), plan
    assert "rangepartitioning" not in plan, plan
