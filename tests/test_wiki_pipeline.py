"""End-to-end wiki pipeline: .mwrev.zst fixture bundle -> mwrev source ->
extractor UDFs -> staging -> dedup -> warehouse -> flagship lifecycle
query.  Fixture shape follows FIXTURES.md §2 (pages with references
added / removed / re-added across revisions)."""

import os
import threading

import pytest
from pyspark.sql import functions as F

from wiki_references_db_spark.functions.wikitext import get_sha1, normalize_wikitext
from wiki_references_db_spark.plans.dedup_tables import dedup_staging
from wiki_references_db_spark.plans.sink import write_tables
from wiki_references_db_spark.plans.stage import read_staging, stage_revisions, write_staging
from wiki_references_db_spark.plans.warehouse import (
    build_warehouse,
    orphan_stats,
)
from wiki_references_db_spark.queries.citations import citations_at_revision
from wiki_references_db_spark.schemas import STAGING
from wiki_references_db_spark.sources.mwrev import (
    read_mwrev_bundles,
    write_mwrev_zst,
)
from wiki_references_db_spark.streaming.ingest import stream_revision_bundles

REF_A = "<ref name=a>https://a.example/x</ref>"
REF_B = "{{Sfn|Smith|2020|p=1}}"
REF_C = "{{cite web |url=http://c.example/page |title=C}}"


def _rev(page, rid, parent, day, text):
    return {
        "page_id": page,
        "namespace_id": 0,
        "revision_id": rid,
        "parent_revision_id": parent,
        "revision_timestamp": f"2020-01-{day:02d}T00:00:00Z",
        "revision_text": text,
    }


FIXTURE = [
    _rev(100, 1001, None, 1, f"Intro. {REF_A} text."),
    _rev(100, 1002, 1001, 2, f"Intro. {REF_A} and {REF_B} text."),
    _rev(100, 1003, 1002, 3, f"Intro. {REF_B} only."),
    _rev(100, 1004, 1003, 4, f"Back: {REF_A} plus {REF_B}."),
    _rev(100, 1005, 1004, 5, f"Final {REF_B}."),
    _rev(200, 2001, None, 1, f"Other page {REF_C} here."),
    _rev(200, 2002, 2001, 2, f"Still {REF_C} here."),
    _rev(300, 3001, None, 1, "No references at all."),
]


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    bundle_dir = tmp_path_factory.mktemp("bundles")
    write_mwrev_zst(os.path.join(bundle_dir, "fixture-00.mwrev.zst"), FIXTURE)
    raw = read_mwrev_bundles(spark, str(bundle_dir))
    staging = stage_revisions(raw, domain="en.wikipedia.org")
    deduped = dedup_staging(staging)
    # Materialize the small fixture tables once: every downstream check
    # re-uses them without re-running the extractor.
    deduped = {k: v.localCheckpoint() for k, v in deduped.items()}
    warehouse = build_warehouse(deduped)
    return {"raw": raw, "staging": staging, "deduped": deduped, "warehouse": warehouse}


def test_mwrev_roundtrip(pipeline):
    raw = pipeline["raw"]
    rows = {r.revision_id: r for r in raw.collect()}
    assert set(rows) == {1001, 1002, 1003, 1004, 1005, 2001, 2002, 3001}
    assert rows[1002].parent_revision_id == 1001
    assert rows[1001].revision_timestamp == "2020-01-01 00:00:00"
    assert REF_A in rows[1001].revision_text
    assert rows[3001].source_bundle == "fixture-00.mwrev.zst"


@pytest.mark.parametrize("reader", ["batch", "stream"])
def test_mwrev_readers_keep_nullable_ids_exact(spark, tmp_path, reader):
    """Both readers share one parser: an id column holding a NULL must
    not go through float64, which rounds ids above 2**53."""
    big = 2**53 + 1
    bundles = tmp_path / "bundles"
    bundles.mkdir()
    write_mwrev_zst(
        str(bundles / "ids.mwrev.zst"),
        [_rev(7, big + 2, None, 1, "a"), _rev(7, big + 4, big, 2, "b")],
    )
    if reader == "batch":
        rows = read_mwrev_bundles(spark, str(bundles)).collect()
    else:
        query = (
            stream_revision_bundles(spark, str(bundles))
            .writeStream.format("memory")
            .queryName("mwrev_ids")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        rows = spark.table("mwrev_ids").collect()
        spark.catalog.dropTempView("mwrev_ids")
    assert sorted((r.revision_id, r.parent_revision_id) for r in rows) == [
        (big + 2, None),
        (big + 4, big),
    ]


def _physical_nodes(plan) -> list:
    """Operator nodes of a physical plan, not entering cached relations."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    nodes, kids = [plan], plan.children()
    for i in range(kids.size()):
        nodes += _physical_nodes(kids.apply(i))
    return nodes


def _runs_python(node) -> bool:
    return any(w in node.nodeName() for w in ("Python", "Pandas", "Arrow"))


def test_extract_phase_is_one_python_pass_and_one_persist(spark, tmp_path):
    """The bundle parse and the extraction UDF run once per revision:
    staging persists one relation, the only one with Python in its plan,
    and nothing reads the bundles through an RDD."""
    bundles = tmp_path / "bundles"
    bundles.mkdir()
    write_mwrev_zst(str(bundles / "fixture-00.mwrev.zst"), FIXTURE)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    staging = stage_revisions(read_mwrev_bundles(spark, str(bundles)))
    write_staging(staging, str(tmp_path / "staging"))
    assert len(set(persisted().keys()) - before) == 1

    cached = {}
    for name, df in staging.items():
        nodes = _physical_nodes(df._jdf.queryExecution().executedPlan())
        assert not [n.nodeName() for n in nodes if _runs_python(n)], name
        assert not [n for n in nodes if "ExistingRDD" in n.nodeName()], name
        for n in nodes:
            if n.nodeName() == "InMemoryTableScan":
                plan = n.relation().cachedPlan()
                cached[plan.treeString()] = plan
    assert len(cached) == 1
    relation = [n.nodeName() for n in _physical_nodes(*cached.values())]
    assert relation.count("MapInPandas") == 1
    assert relation.count("ArrowEvalPython") == 1
    assert not [n for n in relation if "ExistingRDD" in n]


def _sink_threads() -> list[str]:
    return [t.name for t in threading.enumerate() if t.name.startswith("write-")]


def test_write_staging_is_one_job_per_table_in_the_callers_group(spark, tmp_path, count_jobs):
    """The 11 concurrent writes inherit the caller's job group: every
    job is counted in it, one per staged table (the persisted relation
    is computed inside the first jobs, not by a job of its own)."""
    bundles = tmp_path / "bundles"
    bundles.mkdir()
    write_mwrev_zst(str(bundles / "fixture-00.mwrev.zst"), FIXTURE)
    staging = stage_revisions(read_mwrev_bundles(spark, str(bundles)))
    out_dir = str(tmp_path / "staging")
    assert count_jobs(lambda: write_staging(staging, out_dir)) == len(STAGING) == 11
    assert sorted(os.listdir(out_dir)) == sorted(STAGING)
    assert not _sink_threads()


def test_write_tables_reraises_after_the_other_writes_finish(spark, tmp_path):
    """A failing write does not cut the others short: each one runs to
    its end, then the failure reaches the caller, and no sink thread is
    left running."""
    tables = {name: spark.range(100, numPartitions=2) for name in "abcd"}

    def write(name, df):
        if name == "b":
            raise ValueError("sink b failed")
        df.write.parquet(str(tmp_path / name))

    with pytest.raises(ValueError, match="sink b failed"):
        write_tables(tables, write)
    for name in "acd":
        assert (tmp_path / name / "_SUCCESS").exists(), name
        assert spark.read.parquet(str(tmp_path / name)).count() == 100
    assert not (tmp_path / "b").exists()
    assert not _sink_threads()


def test_written_staging_matches_declared_schemas(pipeline, spark, tmp_path):
    """``read_staging`` reads with the ``STAGING`` schemas instead of
    inferring them, so every table ``write_staging`` writes must carry
    exactly those column names and types: a drifted column would
    otherwise read back as NULLs."""
    out_dir = str(tmp_path / "staging")
    write_staging(pipeline["staging"], out_dir)
    assert sorted(os.listdir(out_dir)) == sorted(STAGING)
    for name, schema in STAGING.items():
        written = spark.read.parquet(f"{out_dir}/{name}").schema
        assert [(f.name, f.dataType) for f in written] == [
            (f.name, f.dataType) for f in schema
        ], name
    staged = read_staging(spark, out_dir)
    for name in ("citation_instances", "template_data"):
        assert staged[name].count() == pipeline["staging"][name].count() > 0


def test_staging_dedup_counts(pipeline):
    d = pipeline["deduped"]
    # Page 300 has no references => no revision row (reference quirk,
    # reference:build_db.py:368-373).
    assert {r.revision_id for r in d["revisions"].collect()} == {
        1001, 1002, 1003, 1004, 1005, 2001, 2002,
    }
    # Instances: (page, raw) pairs — A and B on page 100, C on page 200.
    inst = {(r.page_id, r.raw_sha1): r for r in d["citation_instances"].collect()}
    assert (100, get_sha1(REF_A)) in inst
    assert (100, get_sha1(REF_B)) in inst
    assert (200, get_sha1(REF_C)) in inst
    assert len(inst) == 3
    assert inst[(100, get_sha1(REF_A))].reference_name == "a"
    assert inst[(100, get_sha1(REF_A))].reference_type == 1  # inline
    assert inst[(100, get_sha1(REF_B))].reference_type == 0  # standalone tpl

    # History: A at 1001/1002/1004, B at 1002..1005, C at 2001/2002.
    hist = {
        (r.page_id, r.raw_sha1, r.revision_id)
        for r in d["citation_histories"].collect()
    }
    a, b = get_sha1(REF_A), get_sha1(REF_B)
    assert {(p, r) for (p, s, r) in hist if s == a} == {(100, 1001), (100, 1002), (100, 1004)}
    assert {(p, r) for (p, s, r) in hist if s == b} == {
        (100, 1002), (100, 1003), (100, 1004), (100, 1005),
    }

    # ncwr + web_resources carry the cited URLs.
    urls = {r.url for r in d["ncwr"].collect()}
    assert urls == {"https://a.example/x", "http://c.example/page"}
    wr_urls = {r.url for r in d["web_resources"].collect()}
    assert "https://en.wikipedia.org/w/index.php?curid=100" in wr_urls
    assert "https://a.example/x" in wr_urls

    # Template data: Sfn params (positional keys '1','2' + named 'p').
    td = [
        (r.template_name, r.parameter_key, r.parameter_value)
        for r in d["template_data"].collect()
    ]
    assert ("Sfn", "1", "Smith") in td
    assert ("Sfn", "2", "2020") in td
    assert ("Sfn", "p", "1") in td
    assert ("Cite web", "url", "http://c.example/page") in td
    names = {r.name for r in d["wiki_templates"].collect()}
    assert names == {"Sfn", "Cite web"}


def test_normalized_citations_content_addressing(pipeline):
    d = pipeline["deduped"]
    rows = {r.normalized_sha1: r for r in d["normalized_citations"].collect()}
    norm_a = normalize_wikitext(REF_A)
    assert get_sha1(norm_a) in rows
    assert rows[get_sha1(norm_a)].reference_normalized == norm_a
    # Spark-side sha1(normalized) == Python content addressing.
    assert set(rows) == {
        get_sha1(normalize_wikitext(r)) for r in (REF_A, REF_B, REF_C)
    }


def test_flagship_lifecycle_query(spark, pipeline):
    d = pipeline["deduped"]
    out = {
        r.raw_sha1: r
        for r in citations_at_revision(d, 100, 1002, 1005, 1003).collect()
    }
    a, b = get_sha1(REF_A), get_sha1(REF_B)
    assert set(out) == {a, b}
    # A: seen at 1001,1002,1004; absent at 1003 => removed_at 1003; not
    # visible at latest (1005).
    assert out[a].first_seen_id == 1001
    assert out[a].last_seen_id == 1004
    assert out[a].appearance_count == 3
    assert out[a].currently_visible is False
    assert out[a].removed_at_revision_id == 1003
    assert out[a].reference_type == "inline"
    assert out[a].first_seen_ts == "2020-01-01 00:00:00"
    assert out[a].last_seen_ts == "2020-01-04 00:00:00"
    # B: present 1002..1005, still visible, never removed.
    assert out[b].first_seen_id == 1002
    assert out[b].last_seen_id == 1005
    assert out[b].appearance_count == 4
    assert out[b].currently_visible is True
    assert out[b].removed_at_revision_id is None


def test_warehouse_ids_and_fk_resolution(pipeline):
    w = pipeline["warehouse"]
    ci = {r.raw_sha1: r for r in w["citation_instances"].collect()}
    nc = {r.normalized_sha1: r for r in w["normalized_citations"].collect()}
    a = get_sha1(REF_A)
    norm_a_sha = get_sha1(normalize_wikitext(REF_A))
    # FK: instance.normalized_id == id of its normalized citation.
    assert ci[a].normalized_id == nc[norm_a_sha].id
    # History rows reference instance ids that exist.
    hist_ids = {r.citation_instance_id for r in w["citation_histories"].collect()}
    assert hist_ids == {r.id for r in ci.values()}
    # ncwr links resolve to real web_resources.
    wr_ids = {r.id for r in w["web_resources"].collect()}
    for r in w["ncwr"].collect():
        assert r.web_resource_id in wr_ids
    # documents resolve from curid web_resources.
    doc_ids = {r.id for r in w["documents"].collect()}
    curid = [
        r for r in w["web_resources"].collect() if r.numeric_page_id is not None
    ]
    assert curid and all(r.instance_of_document in doc_ids for r in curid)
    # url_hash is md5 (reference:models.py:57-59).
    import hashlib

    some = curid[0]
    assert some.url_hash == hashlib.md5(some.url.encode()).hexdigest()


def test_orphan_stats_zero_on_consistent_fixture(pipeline):
    stats = orphan_stats(pipeline["deduped"])
    assert stats == {"orphan_citation_histories": 0, "orphan_ncwr": 0}


def test_idempotent_rerun_same_ids(pipeline):
    """Deterministic ids: rebuilding the warehouse yields identical ids
    (SURVEY §2.8 U4 reproducibility requirement)."""
    w1 = build_warehouse(pipeline["deduped"])
    w2 = build_warehouse(pipeline["deduped"])
    ids1 = sorted(r.id for r in w1["citation_instances"].collect())
    ids2 = sorted(r.id for r in w2["citation_instances"].collect())
    assert ids1 == ids2
