"""Serving-layer endpoint functions over the fixture warehouse."""

import os
from collections import Counter

import pytest

from wiki_references_db_spark.functions.wikitext import get_sha1, normalize_wikitext
from wiki_references_db_spark.plans.dedup_tables import dedup_staging
from wiki_references_db_spark.plans.stage import stage_revisions
from wiki_references_db_spark.plans.warehouse import build_warehouse, revision_cards
from wiki_references_db_spark.queries import serving
from wiki_references_db_spark.sources.mwrev import read_mwrev_bundles, write_mwrev_zst
from tests.test_wiki_pipeline import FIXTURE, REF_A, REF_B, REF_C, _rev


def _build(spark, bundle_dir, revisions):
    write_mwrev_zst(os.path.join(bundle_dir, "fixture-00.mwrev.zst"), revisions)
    raw = read_mwrev_bundles(spark, str(bundle_dir))
    deduped = dedup_staging(stage_revisions(raw, domain="en.wikipedia.org"))
    w = build_warehouse(deduped)
    return {k: v.localCheckpoint() for k, v in w.items()}


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    return _build(spark, tmp_path_factory.mktemp("bundles_srv"), FIXTURE)


def test_article_revisions_counts(warehouse):
    rows = {r.revision_id: r for r in serving.article_revisions(warehouse, 100).collect()}
    assert set(rows) == {1001, 1002, 1003, 1004, 1005}
    assert rows[1001].citation_count == 1   # A only
    assert rows[1002].citation_count == 2   # A + B
    assert rows[1003].citation_count == 1   # B only
    assert rows[1005].parent_revision_id == 1004


def test_article_citations_hydrated(warehouse):
    out = {
        r.normalized_sha1: r
        for r in serving.article_citations(warehouse, 100, revision_id=1002).collect()
    }
    a_sha = get_sha1(normalize_wikitext(REF_A))
    b_sha = get_sha1(normalize_wikitext(REF_B))
    assert set(out) == {a_sha, b_sha}
    a = out[a_sha]
    assert a.reference_type == "inline"
    assert a.reference_name == "a"
    assert a.first_seen_id == 1001 and a.last_seen_id == 1004
    assert a.appearance_count == 3
    assert a.currently_visible is False
    assert a.removed_at_revision_id == 1003
    assert [l.url for l in a.extracted_links] == ["https://a.example/x"]
    b = out[b_sha]
    assert b.currently_visible is True
    assert b.removed_at_revision_id is None
    assert b.templates[0].template_name == "Sfn"
    assert dict(b.templates[0].parameters) == {"1": "Smith", "2": "2020", "p": "1"}
    assert [oa.page_id for oa in b.other_articles] == [100]


def test_article_citations_default_latest_revision(warehouse):
    out = serving.article_citations(warehouse, 100).collect()
    shas = {r.normalized_sha1 for r in out}
    assert shas == {get_sha1(normalize_wikitext(REF_B))}  # only B at rev 1005
    assert out[0].currently_visible is True


def test_article_citations_raw_mode(warehouse):
    out = {r.raw_sha1: r for r in serving.article_citations(
        warehouse, 100, revision_id=1002, raw=True).collect()}
    assert set(out) == {get_sha1(REF_A), get_sha1(REF_B)}
    assert "normalized_sha1" not in out[get_sha1(REF_A)].asDict()


def test_instance_cards_runs_cover_the_history(warehouse):
    """One card per citation instance; its presence runs are sorted,
    disjoint, and cover exactly the page revisions in its history, so
    their lengths sum to ``appearance_count``."""
    cards = warehouse["instance_cards"].collect()
    ids = [c.id for c in cards]
    assert len(ids) == len(set(ids))
    assert sorted(ids) == sorted(r.id for r in warehouse["citation_instances"].collect())
    page_revs = {}
    for r in warehouse["revisions"].collect():
        page_revs.setdefault(r.page_id, []).append(r.revision_id)
    seen = {}
    for h in warehouse["citation_histories"].collect():
        seen.setdefault(h.citation_instance_id, set()).add(h.revision_id)
    for c in cards:
        runs = [(r.from_id, r.to_id) for r in c.presence]
        assert runs == sorted(runs)
        assert all(a[1] < b[0] for a, b in zip(runs, runs[1:]))
        lengths = [sum(1 for rid in page_revs[c.page_id] if lo <= rid <= hi)
                   for lo, hi in runs]
        covered = {rid for rid in page_revs[c.page_id]
                   for lo, hi in runs if lo <= rid <= hi}
        assert covered == seen[c.id]
        assert sum(lengths) == c.appearance_count == len(seen[c.id])
        assert (c.first_seen_id, c.last_seen_id) == (runs[0][0], runs[-1][1])


def test_article_citations_lifecycle_across_a_gap(warehouse):
    """REF_A is in 1001-1002, gone at 1003, back at 1004 and gone at
    1005: two presence runs, each visible with its own removed_at."""
    a_sha = get_sha1(normalize_wikitext(REF_A))

    def ref_a(revision_id):
        rows = serving.article_citations(warehouse, 100, revision_id=revision_id).collect()
        return [r for r in rows if r.normalized_sha1 == a_sha]

    (at_1002,) = ref_a(1002)
    assert at_1002.removed_at_revision_id == 1003
    assert ref_a(1003) == []
    (at_1004,) = ref_a(1004)
    assert at_1004.removed_at_revision_id == 1005
    for a in (at_1002, at_1004):
        assert a.appearance_count == 3
        assert a.currently_visible is False


def test_article_citations_other_pages_revision_is_empty(warehouse):
    """Revision 2001 belongs to page 200: asked for page 100 it selects
    nothing, in both modes."""
    for raw in (False, True):
        assert serving.article_citations(
            warehouse, 100, revision_id=2001, raw=raw).collect() == []


def test_citation_history_cross_page(warehouse):
    b_sha = get_sha1(normalize_wikitext(REF_B))
    rows = serving.citation_history(warehouse, b_sha).collect()
    assert [r.revision_id for r in rows] == [1002, 1003, 1004, 1005]
    page_filtered = serving.citation_history(warehouse, b_sha, page_id=100).collect()
    assert len(page_filtered) == 4


def test_citation_history_keeps_one_row_per_instance(spark, tmp_path):
    """Two formattings of one citation in one revision are two instances
    of one normalized citation: the history lists that revision twice."""
    d1 = "{{cite web |url=http://d.example/p |title=D}}"
    d2 = "{{cite web|url=http://d.example/p|title=D}}"
    assert normalize_wikitext(d1) == normalize_wikitext(d2)
    w = _build(spark, tmp_path, [
        _rev(400, 4001, None, 1, f"Both {d1} and {d2} here."),
        _rev(400, 4002, 4001, 2, f"Only {d1} now."),
    ])
    rows = serving.citation_history(w, get_sha1(normalize_wikitext(d1))).collect()
    assert [(r.revision_id, r.page_id) for r in rows] == [
        (4001, 400), (4001, 400), (4002, 400)
    ]


def test_citation_detail(warehouse):
    c_sha = get_sha1(normalize_wikitext(REF_C))
    row = serving.citation_detail(warehouse, c_sha).collect()
    assert len(row) == 1
    r = row[0]
    assert r.reference_normalized == normalize_wikitext(REF_C)
    assert [l.url for l in r.extracted_links] == ["http://c.example/page"]
    tpl = r.templates[0]
    assert tpl.template_name == "Cite web"
    assert dict(tpl.parameters) == {"url": "http://c.example/page", "title": "C"}


def test_citation_cards_one_row_per_normalized_citation(warehouse):
    cards = warehouse["citation_cards"]
    ids = [r.normalized_id for r in cards.select("normalized_id").collect()]
    want = [r.id for r in warehouse["normalized_citations"].select("id").collect()]
    assert len(ids) == len(set(ids))
    assert sorted(ids) == sorted(want)


def test_revision_cards_count_history_rows(warehouse, spark):
    """One row per revision; citation_count is the plain count of the
    revision's history rows, 0 for a revision without any.  Revision
    3001 has no references, so staging leaves it out of ``revisions``;
    it is added back to give the build a zero-citation revision."""
    revisions = warehouse["revisions"].unionByName(
        spark.createDataFrame([(3001, 300, None, "2020-01-01 00:00:00")],
                              warehouse["revisions"].schema)
    )
    w = dict(warehouse, revisions=revisions)
    cards = revision_cards(w).collect()
    want = Counter(r.revision_id for r in w["citation_histories"].collect())
    ids = [r.revision_id for r in revisions.collect()]
    assert sorted(r.revision_id for r in cards) == sorted(ids)
    assert {r.revision_id: r.citation_count for r in cards} == {
        rid: want.get(rid, 0) for rid in ids
    }
    assert [r.citation_count for r in cards if r.revision_id == 3001] == [0]
    built = [r.revision_id for r in warehouse["revision_cards"].collect()]
    assert sorted(built) == sorted(r.revision_id for r in warehouse["revisions"].collect())


def test_web_resource_cards_one_row_per_web_resource(warehouse):
    cards = warehouse["web_resource_cards"].collect()
    ids = [r.web_resource_id for r in cards]
    want = [r.id for r in warehouse["web_resources"].select("id").collect()]
    assert len(ids) == len(set(ids))
    assert sorted(ids) == sorted(want)
    referenced = {r.web_resource_id for r in warehouse["ncwr"].collect()}
    for r in cards:
        assert (r.referenced_by is None) == (r.web_resource_id not in referenced)


@pytest.mark.parametrize(
    "ref,page_id,revision_id",
    [(REF_A, 100, 1002), (REF_B, 100, 1002), (REF_C, 200, 2001)],
    ids=["REF_A", "REF_B", "REF_C"],
)
def test_citation_detail_hydration_equals_flagship(warehouse, ref, page_id, revision_id):
    """The card route and the flagship hydrate one citation identically:
    both read the same citation_cards row."""
    sha = get_sha1(normalize_wikitext(ref))
    (flagship,) = [
        r for r in serving.article_citations(
            warehouse, page_id, revision_id=revision_id).collect()
        if r.normalized_sha1 == sha
    ]
    (detail,) = serving.citation_detail(warehouse, sha).collect()
    assert detail.reference_normalized == flagship.reference_normalized
    assert detail.appears_on_articles == flagship.other_articles
    assert detail.extracted_links == flagship.extracted_links
    assert detail.templates == flagship.templates


def test_template_report(warehouse):
    tpl = {r.name: r for r in warehouse["wiki_templates"].collect()}
    rows = serving.template_report(
        warehouse, tpl["Cite web"].id, "url", "http://c.example/page"
    ).collect()
    assert len(rows) == 1
    assert rows[0].normalized_sha1 == get_sha1(normalize_wikitext(REF_C))


def test_web_resource_lookup(warehouse):
    rows = serving.web_resource_lookup(warehouse, "https://a.example/x").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.domain == "a.example"
    assert [x.normalized_sha1 for x in r.referenced_by] == [
        get_sha1(normalize_wikitext(REF_A))
    ]


def test_name_only_refs_regex(warehouse):
    rows = serving.name_only_refs(warehouse, 100).collect()
    # REF_A has a name but full content => not name-only.
    assert all(not r.is_name_only for r in rows)


def test_pagination_cap(warehouse):
    out = serving.article_revisions(warehouse, 100, limit=2, offset=1).collect()
    assert [r.revision_id for r in out] == [1002, 1003]
