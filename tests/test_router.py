"""Route-level parity for the dependency-free serving router
(wiki_references_db_spark/router.py) against the reference's api_v1
request semantics — 400/404/405 paths, limit caps, converter behavior —
over the same fixture warehouse as test_serving.py."""

import pytest

from wiki_references_db_spark.functions.wikitext import get_sha1, normalize_wikitext
from wiki_references_db_spark.router import Result, ServingRouter
from wiki_references_db_spark.wsgi import result_body
from tests.test_serving import warehouse  # noqa: F401  (module-scoped fixture)
from tests.test_wiki_pipeline import REF_A, REF_B


@pytest.fixture(scope="module")
def router(warehouse):  # noqa: F811
    return ServingRouter(warehouse)


def _article_url(warehouse):
    row = warehouse["web_resources"].filter(
        "numeric_page_id IS NOT NULL"
    ).select("url").take(1)
    return row[0].url


def test_article_requires_url(router):
    r = router.dispatch("GET", "/api/v1/article")
    assert r.status == 400 and r.error["error"] == "url parameter is required"


def test_article_unknown_url_404(router):
    r = router.dispatch("GET", "/api/v1/article", {"url": "https://nope.example/x"})
    assert r.status == 404 and r.error["error"] == "Article not found"


def test_article_resolves_and_lists_revisions(router, warehouse):  # noqa: F811
    url = _article_url(warehouse)
    r = router.dispatch("GET", "/api/v1/article", {"url": url})
    assert r.status == 200
    assert {c for c in r.df.columns} >= {"revision_id", "revision_timestamp"}
    assert len(r.df.collect()) > 0


def test_revisions_limit_cap_and_offset(router):
    r = router.dispatch(
        "GET", "/api/v1/article/100/revisions", {"limit": "5000", "offset": "1"}
    )
    assert r.status == 200
    rows = r.df.collect()
    # Fixture has 5 revisions; offset=1 leaves 4; the 5000 ask is capped,
    # not rejected (reference:api_v1.py:108).
    assert len(rows) == 4


def test_citations_route_matches_serving_function(router, warehouse):  # noqa: F811
    r = router.dispatch(
        "GET", "/api/v1/article/100/citations", {"revision_id": "1002"}
    )
    assert r.status == 200
    shas = {row.normalized_sha1 for row in r.df.collect()}
    assert shas == {
        get_sha1(normalize_wikitext(REF_A)),
        get_sha1(normalize_wikitext(REF_B)),
    }


def test_citations_page_without_revisions_404(router):
    # Page 300 has no references, hence no revision rows.
    r = router.dispatch("GET", "/api/v1/article/300/citations")
    assert r.status == 404
    assert r.error["error"] == "No revisions found for this article"
    assert router.dispatch("GET", "/api/v1/article/999999/citations").status == 404


def test_citations_unknown_page_with_revision_id_is_empty_200(router):
    # An explicit revision_id skips the 404 (reference:api_v1.py:153-170).
    for raw in ("false", "true"):
        r = router.dispatch(
            "GET", "/api/v1/article/999999/citations",
            {"revision_id": "1002", "raw": raw},
        )
        assert r.status == 200
        assert r.df.collect() == []


def test_citation_404_and_200(router):
    assert router.dispatch("GET", "/api/v1/citation/deadbeef").status == 404
    sha = get_sha1(normalize_wikitext(REF_A))
    r = router.dispatch("GET", f"/api/v1/citation/{sha}")
    assert r.status == 200 and len(r.df.collect()) == 1
    h = router.dispatch("GET", f"/api/v1/citation/{sha}/history")
    assert h.status == 200 and len(h.df.collect()) > 0


@pytest.mark.parametrize("route", ["citation", "web_resource"])
def test_card_routes_cost_one_job(router, warehouse, count_jobs, route):  # noqa: F811
    """The card routes take their one card row in the 404 probe itself,
    and the WSGI body serializes those rows: one Spark job a request."""
    if route == "citation":
        path, params = f"/api/v1/citation/{get_sha1(normalize_wikitext(REF_A))}", {}
    else:
        path, params = "/api/v1/web_resource", {"url": _article_url(warehouse)}
    bodies = []
    jobs = count_jobs(lambda: bodies.append(
        result_body(router.dispatch("GET", path, params))))
    assert jobs == 1
    r = router.dispatch("GET", path, params)
    assert r.status == 200 and len(r.rows) == 1
    assert bodies == [result_body(Result(200, r.df))]


def test_template_param_validation(router):
    r = router.dispatch("GET", "/api/v1/template/1/report")
    assert r.status == 400
    assert r.error["error"] == "parameter_key and parameter_value are required"


def test_template_unknown_id_404(router):
    r = router.dispatch(
        "GET",
        "/api/v1/template/999999/report",
        {"parameter_key": "1", "parameter_value": "Smith"},
    )
    assert r.status == 404 and r.error["error"] == "Template not found"


def _template_request(warehouse, value="Smith"):  # noqa: F811
    tid = {r.name: r.id for r in warehouse["wiki_templates"].collect()}["Sfn"]
    return f"/api/v1/template/{tid}/report", {"parameter_key": "1", "parameter_value": value}


def test_template_report_takes_its_rows_in_two_jobs(router, warehouse, count_jobs):  # noqa: F811
    """A report with rows is its own existence proof: the broadcast of
    the matching template_data ids and the page's collect, no probe."""
    path, params = _template_request(warehouse)
    bodies = []
    jobs = count_jobs(lambda: bodies.append(
        result_body(router.dispatch("GET", path, params))))
    assert jobs == 2
    r = router.dispatch("GET", path, params)
    assert r.status == 200 and len(r.rows) == 1
    assert bodies == [result_body(Result(200, r.df))]


def test_template_known_without_match_is_empty_200(router, warehouse):  # noqa: F811
    path, params = _template_request(warehouse, value="Nobody")
    r = router.dispatch("GET", path, params)
    assert r.status == 200 and r.rows == []
    assert result_body(r) == b"[]"


def test_web_resource_lookup(router, warehouse):  # noqa: F811
    assert router.dispatch("GET", "/api/v1/web_resource").status == 400
    assert (
        router.dispatch(
            "GET", "/api/v1/web_resource", {"url": "https://nope.example/y"}
        ).status
        == 404
    )
    url = _article_url(warehouse)
    assert router.dispatch("GET", "/api/v1/web_resource", {"url": url}).status == 200


def test_int_converter_is_404_not_400(router):
    # Flask's <int:> converter: non-integer segment -> route doesn't
    # match -> 404.
    r = router.dispatch("GET", "/api/v1/article/abc/revisions")
    assert r.status == 404


def test_method_not_allowed(router):
    r = router.dispatch("POST", "/api/v1/web_resource", {"url": "x"})
    assert r.status == 405


def test_bad_int_param_falls_back_to_default(router):
    # Flask's request.args.get(type=int) swallows parse failures.
    r = router.dispatch(
        "GET", "/api/v1/article/100/revisions", {"limit": "not-a-number"}
    )
    assert r.status == 200
    assert len(r.df.collect()) == 5
