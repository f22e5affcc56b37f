"""The session's codegen cache holds a working set: a warm re-run of the
same queries, or a point read keyed by a string, compiles no class."""

from perfbench.querymix import QUERIES
from wiki_references_db_spark.functions.wikitext import get_sha1, normalize_wikitext
from wiki_references_db_spark.queries import all_queries
from wiki_references_db_spark.router import ServingRouter
from wiki_references_db_spark.wsgi import result_body
from tests.test_serving import warehouse  # noqa: F401  (module-scoped fixture)
from tests.test_wiki_pipeline import REF_A, REF_B


def test_warm_query_mix_pass_compiles_nothing(spark, sf_dir, count_compiles):
    """One pass of ``perfbench``'s ``query_mix`` list needs about 128
    classes, more than Spark's default 100-entry cache keeps."""
    queries = all_queries()

    def one_pass():
        for name in QUERIES:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()

    count_compiles(one_pass)
    assert count_compiles(one_pass) == 0


def test_citation_card_for_a_new_sha1_compiles_nothing(spark, warehouse, count_compiles):  # noqa: F811
    """The sha1 reaches the generated code as a referenced object, not as
    inlined code, so a card request for another key reuses the classes."""
    router = ServingRouter(warehouse)

    def card(ref):
        r = router.dispatch("GET", f"/api/v1/citation/{get_sha1(normalize_wikitext(ref))}")
        assert r.status == 200
        return result_body(r)

    card(REF_A)
    assert count_compiles(lambda: card(REF_B)) == 0
