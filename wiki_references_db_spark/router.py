"""HTTP-shell parity without the HTTP: a dependency-free router that
maps the reference's api_v1 route table (reference:api_v1.py:36-570,
openapi.yaml) onto the serving-layer DataFrame functions
(queries/serving.py), reproducing the shell's REQUEST semantics —
path-converter matching, required-parameter 400s, point-entity 404
probes, and the limit cap (default 100, max 1000,
reference:api_v1.py:26-27,108).  Transport lives one layer up:
``wiki_references_db_spark.wsgi`` wraps ``dispatch`` as a PEP-3333 WSGI
application (stdlib-only, servable by wsgiref/gunicorn/uwsgi); the
router itself stays network-free.

Flask-compatible details mirrored deliberately:
- ``<int:...>`` converters: a non-integer path segment does not match
  the route, yielding 404 (Flask's converter behavior), not 400.
- boolean query params parse as Flask's ``.lower() == "true"``.
- integer query params fall back to their defaults on parse failure
  (Flask's ``type=int`` swallows bad input).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wiki_references_db_spark.queries import serving

MAX_LIMIT = 1000
DEFAULT_LIMIT = 100


@dataclass
class Result:
    status: int
    df: DataFrame | None = None
    error: dict | None = None
    rows: list | None = None  # ``df``'s rows, when the router already took them


def _err(msg: str, code: int) -> Result:
    # reference:api_v1.py:22-23 (_error): {"error": msg, "code": code}
    return Result(status=code, error={"error": msg, "code": code})


def _int_arg(params: dict, name: str, default: int | None) -> int | None:
    try:
        return int(params[name])
    except (KeyError, TypeError, ValueError):
        return default


def _page(params: dict) -> tuple[int, int]:
    limit = min(_int_arg(params, "limit", DEFAULT_LIMIT), MAX_LIMIT)
    offset = _int_arg(params, "offset", 0)
    return limit, offset


class ServingRouter:
    """Dispatch (method, path, query-params) to a serving DataFrame.

    The only driver-side data access is the reference's own
    resolve-then-query shape: 1-row existence probes for point
    entities, and the flagship's 1-row revision resolution (404
    semantics).  A route whose whole result is one card row takes that
    row itself, so its probe is its one job; the template report takes
    its page first and probes only when the page is empty.
    """

    ROUTES = [
        ("GET", r"/api/v1/article", "article"),
        ("GET", r"/api/v1/article/(?P<page_id>\d+)/revisions", "revisions"),
        ("GET", r"/api/v1/article/(?P<page_id>\d+)/citations", "citations"),
        ("GET", r"/api/v1/citation/(?P<sha1>[^/]+)/history", "history"),
        ("GET", r"/api/v1/citation/(?P<sha1>[^/]+)", "citation"),
        ("GET", r"/api/v1/template/(?P<tid>\d+)/report", "template"),
        ("GET", r"/api/v1/web_resource", "web_resource"),
    ]

    def __init__(self, warehouse: dict[str, DataFrame]):
        self.w = warehouse

    # -- point-entity probes (reference's .first() then 404) ------------

    def _citation_exists(self, sha1: str) -> bool:
        cards = self.w["citation_cards"].filter(F.col("normalized_sha1") == sha1)
        return bool(cards.select("normalized_sha1").collect())

    @staticmethod
    def _card(df: DataFrame, missing: str) -> Result:
        """A point route over a card table: 404 when ``df`` is empty,
        else 200 with its rows, taken in one job."""
        rows = df.collect()
        if not rows:
            return _err(missing, 404)
        return Result(200, df, rows=rows)

    def _resolve_url_page(self, url: str):
        wr = (
            self.w["web_resources"]
            .filter(F.col("url") == url)
            .select("numeric_page_id")
            .take(1)
        )
        if not wr:
            return None, _err("Article not found", 404)
        page_id = wr[0].numeric_page_id
        if page_id is None:
            return None, _err("Article has no page ID", 404)
        return int(page_id), None

    # -- handlers -------------------------------------------------------

    def _h_article(self, m, params) -> Result:
        url = params.get("url")
        if not url:
            return _err("url parameter is required", 400)
        page_id, err = self._resolve_url_page(url)
        if err:
            return err
        return Result(200, serving.article_revisions(self.w, page_id))

    def _h_revisions(self, m, params) -> Result:
        limit, offset = _page(params)
        return Result(
            200,
            serving.article_revisions(
                self.w, int(m["page_id"]), limit=limit, offset=offset
            ),
        )

    def _h_citations(self, m, params) -> Result:
        limit, offset = _page(params)
        raw = str(params.get("raw", "false")).lower() == "true"
        revision_id = _int_arg(params, "revision_id", None)
        page_id = int(m["page_id"])
        # The flagship's own revision resolution doubles as the 404
        # probe: no latest revision means the page has no revisions.
        resolved = serving.resolve_revision(self.w, page_id, revision_id)
        if revision_id is None and resolved["latest_revision_id"] is None:
            return _err("No revisions found for this article", 404)
        return Result(
            200,
            serving.article_citations(
                self.w,
                page_id,
                revision_id=revision_id,
                raw=raw,
                limit=limit,
                offset=offset,
                resolved=resolved,
            ),
        )

    def _h_citation(self, m, params) -> Result:
        return self._card(serving.citation_detail(self.w, m["sha1"]), "Citation not found")

    def _h_history(self, m, params) -> Result:
        if not self._citation_exists(m["sha1"]):
            return _err("Citation not found", 404)
        page_id = _int_arg(params, "page_id", None)
        return Result(
            200, serving.citation_history(self.w, m["sha1"], page_id=page_id)
        )

    def _h_template(self, m, params) -> Result:
        key = params.get("parameter_key")
        value = params.get("parameter_value")
        if not key or value is None:
            return _err("parameter_key and parameter_value are required", 400)
        tid = int(m["tid"])
        limit, offset = _page(params)
        report = serving.template_report(
            self.w, tid, key, value, limit=limit, offset=offset
        )
        # Rows first: a template_data row implies its wiki_templates row,
        # so only an empty page needs the 404 probe.
        rows = report.collect()
        templates = self.w["wiki_templates"]
        if not rows and not templates.filter(F.col("id") == tid).take(1):
            return _err("Template not found", 404)
        return Result(200, report, rows=rows)

    def _h_web_resource(self, m, params) -> Result:
        url = params.get("url")
        if not url:
            return _err("url parameter is required", 400)
        return self._card(serving.web_resource_lookup(self.w, url), "Web resource not found")

    _HANDLERS = {
        "article": _h_article,
        "revisions": _h_revisions,
        "citations": _h_citations,
        "citation": _h_citation,
        "history": _h_history,
        "template": _h_template,
        "web_resource": _h_web_resource,
    }

    def dispatch(self, method: str, path: str, params: dict | None = None) -> Result:
        params = params or {}
        for verb, pattern, name in self.ROUTES:
            m = re.fullmatch(pattern, path)
            if m is None:
                continue
            if verb != method.upper():
                return _err("Method not allowed", 405)
            return self._HANDLERS[name](self, m.groupdict(), params)
        return _err("Not found", 404)
