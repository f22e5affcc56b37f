"""Real WSGI wiring for the api_v1 HTTP shell — stdlib only.

``router.ServingRouter`` reproduces the reference's route-table
semantics (reference:api_v1.py:36-570) transport-free; this module is
the missing transport: a WSGI application (PEP 3333) over a router
instance, servable by any WSGI container — ``wsgiref.simple_server``
(stdlib, used by ``serve()`` and the tests' real-TCP round-trip),
gunicorn/uwsgi in a deployment.

Response contract, mirroring the reference shell:

- result rows serialize as a JSON array of objects (the reference's
  ``jsonify([...])``); non-JSON-native cell types (timestamps,
  decimals) serialize through ``str`` — the same textual forms the
  serving queries already canonicalize to;
- errors serialize the router's ``{"error": ..., "code": ...}`` body
  with the matching HTTP status;
- ``Content-Type: application/json`` everywhere.

Scale note: the ONLY driver-side materialization is the final
``collect()`` of an already limit-capped serving result (<= MAX_LIMIT
= 1000 rows by construction, router._page), or the rows the router
already took (a card row, a template report page) — the HTTP shell is
a consumer of the serving layer, never part of a data path.
"""

from __future__ import annotations

import json
from http import HTTPStatus
from urllib.parse import parse_qs

from wiki_references_db_spark.router import Result, ServingRouter


def _status_line(code: int) -> str:
    try:
        return f"{code} {HTTPStatus(code).phrase}"
    except ValueError:
        return f"{code} Unknown"


def _json_default(v):
    # Timestamps/decimals/bytes -> their canonical textual form; the
    # serving queries already format user-facing timestamps as strings,
    # so this is a safety net, not a formatting layer.
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def result_body(result: Result) -> bytes:
    if result.error is not None:
        payload = result.error
    elif result.rows is not None:
        payload = [r.asDict(recursive=True) for r in result.rows]
    elif result.df is not None:
        payload = [r.asDict(recursive=True) for r in result.df.collect()]
    else:  # pragma: no cover - router always sets one of the two
        payload = []
    return json.dumps(payload, default=_json_default).encode("utf-8")


def make_wsgi_app(router: ServingRouter):
    """Wrap a ``ServingRouter`` as a WSGI application callable."""

    def app(environ, start_response):
        method = environ.get("REQUEST_METHOD", "GET")
        path = environ.get("PATH_INFO", "/")
        # Flask's request.args.get: first value wins on repeats.
        params = {
            k: vs[0]
            for k, vs in parse_qs(
                environ.get("QUERY_STRING", ""), keep_blank_values=True
            ).items()
        }
        # HEAD is a transport concern, as in Flask's auto-handling: run
        # the GET, send identical status/headers, suppress the body.
        is_head = method.upper() == "HEAD"
        result = router.dispatch("GET" if is_head else method, path, params)
        body = result_body(result)
        start_response(
            _status_line(result.status),
            [
                ("Content-Type", "application/json"),
                ("Content-Length", str(len(body))),
            ],
        )
        return [] if is_head else [body]

    return app


def serve(router: ServingRouter, host: str = "127.0.0.1", port: int = 8000):
    """Blocking dev server (wsgiref).  Returns the server object when
    constructed with ``port=0`` callers can read the bound port from
    ``server.server_address`` before ``serve_forever()``."""
    from wsgiref.simple_server import make_server

    server = make_server(host, port, make_wsgi_app(router))
    return server
