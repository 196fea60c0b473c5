"""HTTP facade: the reference's WSAPI surface over the library API.

Reproduces `graphite_cgi.lua`'s envelope byte-for-byte where it is defined:

- dispatch table (`graphite_cgi.lua:401-407`): `/metrics` and
  `/metrics/find` → find, `/metrics/expand`, `/metrics/index.json`,
  `/render`; trailing slashes ignored (`:487`); anything else →
  501 ``Not Implemented: <script>`` (`:218-220`).
- parameter coercion (`graphite_cgi.lua:429-475`): repeated query params
  accumulate into arrays, empty values are dropped, singletons collapse to
  scalars, and ``target`` is ALWAYS an array; POST bodies
  (www-form-urlencoded or JSON) fill in parameters the querystring didn't
  set — querystring wins.
- JSONP (`graphite_cgi.lua:99-113`): a ``jsonp`` parameter wraps the JSON
  body in ``callback(...)`` and switches Content-Type to text/javascript.
- content types: JSON endpoints ``application/json``; /render csv is
  ``text/plain`` (`:337`, the reference's quirk — NOT text/csv); /render's
  default (svg) returns the ``[]`` stub that lets Grafana detect a
  graphite_api server (`:373-378`).
- error envelopes: missing ``query`` → HTTP 400
  ``{"errors": {"query": "this parameter is required."}}`` (`:245-250`);
  handler exceptions → HTTP 500 with an empty body (`:494-498`).

The app is a plain WSGI callable — run it under any WSGI server
(wsgiref for tests; gunicorn/uwsgi in production).  The Spark session and
datapoints relation are bound at construction, and the relation's parquet
file listing is fixed when its DataFrame is created, so an app serves one
snapshot.  Its series catalog therefore cannot change either: the app
resolves it once, on first use, into a sorted driver-side path list, and
serves /metrics/find, /metrics/expand and /metrics/index.json from that
list with no Spark job, and /render's target resolution likewise.  To see
new data, build a new app over a fresh read.  The list holds every series
path on the driver, and each find or render target is one regex pass over
it, about 2 µs per path on one core (0.2 s a target at 100k paths, on a
4-core x86 host): the per-request cost grows with the catalog, so this
form is sized for catalogs of up to about 10^5 series.  A /render builds
its plan as one SQL text: ~18 py4j round trips a request whatever the leaf
count (425-584 as DataFrame calls, same host), then a 3-job collect.
"""

from __future__ import annotations

import json
import threading
from typing import Callable
from urllib.parse import unquote_plus

from pyspark.sql import DataFrame, SparkSession

from datayours_spark import api
from datayours_spark.operators.catalog import (
    expand_paths,
    find_node_rows,
    series_catalog,
)
from datayours_spark.render.formats import find_completer, find_treejson


def _encode(data) -> str:
    """Compact JSON, stable key order — the facade's canonical bytes."""
    return json.dumps(data, separators=(",", ":"), sort_keys=True)


def jsonify(data, status: int = 200, jsonp: str | None = None):
    """(body, status, content_type) — `graphite_cgi.lua:99-113`."""
    body = _encode(data)
    if jsonp:
        return f"{jsonp}({body})", status, "text/javascript"
    return body, status, "application/json"


def parse_parameters(query: str | None) -> dict:
    """Querystring → {name: [values]}; empty values dropped
    (`graphite_cgi.lua:430-440`)."""
    p: dict[str, list[str]] = {}
    for part in (query or "").split("&"):
        if "=" not in part:
            continue
        n, v = part.split("=", 1)
        if v != "":
            p.setdefault(n, []).append(unquote_plus(v))
    return p


def get_parameters(environ: dict) -> dict:
    """Full parameter coercion (`graphite_cgi.lua:442-475`): querystring +
    POST body merge (querystring wins), singleton collapse, target always
    an array."""
    p = parse_parameters(environ.get("QUERY_STRING"))
    if environ.get("REQUEST_METHOD") == "POST":
        try:
            length = int(environ.get("CONTENT_LENGTH") or 0)
        except ValueError:
            length = 0
        content = environ["wsgi.input"].read(length).decode() if length else ""
        ctype = environ.get("CONTENT_TYPE", "")
        p2: dict = {}
        if ctype.startswith(("application/x-www-form-urlencoded",
                             "application/www-form-urlencoded")):
            p2 = parse_parameters(content)
        elif ctype.startswith("application/json") and content:
            p2 = json.loads(content)
        for name, value in p2.items():
            p.setdefault(name, value)
    out: dict = {}
    for name, value in p.items():
        out[name] = value[0] if isinstance(value, list) and len(value) == 1 else value
    if not isinstance(out.get("target"), list):  # target is ALWAYS an array
        out["target"] = [out["target"]] if "target" in out else []
    return out


class GraphiteApp:
    """WSGI application binding the dispatch table to one datapoints
    relation (what the reference binds to its Whisper storage).

    The app serves the one snapshot that relation listed, so its series
    catalog (``series_catalog(datapoints)``) is collected once, on first
    use (:meth:`catalog`), and reused by every request.
    """

    def __init__(
        self,
        spark: SparkSession,
        datapoints: DataFrame,
        step: int = 3_600,
        now: int | None = None,
        dm_dir: str | None = None,
        dm_cache_ttl: float = 0.0,
    ):
        self.spark = spark
        self.datapoints = datapoints
        self._catalog: list[str] | None = None
        self._catalog_lock = threading.Lock()  # one collect under a threaded server
        self.step = step
        self.now = now  # fixed "now" for deterministic tests; None = wall clock
        self.dm_dir = dm_dir  # dataMine DB for the lr_dmDB data_request
        # the reference opens cursors against the LIVE dataMine DB per
        # request (`L_DataMineServer.lua:495-567`), so weekly CSVs or
        # channels added while the server runs must be visible: the
        # (samples, config, graphs) DataFrames are re-created per request
        # by default (plan construction re-lists the files; no job runs
        # until the query executes).  dm_cache_ttl > 0 opts into reusing
        # them for that many seconds (ADVICE r5).
        self.dm_cache_ttl = dm_cache_ttl
        self._dm = None  # cached (samples, config, graphs) when TTL > 0
        self._dm_read_at = 0.0
        self.dispatch: dict[str, Callable] = {
            "/metrics": self.metrics_find,
            "/metrics/find": self.metrics_find,
            "/metrics/expand": self.metrics_expand,
            "/metrics/index.json": self.metrics_index,
            "/render": self.render,
            "/data_request": self.data_request,
        }

    def catalog(self) -> list[str]:
        """The app's sorted series paths, resolved on first use."""
        with self._catalog_lock:
            if self._catalog is None:
                self._catalog = api.catalog_paths(series_catalog(self.datapoints))
            return self._catalog

    # -- endpoint handlers: (params) -> (body, status, content_type) --

    def metrics_find(self, p: dict):
        query = p.get("query")
        if not query:
            return jsonify(
                {"errors": {"query": "this parameter is required."}},
                400, p.get("jsonp"),
            )
        rows = find_node_rows(self.catalog(), query)
        if p.get("format") == "completer":
            return jsonify(find_completer(rows), 200, p.get("jsonp"))
        return jsonify(find_treejson(rows), 200, p.get("jsonp"))

    def metrics_expand(self, p: dict):
        query = p.get("query")
        if not query:
            return jsonify(
                {"errors": {"query": "this parameter is required."}},
                400, p.get("jsonp"),
            )
        paths = expand_paths(self.catalog(), query, p.get("leavesOnly") == "1")
        return jsonify({"results": paths}, 200, p.get("jsonp"))

    def metrics_index(self, p: dict):
        return jsonify(self.catalog(), 200, p.get("jsonp"))

    def render(self, p: dict):
        fmt = p.get("format", "svg")
        if fmt not in ("csv", "json"):
            # svg stub: enough for Grafana to detect a graphite_api server
            # (`graphite_cgi.lua:373-378`)
            return "[]", 200, "application/json"
        text = api.render(
            self.spark,
            self.datapoints,
            targets=p["target"],
            from_=p.get("from"),
            until_=p.get("until"),
            step=self.step,
            now=self.now,
            format=fmt,
            catalog=self.catalog(),
        )
        if fmt == "csv":
            # text/plain, NOT text/csv — `graphite_cgi.lua:337`
            return text, 200, "text/plain"
        return text, 200, "application/json"

    def data_request(self, p: dict):
        """The Vera ``data_request`` front door — ``id=lr_dmDB`` routes to
        the dmDB CLI (`L_DataMineServer.lua:495-567`; the URL shape the
        reference's own report links emit).  Other handler ids 501."""
        if p.get("id") != "lr_dmDB":
            return f"Not Implemented: id={p.get('id')}", 501, "text/plain"
        if self.dm_dir is None:
            return "no dataMine database configured", 500, "text/plain"
        import time as _time

        stale = (
            self._dm is None
            or self.dm_cache_ttl <= 0
            or _time.monotonic() - self._dm_read_at > self.dm_cache_ttl
        )
        if stale:
            from datayours_spark.render.dmreports import read_graphs
            from datayours_spark.sources.datamine import (
                read_channels,
                read_config,
            )

            self._dm = (
                read_channels(self.spark, self.dm_dir),
                read_config(self.spark, self.dm_dir),
                read_graphs(self.spark, self.dm_dir),
            )
            self._dm_read_at = _time.monotonic()
        from datayours_spark.sources.datamine import dmdb_query

        samples, config, graphs = self._dm
        params = {
            k: v for k, v in p.items() if k not in ("id", "target", "jsonp")
        }
        out = dmdb_query(samples, config, params, now=self.now, graphs=graphs)
        ctype = (
            "text/html" if out.lstrip().startswith("<!DOCTYPE") else "text/plain"
        )
        return out, 200, ctype

    # -- WSGI --

    def __call__(self, environ: dict, start_response):
        script = (environ.get("PATH_INFO") or "").rstrip("/") or "/"
        handler = self.dispatch.get(script)
        if handler is None:
            body, status, ctype = (
                f"Not Implemented: {script}", 501, "text/plain"
            )
        else:
            # Parameter parsing sits inside the try: a malformed POST body
            # (e.g. broken JSON) gets the same 500-empty-body envelope as a
            # handler failure (`graphite_cgi.lua:494-498`), never a
            # server-dependent traceback page.
            try:
                body, status, ctype = handler(get_parameters(environ))
            except Exception:
                body, status, ctype = "", 500, "text/plain"
        payload = body.encode()
        start_response(
            f"{status} {_REASONS.get(status, 'OK')}",
            [
                ("Content-Type", ctype),
                ("Content-Length", str(len(payload))),
            ],
        )
        return [payload]


_REASONS = {
    200: "OK",
    400: "Bad Request",
    500: "Internal Server Error",
    501: "Not Implemented",
}
