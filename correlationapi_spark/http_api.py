"""REST adapter: the reference's HTTP service surface over CorrelationAPI.

BigDataGrapes-EU/CorrelationAPI is consumed over HTTP (SURVEY.md §1.1 /
§3.1, capability-level — the reference tree was empty at survey time, so
the route inventory is reconstructed from the capability survey, not from
file:line citations). This module is that listener built ONLY on the
Python standard library (http.server) — no web framework exists in the
container, and none is needed for a JSON-for-JSON contract:

  GET  /health                                → {"status": "ok"}
  GET  /datasets                              → ["name", ...]
  POST /datasets/{name}   {"path","format"}   → {"dataset","columns"}
  GET  /datasets/{name}/variables             → ["numeric_col", ...]
  GET  /correlate?dataset=&x=&y=[&method=pearson|spearman|kendall|bicor][&group_by=]
  GET  /association?dataset=&a=&b=[&method=cramer|theil|mi|eta]
  GET  /distribution?dataset=&var=[&group_by=][&gini=1][&percentiles=0.5,0.9][&method=exact|sketch]
  GET  /compare?dataset=&var=&group_by=&a=&b=  (two-sample KS + Mann-Whitney)
  GET  /anova?dataset=&var=&group_by=[&center=mean|median]
       (k-sample one-way ANOVA F, or Brown-Forsythe W with center=median)
  GET  /tukey?dataset=&var=&group_by=  (Tukey-Kramer HSD pairwise post-hoc)
  GET  /integrity?child=&fk=&parent=&pk=  (FK-edge referential audit)
  GET  /basket?dataset=&basket=&item=[&min_count=10][&limit=50]
       (association rules: support/confidence/lift per item pair)
  GET  /changepoint?dataset=&var=&time=[&grain=day]
       (CUSUM curve + estimated level-shift period)
  GET  /trend?dataset=&var=&time=[&group_by=][&grain=day]
       (per-group OLS trend: slope/intercept/R2 over period totals)
  GET  /decompose?dataset=&var=&time=[&grain=day][&period=7]
       (classical additive decomposition: per-phase seasonal index +
       centered-MA trend mean)
  GET  /weighted_quantile?dataset=&var=&weight=[&group_by=][&quantiles=0.25,0.5,0.75]
       (weighted percentiles via exact integer running-weight cutoffs)
  GET  /gopher?dataset=[&id=doc_id][&text=text][&limit=100]
       (Gopher-rule quality report: per-rule pass counts + failing docs)
  GET  /forecast?dataset=&var=&time=[&group_by=][&grain=day]
       [&method=holt|holtwinters|naive][&season=7][&alpha=0.3][&beta=0.1][&gamma=0.2]
       (Holt level+trend, additive Holt-Winters with weekly season, or
       seasonal-naive WAPE/MAE backtest)
  GET  /knn_graph?dataset=&id=&vector=[&k=5][&limit=100]
       (mutual k-NN cosine graph: totals + strongest edges)
  GET  /pca?dataset=&id=&vector=[&k=8]  (PCA spectrum of an embedding column)
  GET  /drift?dataset=&var=&time=[&grain=day]  (numeric var: per-period
       KS/PSI/KL/JS vs reference; string var: per-period chi-square)
  POST /mixed_matrix {"dataset"[,"variables"]}  (type-appropriate measure per pair)
  GET  /survival?dataset=&start=&end=[&group_by=&a=&b=]  (KM curve [+ log-rank])
  POST /matrix            {"dataset","variables","method"}
  GET  /lagged?dataset=&time=&value=[&lag=][&grain=][&fill_gaps=]
  GET  /rolling?dataset=&time=&value=[&window=][&lag=][&grain=][&fill_gaps=]
  GET  /xcorr?dataset=&time=&x=&y=[&max_lag=][&grain=][&fill_gaps=]
  GET  /acf?dataset=&time=&value=[&max_lag=][&grain=][&fill_gaps=]
       → lags (acf per lag) + pacf (Durbin-Levinson) + significance band
  GET  /partial?dataset=&x=&y=&control=[&group_by=]
       (control may be comma-separated for higher-order partials)
  GET  /similar?dataset=&id=&vector=&probes=1,2[&k=][&method=exact|ivf|pq|ivfpq]
       [&n_cells=][&n_probe=]     → top-k neighbors per probe id (cosine
       for exact/ivf, code-space ADC L2 for pq/ivfpq)
  POST /similar {"dataset","id","vector","query_vectors":[[...],…],…}
       → top-k neighbors of RAW embeddings (keys q0, q1, …)
  POST /index/build  {"dataset","id","vector","path"
       [,"n_cells","train_fraction","where"]}
       → 201 + persisted-IVF status (cell-partitioned corpus + centroids;
         refuses to clobber a non-index directory; 200 on rebuild, with
         "pq_dropped": true when the replaced index had a PQ attachment
         the rebuild discarded — re-run /index/pq-attach)
  POST /index/append {"dataset","id","vector","path"[,"where"]}
       → assign ONLY the (filtered) rows to the frozen centroids, append
         their cell files, return the post-append drift gauge
  GET  /index/status?path=        → cell-balance gauge (recluster
         signal) + pq_attached (will pq/ivfpq probes answer here?)
  POST /index/probe  {"path","probe_ids":[…][,"k","n_probe","method",
         "refine"]}
       → top-k over the persisted index (partition-pruned candidate
         read); method=ivf (exact cosine refine, default) | pq |
         ivfpq (round 14: score the attached store's 6-bit code
         column — no per-call training, neighbors carry adc_l2);
         "refine": R (round 15, pq/ivfpq only) exactly re-ranks the
         ADC top-R per probe — neighbors then carry exact l2
  POST /index/pq_attach {"path"}  → attach product quantization: train
         the residual codebook (v − per-cell anchor, round 15) from
         the stored corpus, rewrite it with the code column, publish
         books + anchors + codes in one atomic pointer swap
  POST /index/delete {"path","ids":[…]}
       → tombstone ids (probes stop answering; compact reclaims bytes)
  POST /index/compact {"path"}    → rewrite dead cells live-only, clear
         tombstones, right-size the id Bloom
  POST /index/recluster {"path"[,"threshold","n_cells","train_fraction"]}
       → re-train the quantizer + rebuild when max/avg cell > threshold
         (round 14: staged as unreferenced versioned objects, committed
         by ONE atomic layout-pointer swap — readers never torn; no-op
         below threshold)
  POST /index/recover {"path"}  → reclaim retired/orphan store objects
         now (round 14: nothing needs a roll-forward anymore;
         recovered=false when there was nothing to reclaim)
  POST /psi/repin {"dataset","time","value","path","end"[,"start"]}
       → pin/rotate a versioned PSI reference over any window
  GET  /psi/status?path=          → the live PSI reference pin
  GET  /psi/drift?dataset=&time=&value=&path=  → per-window PSI vs pin
  POST /scd2/merge {"dataset","user","event","time","order","path"
       [,"n_buckets"]}  → merge a staged CDC batch into an EXISTING
         bucketed SCD2 store (touches only the batch's buckets —
         round 14: per-bucket versioned objects behind one atomic
         pointer swap; n_buckets only for pre-metadata stores — newer
         stores carry their modulus in the layout pointer)
  POST /scd2/recover {"path"}  → heal a pre-pointer interrupted commit
         and reclaim retired/orphan bucket objects (idempotent;
         recovered=false when nothing to do)
  POST /scd2/snapshot {"path","ts"[,"users","limit"]}  → point-in-time
         dimension read (pure read despite POST; bucket-pruned with
         users)
  GET  /dedup?dataset=&id=&text=[&method=exact|keep_best|ngram|minhash][&threshold=]
       [&limit=]                  → duplicate listing + engine-side totals
  GET  /assign?dataset=&id=&vector=&centroids=0,1,2[&limit=]
       → nearest-centroid cosine assignment + per-cell counts
  GET  /kmeans?dataset=&id=&vector=[&k=][&n_iter=][&tol=][&centroids=1]
       → iterative spherical k-means: sizes, mean cosines, objective trace
  GET  /transitions?dataset=&user=&event=&time=&order=
       → first-order Markov transition matrix over per-user chains
  GET  /stationary?dataset=&user=&event=&time=&order=[&n_iter=50]
       → stationary distribution of the chain (long-run event-type share)
  GET  /attribution?dataset=&user=&event=&time=&order=&target=
       → last-touch conversion attribution buckets
  GET  /attribution_multi?dataset=&user=&event=&time=&order=&target=
       [&horizon_days=30] → linear/position/time-decay credit per model
  GET  /bpe?dataset=&id=&text=[&n_merges=24][&vocab_cap=5000]
       → trained BPE merges table + corpus compression totals
  GET  /pagerank?dataset=&src=&dst=[&weight=][&damping=][&n_iter=][&limit=]
       → weighted PageRank over an edge table, top nodes by rank
  GET  /pack?dataset=&id=&text=[&capacity=][&limit=][&tokenizer=ws|bpeish]
       → concat-and-chunk packing layout + corpus token/chunk totals
       (round 6: the LLM operators are parameterized service calls, not
       only canned keys)

Error mapping at the HTTP boundary: KeyError → 404 (unknown dataset /
variable), ValueError|TypeError → 400 (bad method / grain / non-numeric
column), anything else → 500 with the exception class name; a malformed
Content-Length or a body that is not a JSON object → 400. Every
response body is one JSON document.

Mutation guard (round 12): the routes that change server or on-disk
state are gated behind a shared token: dataset registration
(POST /datasets/{name}), /index/build, /index/append, /index/delete,
/index/compact, /index/recluster, /index/recover, /index/pq_attach,
/psi/repin, /scd2/merge and /scd2/recover (the ``mutates`` entries of
ROUTES). With no token configured the server is READ-ONLY: those routes
answer 403 and name the knob to turn. With ``auth_token`` set (``serve
--auth-token`` or the CORRELATIONAPI_AUTH_TOKEN env var), a mutating
request must carry it in ``Authorization: Bearer <token>`` (or
``X-Auth-Token``); a missing or wrong token answers 401 +
WWW-Authenticate. Read routes stay open — they expose only registered
datasets, and the compare is constant-time (hmac.compare_digest). POST
alone is NOT the mutation signal: /matrix, /mixed_matrix, /similar,
/index/probe and /scd2/snapshot are pure reads that ride POST for their
body payloads.

Routing is one table, ROUTES: each entry names the CorrelationAPI
method, the wire names that differ from its parameter names, whether
it mutates, and a non-200 success status. Parameter types, defaults
and required-ness come from the method signatures themselves, read
once at import. GET routes bind the query string, POST routes the JSON
body; the CLI (``__main__``) builds its subcommands from the same table.

Scale note: the handler threads share ONE SparkSession — Spark sessions
are thread-safe and each request is a short driver-side job submission;
the heavy lifting runs on the cluster. ThreadingHTTPServer keeps slow
queries from blocking /health.
"""

from __future__ import annotations

import hmac
import inspect
import json
import os
import re
import typing
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Mapping, NamedTuple
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from .api import CorrelationAPI, parse_control_arg

_DATASET_RE = re.compile(r"^/datasets/([A-Za-z0-9_.-]+)$")
_VARIABLES_RE = re.compile(r"^/datasets/([A-Za-z0-9_.-]+)/variables$")


class Route(NamedTuple):
    """One service call: ``method path`` → ``CorrelationAPI.<call>``."""

    method: str
    path: str
    call: str
    wire: Mapping[str, str] = {}  # wire name → parameter name, where they differ
    mutates: bool = False
    status: int = 200  # a 201 route answers 200 when its result says "rebuilt"
    need: tuple[str, ...] = ()  # wire names required beyond the signature


_VEC = {"id": "id_col", "vector": "vector_col"}
_DOC = {"id": "id_col", "text": "text_col"}
_SERIES = {"time": "time_col", "value": "value_col"}
_XY = {"x": "var_x", "y": "var_y"}
_AB = {"a": "group_a", "b": "group_b"}

ROUTES = (
    Route("GET", "/correlate", "correlate", _XY),
    Route("GET", "/association", "association", {"a": "var_a", "b": "var_b"}),
    Route("GET", "/distribution", "distribution"),
    Route("GET", "/compare", "compare", _AB),
    Route("GET", "/anova", "anova"),
    Route("GET", "/tukey", "tukey"),
    Route("GET", "/integrity", "integrity"),
    Route("GET", "/basket", "basket"),
    Route("GET", "/changepoint", "changepoint"),
    Route("GET", "/trend", "trend"),
    Route("GET", "/decompose", "decompose"),
    Route("GET", "/weighted_quantile", "weighted_quantile"),
    Route("GET", "/gopher", "gopher", _DOC),
    Route("GET", "/forecast", "forecast"),
    Route("GET", "/knn_graph", "knn_graph", _VEC),
    Route("GET", "/pca", "pca", {"id": "id_col"}),
    Route("GET", "/drift", "drift", {"time": "time_col"}),
    Route("POST", "/mixed_matrix", "mixed_matrix"),
    Route("GET", "/survival", "survival", _AB),
    Route("POST", "/matrix", "correlation_matrix"),
    Route("GET", "/lagged", "lagged_correlation", _SERIES),
    Route("GET", "/rolling", "rolling_correlation", _SERIES),
    Route("GET", "/xcorr", "cross_correlation", {"time": "time_col", **_XY}),
    Route("GET", "/acf", "acf", _SERIES),
    Route("GET", "/partial", "partial_correlation", _XY),
    Route("GET", "/similar", "similar", {**_VEC, "probes": "probe_ids"},
          need=("probes",)),
    Route("POST", "/similar", "similar", _VEC, need=("query_vectors",)),
    Route("POST", "/index/build", "index_build", _VEC, mutates=True,
          status=201),
    Route("POST", "/index/append", "index_append", _VEC, mutates=True),
    Route("GET", "/index/status", "index_status"),
    Route("POST", "/index/probe", "index_probe"),
    Route("POST", "/index/pq_attach", "index_pq_attach", mutates=True),
    Route("POST", "/index/delete", "index_delete", mutates=True),
    Route("POST", "/index/compact", "index_compact", mutates=True),
    Route("POST", "/index/recluster", "index_recluster", mutates=True),
    Route("POST", "/index/recover", "index_recover", mutates=True),
    Route("POST", "/psi/repin", "psi_repin", _SERIES, mutates=True,
          status=201),
    Route("GET", "/psi/status", "psi_status"),
    Route("GET", "/psi/drift", "psi_drift", _SERIES),
    Route("POST", "/scd2/merge", "scd2_merge", {
        "user": "user_col", "event": "event_col", "time": "time_col",
        "order": "order_col"}, mutates=True),
    Route("POST", "/scd2/recover", "scd2_recover_store", mutates=True),
    Route("POST", "/scd2/snapshot", "scd2_snapshot"),
    Route("GET", "/dedup", "dedup", _DOC),
    Route("GET", "/assign", "assign", {**_VEC, "centroids": "centroid_ids"}),
    Route("GET", "/kmeans", "kmeans",
          {**_VEC, "centroids": "include_centroids"}),
    Route("GET", "/transitions", "transitions"),
    Route("GET", "/stationary", "stationary"),
    Route("GET", "/attribution", "attribution"),
    Route("GET", "/attribution_multi", "attribution_multi"),
    Route("GET", "/bpe", "bpe_train", _DOC),
    Route("GET", "/pagerank", "pagerank"),
    Route("GET", "/pack", "pack", _DOC),
)
_TABLE = {(r.method, r.path): r for r in ROUTES}


def _signature(call: str) -> list[tuple[str, Any, Any]]:
    """(name, annotation, default) per parameter of CorrelationAPI.<call>,
    read from the CLASS: the served object may be a proxy with no real
    signature."""
    fn = getattr(CorrelationAPI, call)
    hints = typing.get_type_hints(fn)
    return [
        (p.name, hints.get(p.name, Any), p.default)
        for p in list(inspect.signature(fn).parameters.values())[1:]
    ]


_SIGNATURES = {r.call: _signature(r.call) for r in ROUTES}


def params(route: Route) -> list[tuple[str, str, Any, Any]]:
    """(parameter, wire name, annotation, default) of one route."""
    wire = {p: w for w, p in route.wire.items()}
    return [(n, wire.get(n, n), h, d) for n, h, d in _SIGNATURES[route.call]]


def _missing(method: str, wire: str) -> ValueError:
    if method == "GET":
        return ValueError(f"missing query parameter {wire!r}")
    return ValueError(f'body must contain "{wire}"')


def _coerce(value: Any, hint: Any, text: bool) -> Any:
    """Convert one wire value to ``hint``. ``text`` values (query string,
    CLI) split comma lists; JSON-body lists must already be lists."""
    args = typing.get_args(hint)
    if type(None) in args:
        if value is None:
            return None
        (hint,) = [a for a in args if a is not type(None)]
    if hint == str | list[str]:
        return parse_control_arg(value)
    if hint is list or typing.get_origin(hint) is list:
        if text and isinstance(value, str):
            value = [v.strip() for v in value.split(",") if v.strip()]
        elif not isinstance(value, list):
            raise ValueError("expected a JSON array")
        (item,) = typing.get_args(hint) or (Any,)
        return [_coerce(v, item, text) for v in value]
    if hint is bool:
        if isinstance(value, str):
            return value.lower() in ("1", "true", "yes")
        return bool(value)
    if hint in (int, float):
        return hint(value)
    return value


def bind(route: Route, given: Mapping[str, Any], text: bool) -> dict[str, Any]:
    """Keyword arguments for ``route.call`` from wire-named ``given``
    values; a missing required parameter raises today's 400 message."""
    kwargs = {}
    for name, wire, hint, default in params(route):
        if wire in given:
            try:
                kwargs[name] = _coerce(given[wire], hint, text)
            except (TypeError, ValueError) as e:
                raise ValueError(f"{wire}: {e}") from None
        elif default is inspect.Parameter.empty or wire in route.need:
            raise _missing(route.method, wire)
    return kwargs


def _is_mutation(method: str, path: str) -> bool:
    """True when (method, path) would change server or persisted state."""
    route = _TABLE.get((method, path))
    if route is not None:
        return route.mutates
    return method == "POST" and _DATASET_RE.match(path) is not None


def _presented_token(headers: Mapping[str, str]) -> str | None:
    """Extract the shared token from Authorization: Bearer or X-Auth-Token."""
    auth = headers.get("Authorization") or ""
    if auth.startswith("Bearer "):
        return auth[len("Bearer "):].strip()
    tok = headers.get("X-Auth-Token")
    return tok.strip() if tok else None


def _authorize(method: str, path: str, headers: Mapping[str, str],
               auth_token: str | None) -> tuple[int, Any] | None:
    """Gate mutating routes; None = allowed, else the refusal response.

    No configured token → the server is read-only (403 with the knob
    named). Configured token → constant-time compare against the
    presented header; missing/wrong → 401. Pure function so the policy
    is unit-testable without sockets (mirrors _route)."""
    if not _is_mutation(method, path):
        return None
    if auth_token is None:
        return 403, {"error": (
            "server is read-only: no auth token configured; start serve "
            "with --auth-token (or CORRELATIONAPI_AUTH_TOKEN) to enable "
            f"mutating routes like {method} {path}"
        )}
    presented = _presented_token(headers)
    # compare encoded bytes: compare_digest on str requires ASCII and
    # raises TypeError otherwise — and _authorize runs BEFORE the
    # handler's error-mapping try, so a garbled header would kill the
    # connection with no HTTP response instead of a 401
    if presented is None or not hmac.compare_digest(
        presented.encode("utf-8"), auth_token.encode("utf-8")
    ):
        return 401, {"error": "missing or invalid auth token"}
    return None


def _route(api: CorrelationAPI, method: str, path: str,
           query: dict[str, str], body: dict[str, Any]) -> tuple[int, Any]:
    """Pure routing function (unit-testable without sockets)."""
    if method == "GET" and path == "/health":
        return 200, {"status": "ok"}
    if method == "GET" and path == "/datasets":
        return 200, api.list_datasets()
    m = _VARIABLES_RE.match(path)
    if method == "GET" and m:
        return 200, api.variables(m.group(1))
    m = _DATASET_RE.match(path)
    if method == "POST" and m:
        if "path" not in body:
            raise _missing(method, "path")
        return 201, api.register_dataset(
            m.group(1), body["path"], fmt=body.get("format", "parquet")
        )
    route = _TABLE.get((method, path))
    if route is None:
        return 404, {"error": f"no route: {method} {path}"}
    text = method == "GET"
    res = getattr(api, route.call)(**bind(route, query if text else body, text))
    if route.status == 201 and res.get("rebuilt"):
        return 200, res
    return route.status, res


def make_server(
    api: CorrelationAPI, host: str = "127.0.0.1", port: int = 0,
    auth_token: str | None = None,
) -> ThreadingHTTPServer:
    """Build (but don't start) the HTTP server; port 0 → ephemeral.

    ``auth_token=None`` (the default) serves read-only: mutating routes
    answer 403. Pass a token to enable them for callers presenting it."""

    class Handler(BaseHTTPRequestHandler):
        # quiet by default: the service log is the driver's job log
        def log_message(self, fmt: str, *args: Any) -> None:  # noqa: A002
            pass

        def _respond(self, status: int, payload: Any) -> None:
            raw = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(raw)))
            if status == 401:
                self.send_header("WWW-Authenticate", "Bearer")
            self.end_headers()
            self.wfile.write(raw)

        def _body(self) -> dict[str, Any]:
            raw = self.headers.get("Content-Length") or "0"
            if not raw.isdigit():  # "abc" or "-1": never block on read(-1)
                raise ValueError(f"invalid Content-Length: {raw!r}")
            length = int(raw)
            if not length:
                return {}
            try:
                body = json.loads(self.rfile.read(length))
            except ValueError:
                raise ValueError("request body is not JSON") from None
            if not isinstance(body, dict):
                raise ValueError("request body must be a JSON object")
            return body

        def _handle(self, method: str) -> None:
            parsed = urlparse(self.path)
            refused = _authorize(method, parsed.path, self.headers, auth_token)
            if refused is not None:
                self._respond(*refused)
                return
            query = {k: v[0] for k, v in parse_qs(parsed.query).items()}
            try:
                status, payload = _route(
                    api, method, parsed.path, query, self._body()
                )
            except KeyError as e:
                self._respond(404, {"error": str(e)})
            except (ValueError, TypeError) as e:
                self._respond(400, {"error": str(e)})
            except Exception as e:  # noqa: BLE001 - service boundary
                self._respond(500, {"error": f"{type(e).__name__}: {str(e)[:300]}"})
            else:
                self._respond(status, payload)

        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            self._handle("GET")

        def do_POST(self) -> None:  # noqa: N802
            self._handle("POST")

    return ThreadingHTTPServer((host, port), Handler)


def serve(spark: SparkSession, host: str = "127.0.0.1", port: int = 8080,
          auth_token: str | None = None) -> None:
    """Blocking entry point: ``python -m correlationapi_spark serve``.

    With no ``--auth-token`` and no CORRELATIONAPI_AUTH_TOKEN env var the
    listener is read-only (mutating routes → 403)."""
    if auth_token is None:
        auth_token = os.environ.get("CORRELATIONAPI_AUTH_TOKEN") or None
    server = make_server(CorrelationAPI(spark), host, port, auth_token=auth_token)
    print(json.dumps({
        "listening": f"http://{host}:{server.server_address[1]}",
        "mutations": "enabled" if auth_token else "read-only",
    }))
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        server.shutdown()
