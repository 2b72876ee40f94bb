"""Serving read endpoint — the long-running query API of server mode.

The reference's server mode fronts its FluxDB facade with gRPC protocol
layers (README.md:42-49; the facade itself is fluxdb.go:104-154 and the
serving reads go through the speculative overlay, read.go:155-169). The
Spark-side equivalent is a thin HTTP+JSON layer over `FluxEngine`: every
route reads THROUGH the engine, so a fork in flight is visible to HTTP
clients exactly as it is to DataFrame callers, and a fork switch changes
responses instantly (the overlay is driver-state, no restart).

Routes (GET, query-string params):

    /v1/state_at?tablet=T&height=H[&collection=C][&limit=N]
    /v1/state_join?tablets=T1,T2[,..]&height=H[&how=inner|outer][&collection=C][&limit=N]
    /v1/row_at?tablet=T&height=H&key=K[&collection=C]
    /v1/singlet_at?singlet=S&height=H[&collection=C]
    /v1/singlet_history?singlet=S[&collection=C][&limit=N]
    /v1/state_series?tablet=T&start=A&stop=B&step=S[&collection=C]
    /v1/time_weighted?tablet=T&start=A&stop=B&metric=EXPR[&collection=C]
    /v1/has_rows?tablet=T[&collection=C]
    /v1/checkpoint
    /v1/ann_topk?vector=F1,F2,...[&k=N]     (materialized LSH index)
    /v1/bm25?terms=T1,T2,...[&k=N]          (materialized postings)
    /v1/hybrid?terms=...&vector=...[&k=N]   (RRF of both rankers)
    /v1/ivf_topk?vector=...[&k=N][&nprobe=M] (materialized IVF cells)
    /v1/neardup?text=...[&threshold=J][&k=N] (materialized signatures)
    /v1/quantized_topk?vec_id=N[&k=N]       (materialized int8 table)
    /v1/pq_topk?vector=F1,F2,...[&k=N]      (materialized PQ codes)
    /v1/binary_topk?vec_id=N[&k=N]          (sign-bit scan + int8 rerank)
    /v1/tokenize?text=...                   (frozen BPE tokenizer)
    /v1/spans?text=...                      (contamination screen: which
                                             token ranges of the text
                                             appear verbatim in corpus)
    /metrics            (optional, same source contract as MetricsServer)

Responses are `{"rows": [...], "count": n}` JSON; errors are HTTP 400
(bad params) / 500 (read failure). Row payloads are capped (`max_rows`,
then `limit` below it) — a serving endpoint returns pages, never an
unbounded corpus; the driver-side collect is bounded by the same cap.

Scale shape: the point routes (/v1/row_at, /v1/singlet_at, /v1/has_rows)
run no Spark job. The engine reads one tablet's committed files through
Arrow on the driver — the band bound and the collection prune files by
their Hive path, the tablet / key / height predicates prune row groups —
and folds the ForkDB overlay in Python, so a point read costs the bytes
of the row groups it touches, not a plan build and a job. Every other
temporal route is one `state_at`-class Spark plan: height bands
partition-prune the scan, the LWW fold is a combine-friendly max_by, the
overlay union is a JVM `LocalRelation` built from the driver's ForkDB
rows through Arrow (`schema.local_frame`; no Python worker runs to scan
it); concurrent requests are independent Spark actions (scheduled FAIR
across the handler threads).
"""

from __future__ import annotations

import json
import re

from fluxdb_spark.schema import CHANGELOG_COLUMNS
from fluxdb_spark.streaming.metrics import prometheus_text


class BadRequest(Exception):
    pass


# the /v1/time_weighted `metric` parameter is an expression over the
# changelog row, but it comes from an UNTRUSTED HTTP client — passing it
# to F.expr verbatim would let any client run arbitrary Spark SQL
# (including reflection-capable functions like java_method) inside the
# engine. validate_metric_expr admits only a closed expression grammar:
# column identifiers, numeric/string literals, arithmetic/comparison
# operators, and CASE/boolean keywords — and bans every function call
# (an identifier directly followed by "(").
_METRIC_TOKEN = re.compile(
    r"\s*(\d+(?:\.\d+)?|'(?:[^']|'')*'|[A-Za-z_][A-Za-z0-9_]*"
    r"|[()+\-*/%=<>!,])"
)
_METRIC_KEYWORDS = frozenset(
    "case when then else end and or not in is null true false "
    "between like".split()
)


def validate_metric_expr(expr: str) -> str:
    """Admit `expr` only if it stays inside the safe metric grammar;
    raises BadRequest otherwise. Returns the validated text."""
    expr = expr.strip()
    if not expr:
        raise BadRequest("metric must be non-empty")
    pos, n, prev_word = 0, len(expr), None
    while pos < n:
        m = _METRIC_TOKEN.match(expr, pos)
        if not m:
            raise BadRequest(
                f"metric: unsupported syntax at {expr[pos:pos + 20]!r}"
            )
        tok = m.group(1)
        if (
            tok == "("
            and prev_word is not None
            and prev_word.lower() not in _METRIC_KEYWORDS
        ):
            raise BadRequest("metric: function calls are not allowed")
        prev_word = tok if (tok[0].isalpha() or tok[0] == "_") else None
        pos = m.end()
    return expr


def _page(rows: list[dict], limit: int) -> dict:
    return {
        "rows": rows[:limit],
        "count": min(len(rows), limit),
        "truncated": len(rows) > limit,
    }


def _rows_payload(df, limit: int) -> dict:
    return _page(
        [r.asDict(recursive=True) for r in df.limit(limit + 1).collect()],
        limit,
    )


class QueryServer:
    """Daemon-thread HTTP server exposing a FluxEngine's temporal reads.

    One engine, many clients: the engine's speculative overlay is shared
    driver state, so the server answers with the CURRENT head fork at
    each request — the reference's serving behavior."""

    def __init__(
        self,
        engine,
        host: str = "127.0.0.1",
        port: int = 0,
        max_rows: int = 1000,
        metrics_source=None,
        retrieval=None,
    ):
        import http.server
        import threading

        outer = self
        self.engine = engine
        self.max_rows = max_rows
        self._metrics_source = metrics_source
        self.retrieval = retrieval

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                from urllib.parse import parse_qs, urlparse

                try:
                    # tag this handler thread's Spark jobs into the
                    # serving pool: under FAIR scheduling (server mode
                    # sets spark.scheduler.mode=FAIR) concurrent
                    # requests share cluster slots instead of queuing
                    # behind one big scan; a no-op under FIFO
                    outer.engine.spark.sparkContext.setLocalProperty(
                        "spark.scheduler.pool", "serve"
                    )
                except Exception:
                    pass
                u = urlparse(self.path)
                params = {
                    k: v[-1] for k, v in parse_qs(u.query).items()
                }
                try:
                    body, ctype = outer._route(u.path.rstrip("/"), params)
                except BadRequest as e:
                    self.send_error(400, str(e))
                    return
                except KeyError as e:
                    self.send_error(400, f"missing parameter {e}")
                    return
                except Exception as e:  # surface read failures as 500s
                    self.send_error(500, str(e))
                    return
                if body is None:
                    self.send_error(404)
                    return
                raw = body.encode()
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(raw)))
                self.end_headers()
                self.wfile.write(raw)

            def log_message(self, *args):  # quiet
                pass

        self._httpd = http.server.ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self._httpd.server_address
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()

    # -- routing ------------------------------------------------------------

    def _route(self, path: str, p: dict):
        if path == "/metrics" and self._metrics_source is not None:
            return (
                prometheus_text(self._metrics_source()),
                "text/plain; version=0.0.4",
            )
        if path == "/v1/checkpoint":
            ckpt = self.engine.checkpoint()
            return (
                json.dumps(
                    None
                    if ckpt is None
                    else {
                        "height": ckpt.height,
                        "block_id": ckpt.block_id,
                        "block_num": ckpt.block_num,
                    }
                ),
                "application/json",
            )
        if path in (
            "/v1/ann_topk",
            "/v1/bm25",
            "/v1/hybrid",
            "/v1/ivf_topk",
            "/v1/neardup",
            "/v1/quantized_topk",
            "/v1/pq_topk",
            "/v1/binary_topk",
            "/v1/tokenize",
            "/v1/spans",
        ):
            if self.retrieval is None:
                raise BadRequest("no retrieval indexes configured")
            try:
                k = min(int(p.get("k", 10)), self.max_rows)
            except ValueError:
                raise BadRequest(f"k must be an integer: {p['k']!r}")
            if k < 1:
                raise BadRequest(f"k must be >= 1: {k}")

            def _vector():
                try:
                    v = [float(x) for x in p["vector"].split(",") if x != ""]
                except ValueError:
                    raise BadRequest("vector must be comma-separated floats")
                if not v:
                    raise BadRequest("vector must be non-empty")
                return v

            def _terms():
                t = [x for x in p["terms"].replace(",", " ").split() if x]
                if not t:
                    raise BadRequest("terms must be non-empty")
                return t

            if path == "/v1/ann_topk":
                df = self.retrieval.ann_topk(_vector(), k=k)
            elif path == "/v1/bm25":
                df = self.retrieval.bm25(_terms(), k=k)
            elif path == "/v1/ivf_topk":
                try:
                    n_probe = int(p.get("nprobe", 4))
                except ValueError:
                    raise BadRequest(
                        f"nprobe must be an integer: {p['nprobe']!r}"
                    )
                if n_probe < 1:
                    raise BadRequest(f"nprobe must be >= 1: {n_probe}")
                df = self.retrieval.ivf_topk(_vector(), k=k, n_probe=n_probe)
            elif path == "/v1/quantized_topk":
                try:
                    vid = int(p["vec_id"])
                except ValueError:
                    raise BadRequest(
                        f"vec_id must be an integer: {p['vec_id']!r}"
                    )
                df = self.retrieval.quantized_topk(vid, k=k)
            elif path == "/v1/pq_topk":
                df = self.retrieval.pq_topk(_vector(), k=k)
            elif path == "/v1/tokenize":
                if not p.get("text"):
                    raise BadRequest("text must be non-empty")
                df = self.retrieval.tokenize(p["text"])
            elif path == "/v1/spans":
                if not p.get("text"):
                    raise BadRequest("text must be non-empty")
                df = self.retrieval.spans(p["text"])
            elif path == "/v1/binary_topk":
                try:
                    vid = int(p["vec_id"])
                except ValueError:
                    raise BadRequest(
                        f"vec_id must be an integer: {p['vec_id']!r}"
                    )
                df = self.retrieval.binary_topk(vid, k=k)
            elif path == "/v1/neardup":
                try:
                    threshold = float(p.get("threshold", 0.0))
                except ValueError:
                    raise BadRequest(
                        f"threshold must be a float: {p['threshold']!r}"
                    )
                if not p.get("text"):
                    raise BadRequest("text must be non-empty")
                df = self.retrieval.neardup(
                    p["text"], threshold=threshold, k=k
                )
            else:
                df = self.retrieval.hybrid(_terms(), _vector(), k=k)
            return (
                json.dumps(_rows_payload(df, k)),
                "application/json",
            )
        if path == "/v1/has_rows":
            ok = self.engine.has_rows(
                p["tablet"], collection=p.get("collection")
            )
            return json.dumps({"has_rows": ok}), "application/json"
        known = (
            "/v1/state_at",
            "/v1/state_join",
            "/v1/row_at",
            "/v1/singlet_at",
            "/v1/singlet_history",
            "/v1/state_series",
            "/v1/time_weighted",
        )
        if path not in known:
            return None, ""

        def _int(name):
            try:
                return int(p[name])
            except ValueError:
                raise BadRequest(
                    f"{name} must be an integer: {p[name]!r}"
                )

        if "limit" in p:
            limit = _int("limit")
            if limit < 0:
                raise BadRequest(f"limit must be >= 0: {limit}")
            limit = min(limit, self.max_rows)
        else:
            limit = self.max_rows
        kw = {}
        if "collection" in p:
            kw["collection"] = p["collection"]

        if path in ("/v1/row_at", "/v1/singlet_at"):
            # the engine's driver-side answer as it stands: no Spark job
            # and no DataFrame round trip
            row_at = path == "/v1/row_at"
            rows = self.engine._point(
                p["tablet"] if row_at else p["singlet"],
                _int("height"),
                p["key"] if row_at else None,
                p.get("collection"),
            )
            payload = [dict(zip(CHANGELOG_COLUMNS, r)) for r in rows]
            return json.dumps(_page(payload, limit)), "application/json"
        if path == "/v1/state_at":
            df = self.engine.state_at(p["tablet"], _int("height"), **kw)
            df = df.orderBy("primary_key")
        elif path == "/v1/state_join":
            tablets = [t for t in p["tablets"].split(",") if t]
            if len(tablets) < 2:
                raise BadRequest(
                    f"tablets must name >= 2 tablets: {p['tablets']!r}"
                )
            how = p.get("how", "inner")
            if how not in ("inner", "outer"):
                raise BadRequest(f"how must be inner|outer: {how!r}")
            df = self.engine.state_join(
                tablets, _int("height"), how=how, **kw
            )
        elif path == "/v1/singlet_history":
            df = self.engine.singlet_history(p["singlet"], **kw)
        elif path == "/v1/state_series":
            df = self.engine.state_series(
                p["tablet"], _int("start"), _int("stop"), _int("step"),
                **kw,
            )
        else:
            from pyspark.sql import functions as F

            df = self.engine.time_weighted_avg(
                p["tablet"], _int("start"), _int("stop"),
                F.expr(validate_metric_expr(p["metric"])), **kw,
            )
        return json.dumps(_rows_payload(df, limit)), "application/json"

    # -- lifecycle ----------------------------------------------------------

    @property
    def url(self) -> str:
        return f"http://{self.host}:{self.port}"

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join()
