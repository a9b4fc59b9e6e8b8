"""Long-lived query service — the reference's third entry point
(`indexer serve`, /root/reference/src/server.rs:23-108, main.rs:214-225)
re-expressed over the Spark index.

Endpoint parity with the reference:
- ``GET /``            -> a minimal HTML search page (HTML_DEFAULT analog)
- ``POST /query``      -> raw query text body; newline-joined result
                          locations ("conv_id\tturn_idx\tscore"), or
                          "Zero matches!" — the reference returns
                          newline-joined file paths; (conv_id, turn_idx)
                          is this engine's document identity; a bad
                          query is a 400, a server fault a 500
Extras beyond the reference:
- ``GET /search?q=...&k=10&mode=pruned&tfidf=0&window=8&snippets=160
  &facets=role&role=assistant`` -> JSON
  results (mode: pruned | exhaustive | and — conjunctive, all terms
  required | phrase — contiguous positional match, positional indexes
  only | near — terms co-occur within `window` tokens, positional
  indexes only | bool — boolean query language: AND / OR / NOT,
  parentheses, quoted phrases; see boolquery.py)
- ``GET /stats``       -> index stats JSON, plus ``warm_error`` (why
                          start-up warming failed, or null)

Serving path: IndexReader's driver fast path scores small matched sets
without a Spark job (sub-50 ms warm), and resolve_local point-reads the
matched tok rows with pyarrow — so a typical request never launches a
job; hot-term queries transparently fall back to the distributed plan.
ThreadingHTTPServer + a shared reader: the df/nbytes caches are
GIL-protected dict ops and pyarrow reads are thread-safe; distributed
fallbacks serialize on the SparkContext like any concurrent driver."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .query import IndexReader

_PAGE = """<!doctype html>
<html><head><title>indexer_spark</title></head>
<body><h1>indexer_spark query service</h1>
<form action="/search" method="get">
<input name="q" size="60" placeholder="query terms"/>
<input name="k" value="10" size="3"/>
<button type="submit">search</button></form>
<p>POST /query with a raw query body for newline-joined results;
GET /stats for index stats.</p></body></html>
"""


class QueryServer:
    """HTTP front-end over one IndexReader. start() binds and serves on a
    daemon thread and returns the bound port (port=0 picks a free one)."""

    def __init__(self, spark, index_dir: str, host: str = "127.0.0.1",
                 port: int = 0, k_default: int = 10,
                 warm_hot_terms: int = 32,
                 source_path: str | None = None,
                 result_cache_size: int = 256):
        # source_path: the transcripts parquet the index was built from;
        # enables &snippets=1 (the index itself stores no raw text — the
        # source table stays the text of record)
        self.source_path = source_path
        self._source_ds = None
        self.reader = IndexReader(spark, index_dir)
        # why warming failed ("Type: message"), or None; GET /stats shows
        # it, so a server that silently serves cold can be told apart
        self.warm_error: str | None = None
        if warm_hot_terms:
            try:
                # pre-decode the hottest posting lists: the first user
                # query for a hot term shouldn't pay its decode
                self.reader.warm_hot_terms(warm_hot_terms)
            except Exception as e:  # serving still works cold
                self.warm_error = f"{type(e).__name__}: {e}"
        self.host, self.port, self.k_default = host, port, k_default
        # serving-layer RESULT cache (distinct from the decoded-postings
        # LRU below it, which caches work, not answers): repeat requests
        # of any mode — bool/near/phrase included, which have no
        # all-cached scoring shortcut — answer without touching the
        # reader. Keyed on the reader's snapshot epoch, so an
        # append/update/rebuild invalidates every cached answer the
        # moment the reader refreshes onto the new snapshot.
        self.result_cache_size = result_cache_size
        self._result_cache: dict = {}
        self._rc_lock = threading.Lock()
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- request handling --------------------------------------------------

    def _search(self, q: str, k: int, mode: str, tfidf: bool,
                window: int = 8, snippets: int = 0,
                role: str = "") -> list[dict]:
        key = (self.reader._epoch, q, k, mode, tfidf, window, snippets,
               role)
        if self.result_cache_size:
            with self._rc_lock:
                hit = self._result_cache.get(key)
            if hit is not None:
                return hit
        if role:
            if tfidf:
                # no filtered TF-IDF variant exists; silently answering
                # with BM25 scores would mislabel the scoring semantics
                raise ValueError("role filtering is not supported with "
                                 "tfidf=1 (BM25 modes only)")
            hits = self.reader.search_where(q, {"role": role}, k=k,
                                            mode=mode, window=window)
        else:
            hits = (
                self.reader.search_tfidf(q, k) if tfidf
                else self.reader.search(q, k, mode=mode, window=window)
            )
        rows = self.reader.resolve_local(hits)
        if snippets and rows:
            self._attach_snippets(rows, q, mode, max_chars=snippets)
        if self.result_cache_size:
            with self._rc_lock:
                if len(self._result_cache) >= self.result_cache_size:
                    # insertion-order eviction: dicts preserve it, and a
                    # full sweep-on-overflow keeps this O(1) amortized
                    self._result_cache.pop(
                        next(iter(self._result_cache)))
                self._result_cache[key] = rows
        return rows

    def _facets(self, q: str, mode: str, window: int, by: str) -> dict:
        key = (self.reader._epoch, "facets", q, mode, window, by)
        if self.result_cache_size:
            with self._rc_lock:
                hit = self._result_cache.get(key)
            if hit is not None:
                return hit
        counts = self.reader.facet_counts(q, by=by, k=50, mode=mode,
                                          window=window)
        out = {str(v): c for v, c in counts}
        if self.result_cache_size:
            with self._rc_lock:
                if len(self._result_cache) >= self.result_cache_size:
                    self._result_cache.pop(next(iter(self._result_cache)))
                self._result_cache[key] = out
        return out

    def _attach_snippets(self, rows: list[dict], q: str, mode: str,
                         max_chars: int) -> None:
        """Point-read the k result texts from the source table (pyarrow,
        conv_id/turn_idx pushdown — k rows, no Spark job) and attach
        {"snippet", "matches"} per row via snippets.make_snippet."""
        if not self.source_path:
            raise ValueError(
                "snippets need the server started with source_path= "
                "(the index stores no raw text)"
            )
        import pyarrow.dataset as pads

        from .snippets import make_snippet

        if self._source_ds is None:
            self._source_ds = pads.dataset(self.source_path,
                                           format="parquet")
        convs = sorted({r["conv_id"] for r in rows})
        turns = sorted({r["turn_idx"] for r in rows})
        tbl = self._source_ds.to_table(
            columns=["conv_id", "turn_idx", "text"],
            filter=pads.field("conv_id").isin(convs)
            & pads.field("turn_idx").isin(turns),
        )
        texts = {
            (c, int(t)): x
            for c, t, x in zip(
                tbl.column("conv_id").to_pylist(),
                tbl.column("turn_idx").to_pylist(),
                tbl.column("text").to_pylist(),
            )
        }
        terms = self.reader.positive_terms(q, mode)
        for r in rows:
            text = texts.get((r["conv_id"], r["turn_idx"]))
            r.update(make_snippet(text, terms, max_chars=max_chars))

    def _make_handler(server_self):  # noqa: N805 - handler factory
        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # quiet: no stderr spam
                pass

            def _send(self, code: int, body: str, ctype="application/json"):
                data = body.encode()
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):
                url = urlparse(self.path)
                if url.path == "/":
                    self._send(200, _PAGE, "text/html")
                elif url.path == "/stats":
                    self._send(200, json.dumps({
                        **{k: v for k, v in server_self.reader.stats.items()
                           if not isinstance(v, dict)},  # omit bulky maps
                        "warm_error": server_self.warm_error,
                    }))
                elif url.path == "/search":
                    qs = parse_qs(url.query)
                    q = (qs.get("q") or [""])[0]
                    if not q:
                        self._send(400, json.dumps({"error": "missing q"}))
                        return
                    # parse params inside a guard: /search?k=abc must be a
                    # 400 response, not a silently dropped connection
                    try:
                        k = int((qs.get("k") or [server_self.k_default])[0])
                        if not (1 <= k <= 1000):
                            # k=-1 would fall through numpy's negative
                            # indexing and return nearly the whole corpus
                            raise ValueError(f"k out of range: {k}")
                        mode = (qs.get("mode") or ["pruned"])[0]
                        if mode not in ("pruned", "exhaustive", "and",
                                        "phrase", "near", "bool"):
                            raise ValueError(f"bad mode {mode!r}")
                        window = int((qs.get("window") or ["8"])[0])
                        if not (0 <= window <= 1_000_000):
                            raise ValueError(f"window out of range: {window}")
                        tfidf = (qs.get("tfidf") or ["0"])[0] in ("1", "true")
                        sn = (qs.get("snippets") or ["0"])[0]
                        snippets = 160 if sn in ("1", "true") else int(sn)
                        if not (0 <= snippets <= 10_000):
                            raise ValueError(
                                f"snippets out of range: {snippets}")
                        facets_by = (qs.get("facets") or [""])[0]
                        role = (qs.get("role") or [""])[0]
                    except ValueError as e:
                        self._send(400, json.dumps({"error": str(e)}))
                        return
                    try:
                        rows = server_self._search(q, k, mode, tfidf, window,
                                                   snippets, role)
                    except ValueError as e:
                        # a bad QUERY (boolean syntax error, pure-negative,
                        # positional mode on a position-less index) is the
                        # client's fault, not a server failure
                        self._send(400, json.dumps({"error": str(e)}))
                        return
                    except Exception as e:  # surface, don't kill the thread
                        self._send(500, json.dumps({"error": str(e)}))
                        return
                    resp = {"query": q, "hits": rows}
                    if facets_by:
                        try:
                            resp["facets"] = server_self._facets(
                                q, mode, window, facets_by)
                        except ValueError as e:
                            self._send(400, json.dumps({"error": str(e)}))
                            return
                    self._send(200, json.dumps(resp))
                else:
                    self._send(404, f"Route not Allowed: {url.path}",
                               "text/plain")

            def do_POST(self):
                url = urlparse(self.path)
                if url.path != "/query":
                    self._send(404, f"Route not Allowed: {url.path}",
                               "text/plain")
                    return
                n = int(self.headers.get("Content-Length", 0))
                q = self.rfile.read(n).decode().strip()
                try:
                    rows = server_self._search(
                        q, server_self.k_default, "pruned", False
                    )
                except ValueError as e:
                    # the client's query is at fault: 400, as on /search
                    self._send(400, str(e), "text/plain")
                    return
                except Exception as e:
                    self._send(500, str(e), "text/plain")
                    return
                if not rows:
                    self._send(200, "Zero matches!", "text/plain")
                    return
                body = "\n".join(
                    f"{r['conv_id']}\t{r['turn_idx']}\t{r['score']:.6f}"
                    for r in rows
                )
                self._send(200, body, "text/plain")

        return Handler

    # -- lifecycle -----------------------------------------------------------

    def start(self) -> int:
        self._httpd = ThreadingHTTPServer(
            (self.host, self.port), self._make_handler()
        )
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self.port

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
        self.reader.close()


def serve_forever(spark, index_dir: str, host="127.0.0.1", port=8765,
                  source_path: str | None = None):
    """Blocking entry point for `indexer_spark serve` (CLI)."""
    srv = QueryServer(spark, index_dir, host=host, port=port,
                      source_path=source_path)
    bound = srv.start()
    print(json.dumps({"serving": f"http://{host}:{bound}",
                      "index": index_dir}), flush=True)
    try:
        srv._thread.join()
    except KeyboardInterrupt:
        srv.stop()
