"""Query-service tests (reference `indexer serve` analog, server.rs):
endpoint parity (GET /, POST /query newline protocol), JSON search, and
the no-Spark-job serving path (fast search + resolve_local)."""

import json
import urllib.request

import pytest

from indexer_spark.build import BuildConfig, build_index
from indexer_spark.query import IndexReader
from indexer_spark.server import QueryServer
from indexer_spark.synth import gen_transcripts


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    pdf = gen_transcripts(300, seed=17)
    d = str(tmp_path_factory.mktemp("served"))
    build_index(spark, spark.createDataFrame(pdf), d,
                BuildConfig(block_size=32, id_partitions=2))
    srv = QueryServer(spark, d, port=0)
    port = srv.start()
    yield srv, port, pdf, d
    srv.stop()


def _get(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
        return r.status, r.read().decode()


def test_serve_html_root(served):
    _, port, _, _ = served
    status, body = _get(port, "/")
    assert status == 200 and "<form" in body


def test_serve_search_json(served):
    srv, port, pdf, _ = served
    q = pdf["text"].iloc[0].split()[0]
    status, body = _get(port, f"/search?q={q}&k=5")
    assert status == 200
    data = json.loads(body)
    assert data["hits"] and {"conv_id", "turn_idx", "doc_id", "score"} <= set(
        data["hits"][0]
    )
    # serving took the no-Spark-job path
    assert srv.reader.last_path == "fast"


def test_serve_post_query_protocol(served):
    _, port, pdf, _ = served
    q = pdf["text"].iloc[0].split()[0]
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/query", data=q.encode(), method="POST")
    with urllib.request.urlopen(req) as r:
        body = r.read().decode()
    lines = body.splitlines()
    assert lines and all(len(x.split("\t")) == 3 for x in lines)
    # zero-match parity with the reference
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/query", data=b"qqqzzznotaword",
        method="POST")
    with urllib.request.urlopen(req) as r:
        assert r.read().decode() == "Zero matches!"


def _post(port, q):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/query", data=q.encode(), method="POST")
    with urllib.request.urlopen(req) as r:
        return r.status, r.read().decode()


def test_serve_post_query_client_errors_are_400(served, monkeypatch):
    """POST /query always runs a pruned query, whose parser raises no
    ValueError, so the real boolean parser is put behind the endpoint:
    a malformed bool query must come back as a 400, like on /search,
    and any other failure stays a 500."""
    srv, port, pdf, _ = served
    import urllib.error

    real = srv._search
    monkeypatch.setattr(
        srv, "_search", lambda q, k, _mode, tfidf: real(q, k, "bool", tfidf))
    for q, needle in (
        ("lemon AND (zest", "parenthesis"),
        ("NOT lemon", "pure-negative"),
    ):
        with pytest.raises(urllib.error.HTTPError) as exc:
            _post(port, q)
        assert exc.value.code == 400, q
        assert needle in exc.value.read().decode()
    # a well-formed bool query is answered through the same handler
    w = pdf["text"].iloc[0].split()
    status, body = _post(port, f"{w[0]} OR {w[1]}")
    assert status == 200 and body != "Zero matches!"

    def broken(*_a, **_k):
        raise RuntimeError("reader fault")

    monkeypatch.setattr(srv, "_search", broken)
    with pytest.raises(urllib.error.HTTPError) as exc:
        _post(port, "lemon")
    assert exc.value.code == 500
    assert "reader fault" in exc.value.read().decode()


def test_serve_records_warm_failure(spark, served, monkeypatch):
    """A failed start-up warm leaves the server serving cold, and says
    why in GET /stats instead of swallowing the error."""
    _, port, pdf, d = served
    assert json.loads(_get(port, "/stats")[1])["warm_error"] is None

    def failing_warm(self, *_a, **_k):
        raise OSError("postings unreadable")

    monkeypatch.setattr(IndexReader, "warm_hot_terms", failing_warm)
    srv = QueryServer(spark, d, port=0)
    try:
        assert srv.warm_error == "OSError: postings unreadable"
        port2 = srv.start()
        stats = json.loads(_get(port2, "/stats")[1])
        assert stats["warm_error"] == "OSError: postings unreadable"
        assert stats["n_docs"] == 300
        q = pdf["text"].iloc[0].split()[0]
        assert json.loads(_get(port2, f"/search?q={q}&k=3")[1])["hits"]
    finally:
        srv.stop()


def test_serve_stats_and_404(served):
    _, port, _, _ = served
    status, body = _get(port, "/stats")
    assert status == 200 and json.loads(body)["n_docs"] == 300
    try:
        _get(port, "/nope")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_serve_concurrent_requests_consistent(served):
    """ThreadingHTTPServer shares one reader (and the decoded-postings
    LRU) across request threads — 16 parallel mixed queries must all
    succeed and repeat-queries must return identical hit lists."""
    import concurrent.futures as cf

    _, port, pdf, _ = served
    words = [pdf["text"].iloc[i].split()[0] for i in range(8)]

    def one(i):
        q = words[i % len(words)]
        status, body = _get(port, f"/search?q={q}&k=5")
        assert status == 200
        return q, json.loads(body)["hits"]

    with cf.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(one, range(16)))
    by_q = {}
    for q, hits in results:
        if q in by_q:
            assert hits == by_q[q], f"non-deterministic hits for {q!r}"
        by_q[q] = hits
    assert all(len(h) >= 1 for h in by_q.values())


def test_serve_bad_k_returns_400(served):
    _, port, _, _ = served
    try:
        _get(port, "/search?q=x&k=abc")
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_resolve_local_matches_resolve(spark, served):
    srv, _, pdf, d = served
    q = pdf["text"].iloc[1].split()[0]
    reader = IndexReader(spark, d)
    hits = reader.search(q, 5)
    fast = reader.resolve_local(hits)
    slow = [r.asDict() for r in reader.resolve(hits).collect()]
    key = lambda r: (r["doc_id"],)  # noqa: E731
    assert sorted(fast, key=key) == sorted(slow, key=key)


def test_serve_phrase_mode(spark, tmp_path_factory):
    """mode=phrase serves from a positional index (fast_phrase path for
    small payloads) and 400s with an actionable error on an index built
    without positions."""
    import pandas as pd

    d = str(tmp_path_factory.mktemp("served_pos"))
    pdf = pd.DataFrame({
        "conv_id": ["a", "a", "b"],
        "turn_idx": [0, 1, 0],
        "role": ["user"] * 3,
        "text": [
            "green tea with lemon zest",
            "zest of lemon on toast",
            "lemon green tea zest",
        ],
    })
    build_index(spark, spark.createDataFrame(pdf), d,
                BuildConfig(block_size=32, id_partitions=2, positions=True))
    srv = QueryServer(spark, d, port=0)
    port = srv.start()
    try:
        status, body = _get(port, "/search?q=lemon+zest&k=5&mode=phrase")
        assert status == 200
        hits = {h["doc_id"] for h in json.loads(body)["hits"]}
        assert hits == {0}  # only "lemon zest" contiguous; not doc 1 or 2
        assert srv.reader.last_path == "fast_phrase"
        status, body = _get(port, "/search?q=zest+of+lemon&k=5&mode=phrase")
        assert {h["doc_id"] for h in json.loads(body)["hits"]} == {1}
    finally:
        srv.stop()


def test_serve_phrase_mode_rejects_positionless(served):
    _, port, pdf, _ = served
    q = pdf["text"].iloc[0].split()[0]
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(port, f"/search?q={q}&k=5&mode=phrase")
    assert exc.value.code == 400  # the client's query is at fault
    assert "positions=True" in exc.value.read().decode()


def test_serve_near_mode(spark, tmp_path_factory):
    """mode=near with a window param serves from a positional index."""
    import pandas as pd

    d = str(tmp_path_factory.mktemp("served_near"))
    pdf = pd.DataFrame({
        "conv_id": ["a", "a", "b"],
        "turn_idx": [0, 1, 0],
        "role": ["user"] * 3,
        "text": [
            "lemon zest on green tea cake",       # lemon..tea span 4
            "tea first then a slice of lemon",    # lemon..tea span 6
            "tea with lemon",                     # span 2
        ],
    })
    build_index(spark, spark.createDataFrame(pdf), d,
                BuildConfig(block_size=32, id_partitions=2, positions=True))
    srv = QueryServer(spark, d, port=0)
    port = srv.start()
    try:
        status, body = _get(port, "/search?q=lemon+tea&k=5&mode=near&window=4")
        assert status == 200
        assert {h["doc_id"] for h in json.loads(body)["hits"]} == {0, 2}
        assert srv.reader.last_path == "fast_near"
        status, body = _get(port, "/search?q=lemon+tea&k=5&mode=near&window=6")
        assert {h["doc_id"] for h in json.loads(body)["hits"]} == {0, 1, 2}
        # bad window -> 400
        import urllib.error
        with pytest.raises(urllib.error.HTTPError) as exc:
            _get(port, "/search?q=lemon+tea&mode=near&window=-1")
        assert exc.value.code == 400
    finally:
        srv.stop()


def test_serve_snippets(spark, tmp_path_factory):
    """&snippets=N attaches highlight snippets rendered from the SOURCE
    table (the index stores no raw text); without source_path it 400s."""
    import pandas as pd

    d = str(tmp_path_factory.mktemp("served_snip"))
    src = str(tmp_path_factory.mktemp("served_snip_src")) + "/src.parquet"
    pdf = pd.DataFrame({
        "conv_id": ["a", "a", "b"],
        "turn_idx": [0, 1, 0],
        "role": ["user"] * 3,
        "text": [
            "Lemons are running wild in the lemon grove near the river",
            "nothing to see here at all",
            "a lemony drink with one Lemon slice " + "pad " * 40,
        ],
    })
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)
    build_index(spark, spark.read.parquet(src), d,
                BuildConfig(block_size=32, id_partitions=2))
    srv = QueryServer(spark, d, port=0, source_path=src)
    port = srv.start()
    try:
        status, body = _get(port, "/search?q=lemon&k=5&snippets=1")
        assert status == 200
        hits = json.loads(body)["hits"]
        assert hits and all("snippet" in h and "matches" in h for h in hits)
        for h in hits:
            # stemmed highlighting: 'lemon' marks Lemons/lemon/Lemon
            assert h["matches"], h
            for term, s, e in h["matches"]:
                assert term == "lemon"
                assert h["snippet"][s:e].lower().startswith("lemon")
        # long doc got truncated with the match in view
        long_hit = [h for h in hits if "pad" in h["snippet"]][0]
        assert "…" in long_hit["snippet"]
        # value is the char budget
        _, body2 = _get(port, "/search?q=lemon&k=5&snippets=500")
        assert max(len(h["snippet"])
                   for h in json.loads(body2)["hits"]) > 160
    finally:
        srv.stop()


def test_serve_snippets_require_source(served):
    _, port, pdf, _ = served
    q = pdf["text"].iloc[0].split()[0]
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(port, f"/search?q={q}&k=5&snippets=1")
    assert exc.value.code == 400
    assert "source_path" in exc.value.read().decode()


def test_serve_result_cache_and_facets(served):
    """Repeat requests are served from the result cache (the reader is
    never touched); the cache is keyed on the snapshot epoch so a
    refresh invalidates it. &facets=col attaches per-value counts."""
    srv, port, pdf, _ = served
    q = pdf["text"].iloc[2].split()[0]
    _status, body1 = _get(port, f"/search?q={q}&k=5&facets=role")
    d1 = json.loads(body1)
    assert d1["hits"] and d1["facets"]
    want = {str(v): c for v, c in srv.reader.facet_counts(q, by="role", k=50)}
    assert d1["facets"] == want
    # cache hit: reader.search does not run on the repeat request
    srv.reader.last_path = None
    _status, body2 = _get(port, f"/search?q={q}&k=5&facets=role")
    assert json.loads(body2) == d1
    assert srv.reader.last_path is None
    # epoch change invalidates: the same request recomputes
    real = srv.reader._epoch
    try:
        srv.reader._epoch = (real, "bumped")
        srv.reader.last_path = None
        _status, body3 = _get(port, f"/search?q={q}&k=5&facets=role")
        assert json.loads(body3)["hits"] == d1["hits"]
        assert srv.reader.last_path is not None  # reader ran again
    finally:
        srv.reader._epoch = real
    # bad facet column -> 400
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(port, f"/search?q={q}&facets=nope")
    assert exc.value.code == 400


def test_serve_role_filter(served):
    """&role=assistant restricts hits via search_where; scores are the
    unfiltered BM25 scores."""
    srv, port, pdf, _ = served
    q = pdf["text"].iloc[4].split()[0]
    _s, body = _get(port, f"/search?q={q}&k=8&role=assistant")
    hits = json.loads(body)["hits"]
    want = srv.reader.search_where(q, {"role": "assistant"}, k=8)
    assert [(h["doc_id"], h["score"]) for h in hits] == \
        [(d, s) for d, s in want]
    srt = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for h in hits:
        assert srt["role"].iloc[h["doc_id"]] == "assistant"


def test_serve_role_with_tfidf_is_400(served):
    _, port, pdf, _ = served
    q = pdf["text"].iloc[4].split()[0]
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(port, f"/search?q={q}&tfidf=1&role=assistant")
    assert exc.value.code == 400
    assert "tfidf" in exc.value.read().decode()


def test_serve_bool_mode(served):
    """mode=bool serves the boolean language; syntax and pure-negative
    errors come back as 400s."""
    srv, port, pdf, _ = served
    words = pdf["text"].iloc[0].split()
    a, b = words[0], words[1]
    status, body = _get(port, f"/search?q={a}+NOT+{b}&k=5&mode=bool")
    assert status == 200
    got = {h["doc_id"] for h in json.loads(body)["hits"]}
    reader = srv.reader
    want = {d for d, _ in reader.search_bool(f"{a} NOT {b}", k=5)}
    assert got == want
    import urllib.error

    for bad in (f"NOT+{a}", f"{a}+AND", f"%28{a}"):
        with pytest.raises(urllib.error.HTTPError) as exc:
            _get(port, f"/search?q={bad}&k=5&mode=bool")
        assert exc.value.code == 400


def test_serve_unsorted_tok_file_is_500(spark, tmp_path_factory):
    """A tok file whose local_idx is out of order is a fault of the
    index, not of the query: /search and POST /query answer 500 naming
    the file and compact_index, and a compacted copy serves again."""
    import os
    import urllib.error

    import numpy as np
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from indexer_spark.build import compact_index

    pdf = gen_transcripts(200, seed=23)
    d = str(tmp_path_factory.mktemp("unsorted"))
    build_index(spark, spark.createDataFrame(pdf), d,
                BuildConfig(block_size=32, id_partitions=2))
    for f in pads.dataset(os.path.join(d, "tok"), format="parquet",
                          partitioning="hive").files:
        tbl = pq.read_table(f)
        pq.write_table(tbl.take(np.arange(tbl.num_rows)[::-1]), f)
        # drop the Hadoop checksum of the old bytes, so Spark reads it
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    q = pdf["text"].iloc[0].split()[0]
    srv = QueryServer(spark, d, port=0)
    try:
        port = srv.start()
        for send in (lambda: _get(port, f"/search?q={q}&k=5"),
                     lambda: _post(port, q)):
            with pytest.raises(urllib.error.HTTPError) as exc:
                send()
            assert exc.value.code == 500
            msg = exc.value.read().decode()
            assert "tok" in msg and ".parquet" in msg
            assert "compact_index" in msg
    finally:
        srv.stop()
    out = str(tmp_path_factory.mktemp("unsorted_compacted"))
    compact_index(spark, d, out)
    reader = IndexReader(spark, out)
    try:
        hits = reader.search(q, 5)
        assert hits and len(reader.resolve_local(hits)) == len(hits)
    finally:
        reader.close()
