"""M12 — confidence-gated engine cascade (pipeline.run_extract(accept=...)).

Reference shape: ai_service_local.py:513-537 (local result ≥ threshold →
accept; below → run the expensive engine, keep the strictly-better
result). Ours is deterministic on both arms, so the cascade's exact
output is pinned against the two fixed engines it composes, computed per
document in the driver with the oracle.
"""

import datetime as dt

from webextract import oracle, pipeline


def _rows(df):
    return {r["url"]: r for r in df.collect()}


def _record(row):
    """A Spark output row as the oracle's record dict (no warc_ts)."""
    d = row.asDict(recursive=True)
    d.pop("warc_ts", None)
    return d


def _payloads(pages):
    return {r["url"]: bytes(r["html"]) for r in
            pages.select("url", "html").collect()}


def _short_block_pages(spark, n=3):
    """Adversarial docs where the cascade's second pass genuinely wins:
    every content paragraph is < 25 chars, so the strict profile
    (min_chars 25) keeps nothing → confidence 0; the lenient profile
    (min_chars 10) keeps the planted field sentences and recovers
    spans. On the stock fixture corpus strict already ties the full
    ensemble everywhere, so these rows are what make the gate bite."""
    rows = []
    for k in range(n):
        html = ("<html><body><div><a href='/'>home</a></div>"
                f"<p>Số văn bản: {100 + k}/QD</p>"
                f"<p>Ngày 0{k + 1}/02/2025</p>"
                "</body></html>").encode()
        rows.append((f"https://ex.org/cascade/VANBAN_{k}.html",
                     dt.datetime(2025, 1, 1), bytearray(html), "", "vi"))
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")


def _gate_pages(spark, pages_parquet):
    return (spark.read.parquet(pages_parquet).limit(100)
            .unionByName(_short_block_pages(spark)))


def test_cascade_gate_semantics(spark, pages_parquet):
    pages = _gate_pages(spark, pages_parquet)
    docs = _payloads(pages)
    casc = _rows(pipeline.run_extract(pages, accept=0.7))
    assert set(casc) == set(docs)
    n_accepted = n_retried = n_improved = 0
    for url, payload in docs.items():
        r = _record(casc[url])
        s = oracle.extract_document(url, payload, ("strict",))
        if s["status"] != "COMPLETED" or s["confidence"] >= 0.7:
            n_accepted += 1
            assert r == s          # gate accepted pass 1 verbatim
        else:
            n_retried += 1
            f = oracle.extract_document(url, payload)
            want = f if f["confidence"] > s["confidence"] else s
            assert r == want       # strictly-better wins, pass 1 keeps ties
            assert r["confidence"] >= s["confidence"]
            if r["confidence"] > s["confidence"]:
                n_improved += 1
        assert r == oracle.extract_document_cascade(url, payload, 0.7)
    # the corpus must exercise both branches AND a genuine pass-2 win
    assert n_accepted > 0 and n_retried >= 3 and n_improved >= 3


def test_cascade_cheap_fields_gate_semantics(spark, pages_parquet):
    # cheap_fields=True: pass 1 is strict-profile + patterns-only fields.
    # Same gate contract as the full cascade, pinned against the two
    # fixed engines it composes (r3 verdict #5).
    pages = _gate_pages(spark, pages_parquet)
    docs = _payloads(pages)
    casc = _rows(pipeline.run_extract(pages, accept=0.7, cheap_fields=True))
    assert set(casc) == set(docs)
    n_accepted = n_retried = n_improved = 0
    for url, payload in docs.items():
        r = _record(casc[url])
        c = oracle.extract_document(url, payload, ("strict",), True)
        if c["status"] != "COMPLETED" or c["confidence"] >= 0.7:
            n_accepted += 1
            assert r == c
            # accepted rows carry patterns-only spans: no other method
            assert all(s["method"] in ("pattern", "none") for s in r["spans"])
        else:
            n_retried += 1
            f = oracle.extract_document(url, payload)
            want = f if f["confidence"] > c["confidence"] else c
            assert r == want
            if r["confidence"] > c["confidence"]:
                n_improved += 1
        assert r == oracle.extract_document_cascade(
            url, payload, 0.7, cheap_fields=True)
    assert n_accepted > 0 and n_retried >= 3 and n_improved >= 3


def test_cascade_accept_zero_equals_cheap_pass(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet).limit(80)
    docs = _payloads(pages)
    casc = _rows(pipeline.run_extract(pages, accept=0.0))
    assert set(casc) == set(docs)
    for url, payload in docs.items():
        assert _record(casc[url]) == oracle.extract_document(
            url, payload, ("strict",)), url


def test_cascade_deterministic(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet).limit(80)
    one = _rows(pipeline.run_extract(pages, accept=0.7))
    two = _rows(pipeline.run_extract(pages, accept=0.7))
    assert one == two


def test_cheap_fields_needs_accept(spark, pages_parquet):
    import pytest

    pages = spark.read.parquet(pages_parquet).limit(4)
    with pytest.raises(ValueError):
        pipeline.run_extract(pages, cheap_fields=True)


def test_profiles_restrict_candidates():
    from webextract import boiler, dom

    html = (b"<html><body><p>plain text content with enough characters to"
            b" be kept by every profile</p></body></html>")
    blocks = boiler.blocks_of(dom.parse_html(html))
    assert [c["profile"] for c in boiler.candidates(blocks)] \
        == ["strict", "lenient"]
    assert [c["profile"] for c in boiler.candidates(blocks, ("strict",))] \
        == ["strict"]


def _final(df):
    rows = df.select("url", "text", "status", "confidence").collect()
    return sorted((r["url"], r["text"], r["status"], r["confidence"])
                  for r in rows)


def test_runner_cascade_in_batch_kill_resume(spark, pages_parquet, tmp_path):
    """run_job(accept=0.7): the cascade under the same resume mechanics
    — a killed run resumes to the same final table, which equals the
    unchunked cascade at the SAME cheap_fields setting (the kill/resume
    half runs cheap_fields=True to pin the run_job plumbing)."""
    from webextract import runner

    pages = _gate_pages(spark, pages_parquet)
    want = _final(pipeline.run_extract(pages, accept=0.7))
    full = runner.run_job(spark, pages, str(tmp_path / "ibf"),
                          commit_groups=4, accept=0.7)
    assert _final(full) == want

    want_cheap = _final(pipeline.run_extract(pages, accept=0.7,
                                             cheap_fields=True))
    assert want_cheap != want  # cheap_fields must reach the body
    out = str(tmp_path / "ibk")
    partial = runner.run_job(spark, pages, out, commit_groups=4,
                             max_groups=2, accept=0.7, cheap_fields=True)
    assert 0 < partial.count() < 103
    resumed = runner.run_job(spark, pages, out, commit_groups=4,
                             accept=0.7, cheap_fields=True)
    assert _final(resumed) == want_cheap


def test_cascade_multi_snapshot_urls(spark):
    """(url, warc_ts) is the document key: two snapshots of one url —
    one confident, one below the gate — must yield exactly two output
    rows, each the per-document cascade result of its own payload."""
    good = ("<html><body><p>" + "Số văn bản: 77/QD và đây là một đoạn "
            "văn dài đủ ký tự để profile strict giữ lại trọn vẹn." * 3
            + "</p></body></html>").encode()
    short = (b"<html><body><p>S\xe1\xbb\x91 v\xc4\x83n b\xe1\xba\xa3n: "
             b"9/QD</p></body></html>")
    url = "https://ex.org/snap/VANBAN_0.html"
    payloads = {dt.datetime(2025, 1, 1): good, dt.datetime(2025, 6, 1): short}
    pages = spark.createDataFrame(
        [(url, ts, bytearray(p), "", "vi") for ts, p in payloads.items()],
        "url string, warc_ts timestamp, html binary, "
        "text string, lang string")
    out = pipeline.run_extract(pages, accept=0.7).collect()
    assert len(out) == 2
    by_ts = {r["warc_ts"]: r for r in out}
    assert set(by_ts) == set(payloads)
    for ts, p in payloads.items():
        assert _record(by_ts[ts]) == oracle.extract_document_cascade(
            url, p, 0.7), ts
    # the low snapshot really is below the gate: the cheap pass rejected it
    low = oracle.extract_document(url, short, ("strict",))
    assert low["status"] == "COMPLETED" and low["confidence"] < 0.7
    fixed = {r["warc_ts"]: r for r in pipeline.run_extract(pages).collect()}
    low_ts = dt.datetime(2025, 6, 1)
    assert by_ts[low_ts]["text"] == fixed[low_ts]["text"]


def test_runner_cascade_with_staged_input(spark, pages_parquet, tmp_path):
    """accept=0.7 composes with stage_input=True (the staged read feeds
    the cascade's fused map per commit group). cheap_fields=True makes
    the cascade's rows differ from the fixed engine's, so a runner that
    dropped the cascade knobs would fail the last check."""
    from webextract import runner

    pages = (spark.read.parquet(pages_parquet).limit(60)
             .unionByName(_short_block_pages(spark)))
    knobs = {"accept": 0.7, "cheap_fields": True}
    ref = runner.run_job(spark, pages, str(tmp_path / "c1"),
                         commit_groups=3, **knobs)
    staged = runner.run_job(spark, pages, str(tmp_path / "c2"),
                            commit_groups=3, stage_input=True, **knobs)
    assert _final(staged) == _final(ref)
    assert _final(ref) == _final(pipeline.run_extract(pages, **knobs))
