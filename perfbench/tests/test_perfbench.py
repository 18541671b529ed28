"""The benchmark's own checks: seeded corpora, the digest gate and
self-time accounting.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy

from perfbench import corpus, spans


def _pages_bytes(tmp_path, name, rows):
    path = tmp_path / name
    corpus._write_pages(str(path), [row for _i, row, *_ in rows])
    return path.read_bytes()


def test_same_seed_same_corpus_bytes(tmp_path):
    a = corpus.scan(7, "html", 24, procs=2)
    b = corpus.scan(7, "html", 24, procs=2)
    assert [r[2] for r in a] == [r[2] for r in b]          # oracle digests
    assert _pages_bytes(tmp_path, "a.parquet", a) == _pages_bytes(tmp_path, "b.parquet", b)


def test_different_seed_different_rows():
    a = corpus.scan(7, "mix", 24, procs=2)
    b = corpus.scan(8, "mix", 24, procs=2)
    assert not {r[1][0] for r in a} & {r[1][0] for r in b}
    assert [r[1][2] for r in a] != [r[1][2] for r in b]


def test_kind_filter_uses_sniff():
    from webextract import oracle

    html = corpus.scan(3, "html", 16, procs=2)
    other = corpus.scan(3, "nonhtml", 16, procs=2)
    assert all(oracle.sniff_kind(r[1][2]) == "html" for r in html)
    assert all(oracle.sniff_kind(r[1][2]) != "html" for r in other)
    idx = [r[0] for r in html]
    assert idx == sorted(idx) and idx[0] >= corpus.start_index(3)


def _record():
    from webextract import fixtures, oracle

    for i in range(100):
        url, _ts, payload, _t, _l = fixtures.gen_page(i)
        rec = oracle.extract_document(url, payload)
        if rec["status"] == oracle.STATUS_COMPLETED and rec["spans"]:
            return rec
    raise AssertionError("no COMPLETED fixture with spans")


def test_one_byte_text_change_flips_digest():
    rec = _record()
    changed = copy.deepcopy(rec)
    t = changed["text"]
    changed["text"] = t[:-1] + chr(ord(t[-1]) ^ 1)
    assert corpus.record_digest(changed) != corpus.record_digest(rec)


def test_span_offset_change_flips_digest():
    rec = _record()
    changed = copy.deepcopy(rec)
    changed["spans"][0]["start"] += 1
    assert corpus.record_digest(changed) != corpus.record_digest(rec)


def test_digest_normalises_schema_types_only():
    rec = _record()
    stored = copy.deepcopy(rec)
    stored["confidence"] = float(rec["confidence"])
    for s in stored["spans"]:
        s["confidence"] = float(s["confidence"])
    assert corpus.record_digest(stored) == corpus.record_digest(rec)


def test_check_rows_counts_missing_duplicate_and_changed():
    recs = {u: {"url": u, "v": u.upper()} for u in ("a", "b", "c", "d")}
    digest = lambda r: r["v"]  # noqa: E731
    want = {u: digest(r) for u, r in recs.items()}
    rows = [recs["a"], recs["b"], recs["b"], {"url": "c", "v": "x"},
            {"url": "zz", "v": "ZZ"}]
    # b duplicated, c changed, d missing, zz unexpected
    assert corpus.check_rows(rows, want, "url", digest) == 4
    assert corpus.check_rows(list(recs.values()), want, "url", digest) == 0


def test_self_time_on_hand_built_tree():
    # id, name, start, end, parent
    tree = [
        [0, "root", 0, 100, -1],
        [1, "a", 10, 30, 0],
        [2, "a.x", 12, 20, 1],
        [3, "b", 25, 50, 0],       # overlaps a: covered union is 10..50
        [4, "c", 90, 120, 0],      # runs past root: clipped to 90..100
        [5, "other", 200, 210, -1],
    ]
    assert spans.self_times(tree) == [50, 12, 8, 25, 30, 10]
    summ = spans.summarize(tree)
    assert summ["a"] == {"calls": 1, "total_ns": 20, "self_ns": 12, "p99_ns": 20}


def test_tracer_records_nesting_and_restores():
    import types

    mod = types.SimpleNamespace(inner=lambda x: x + 1)
    outer = lambda x: mod.inner(x) * 2  # noqa: E731
    t = spans.Tracer("run-1")
    t.patch(mod, "inner", "inner")
    assert t.wrap(outer, "outer")(1) == 4
    t.restore()
    assert not hasattr(mod.inner, "__wrapped__") and mod.inner(1) == 2
    (o_id, o_name, *_o, o_parent), (i_id, i_name, *_i, i_parent) = t.spans
    assert (o_name, o_parent, i_name, i_parent) == ("outer", -1, "inner", o_id)
