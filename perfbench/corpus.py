"""Seeded corpora, oracle digests and the output checks that use them.

A seed picks a range of ``fixtures.gen_page`` indices; the kind filter
(``oracle.sniff_kind``) then keeps the rows a workload wants, in index
order, until it has enough. Every kept row is run through the
single-process oracle (``oracle.extract_document``) and reduced to a
digest of its oracle record, so a run's output is checked per url
without holding the oracle records.

Corpora and digests are cached under the work directory per kind, seed,
size, ``fixtures.CONTENT_VERSION`` and a hash of the program's source,
so a changed program never reuses another program's digests. The cache
is built with at most ``nproc`` processes and is not part of ``setup_s``.
"""

from __future__ import annotations

import hashlib
import json
import math
import multiprocessing
import os
import shutil
import threading
import time
from collections import Counter
from dataclasses import dataclass

SEED_STRIDE = 1 << 24          # index range per seed; a workload scans far less
CHUNK = 128                    # indices per generator task
ROW_GROUP_ROWS = 32            # small row groups so the scan splits over cores

# kind -> share of rows the sniff keeps (sizes the first scan round)
KIND_SHARE = {"html": 0.75, "nonhtml": 0.25, "mix": 1.0}

# hygiene operators: (layer name, oracle_sql() query name, compared columns)
HYGIENE_OPS = [
    ("dedup.dedup_paragraphs", "paragraph_dedup_reassembly",
     ["text", "n_paras", "n_paras_kept"]),
    ("textstats.repetition_signals", "gopher_repetition_signals",
     ["n_lines", "dup_line_frac", "dup_line_char_frac", "top_gram",
      "top_gram_frac", "dup_gram_frac"]),
    ("textstats.gopher_quality_flags", "gopher_quality_flags",
     ["n_words", "mean_word_len", "symbol_word_ratio", "bullet_line_frac",
      "ellipsis_line_frac", "alpha_word_frac", "stop_hits", "gopher_pass"]),
    ("dedup.deduplicate", "dedup_kept_corpus", ["lang", "source"]),
]

EXTRACTED_CHECK_COLUMNS = ["url", "status", "text", "spans", "blocks",
                           "confidence", "n_pages", "error"]


def start_index(seed: int) -> int:
    """First fixture index of a seed's range; distinct seeds never overlap."""
    return (seed % (1 << 30)) * SEED_STRIDE


def _int(v):
    return None if v is None else int(v)


def _float(v):
    return None if v is None else float(v)


def record_digest(rec: dict) -> str:
    """Digest of one extracted record: status, text, spans, blocks,
    confidence, n_pages and error. Values are normalised to the output
    schema's types (so an oracle ``0`` and a stored ``0.0`` agree) and
    nothing else: any changed byte of text or any moved span offset
    changes the digest."""
    spans = [[s["name"], s["value"], s["field_type"], _int(s["start"]),
              _int(s["end"]), _float(s["confidence"]), s["is_required"],
              s["method"]] for s in rec["spans"] or []]
    blocks = [[_int(b["page"]), _float(b["score"]), _int(b["n_chars"])]
              for b in rec["blocks"] or []]
    body = [rec["status"], rec["text"], spans, blocks,
            _float(rec["confidence"]), _int(rec["n_pages"]), rec["error"]]
    return hashlib.sha256(json.dumps(body, ensure_ascii=False).encode()
                          ).hexdigest()[:32]


def check_rows(rows, expected: dict, key: str, digest) -> int:
    """Failed operations among ``expected`` (key -> digest): a key that is
    missing from ``rows``, present more than once, or whose row digest
    differs. Rows whose key is not expected count as failures too."""
    seen = Counter(r[key] for r in rows)
    failed = sum(n for k, n in seen.items() if k not in expected)
    by_key = {r[key]: r for r in rows}
    for k, want in expected.items():
        n = seen.get(k, 0)
        if n != 1 or digest(by_key[k]) != want:
            failed += 1
    return failed


def _norm(v):
    if isinstance(v, float):
        return round(v, 6) + 0.0
    if hasattr(v, "item"):          # numpy scalar
        return _norm(v.item())
    return v


def hygiene_digests(doc_ids, results: dict) -> dict:
    """Per-document digest over the four hygiene outputs. ``results``
    maps each operator's layer name to its rows (dicts); a document's
    entry holds, per operator, the sorted compared columns of every row
    carrying its id, so a missing, duplicated or changed row flips it.
    Ids that appear in an output but not in ``doc_ids`` get an entry of
    their own, which no expected digest matches."""
    per: dict = {}
    for op, _query, cols in HYGIENE_OPS:
        for r in results[op]:
            d = per.setdefault(int(r["doc_id"]), {})
            d.setdefault(op, []).append([_norm(r[c]) for c in cols])
    out = {}
    for i in set(doc_ids) | set(per):
        ops = per.get(i, {})
        body = [sorted(ops.get(op, []), key=repr) for op, _q, _c in HYGIENE_OPS]
        out[i] = hashlib.sha256(json.dumps(body, ensure_ascii=False).encode()
                                ).hexdigest()[:32]
    return out


def check_hygiene(expected: dict, results: dict) -> int:
    got = hygiene_digests(expected, results)
    return sum(1 for k, v in got.items() if expected.get(k) != v)


# ------------------------------------------------------------------ build


def _scan_chunk(args):
    """Generate indices [start, start+count), keep the rows of ``kind``,
    run the oracle on each kept row. Runs in a pool process."""
    from webextract import fixtures, oracle

    start, count, kind = args
    out = []
    for i in range(start, start + count):
        row = fixtures.gen_page(i)
        k = oracle.sniff_kind(row[2])
        if (kind == "html" and k != "html") or (kind == "nonhtml" and k == "html"):
            continue
        rec = oracle.extract_document(row[0], row[2])
        text = rec["text"] if rec["status"] == oracle.STATUS_COMPLETED else None
        out.append((i, row, record_digest(rec), rec["status"], text))
    return out


def scan(seed: int, kind: str, n: int, procs: int) -> list:
    """First ``n`` rows of ``kind`` in the seed's range, in index order.

    Forks its pool: it runs before the process starts any thread (no JVM
    yet), and unlike spawn, fork leaves no helper process running."""
    if threading.active_count() > 1:
        raise RuntimeError("corpus.scan forks: call it before starting threads")
    ctx = multiprocessing.get_context("fork")
    pool = ctx.Pool(procs)
    got: list = []
    nxt = start_index(seed)
    try:
        while len(got) < n:
            want = n - len(got)
            n_chunks = max(procs, math.ceil(want / KIND_SHARE[kind] * 1.1 / CHUNK))
            tasks = [(nxt + c * CHUNK, CHUNK, kind) for c in range(n_chunks)]
            nxt += n_chunks * CHUNK
            for part in pool.map(_scan_chunk, tasks):
                got.extend(part)
    finally:
        pool.terminate()
        pool.join()
    return got[:n]


def source_hash(repo: str) -> str:
    """Hash of the program's source: a changed program rebuilds digests."""
    h = hashlib.sha256()
    pkg = os.path.join(repo, "webextract")
    files = sorted(os.path.join(pkg, f) for f in os.listdir(pkg) if f.endswith(".py"))
    files.append(os.path.join(repo, "__spark_entry__.py"))
    for f in files:
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


@dataclass
class Corpus:
    path: str            # parquet: pages rows, or hygiene (doc_id, text, ...)
    n_docs: int
    bytes: int           # parquet size on disk
    digests: dict        # url -> digest, or doc_id -> digest (hygiene)
    statuses: dict       # oracle status counts of the rows behind the corpus
    build_s: float       # 0.0 when read from the cache


def _write_pages(path: str, rows: list) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    cols = list(zip(*rows))
    table = pa.Table.from_arrays([pa.array(list(c)) for c in cols], schema=schema)
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


def _write_hygiene(path: str, kept: list) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "doc_id": pa.array([i for i, *_ in kept], pa.int64()),
        "text": pa.array([t for _i, _r, t in kept], pa.string()),
        "lang": pa.array([r[4] for _i, r, _t in kept], pa.string()),
        # the url's host: the fixture's Zipf-skewed crawl source
        "source": pa.array([r[0].split("/")[2] for _i, r, _t in kept], pa.string()),
    })
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


def hygiene_oracle(path: str, procs: int) -> dict:
    """Run each hygiene operator's DuckDB oracle SQL (from
    ``__spark_entry__.oracle_sql()``) over the hygiene corpus."""
    import duckdb

    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {procs}")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for op, query, _cols in HYGIENE_OPS:
            cur = con.execute(sqls[query])
            names = [d[0] for d in cur.description]
            out[op] = [dict(zip(names, r)) for r in cur.fetchall()]
        return out
    finally:
        con.close()


def load(work: str, repo: str, kind: str, seed: int, n: int, procs: int) -> Corpus:
    """The cached corpus for (kind, seed, n), building it if needed.
    ``hygiene`` is the COMPLETED text of the first ``n`` natural-mix rows."""
    from webextract import fixtures

    key = f"{kind}-s{seed}-n{n}-v{fixtures.CONTENT_VERSION}-{source_hash(repo)}"
    cdir = os.path.join(work, "cache", key)
    meta_path = os.path.join(cdir, "meta.json")
    build_s = 0.0
    if not os.path.exists(meta_path):
        t0 = time.perf_counter()
        tmp = cdir + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rows = scan(seed, "mix" if kind == "hygiene" else kind, n, procs)
        statuses = Counter(status for _i, _r, _d, status, _t in rows)
        data = os.path.join(tmp, "data.parquet")
        if kind == "hygiene":
            kept = [(i, row, text) for i, row, _d, _s, text in rows if text is not None]
            _write_hygiene(data, kept)
            digests = hygiene_digests([i for i, _r, _t in kept],
                                      hygiene_oracle(data, procs))
            digests = {str(k): v for k, v in digests.items()}
            n_docs = len(kept)
        else:
            _write_pages(data, [row for _i, row, _d, _s, _t in rows])
            digests = {row[0]: d for _i, row, d, _s, _t in rows}
            n_docs = len(rows)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"n_docs": n_docs, "statuses": statuses, "digests": digests}, f)
        shutil.rmtree(cdir, ignore_errors=True)
        os.replace(tmp, cdir)
        build_s = time.perf_counter() - t0
    with open(meta_path) as f:
        meta = json.load(f)
    digests = meta["digests"]
    if kind == "hygiene":
        digests = {int(k): v for k, v in digests.items()}
    data = os.path.join(cdir, "data.parquet")
    return Corpus(data, meta["n_docs"], os.path.getsize(data), digests,
                  meta["statuses"], build_s)
