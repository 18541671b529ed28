"""Arrow-batched UDF bodies wrapping the oracle components.

Each function here is a ``mapInPandas`` body: it receives an iterator of
pandas batches for ONE physical partition and yields transformed batches.
Per-row Python exists only *inside* a batch loop over documents (the cost
model SURVEY.md §7.2 accepts: Arrow in/out, no Python row UDFs, no RDDs).
``extract_batches`` is the one extraction body (pipeline.run_extract);
``fields_batches`` re-runs only the field registry over committed text
(runner.reprocess_fields, C4).

Lineage side-band (SURVEY.md §4.3): both bodies stamp
``_wall_ms`` = cumulative wall time of this partition's processing so the
driver can aggregate per-partition wall time without a second pass
(reference analogue: the request-latency middleware,
ocr-ai-service/app/main.py:53-68, C5).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd

from . import oracle
from .fields import extract_spans

# Struct DDL fragments shared by pipeline schemas
BLOCK_T = "array<struct<page:int,score:double,n_chars:int>>"
SPAN_T = (
    "array<struct<name:string,value:string,field_type:string,"
    "start:bigint,end:bigint,confidence:double,is_required:boolean,"
    "method:string>>"
)

EXTRACTED_FIELDS_SCHEMA = (
    "url string, warc_ts timestamp, doc_type string, bucket int, "
    f"status string, text string, spans {SPAN_T}, blocks {BLOCK_T}, "
    "confidence double, n_pages int, bytes_in bigint, error string, "
    "_wall_ms double"
)


def make_extract_batches(accept: float | None = None,
                         cheap_fields: bool = False):
    """Factory binding the cascade gate (``accept``) and the cheap
    pass's patterns-only fields arm (``cheap_fields``) into the fused
    body. The closure ships to executors via cloudpickle like any
    mapInPandas body."""
    def body(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return extract_batches(it, accept, cheap_fields)
    return body


def extract_batches(it: Iterator[pd.DataFrame],
                    accept: float | None = None,
                    cheap_fields: bool = False) -> Iterator[pd.DataFrame]:
    """Fused single-pass body: the whole per-document pipeline
    (oracle.extract_document: parse → best-of → fields) in ONE Python
    stage, so candidate texts never cross the Arrow boundary. A float
    ``accept`` runs the M12 cascade per document instead
    (oracle.extract_document_cascade: cheap pass, below-gate documents
    escalate to the full ensemble inside the same batch).
    Input batches carry url, warc_ts, bucket, html."""
    t0 = time.monotonic()
    if accept is not None:
        def one(url, payload):
            return oracle.extract_document_cascade(
                url, payload, accept=accept, cheap_fields=cheap_fields)
    else:
        one = oracle.extract_document
    for pdf in it:
        payloads = pdf["html"]
        recs = [
            one(url, bytes(b) if b is not None else b"")
            for url, b in zip(pdf["url"], payloads)
        ]
        out = pd.DataFrame(
            {
                "url": pdf["url"].values,
                "warc_ts": pdf["warc_ts"].values,
                "doc_type": [r["doc_type"] for r in recs],
                "bucket": pdf["bucket"].values,
                "status": [r["status"] for r in recs],
                "text": [r["text"] for r in recs],
                "spans": [r["spans"] for r in recs],
                "blocks": [r["blocks"] for r in recs],
                "confidence": [r["confidence"] for r in recs],
                "n_pages": pd.array([r["n_pages"] for r in recs], dtype="int32"),
                "bytes_in": pd.array(
                    [len(b) if b is not None else 0 for b in payloads], dtype="int64"
                ),
                "error": [r["error"] for r in recs],
            }
        )
        out["_wall_ms"] = (time.monotonic() - t0) * 1000.0
        yield out


def fields_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Fields-only body: (text, doc_type, status) → spans + confidence
    (shared fields module — same ``re`` engine as the oracle). Rows that
    are not COMPLETED carry no spans, exactly like the oracle."""
    t0 = time.monotonic()
    for pdf in it:
        spans_col: list[list[dict]] = []
        conf_col: list[float] = []
        for text, doc_type, status in zip(pdf["text"], pdf["doc_type"], pdf["status"]):
            if status != oracle.STATUS_COMPLETED:
                spans_col.append([])
                conf_col.append(0.0)
                continue
            spans, conf = extract_spans(text if text is not None else "", doc_type)
            spans_col.append(spans)
            conf_col.append(conf)
        out = pdf.copy()
        out["spans"] = spans_col
        out["confidence"] = conf_col
        out["_wall_ms"] = (time.monotonic() - t0) * 1000.0
        yield out
