"""Traced run: where the time goes, layer by layer, at one seed.

A traced run profiles the whole system, whatever ``--workload`` names,
so every per-layer metric is measured on input that exercises its layer:

1. Single-process oracle passes over each extraction corpus (the
   ``extract_html`` rows, every non-HTML row kind, and the
   ``job_checkpointed`` natural mix), one untraced and one traced,
   interleaved chunk by chunk. The traced pass wraps the layer functions
   ``oracle.extract_document`` calls; a table per corpus gives each
   layer's self time per document, and the part of
   ``oracle.extract_document`` no layer covers is printed as
   ``(unattributed)``. The JSON metrics come from the natural-mix corpus
   (the only one on which every extraction layer runs).
2. ``udfs.extract_batches`` over in-process pandas batches of
   ``pipeline.ARROW_BATCH_ROWS`` rows, minus the untraced oracle time.
3. One Spark session: a noop scan of the pruned columns and a
   ``pipeline.run_extract`` per corpus (its residual against the oracle),
   a traced ``runner.run_job`` with ``Catalog.append`` wrapped, its
   no-op resume, and the four hygiene operators one by one.

All outputs are checked against the oracle as in an untraced run.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import time

from perfbench import corpus as corpus_mod
from perfbench import spans, workloads

# webextract.oracle attribute -> layer name
ORACLE_LAYERS = [
    ("sniff_kind", "oracle.sniff_kind"),
    ("parse_html", "dom.parse_html"),
    ("blocks_of", "boiler.blocks_of"),
    ("candidates", "boiler.candidates"),
    ("best_candidate", "oracle.best_candidate"),
    ("extract_pdf", "pdfrun.extract_pdf"),
    ("extract_spans", "fields.extract_spans"),
]
DOC = "oracle.extract_document"
# extraction corpora profiled: name -> (corpus kind, documents)
EXTRACTION = {"extract_html": workloads.SPECS["extract_html"],
              "pdf_rows": workloads.PDF_ROWS,
              "job_checkpointed": workloads.SPECS["job_checkpointed"]}
METRICS_FROM = "job_checkpointed"


def load_docs(path: str) -> list[tuple[str, bytes]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["url", "html"])
    return list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))


def oracle_profile(tracer: spans.Tracer, docs, digests: dict, chunk: int = 64) -> dict:
    """Single-process oracle passes over ``docs``, untraced and traced,
    interleaved chunk by chunk so load on the host hits both alike."""
    from webextract import oracle

    counts = {"candidates": [0, 0], "pages": [0, 0], "spans": [0, 0]}

    def count(key, n_fn):
        def observe(out):
            c = counts[key]
            c[0] += n_fn(out)
            c[1] += 1
        return observe

    observers = {
        "candidates": count("candidates", len),
        "extract_pdf": count("pages", len),
        "extract_spans": count("spans", lambda out: sum(1 for s in out[0]
                                                        if s["confidence"] > 0)),
    }
    plain = oracle.extract_document
    first = len(tracer.spans)
    statuses: dict[str, int] = {}
    attempted_spans = failed = 0
    untraced_s = traced_s = 0.0
    for lo in range(0, len(docs), chunk):
        part = docs[lo:lo + chunk]
        t0 = time.perf_counter()
        for url, payload in part:
            plain(url, payload)
        untraced_s += time.perf_counter() - t0
        for attr, name in ORACLE_LAYERS:
            tracer.patch(oracle, attr, name, observers.get(attr))
        extract = tracer.wrap(plain, DOC)
        try:
            t0 = time.perf_counter()
            recs = [extract(url, payload) for url, payload in part]
            traced_s += time.perf_counter() - t0
        finally:
            tracer.restore()
        for (url, _p), rec in zip(part, recs):
            statuses[rec["status"]] = statuses.get(rec["status"], 0) + 1
            attempted_spans += len(rec["spans"])
            if corpus_mod.record_digest(rec) != digests[url]:
                failed += 1
    summary = spans.summarize(tracer.spans[first:])
    return {"n": len(docs), "untraced_s": untraced_s, "traced_s": traced_s,
            "summary": summary, "statuses": statuses, "failed": failed,
            "candidates_per_doc": counts["candidates"][0] / max(1, counts["candidates"][1]),
            "pages_per_doc": counts["pages"][0] / max(1, counts["pages"][1]),
            "hit_frac": counts["spans"][0] / max(1, attempted_spans)}


def print_profile(name: str, prof: dict) -> None:
    n, summ = prof["n"], prof["summary"]
    doc_us = summ[DOC]["total_ns"] / n / 1e3
    print(f"# layer profile {name}: {n} docs, oracle {prof['untraced_s'] / n * 1e6:.1f} "
          f"us/doc untraced, {doc_us:.1f} us/doc traced, trace overhead "
          f"{prof['traced_s'] / prof['untraced_s'] - 1:+.2%}")
    print(f"#   {'layer':28s} {'calls':>6s} {'self us/doc':>12s} {'share':>7s} "
          f"{'p99 us/call':>12s}")
    for _attr, layer in ORACLE_LAYERS:
        a = summ.get(layer, {"calls": 0, "self_ns": 0, "p99_ns": 0})
        us = a["self_ns"] / n / 1e3
        print(f"#   {layer:28s} {a['calls']:6d} {us:12.1f} {us / doc_us:7.1%} "
              f"{a['p99_ns'] / 1e3:12.1f}")
    rest = summ[DOC]["self_ns"] / n / 1e3
    print(f"#   {'(unattributed)':28s} {'':6s} {rest:12.1f} {rest / doc_us:7.1%}")
    print(f"#   {DOC:28s} {summ[DOC]['calls']:6d} {doc_us:12.1f} {1:7.1%} "
          f"{summ[DOC]['p99_ns'] / 1e3:12.1f}")


def profile_metrics(prof: dict) -> dict:
    n, summ = prof["n"], prof["summary"]
    out = {}
    for _attr, layer in ORACLE_LAYERS + [(None, DOC)]:
        a = summ[layer]
        own = a["total_ns"] if layer == DOC else a["self_ns"]
        out[f"{layer}.us"] = (own / n / 1e3, "us")
        out[f"{layer}.p99_us"] = (a["p99_ns"] / 1e3, "us")
    out["oracle.unattributed.us"] = (summ[DOC]["self_ns"] / n / 1e3, "us")
    out["boiler.candidates_per_doc"] = (prof["candidates_per_doc"], "count")
    out["pdfrun.pages_per_doc"] = (prof["pages_per_doc"], "count")
    out["fields.hit_frac"] = (prof["hit_frac"], "fraction")
    for status in ("COMPLETED", "NEEDS_OCR", "FAILED"):
        out[f"oracle.status_frac.{status.lower()}"] = (
            prof["statuses"].get(status, 0) / n, "fraction")
    out["trace.overhead_frac"] = (prof["traced_s"] / prof["untraced_s"] - 1, "fraction")
    return out


def udf_overhead_us(docs, untraced_s: float) -> float:
    """``udfs.extract_batches`` on in-process pandas batches, minus the
    oracle's own time, per document."""
    import datetime as dt

    import pandas as pd

    from webextract import pipeline, udfs

    rows = pipeline.ARROW_BATCH_ROWS
    ts = dt.datetime(2024, 1, 1)
    batches = [pd.DataFrame({"url": [u for u, _ in docs[i:i + rows]],
                             "warc_ts": [ts] * len(docs[i:i + rows]),
                             "bucket": [0] * len(docs[i:i + rows]),
                             "html": [p for _, p in docs[i:i + rows]]})
               for i in range(0, len(docs), rows)]
    t0 = time.perf_counter()
    for _ in udfs.extract_batches(iter(batches)):
        pass
    return (time.perf_counter() - t0 - untraced_s) / len(docs) * 1e6


def exchanges(df) -> int:
    """Shuffle exchanges in the operator's physical plan."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    return len(re.findall(r"\bExchange\b", buf.getvalue()))


def traced_run(workload: str, seed: int, cpus: int, work: str, repo: str) -> dict:
    from webextract import checkpoint

    from perfbench import run

    run_id = f"{workload}-s{seed}-{os.getpid()}-{time.strftime('%Y%m%d%H%M%S')}"
    tracer = spans.Tracer(run_id)
    corpora = {w: corpus_mod.load(work, repo, kind, seed, n, cpus)
               for w, (kind, n) in {**EXTRACTION, "hygiene": workloads.HYGIENE}.items()}
    metrics: dict[str, tuple[float, str]] = {}
    attempted = failed = 0
    problems: list[str] = []

    profiles = {}
    for w in EXTRACTION:
        docs = load_docs(corpora[w].path)
        with tracer.span(f"profile.{w}"):
            profiles[w] = oracle_profile(tracer, docs, corpora[w].digests)
        print_profile(w, profiles[w])
        attempted += profiles[w]["n"]
        failed += profiles[w]["failed"]
        if w == METRICS_FROM:
            metrics.update(profile_metrics(profiles[w]))
            metrics["udfs.extract_batches.overhead_us"] = (
                udf_overhead_us(docs, profiles[w]["untraced_s"]), "us")

    rundir = os.path.join(work, "runs", f"trace-{os.getpid()}")
    os.makedirs(rundir, exist_ok=True)
    spark = None
    try:
        with tracer.span("setup"):
            spark, _s = run.setup_session(cpus, run.warmup_path(cpus))
        for w in EXTRACTION:
            wl = workloads.Extract(w, corpora[w], rundir, cpus)
            wl.prepare(spark)
            with tracer.span(f"pipeline.scan.{w}") as sp:
                wl.pages.select("url", "warc_ts", "html").write.format("noop") \
                    .mode("overwrite").save()
            scan_s = (sp[3] - sp[2]) / 1e9
            with tracer.span(f"pipeline.run_extract.{w}"):
                wall = wl.run_once(spark, 0)
            f, _ = wl.verify(spark, 0)
            wl.cleanup(0)
            attempted += corpora[w].n_docs
            failed += f
            residual = 1 - profiles[w]["untraced_s"] / (wall * cpus)
            print(f"# spark {w}: scan {scan_s:.3f} s, run_extract {wall:.3f} s "
                  f"({corpora[w].n_docs / wall:.1f} docs/s), residual {residual:.1%} "
                  f"of {cpus} cores")
            if w == METRICS_FROM:
                metrics["pipeline.scan_s"] = (scan_s, "s")
                metrics["pipeline.residual_frac"] = (residual, "fraction")

        job = workloads.Job("job_checkpointed", corpora["job_checkpointed"], rundir, cpus)
        job.prepare(spark)
        orig_append = checkpoint.Catalog.append

        def append(self, name, df, *args, **kwargs):
            with tracer.span(f"checkpoint.append.{name}"):
                return orig_append(self, name, df, *args, **kwargs)

        first = len(tracer.spans)
        checkpoint.Catalog.append = append
        try:
            with tracer.span("runner.run_job"):
                job.run_once(spark, 0)
        finally:
            checkpoint.Catalog.append = orig_append
        summ = spans.summarize(tracer.spans[first:])
        stored = workloads.du(job.out(0))
        f, probs = job.verify(spark, 0)       # includes the no-op resume
        problems += probs
        attempted += job.corpus.n_docs
        failed += f
        job.cleanup(0)
        for table in ("extracted", "lineage"):
            metrics[f"checkpoint.append.{table}_s"] = (
                summ.get(f"checkpoint.append.{table}", {"total_ns": 0})["total_ns"] / 1e9, "s")
        metrics["checkpoint.append.count"] = (float(sum(
            a["calls"] for k, a in summ.items() if k.startswith("checkpoint.append."))), "count")
        metrics["checkpoint.bytes_written"] = (float(stored), "B")
        metrics["runner.resume_noop_s"] = (job.noop_wall, "s")
        print(f"# run_job: {summ['runner.run_job']['total_ns'] / 1e9:.3f} s, appends "
              + ", ".join(f"{k} {a['calls']}x {a['total_ns'] / 1e9:.3f} s"
                          for k, a in summ.items() if k.startswith("checkpoint."))
              + f"; {stored} B stored; resume no-op {metrics['runner.resume_noop_s'][0]:.3f} s")

        hyg = workloads.Hygiene("hygiene", corpora["hygiene"], rundir, cpus)
        hyg.prepare(spark)
        for op, build in hyg.ops.items():
            df = build()
            metrics[f"{op}.exchanges"] = (float(exchanges(df)), "count")
            with tracer.span(op):
                metrics[f"{op}.s"] = (hyg.run_op(0, op, df), "s")
        res = hyg.results(0)
        f, _ = hyg.verify(spark, 0)
        attempted += hyg.corpus.n_docs
        failed += f
        hyg.cleanup(0)
        n_h = hyg.corpus.n_docs
        dp = res["dedup.dedup_paragraphs"]
        metrics["dedup.dedup_paragraphs.kept_frac"] = (
            sum(r["n_paras_kept"] for r in dp) / max(1, sum(r["n_paras"] for r in dp)),
            "fraction")
        metrics["textstats.gopher_quality_flags.pass_frac"] = (
            sum(r["gopher_pass"] for r in res["textstats.gopher_quality_flags"]) / n_h,
            "fraction")
        metrics["dedup.deduplicate.kept_frac"] = (len(res["dedup.deduplicate"]) / n_h,
                                                 "fraction")
        print("# hygiene (" + str(n_h) + " docs): " + ", ".join(
            f"{op} {metrics[op + '.s'][0]:.3f} s / {metrics[op + '.exchanges'][0]:.0f} exchanges"
            for op in hyg.ops))
    finally:
        if spark is not None:
            run.shutdown(spark)
        shutil.rmtree(rundir, ignore_errors=True)

    trace_dir = os.path.join(work, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    tracer.write(os.path.join(trace_dir, f"{run_id}.jsonl"))
    print(f"# {len(tracer.spans)} spans written to perfbench/.work/traces/{run_id}.jsonl")
    for p in problems:
        print(f"# check failed: {p}")
    return {"correct": failed == 0 and not problems, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())}}
