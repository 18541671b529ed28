"""The workloads: each prepares its input, runs one timed action
(``run_once``) and checks that action's output (``verify``) outside the
timing.

- ``extract_html``     HTML rows through ``pipeline.run_extract``
- ``job_checkpointed`` the natural fixture mix through
                       ``runner.run_job(sorted_layout=True)``

The traced run also drives two inputs that have no timed workload of
their own: every non-HTML row kind (``PDF_ROWS``) and ``HYGIENE``, the
COMPLETED text of the natural mix through ``dedup.dedup_paragraphs``,
``textstats.repetition_signals``, ``textstats.gopher_quality_flags`` and
``dedup.deduplicate``.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import corpus as corpus_mod

# (corpus kind, documents) per workload; sized so one timed action takes
# about a second or more on 4 cores and a run stays well inside its budget
SPECS = {
    "extract_html": ("html", 2000),
    "job_checkpointed": ("mix", 1600),
}
PDF_ROWS = ("nonhtml", 2400)    # traced run only
HYGIENE = ("hygiene", 320)      # traced run only
JOB_COMMIT_GROUPS = 2          # more than one commit per run, few fixed costs


def du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def read_rows(path: str, columns: list[str]) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pylist()


class Workload:
    def __init__(self, name: str, corpus, rundir: str, cpus: int) -> None:
        self.name = name
        self.corpus = corpus
        self.rundir = rundir
        self.cpus = cpus

    def _read_input(self, spark):
        from webextract import pipeline

        pipeline.tune_input_splits(spark, self.corpus.bytes, cpus=self.cpus)
        return spark.read.parquet(self.corpus.path)

    def out(self, rep: int) -> str:
        """Where action ``rep`` writes its sink."""
        return os.path.join(self.rundir, f"{self.name}-rep{rep}")

    def stored_bytes(self, rep: int) -> int:
        return du(self.out(rep))

    def cleanup(self, rep: int) -> None:
        shutil.rmtree(self.out(rep), ignore_errors=True)


class Extract(Workload):
    def prepare(self, spark) -> None:
        self.pages = self._read_input(spark)

    def run_once(self, spark, rep: int) -> float:
        from webextract import pipeline

        t0 = time.perf_counter()
        pipeline.run_extract(self.pages).write.parquet(self.out(rep))
        return time.perf_counter() - t0

    def verify(self, spark, rep: int, final: bool = True) -> tuple[int, list[str]]:
        rows = read_rows(self.out(rep), corpus_mod.EXTRACTED_CHECK_COLUMNS)
        return (corpus_mod.check_rows(rows, self.corpus.digests, "url",
                                      corpus_mod.record_digest), [])


class Job(Workload):
    def prepare(self, spark) -> None:
        self.pages = self._read_input(spark)

    def run_job(self, spark, rep: int):
        from webextract import runner

        return runner.run_job(spark, self.pages, self.out(rep), sorted_layout=True,
                              commit_groups=JOB_COMMIT_GROUPS)

    def run_once(self, spark, rep: int) -> float:
        t0 = time.perf_counter()
        self.run_job(spark, rep)
        return time.perf_counter() - t0

    def table_rows(self, rep: int, table: str, columns: list[str]) -> list[dict]:
        from webextract.checkpoint import Catalog

        cat = Catalog(self.out(rep))
        man = cat.manifest(table)
        rows = []
        for part in man["parts"] if man else []:
            rows.extend(read_rows(os.path.join(cat.root, table, part), columns))
        return rows

    def check_lineage(self, rep: int) -> list[str]:
        from webextract import runner

        lin = self.table_rows(rep, runner.LINEAGE_TABLE,
                              ["partition_id", "input_count", "ok_count", "fail_count"])
        problems = []
        total = sum(r["input_count"] for r in lin)
        if total != self.corpus.n_docs:
            problems.append(f"lineage input_count sums to {total}, "
                            f"not {self.corpus.n_docs}")
        bad = [r["partition_id"] for r in lin
               if r["ok_count"] + r["fail_count"] != r["input_count"]]
        if bad:
            problems.append(f"ok_count + fail_count != input_count in buckets {bad}")
        return problems

    def resume_noop(self, spark, rep: int) -> tuple[float, list[str]]:
        """Run the job again on the finished root; it must commit nothing."""
        from webextract import runner
        from webextract.checkpoint import Catalog

        cat = Catalog(self.out(rep))
        tables = (runner.EXTRACTED_TABLE, runner.LINEAGE_TABLE)
        before = [cat.latest_version(t) for t in tables]
        t0 = time.perf_counter()
        self.run_job(spark, rep)
        self.noop_wall = wall = time.perf_counter() - t0
        after = [cat.latest_version(t) for t in tables]
        problems = [] if before == after else [
            f"second run_job committed new snapshots: {before} -> {after}"]
        return wall, problems

    def verify(self, spark, rep: int, final: bool = True) -> tuple[int, list[str]]:
        """Per-url check and lineage sums on every action's output; the
        no-op resume on the run's final one."""
        from webextract import runner

        problems = self.check_lineage(rep)
        if final:
            problems += self.resume_noop(spark, rep)[1]
        rows = self.table_rows(rep, runner.EXTRACTED_TABLE,
                               corpus_mod.EXTRACTED_CHECK_COLUMNS)
        failed = corpus_mod.check_rows(rows, self.corpus.digests, "url",
                                       corpus_mod.record_digest)
        if problems:    # a broken commit invariant fails the whole run's output
            failed = self.corpus.n_docs
        return failed, problems


class Hygiene(Workload):
    """The four hygiene operators, each into its own parquet sink."""

    def prepare(self, spark) -> None:
        import pyspark.sql.functions as F

        from webextract import dedup, textstats

        docs = self._read_input(spark)
        # the paragraph-shaped input the registry queries (and so their
        # oracle SQL) feed the paragraph and repetition operators
        paras = docs.select("doc_id", F.replace(F.col("text"), F.lit(" a "),
                                                F.lit("\n")).alias("text"))
        cols = {op: ["doc_id"] + c for op, _q, c in corpus_mod.HYGIENE_OPS}
        self.ops = {
            "dedup.dedup_paragraphs": lambda: dedup.dedup_paragraphs(paras),
            "textstats.repetition_signals": lambda: textstats.repetition_signals(
                paras, n_top=2, n_dup=3),
            "textstats.gopher_quality_flags": lambda: textstats.gopher_quality_flags(
                docs).select(*cols["textstats.gopher_quality_flags"]),
            "dedup.deduplicate": lambda: dedup.deduplicate(
                docs, "doc_id", "text", n_hashes=4).select(*cols["dedup.deduplicate"]),
        }

    def op_out(self, rep: int, op: str) -> str:
        return os.path.join(self.out(rep), op)

    def run_op(self, rep: int, op: str, df) -> float:
        from webextract import cache

        t0 = time.perf_counter()
        df.write.parquet(self.op_out(rep, op))
        wall = time.perf_counter() - t0
        cache.release_all()     # deduplicate persists its signatures
        return wall

    def results(self, rep: int) -> dict:
        return {op: read_rows(self.op_out(rep, op), ["doc_id"] + cols)
                for op, _q, cols in corpus_mod.HYGIENE_OPS}

    def verify(self, spark, rep: int) -> tuple[int, list[str]]:
        return corpus_mod.check_hygiene(self.corpus.digests, self.results(rep)), []


CLASSES = {"extract_html": Extract, "job_checkpointed": Job}
