"""The three benchmark workloads.  Each one drives only public entry
points of ``pero_ocr_api_spark`` and exposes the same small surface:

- ``prepare(spark, i)``: generate and materialize the inputs of
  operation ``i`` (outside any timed span);
- ``warm_up(spark)``: untimed priming operations;
- ``run_op(spark, i, span)``: one timed user operation; ``span`` is a
  tracer's span factory or ``None`` for untraced runs;
- ``check(op)``: compare the operation's outputs with the oracle.

Why each workload exists is written down in ``perfbench/README.md``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pero_ocr_api_spark.constants import PINNED_NOW
from pero_ocr_api_spark.operators.serialize import serialize_alto, serialize_artifacts
from pero_ocr_api_spark.plans.checkpoint import CheckpointedExtractor, SimulatedFailure
from pero_ocr_api_spark.plans.ingest import explode_pages, pages_to_documents, parse_requests
from pero_ocr_api_spark.plans.pipeline import extract
from pero_ocr_api_spark.plans.statemachine import finish_requests, request_completion

from . import check, gen

# Emulated device cost of the scanned-page model, pinned here rather
# than imported from the repo's bench.py: 15 ms per device call of
# <= 16 pages / <= 40 MP, plus 2000 md5 chains of CPU work per page.
SCAN_ENGINE = {
    "engine": "stub-ocr", "version": 1,
    "work_iters": 2000, "work_sleep_ms": 15.0,
    "batch_pages": 16, "batch_megapixels": 40.0,
}
N_GROUPS = 8
KILL_AFTER = 4


def _null_span(name, request_id=None):
    return contextlib.nullcontext()


def warm_pipeline(spark, work: str, seed: int) -> None:
    """The set-up warm-up every workload shares: one extract of a tiny
    generated table without device cost, written as parquet, so the
    session has run the core plan and started its Python workers."""
    path = os.path.join(work, "warm-input.parquet")
    out = os.path.join(work, "warm-out")
    gen.write_documents(gen.scan_documents(seed, "setup", 20, 60), path)
    res = extract(spark, spark.read.parquet(path), with_metrics=False)
    res.spans.write.parquet(out)
    shutil.rmtree(out, ignore_errors=True)
    os.remove(path)


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the data and manifest files under ``path``;
    hidden checksum files are not counted."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith("."):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def read_rows(path: str, columns: list[str]) -> list[dict]:
    return pq.read_table(path, columns=columns).to_pylist()


@dataclass
class Op:
    latency_s: float
    docs: int
    out_bytes: int
    phases: dict = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)


class _BatchWorkload:
    """Shared plumbing of the two batch workloads: operation ``i`` runs
    on its own generated corpus ``i`` written as one parquet table."""

    def __init__(self, work: str, seed: int, cores: int):
        self.work = work
        self.seed = seed
        self.cores = cores
        self.inputs: dict = {}

    def _generate(self, i) -> list[dict]:
        raise NotImplementedError

    def input_path(self, i) -> str:
        return os.path.join(self.work, f"input-{i}.parquet")

    def prepare(self, spark, i) -> None:
        docs = self._generate(i)
        gen.write_documents(docs, self.input_path(i))
        self.inputs[i] = docs

    def release(self, i) -> None:
        self.inputs.pop(i, None)
        with contextlib.suppress(FileNotFoundError):
            os.remove(self.input_path(i))

    def cleanup(self, op: Op) -> None:
        shutil.rmtree(op.outputs["dir"], ignore_errors=True)


class ScanBatch(_BatchWorkload):
    name = "scan_batch"
    engine_config = SCAN_ENGINE
    N_DOCS, N_PAGES = 200, 1600

    def _generate(self, i):
        if i == "warm":
            return gen.scan_documents(self.seed, "warm", 40, 240)
        return gen.scan_documents(self.seed, i, self.N_DOCS, self.N_PAGES)

    def warm_up(self, spark) -> None:
        """One scan operation on a small separate archive."""
        self.prepare(spark, "warm")
        self.cleanup(self.run_op(spark, "warm"))
        self.release("warm")

    def run_op(self, spark, i, span=None) -> Op:
        span = span or _null_span
        out = os.path.join(self.work, f"scan-out-{i}")
        t0 = time.perf_counter()
        with span("pipeline"):
            docs = spark.read.parquet(self.input_path(i))
            res = extract(spark, docs, engine_config=SCAN_ENGINE,
                          persist_inference=True, salt_partitions=4 * self.cores)
            res.spans.write.parquet(os.path.join(out, "spans"))
            res.docs.write.parquet(os.path.join(out, "docs"))
        with span("serialize"):
            serialize_alto(res.raw_spans).write.parquet(os.path.join(out, "alto"))
            serialize_artifacts(res.spans).write.parquet(os.path.join(out, "page"))
        res.unpersist()
        latency = time.perf_counter() - t0
        return Op(latency, len(self.inputs[i]), dir_stats(out)[1],
                  outputs={"dir": out, "input": i})

    def check(self, op: Op) -> list[str]:
        out = op.outputs["dir"]
        return check.check_docs(
            check.oracle_docs(self.inputs[op.outputs["input"]]),
            read_rows(os.path.join(out, "spans"), ["doc_id", "order", "kind", "text", "media_ref"]),
            read_rows(os.path.join(out, "docs"), ["doc_id", "score", "status"]),
            read_rows(os.path.join(out, "page"), ["doc_id", "txt"]),
        )


def _row_key(row: dict) -> tuple:
    return tuple("" if v is None else str(v) for v in row.values())


def _read_back(spark, ck: CheckpointedExtractor) -> tuple[list[dict], list[dict]]:
    spans = ck.read_spans(spark).select(
        "doc_id", "order", "kind", "text", "media_ref").toArrow().to_pylist()
    docs = ck.read_docs(spark).select("doc_id", "score", "status").toArrow().to_pylist()
    return spans, docs


def checkpoint_cycle(spark, docs_path: str, out: str, span=None) -> Op:
    """The production entry path as ``submit_job.py`` runs it, killed
    after ``KILL_AFTER`` group commits, resumed by a fresh extractor on
    the same directory, compacted, then read back to the driver."""
    span = span or _null_span
    t = [time.perf_counter()]
    with span("checkpoint.first_run"):
        docs = spark.read.parquet(docs_path)
        ck = CheckpointedExtractor(out, n_groups=N_GROUPS)
        try:
            ck.run(spark, docs, run_id="first", fail_after=KILL_AFTER)
            killed = False
        except SimulatedFailure:
            killed = True
    t.append(time.perf_counter())
    with span("checkpoint.resume"):
        ck = CheckpointedExtractor(out, n_groups=N_GROUPS)
        ck.run(spark, docs, run_id="resume")
    t.append(time.perf_counter())
    with span("checkpoint.compact"):
        ck.compact(spark)
    t.append(time.perf_counter())
    with span("checkpoint.read"):
        spans, doc_rows = _read_back(spark, ck)
    t.append(time.perf_counter())
    names = ["first_run_s", "resume_s", "compact_s", "read_s"]
    phases = {n: b - a for n, a, b in zip(names, t, t[1:])}
    lineage = ck.committed_groups()
    return Op(t[-1] - t[0], len(doc_rows), dir_stats(out)[1], phases=phases,
              outputs={"dir": out, "spans": spans, "docs": doc_rows,
                       "killed": killed, "lineage": lineage})


class CheckpointResume(_BatchWorkload):
    name = "checkpoint_resume"
    engine_config = None  # the default engine config, as submit_job.py runs it
    N_DOCS, N_SPANS = 800, 6400

    def _generate(self, i):
        return gen.backlog_documents(self.seed, i, self.N_DOCS, self.N_SPANS)

    def warm_up(self, spark) -> None:
        """An uninterrupted checkpointed run of input 0 with the same
        groups, compacted and read back: the killed-and-resumed cycles on
        input 0 must read back exactly what it read back.  It also runs
        every per-group job the timed cycles run, so the first timed cycle
        does not pay the JVM's warm-up of them."""
        out = os.path.join(self.work, "ckpt-uninterrupted")
        ck = CheckpointedExtractor(out, n_groups=N_GROUPS)
        ck.run(spark, spark.read.parquet(self.input_path(0)))
        ck.compact(spark)
        self.uninterrupted = _read_back(spark, ck)
        shutil.rmtree(out, ignore_errors=True)

    def run_op(self, spark, i, span=None) -> Op:
        op = checkpoint_cycle(spark, self.input_path(i),
                              os.path.join(self.work, f"ckpt-{i}"), span)
        op.outputs["input"] = i
        return op

    def check(self, op: Op) -> list[str]:
        o = op.outputs
        bad = [] if o["killed"] else ["the injected kill did not happen"]
        if len(o["lineage"]) != N_GROUPS:
            bad.append(f"{len(o['lineage'])} of {N_GROUPS} groups committed")
        if o["input"] == 0:
            for got, want, what in zip((o["spans"], o["docs"]), self.uninterrupted,
                                       ("spans", "docs")):
                if sorted(got, key=_row_key) != sorted(want, key=_row_key):
                    bad.append(f"resumed {what} differ from an uninterrupted run")
        return bad + check.check_docs(
            check.oracle_docs(self.inputs[o["input"]]), o["spans"], o["docs"])


def run_request(spark, request_id: str, payload: str, span=None) -> Op:
    """One closed-loop request: submit → ingest → extract → serialize →
    completion bookkeeping → artifacts and statuses on the driver.  A
    traced request materializes the ingested pages inside its ingest
    span, so that span holds the ingest work."""
    traced = span is not None
    span = span or _null_span
    t0 = time.perf_counter()
    with span("request", request_id=request_id):
        with span("ingest"):
            raw = spark.createDataFrame([(request_id, payload)],
                                        "request_id string, payload string")
            reqs = parse_requests(raw)
            pages = explode_pages(reqs)
            if traced:
                pages = pages.cache()
                pages.count()
            docs = pages_to_documents(pages)
        with span("pipeline"):
            res = extract(spark, docs, engine_config=SCAN_ENGINE)
            doc_rows = res.docs.toArrow().to_pylist()
        with span("serialize"):
            arts = serialize_artifacts(res.spans).select(
                "doc_id", "page_name", "page_xml", "txt_name", "txt").toArrow().to_pylist()
        with span("statemachine"):
            outcome = res.docs.select(
                F.col("doc_id").alias("page_id"), "score", F.col("status").alias("_st"))
            done = pages.join(outcome, "page_id", "left").select(
                "request_id", F.coalesce("_st", "state").alias("state"), "score")
            status = request_completion(done).join(
                finish_requests(done, reqs.select(
                    "request_id", F.lit(None).cast("timestamp").alias("finish_ts")),
                    PINNED_NOW),
                "request_id",
            ).select("n_total", "n_terminal", "done", "avg_quality",
                     F.col("finish_ts").cast("string").alias("finish_ts"))
            status_rows = status.toArrow().to_pylist()
        res.unpersist()
        if traced:
            pages.unpersist()
    latency = time.perf_counter() - t0
    out_bytes = sum(len(a["page_xml"].encode()) + len(a["txt"].encode()) for a in arts)
    return Op(latency, len(doc_rows), out_bytes,
              outputs={"request": (request_id, payload), "docs": doc_rows,
                       "txt": [{"doc_id": a["doc_id"], "txt": a["txt"]} for a in arts],
                       "status": status_rows})


def check_request_op(op: Op) -> list[str]:
    rid, payload = op.outputs["request"]
    expected = check.request_oracle(rid, json.loads(payload)["images"])
    return check.check_request(expected, op.outputs["docs"], op.outputs["txt"],
                               op.outputs["status"])


class RequestRoundtrip:
    name = "request_roundtrip"
    engine_config = SCAN_ENGINE
    POOL = 400

    def __init__(self, work: str, seed: int, cores: int):
        self.work = work
        self.seed = seed
        self.cores = cores
        self.pool: list[tuple[str, str]] = []

    def prepare(self, spark, i) -> None:
        if i == 0:
            self.pool = gen.request_payloads(self.seed, "timed", self.POOL)

    def release(self, i) -> None:
        pass

    def warm_up(self, spark) -> None:
        for rid, payload in gen.request_payloads(self.seed, "warm", 1):
            run_request(spark, rid, payload)

    def run_op(self, spark, i, span=None) -> Op:
        rid, payload = self.pool[i]
        return run_request(spark, rid, payload, span)

    def check(self, op: Op) -> list[str]:
        return check_request_op(op)

    def cleanup(self, op: Op) -> None:
        pass


WORKLOADS = {w.name: w for w in (ScanBatch, CheckpointResume, RequestRoundtrip)}
