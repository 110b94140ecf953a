"""Per-layer measurements for the traced run.

Each layer is measured from outside, by timing calls into its public
functions inside a tracer span and reading the Spark statistics of the
jobs the span ran.  Inputs are materialized before the span opens, so a
span holds only its own layer's work.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import functions as F

from pero_ocr_api_spark.operators.inference import INFER_SCHEMA, make_infer_fn
from pero_ocr_api_spark.operators.normalize import (
    filter_confident_lines,
    normalize_text_spans,
    normalize_transcriptions,
)
from pero_ocr_api_spark.operators.serialize import serialize_alto, serialize_artifacts
from pero_ocr_api_spark.plans.pipeline import DEFAULT_ENGINE_CONFIG, explode_spans, extract

from .tracing import Tracer, python_worker_rss_mb
from .workloads import KILL_AFTER, N_GROUPS, Op, dir_stats


# unit of every per-layer metric the traced run reports
UNITS = {
    "session.start_s": "s",
    "pipeline.build_s": "s",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.shuffle_write_mb": "MB",
    "pipeline.shuffle_read_mb": "MB",
    "pipeline.run_s": "s",
    "pipeline.lane_util": "ratio",
    "pipeline.gc_s": "s",
    "pipeline.peak_exec_mem_mb": "MB",
    "pipeline.self_s": "s",
    "inference.s": "s",
    "inference.pages": "count",
    "inference.pages_decoded": "count",
    "inference.decode_failures": "count",
    "inference.lines_emitted": "count",
    "inference.unique_ref_ratio": "ratio",
    "inference.task_skew": "ratio",
    "inference.lane_util": "ratio",
    "inference.worker_rss_mb": "MB",
    "normalize.text_s": "s",
    "normalize.lines_s": "s",
    "normalize.kept_ratio": "ratio",
    "serialize.alto_s": "s",
    "serialize.page_s": "s",
    "serialize.bytes_per_doc": "B/doc",
    "checkpoint.first_run_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.compact_s": "s",
    "checkpoint.read_s": "s",
    "checkpoint.group_s_p50": "s",
    "checkpoint.group_s_max": "s",
    "checkpoint.outside_groups_s": "s",
    "checkpoint.jobs_per_group": "count",
    "checkpoint.groups_redone": "count",
    "checkpoint.files_written": "count",
    "checkpoint.bytes_written": "B",
    "ingest.s": "s",
    "ingest.pages": "count",
    "statemachine.s": "s",
    "trace.overhead_s": "s",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pipeline_layers(spark, tr: Tracer, docs_path: str, engine_config: dict | None,
                    out: str) -> dict:
    """One extract with its spans/docs writes (pipeline.*), then the
    inference, normalize and serialize layers each on materialized input."""
    cores = tr.cores
    config = engine_config or DEFAULT_ENGINE_CONFIG
    docs = spark.read.parquet(docs_path).cache()
    n_docs = docs.count()
    m = {}

    with tr.span("pipeline") as rec:
        t0 = time.perf_counter()
        res = extract(spark, docs, engine_config=config,
                      persist_inference=True, salt_partitions=4 * cores)
        m["pipeline.build_s"] = time.perf_counter() - t0
        res.spans.write.parquet(os.path.join(out, "spans"))
        res.docs.write.parquet(os.path.join(out, "docs"))
    pipe = tr.job_stats([rec])
    for k, v in pipe.items():
        m[f"pipeline.{k}"] = v
    acc = res.metrics.as_dict()
    m["inference.pages_decoded"] = acc["pages_decoded"]
    m["inference.decode_failures"] = acc["decode_failures"]
    m["inference.lines_emitted"] = acc["lines_emitted"]
    m["inference.pages"] = acc["pages_decoded"] + acc["decode_failures"]
    raw = res.raw_spans.cache()
    raw.count()
    res.unpersist()

    # ---- inference: salted media spans → mapInPandas → noop sink ----
    spans = explode_spans(docs)
    media = spans.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref"
    ).repartition(4 * cores, F.xxhash64("doc_id", "offset")).cache()
    counts = media.agg(F.count("*").alias("n"),
                       F.countDistinct("media_ref").alias("u")).first()
    bconf = spark.sparkContext.broadcast(config)
    with tr.span("inference") as inf:
        _noop(media.mapInPandas(make_infer_fn(bconf), schema=INFER_SCHEMA))
    m["inference.s"] = tr.wall(inf)
    m["inference.unique_ref_ratio"] = counts["u"] / max(counts["n"], 1)
    stage = tr.heaviest_stage([inf])
    m["inference.task_skew"] = stage["task_skew"]
    m["inference.lane_util"] = stage["lane_util"]
    m["inference.worker_rss_mb"] = python_worker_rss_mb()

    # ---- normalize: text branch and media lines, materialized inputs ----
    texts = spans.filter(F.col("kind") == "text").select("doc_id", "offset", "text").cache()
    # emulated device cost never changes the output, so the lines input
    # is produced without it
    free = spark.sparkContext.broadcast(
        {**config, "work_sleep_ms": 0.0, "work_iters": 0})
    lines = media.mapInPandas(make_infer_fn(free), schema=INFER_SCHEMA).filter(
        F.col("error").isNull()).cache()
    n_in = texts.count() + lines.count()
    with tr.span("normalize.text") as nt:
        _noop(normalize_text_spans(texts))
    with tr.span("normalize.lines") as nl:
        _noop(filter_confident_lines(normalize_transcriptions(lines)))
    kept = normalize_text_spans(texts).count() + filter_confident_lines(lines).count()
    m["normalize.text_s"] = tr.wall(nt)
    m["normalize.lines_s"] = tr.wall(nl)
    m["normalize.kept_ratio"] = kept / max(n_in, 1)
    m["pipeline.self_s"] = (tr.wall(rec) - m["inference.s"]
                            - m["normalize.text_s"] - m["normalize.lines_s"])

    # ---- serialize: both serializers on materialized spans ----
    final = spark.read.parquet(os.path.join(out, "spans")).cache()
    final.count()
    with tr.span("serialize.alto") as sa:
        serialize_alto(raw).write.parquet(os.path.join(out, "alto"))
    with tr.span("serialize.page") as sp:
        serialize_artifacts(final).write.parquet(os.path.join(out, "page"))
    m["serialize.alto_s"] = tr.wall(sa)
    m["serialize.page_s"] = tr.wall(sp)
    ser_bytes = dir_stats(os.path.join(out, "alto"))[1] + dir_stats(os.path.join(out, "page"))[1]
    m["serialize.bytes_per_doc"] = ser_bytes / max(n_docs, 1)

    for df in (docs, raw, media, texts, lines, final):
        df.unpersist()
    return m


def checkpoint_layers(tr: Tracer, op: Op) -> dict:
    """checkpoint.* from one traced kill → resume → compact → read cycle."""
    spans = {s["name"]: s for s in tr.spans if s["name"].startswith("checkpoint.")}
    runs = [spans["checkpoint.first_run"], spans["checkpoint.resume"]]
    lineage = op.outputs["lineage"]
    walls = [lin["wall_ms"] / 1000.0 for lin in lineage.values()]
    resumed = sum(1 for lin in lineage.values() if lin["run_id"] == "resume")
    executed = KILL_AFTER + resumed
    stats = tr.job_stats(runs)
    files, size = dir_stats(op.outputs["dir"])
    m = {f"checkpoint.{k}": v for k, v in op.phases.items()}
    m.update({
        "checkpoint.group_s_p50": statistics.median(walls),
        "checkpoint.group_s_max": max(walls),
        "checkpoint.outside_groups_s": sum(tr.wall(r) for r in runs) - sum(walls),
        "checkpoint.jobs_per_group": stats["jobs"] / max(executed, 1),
        "checkpoint.groups_redone": executed - N_GROUPS,
        "checkpoint.files_written": files,
        "checkpoint.bytes_written": size,
    })
    return m


def request_layers(tr: Tracer, ops: list[Op]) -> dict:
    """ingest.* and statemachine.* per traced request (medians)."""
    by_name: dict[str, list[float]] = {}
    for s in tr.spans:
        by_name.setdefault(s["name"], []).append(tr.wall(s))
    return {
        "ingest.s": statistics.median(by_name["ingest"]),
        "ingest.pages": sum(len(json.loads(op.outputs["request"][1])["images"])
                            for op in ops),
        "statemachine.s": statistics.median(by_name["statemachine"]),
    }
