"""The end-to-end extraction plan — the Spark re-expression of the
reference's whole worker loop (claim → fetch → decode → PageParser →
confidence filter → arabic fix → serialize → score;
/root/reference/processing_client/run_client.py:112-244) as ONE lazy
DataFrame program:

    documents
      → explode(spans)
      → [text branch: whitespace normalize, drop empties]          (X10)
      ⊎ [media branch: salt-repartition → mapInPandas(inference)   (X2-X5)
         → arabic fix (F10), raw text kept, error rows kept]
      ⊎ one carrier row per input doc
      → groupBy(doc_id): spans: confident lines (N3),
                                array_sort(offset, line_idx)        (W2)
                         ALTO lines: every line, raw text + conf
                         score (A7/X8: median confident conf ×100, 2dp)
                         status (X9: first error by offset)
      → results(doc_id, score, status,
                spans array<struct<order, kind, text, media_ref>>)

``spans`` (one row per output span) and ``docs`` (one row per doc) are
an explode and a projection of ``results``; ``raw_spans``, the input
of ``serialize_alto``, is an explode of the ALTO lines.  A plan that
reads only ``results`` (checkpoint, stream) has the ALTO lines pruned
by Catalyst.  ``persist_inference=True`` persists the per-doc
aggregate, so a caller that writes all four outputs runs inference
and the doc_id shuffle once, and each later output is a projection
of the cache with no exchange.

Scale notes (100 TB):
- the only Python crossing is the Arrow channel of mapInPandas on the
  media branch; everything else is whole-stage codegen.
- with ``salt_partitions`` set, the media branch is repartitioned on
  xxhash64(media_ref) into min(salt_partitions, defaultParallelism)
  partitions before inference: one Python task per lane (a Python task
  has a fixed cost whatever its size, so AQE's byte-based coalescing,
  which would make a small media input one task, is not relied on).
  A heavy multi-page doc's pages spread across the lanes (explicit
  skew handling per north_rule), and every copy of a page lands in
  one partition, where inference runs once per distinct page of an
  Arrow batch. The per-doc aggregate then shuffles once on doc_id.
- no driver-side collect anywhere; the inference counters are
  ``DataFrame.observe`` metrics of the one inference node, so they are
  exact for the first action that runs the plan, persisted or not.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass, field
from typing import Optional

from pyspark import Broadcast, SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..constants import (
    DEFAULT_SCORE,
    KIND_MEDIA,
    KIND_TEXT,
    SCORE_DP,
    SCORE_SCALE,
    STATE_PROCESSED,
)
from ..operators.inference import INFER_SCHEMA, make_infer_fn
from ..operators.normalize import confident, fix_arabic, normalize_text_spans

DEFAULT_ENGINE_CONFIG = {"engine": "stub-ocr", "version": 1}

# the input ``extract`` reads: one row per document
DOCUMENTS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string, text:string, media_ref:string, offset:int>>"
)

# one engine-config broadcast per canonical config JSON, shared by every
# extract on the live SparkContext instead of leaking a broadcast file
# and block per call; a process has one live context, and a new one
# replaces the cache (the old context's broadcasts are unusable)
_broadcasts: tuple[Optional[SparkContext], dict[str, Broadcast]] = (None, {})
_broadcasts_lock = threading.Lock()


def _engine_broadcast(sc: SparkContext, config: dict) -> Broadcast:
    """The broadcast of ``config`` on ``sc``, created on first use;
    safe to call from several driver threads."""
    global _broadcasts
    key = json.dumps(config, sort_keys=True)
    with _broadcasts_lock:
        owner, cache = _broadcasts
        if owner is not sc:
            cache = {}
            _broadcasts = (sc, cache)
        if key not in cache:
            cache[key] = sc.broadcast(config)
        return cache[key]


@dataclass
class ExtractMetrics:
    """Inference counters of one ``extract``, observed on its inference
    output during the first action that runs it; ``as_dict`` blocks
    until that action has finished (zeros without metrics)."""

    observation: Optional[Observation] = None

    def as_dict(self) -> dict:
        if self.observation is None:
            return dict.fromkeys(
                ("pages_decoded", "lines_emitted", "decode_failures"), 0
            )
        return self.observation.get


@dataclass
class ExtractResult:
    results: DataFrame     # doc_id, score, status, spans[order, kind, text, media_ref]
    spans: DataFrame       # doc_id, order, kind, text, media_ref
    docs: DataFrame        # doc_id, score, status
    raw_spans: DataFrame = None   # doc_id, offset, line_idx, kind, text,
                                  # media_ref, conf: the ALTO lines, an
                                  # explode of the per-doc aggregate
                                  # (run_client.py:210-211 builds ALTO
                                  # before the confidence strip and
                                  # before arabic normalization)
    metrics: ExtractMetrics = field(default_factory=ExtractMetrics)
    persisted: DataFrame = None   # the per-doc aggregate, when
                                  # persist_inference=True

    def unpersist(self) -> None:
        if self.persisted is not None:
            self.persisted.unpersist()


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans[]) → one row per span (N1/N2)."""
    return docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def result_spans(results: DataFrame) -> DataFrame:
    """results(doc_id, ..., spans[]) → one row per output span."""
    return results.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.order", "s.kind", "s.text", "s.media_ref"
    )


def result_docs(results: DataFrame) -> DataFrame:
    """results → one row per doc (doc_id, score, status)."""
    return results.select("doc_id", "score", "status")


def extract(
    spark: SparkSession,
    documents: DataFrame,
    engine_config: Optional[dict] = None,
    salt_partitions: Optional[int] = None,
    with_metrics: bool = True,
    persist_inference: bool = False,
) -> ExtractResult:
    """Build the extraction plan (lazy).  ``persist_inference`` keeps the
    per-doc aggregate (spans, ALTO lines, score, status) for callers
    that run several actions on the result: the first action runs
    inference and the doc_id shuffle once, and ``spans``, ``docs``,
    ``raw_spans`` and the serializers over them read the cache.  A
    single action runs inference once without it."""
    bconf = _engine_broadcast(
        spark.sparkContext, engine_config or DEFAULT_ENGINE_CONFIG
    )
    spans = explode_spans(documents)

    # ---- text branch: pure codegen ----
    text_branch = normalize_text_spans(
        spans.filter(F.col("kind") == KIND_TEXT).select("doc_id", "offset", "text")
    ).select(
        "doc_id",
        "offset",
        F.lit(0).cast("int").alias("line_idx"),
        F.lit(KIND_TEXT).alias("kind"),
        "text",
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(None).cast("double").alias("conf"),
        F.lit(None).cast("string").alias("error"),
    )

    # ---- media branch: salted repartition → Arrow-batched inference ----
    media_in = spans.filter(F.col("kind") == KIND_MEDIA).select(
        "doc_id", "offset", "media_ref"
    )
    if salt_partitions:
        media_in = media_in.repartition(
            min(salt_partitions, spark.sparkContext.defaultParallelism),
            F.xxhash64("media_ref"),
        )
    inferred = media_in.mapInPandas(make_infer_fn(bconf), schema=INFER_SCHEMA)
    metrics = ExtractMetrics()
    if with_metrics:
        # a decoded page emits lines 1..L (L >= 1), a failed page one
        # error row; observed on the single inference node every
        # consumer below shares
        ok = F.col("error").isNull()
        metrics = ExtractMetrics(Observation())
        inferred = inferred.observe(
            metrics.observation,
            F.count_if(ok & (F.col("line_idx") == 1)).alias("pages_decoded"),
            F.count_if(ok).alias("lines_emitted"),
            F.count_if(~ok).alias("decode_failures"),
        )
    # every row below carries its final text and its raw text: the
    # ALTO lines keep the raw model output and every decoded line with
    # its conf (run_client.py:210-211), the spans the arabic-fixed,
    # confident ones; an error row has no kind and no span
    media_branch = inferred.select(
        "doc_id", "offset", "line_idx",
        F.when(F.col("error").isNull(), F.lit(KIND_MEDIA)).alias("kind"),
        fix_arabic(F.col("text")).alias("text"),
        F.col("text").alias("raw_text"),
        "media_ref", "conf", "error",
    )
    lines = text_branch.withColumn("raw_text", F.col("text")).unionByName(
        media_branch
    )

    # ---- one shuffle on doc_id: reading order (W2), score (A7/X8),
    # status (X9) and the ALTO lines; a carrier row (doc_id only) gives
    # every input doc a result row, with or without spans ----
    kind = F.col("kind")
    keep = kind.isNotNull() & ((kind == KIND_TEXT) | confident(F.col("conf")))
    per_doc = lines.unionByName(
        documents.select("doc_id"), allowMissingColumns=True
    ).groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.when(
            keep, F.struct("offset", "line_idx", "kind", "text", "media_ref"),
        ))).alias("lines"),
        F.collect_list(F.when(kind.isNotNull(), F.struct(
            "offset", "line_idx", "kind", F.col("raw_text").alias("text"),
            "media_ref", "conf",
        ))).alias("alto_lines"),
        F.percentile(F.when(keep, F.col("conf")), 0.5).alias("median_conf"),
        F.min_by("error", F.when(F.col("error").isNotNull(), F.col("offset")))
        .alias("first_error"),
    )
    if persist_inference:
        per_doc = per_doc.persist()
    results = per_doc.select(
        "doc_id",
        F.coalesce(
            F.round(F.col("median_conf") * SCORE_SCALE, SCORE_DP),
            F.lit(DEFAULT_SCORE),
        ).alias("score"),
        F.coalesce("first_error", F.lit(STATE_PROCESSED)).alias("status"),
        F.transform("lines", lambda s, i: F.struct(
            i.alias("order"),
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        )).alias("spans"),
    )
    raw_spans = per_doc.select(
        "doc_id", F.explode("alto_lines").alias("s")
    ).select("doc_id", "s.*")

    return ExtractResult(
        results=results,
        spans=result_spans(results),
        docs=result_docs(results),
        raw_spans=raw_spans,
        metrics=metrics,
        persisted=per_doc if persist_inference else None,
    )
