"""The end-to-end extraction plan — the Spark re-expression of the
reference's whole worker loop (claim → fetch → decode → PageParser →
confidence filter → arabic fix → serialize → score;
/root/reference/processing_client/run_client.py:112-244) as ONE lazy
DataFrame program, in one of two shapes chosen by ``salt_partitions``.

The row plan (no salt: checkpoint groups, requests, stream
micro-batches) builds each document's result in the row that holds it,
with no exchange:

    documents
      → media = arrow_udf(filter(spans, media) → (offset, media_ref))  (X2-X5)
                [each doc's inferred lines and error rows; only the
                 media spans cross to Python, the text stays on the JVM]
      → texts: whitespace-normalized text spans, empties dropped       (X10)
        kept:  confident (N3), arabic-fixed (F10) decoded lines
        confs: their conf values, sorted
        ALTO lines: decoded lines, raw text + conf
        first error by offset                                          (X9)
      → lines: array_sort(concat(texts, kept)) on (offset, line_idx)   (W2)
        score: median of confs, interpolated as Spark's percentile (A7/X8)

The grouped plan (``salt_partitions`` set: the scanned archive) spreads
a heavy document's pages over the lanes first, so it rebuilds each
document in one shuffle:

    documents
      → explode(spans)
      → [text branch: whitespace normalize, drop empties]          (X10)
      ⊎ [media branch: salt-repartition → mapInPandas(inference)   (X2-X5)
         → arabic fix (F10), raw text kept, error rows kept]
      ⊎ one carrier row per input doc
      → groupBy(doc_id): spans: confident lines (N3),
                                array_sort(offset, line_idx)        (W2)
                         ALTO lines: decoded media lines, raw text + conf
                         score (A7/X8: median confident conf ×100, 2dp)
                         status (X9: first error by offset)

Both give the same per-doc frame (lines, alto_lines, median_conf,
first_error), and one projection of it is the result:

      → results(doc_id, score, status,
                spans array<struct<order, kind, text, media_ref>>)

``spans`` (one row per output span) and ``docs`` (one row per doc) are
an explode and a projection of ``results``; ``raw_spans``, the input
of ``serialize_alto``, is an explode of the text lines of the spans
and the ALTO media lines.  A plan that reads only ``results``
(checkpoint, stream) has the ALTO lines pruned by Catalyst.
``persist_inference=True`` persists the per-doc frame, so a caller
that writes all four outputs runs inference (and the grouped plan's
doc_id shuffle) once, and each later output is a projection of the
cache with no exchange.

Every expression is Spark SQL text built in Python from ``constants``
(string literals quoted by ``normalize.sql_str``), one ``selectExpr``,
``where`` or ``agg`` per stage: PySpark sends each stage to the JVM in
one call, where a ``Column`` expression tree costs a Py4J round trip
per function, literal and alias (about 3,000 for the scan plan, with
its 33-step ligature chain).  The plan is the one the ``Column`` form
gives.

Scale notes (100 TB):
- the only Python crossing is the Arrow channel of the inference node
  (the row plan's arrow_udf, the grouped plan's mapInPandas);
  everything else is whole-stage codegen or array functions.
- the row plan assumes one input row per document (the
  ``DOCUMENTS_SCHEMA`` contract): every span of a doc is in its row,
  so no exchange is needed, and each distinct page of an Arrow batch
  of documents is inferred once.
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
  ``DataFrame.observe`` metrics of the one inference node's output, so
  they are exact for the first action that runs the plan, persisted
  or not.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass, field
from functools import cached_property
from typing import Optional

from pyspark import Broadcast, SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from ..constants import (
    DEFAULT_SCORE,
    KIND_MEDIA,
    KIND_TEXT,
    SCORE_DP,
    SCORE_SCALE,
    STATE_PROCESSED,
)
from ..operators.inference import (
    INFER_SCHEMA,
    LINES_SCHEMA,
    make_infer_fn,
    make_infer_lines_fn,
)
from ..operators.normalize import (
    confident,
    fix_arabic,
    normalize_text_spans,
    normalized_text,
    sql_str,
)

DEFAULT_ENGINE_CONFIG = {"engine": "stub-ocr", "version": 1}

_TEXT, _MEDIA = sql_str(KIND_TEXT), sql_str(KIND_MEDIA)

# the input ``extract`` reads: one row per document
DOCUMENTS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string, text:string, media_ref:string, offset:int>>"
)
# what ``extract`` returns per document (``ExtractResult.results``), as
# a reader of its written files sees it (every field nullable)
RESULTS_SCHEMA = (
    "doc_id string, score double, status string, "
    "spans array<struct<`order`:int, kind:string, text:string, media_ref:string>>"
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
    """The outputs of one ``extract``.  ``spans``, ``docs`` and
    ``raw_spans`` are built on first use: a caller that reads only
    ``results`` (checkpoint, stream) never builds them."""

    results: DataFrame     # doc_id, score, status, spans[order, kind, text, media_ref]
    per_doc: DataFrame     # the per-doc frame ``results`` projects
    metrics: ExtractMetrics = field(default_factory=ExtractMetrics)
    persisted: bool = False   # per_doc is persisted (persist_inference)

    @cached_property
    def spans(self) -> DataFrame:
        """doc_id, order, kind, text, media_ref"""
        return result_spans(self.results)

    @cached_property
    def docs(self) -> DataFrame:
        """doc_id, score, status"""
        return result_docs(self.results)

    @cached_property
    def raw_spans(self) -> DataFrame:
        """doc_id, offset, line_idx, kind, text, media_ref, conf: the
        ALTO lines, the text rows of ``lines`` (no conf) and the decoded
        media lines (run_client.py:210-211 builds ALTO before the
        confidence strip and before arabic normalization)."""
        return self.per_doc.selectExpr(
            "doc_id",
            f"inline(concat(transform(filter(lines, s -> s.kind = {_TEXT}), "
            "s -> struct(s.offset AS offset, s.line_idx AS line_idx, "
            "s.kind AS kind, s.text AS text, s.media_ref AS media_ref, "
            "CAST(NULL AS DOUBLE) AS conf)), alto_lines))",
        )

    def unpersist(self) -> None:
        if self.persisted:
            self.per_doc.unpersist()


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans[]) → one row per span (N1/N2)."""
    return docs.selectExpr("doc_id", "explode(spans) AS s").selectExpr(
        "doc_id", "s.kind AS kind", "s.text AS text",
        "s.media_ref AS media_ref", "s.offset AS offset",
    )


def result_spans(results: DataFrame) -> DataFrame:
    """results(doc_id, ..., spans[]) → one row per output span."""
    return results.selectExpr("doc_id", "explode(spans) AS s").selectExpr(
        "doc_id", "s.`order`", "s.kind", "s.text", "s.media_ref"
    )


def result_docs(results: DataFrame) -> DataFrame:
    """results → one row per doc (doc_id, score, status)."""
    return results.selectExpr("doc_id", "score", "status")


def extract(
    spark: SparkSession,
    documents: DataFrame,
    engine_config: Optional[dict] = None,
    salt_partitions: Optional[int] = None,
    with_metrics: bool = True,
    persist_inference: bool = False,
) -> ExtractResult:
    """Build the extraction plan (lazy): the grouped plan with
    ``salt_partitions`` set, the row plan without it (module
    docstring).  ``persist_inference`` keeps the per-doc frame (spans,
    ALTO lines, score, status) for callers that run several actions on
    the result: the first action runs inference (and the grouped
    plan's doc_id shuffle) once, and ``spans``, ``docs``,
    ``raw_spans`` and the serializers over them read the cache.  A
    single action runs inference once without it."""
    bconf = _engine_broadcast(
        spark.sparkContext, engine_config or DEFAULT_ENGINE_CONFIG
    )
    metrics = ExtractMetrics(Observation()) if with_metrics else ExtractMetrics()
    if salt_partitions:
        per_doc = _grouped_per_doc(
            spark, documents, bconf, salt_partitions, metrics.observation)
    else:
        per_doc = _row_per_doc(documents, bconf, metrics.observation)
    if persist_inference:
        per_doc = per_doc.persist()
    results = per_doc.selectExpr(
        "doc_id",
        f"coalesce(round(median_conf * {SCORE_SCALE}, {SCORE_DP}), "
        f"{DEFAULT_SCORE}D) AS score",
        f"coalesce(first_error, {sql_str(STATE_PROCESSED)}) AS status",
        "transform(lines, (s, i) -> struct(i AS `order`, s.kind AS kind, "
        "s.text AS text, s.media_ref AS media_ref)) AS spans",
    )
    return ExtractResult(results, per_doc, metrics, persist_inference)


def _row_per_doc(
    documents: DataFrame, bconf: Broadcast, observation: Optional[Observation]
) -> DataFrame:
    """The row plan: each document's per-doc frame built in its own
    row, with no exchange.  One scalar Arrow UDF infers the media spans
    (only they cross to Python), then array functions merge the
    normalized text spans with the confident, Arabic-fixed lines."""
    infer = arrow_udf(make_infer_lines_fn(bconf), LINES_SCHEMA)
    rows = documents.select("doc_id", "spans", infer(F.expr(
        f"transform(filter(spans, s -> s.kind = {_MEDIA}), "
        "s -> struct(s.offset AS offset, s.media_ref AS media_ref))"
    )).alias("media"))
    if observation is not None:
        rows = rows.observe(observation, *map(F.expr, (
            "coalesce(sum(size(filter(media, l -> l.error IS NULL "
            "AND l.line_idx = 1))), 0) AS pages_decoded",
            "coalesce(sum(size(filter(media, l -> l.error IS NULL))), 0)"
            " AS lines_emitted",
            "coalesce(sum(size(filter(media, l -> l.error IS NOT NULL))), 0)"
            " AS decode_failures",
        )))
    # each stage reads the arrays the one before it built, so the
    # whitespace regexp runs once per text span and the Arabic fix once
    # per confident line; ``alto_lines`` stays its own column, which a
    # results-only plan prunes
    decoded = "filter(media, l -> l.error IS NULL)"
    kept = f"filter({decoded}, l -> {confident('l.conf')})"
    return rows.selectExpr(
        "doc_id",
        # a NULL spans array is a document without spans, as in the
        # grouped plan, whose carrier row gives it an empty result
        f"filter(transform(filter(coalesce(spans, array()), "
        f"s -> s.kind = {_TEXT}), "
        f"s -> struct(s.offset AS offset, 0 AS line_idx, {_TEXT} AS kind, "
        f"{normalized_text('s.text')} AS text, "
        "CAST(NULL AS STRING) AS media_ref)), s -> s.text != '') AS texts",
        f"transform({kept}, l -> struct(l.offset AS offset, "
        f"l.line_idx AS line_idx, {_MEDIA} AS kind, "
        f"{fix_arabic('l.text')} AS text, l.media_ref AS media_ref)) AS kept",
        f"array_sort(transform({kept}, l -> l.conf)) AS confs",
        f"transform({decoded}, l -> struct(l.offset AS offset, "
        f"l.line_idx AS line_idx, {_MEDIA} AS kind, l.text AS text, "
        "l.media_ref AS media_ref, l.conf AS conf)) AS alto_lines",
        "array_min(transform(filter(media, l -> l.error IS NOT NULL), "
        "l -> struct(l.offset AS offset, l.error AS error))).error AS first_error",
    ).selectExpr(
        "doc_id",
        "array_sort(concat(texts, kept)) AS lines",
        "alto_lines",
        # Spark's percentile at 0.5: the middle value, or the two
        # middle ones interpolated (a value equals 0.5 v + 0.5 v)
        "0.5D * get(confs, (size(confs) - 1) div 2) "
        "+ 0.5D * get(confs, size(confs) div 2) AS median_conf",
        "first_error",
    )


def _grouped_per_doc(
    spark: SparkSession,
    documents: DataFrame,
    bconf: Broadcast,
    salt_partitions: int,
    observation: Optional[Observation],
) -> DataFrame:
    """The grouped plan: explode, infer the media rows after the salt
    exchange, and rebuild each document in one doc_id shuffle."""
    spans = explode_spans(documents)

    # ---- text branch: pure codegen ----
    text_branch = normalize_text_spans(
        spans.where(f"kind = {_TEXT}").selectExpr("doc_id", "offset", "text")
    ).selectExpr(
        "doc_id", "offset", "0 AS line_idx", f"{_TEXT} AS kind", "text",
        "CAST(NULL AS STRING) AS media_ref", "CAST(NULL AS DOUBLE) AS conf",
        "CAST(NULL AS STRING) AS error",
    )

    # ---- media branch: salted repartition → Arrow-batched inference ----
    media_in = spans.where(f"kind = {_MEDIA}").selectExpr(
        "doc_id", "offset", "media_ref"
    ).repartition(
        min(salt_partitions, spark.sparkContext.defaultParallelism),
        F.expr("xxhash64(media_ref)"),
    )
    inferred = media_in.mapInPandas(make_infer_fn(bconf), schema=INFER_SCHEMA)
    if observation is not None:
        # a decoded page emits lines 1..L (L >= 1), a failed page one
        # error row; observed on the single inference node every
        # consumer below shares
        inferred = inferred.observe(observation, *map(F.expr, (
            "count_if(error IS NULL AND line_idx = 1) AS pages_decoded",
            "count_if(error IS NULL) AS lines_emitted",
            "count_if(error IS NOT NULL) AS decode_failures",
        )))
    # a media row carries its final text and its raw text: the ALTO
    # lines keep the raw model output and every decoded line with its
    # conf (run_client.py:210-211), the spans the arabic-fixed,
    # confident ones; an error row has no kind and no span
    media_branch = inferred.selectExpr(
        "doc_id", "offset", "line_idx",
        f"CASE WHEN error IS NULL THEN {_MEDIA} END AS kind",
        f"{fix_arabic('text')} AS text",
        "text AS raw_text", "media_ref", "conf", "error",
    )

    # ---- one shuffle on doc_id: reading order (W2), score (A7/X8),
    # status (X9) and the ALTO media lines; a carrier row (doc_id only)
    # gives every input doc a result row, with or without spans.  A
    # text row travels once, in ``lines`` (every text row is kept) ----
    keep = f"kind IS NOT NULL AND (kind = {_TEXT} OR {confident('conf')})"
    return text_branch.unionByName(
        media_branch, allowMissingColumns=True
    ).unionByName(
        documents.selectExpr("doc_id"), allowMissingColumns=True
    ).groupBy("doc_id").agg(*map(F.expr, (
        f"array_sort(collect_list(CASE WHEN {keep} THEN "
        "struct(offset, line_idx, kind, text, media_ref) END)) AS lines",
        f"collect_list(CASE WHEN kind = {_MEDIA} THEN "
        "struct(offset, line_idx, kind, raw_text AS text, media_ref, conf) END)"
        " AS alto_lines",
        f"percentile(CASE WHEN {keep} THEN conf END, 0.5D, 1) AS median_conf",
        "min_by(error, CASE WHEN error IS NOT NULL THEN offset END) AS first_error",
    )))
