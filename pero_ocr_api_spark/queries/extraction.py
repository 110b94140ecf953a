"""Spark-side query callables for the extraction pipeline, paired
one-to-one with the DuckDB oracle SQL in extraction_sql.py.

Each callable has the (spark, sf_dir) -> DataFrame driver signature.
Column names/ordering are aligned with the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import KIND_TEXT
from ..operators.normalize import confident
from ..operators.serialize import serialize_alto, serialize_artifacts
from ..plans.pipeline import extract
from ..synth import exploded_spans, interleaved_documents


def _run(spark: SparkSession, sf_dir: str):
    docs = interleaved_documents(spark, sf_dir)
    return extract(spark, docs, with_metrics=False)


def q_input_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized interleaved input, flattened — validates that the
    Spark synthesis and the SQL synthesis agree byte-for-byte."""
    return exploded_spans(spark, sf_dir).select(
        "doc_id", "offset", "kind", "text", "media_ref"
    )


def q_pipeline_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full extraction, one row per output span in reading
    order — the span-sequence-equality surface (BASELINE.json metric)."""
    return _run(spark, sf_dir).spans


def q_doc_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality score (median conf ×100, 2dp) + status taxonomy."""
    return _run(spark, sf_dir).docs


def q_serialize_txt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reading-order plain-text serialization per document: the txt
    member of the PAGE/txt fan-out."""
    spans = _run(spark, sf_dir).spans
    return serialize_artifacts(spans).select("doc_id", "txt")


def q_serialize_alto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTO artifact per document — the pre-strip/pre-arabic-fix path
    with the threshold applied inside serialization
    (run_client.py:210-211)."""
    return serialize_alto(_run(spark, sf_dir).raw_spans)


def q_serialize_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE-XML + txt fan-out per document (routes.py:252-254)."""
    return serialize_artifacts(_run(spark, sf_dir).spans)


def q_conf_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span counts + mean confidence by kind over the pipeline output."""
    # the output lines: every text line and the confident media lines
    # (the arabic fix changes text, not conf)
    raw = _run(spark, sf_dir).raw_spans
    lines = raw.filter((F.col("kind") == KIND_TEXT) | confident(F.col("conf")))
    # avg as round(sum,4)/count: a raw float avg differs between engines
    # in the last ulps (summation order) and can flip a 6-dp rounding at
    # a boundary; rounding the sum first (conf values are 2-dp decimals,
    # ulp noise ~1e-12 << 5e-5) makes the division identical
    return lines.groupBy("kind").agg(
        F.count("*").alias("n_spans"),
        F.round(F.round(F.sum("conf"), 4) / F.count("conf"), 6).alias("avg_conf"),
    )


def q_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-region segmentation over the interleaved input
    (operators/layout.py) — PageParser's region-detection analog."""
    from ..operators.layout import region_summary

    return region_summary(
        exploded_spans(spark, sf_dir).select("doc_id", "offset", "kind")
    )
