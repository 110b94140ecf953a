"""Output serializers (SURVEY §2.9 X7, §2.8 N5) — the Spark analog of
the reference's per-page ALTO XML / PAGE XML / plain-text artifacts
(/root/reference/processing_client/run_client.py:204-222, zip member
naming /root/reference/app/main/routes.py:252-254).

Two serializers build all three: ``serialize_alto`` the ALTO member,
``serialize_artifacts`` the PAGE member and the plain text.  Both are
pure JVM-side string assembly over the ordered span rows:
collect_list(struct(order, ...)) → array_sort → transform/format_string
→ array_join.  No UDFs; exact-match testable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import KIND_MEDIA, MIN_CONFIDENCE


def xml_escape(col: Column) -> Column:
    """Minimal XML attribute/text escaping, & first.  Mirrored verbatim
    by the DuckDB oracle (extraction_sql.py) — keep the replace order in
    sync."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    out = F.replace(out, F.lit(">"), F.lit("&gt;"))
    return F.replace(out, F.lit('"'), F.lit("&quot;"))


def serialize_alto(raw_spans: DataFrame) -> DataFrame:
    """Faithful ALTO-path semantics (run_client.py:210-211): the ALTO
    artifact is built from the *pre-strip, pre-arabic-fix* lines — the
    raw model transcriptions (Arabic still in visual order) — with
    ``min_line_confidence`` applied *inside* serialization rather than
    by the upstream strip, and a per-line WC (word confidence)
    attribute.  The engine pins ``MIN_CONFIDENCE > 0``, so the
    reference's ``if args.min_confidence > 0`` gate always holds.  Text
    spans (our interleaved extension) carry no model confidence and
    always serialize.

    Input: raw_spans(doc_id, offset, line_idx, kind, text, media_ref,
    conf) from ExtractResult.raw_spans, an explode of the ALTO lines
    that ``extract``'s per-doc aggregate collects.  Pure JVM string
    assembly: collect_list → array_sort on (offset, line_idx) →
    transform → array_join; no UDF.  The explode keeps the aggregate's
    doc_id partitioning, so this groupBy adds no exchange: over a
    persisted extract it is one job that reads the cache.
    """
    kept = raw_spans.filter(
        (F.col("kind") != KIND_MEDIA) | (F.col("conf") > F.lit(MIN_CONFIDENCE))
    )
    lines = F.array_sort(
        F.collect_list(F.struct("offset", "line_idx", "kind", "text", "conf"))
    )
    body = F.array_join(
        F.transform(
            lines,
            lambda s: F.concat(
                F.lit('    <TextLine ID="l'),
                (s["offset"] * 1000 + s["line_idx"]).cast("string"),
                F.lit('"'),
                F.when(
                    s["kind"] == KIND_MEDIA,
                    F.format_string(' WC="%.2f"', s["conf"]),
                ).otherwise(F.lit("")),
                F.lit('><String CONTENT="'),
                xml_escape(s["text"]),
                F.lit('"/></TextLine>'),
            ),
        ),
        "\n",
    )
    out = kept.groupBy("doc_id").agg(body.alias("alto_lines"))
    return out.select(
        "doc_id",
        F.format_string("%s_alto.xml", "doc_id").alias("alto_name"),
        F.concat(
            F.format_string('<alto><Layout><Page ID="%s">\n', "doc_id"),
            F.col("alto_lines"),
            F.lit("\n</Page></Layout></alto>"),
        ).alias("alto_xml"),
    )


def serialize_artifacts(spans: DataFrame) -> DataFrame:
    """PAGE-XML + txt fan-out from the final (stripped, arabic-fixed,
    reading-ordered) spans, with artifact names '{doc}_page.xml' /
    '{doc}.txt' (routes.py:252-254, 213-222).  The ALTO member comes
    from ``serialize_alto`` (it has different filter/normalize
    semantics — see there).  The PAGE shape is simplified but
    deterministic: one line element per span in reading order."""
    lines = F.array_sort(
        F.collect_list(F.struct("order", "kind", "text", "media_ref"))
    )
    page_body = F.array_join(
        F.transform(
            lines,
            lambda s: F.concat(
                F.lit('    <TextLine id="l'),
                s["order"].cast("string"),
                F.lit('" kind="'),
                s["kind"],
                F.lit('"><Unicode>'),
                xml_escape(s["text"]),
                F.lit("</Unicode></TextLine>"),
            ),
        ),
        "\n",
    )
    txt_body = F.array_join(F.transform(lines, lambda s: s["text"]), "\n")
    out = spans.groupBy("doc_id").agg(
        page_body.alias("page_lines"),
        txt_body.alias("txt"),
    )
    return out.select(
        "doc_id",
        F.format_string("%s_page.xml", "doc_id").alias("page_name"),
        F.concat(
            F.format_string('<PcGts><Page imageFilename="%s">\n', "doc_id"),
            F.col("page_lines"),
            F.lit("\n</Page></PcGts>"),
        ).alias("page_xml"),
        F.format_string("%s.txt", "doc_id").alias("txt_name"),
        "txt",
    )
