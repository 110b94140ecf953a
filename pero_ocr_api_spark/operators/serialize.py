"""Output serializers (SURVEY §2.9 X7, §2.8 N5) — the Spark analog of
the reference's per-page ALTO XML / PAGE XML / plain-text artifacts
(/root/reference/processing_client/run_client.py:204-222, zip member
naming /root/reference/app/main/routes.py:252-254).

Two serializers build all three: ``serialize_alto`` the ALTO member,
``serialize_artifacts`` the PAGE member and the plain text.  Both are
pure JVM-side string assembly over the ordered span rows:
collect_list(struct(order, ...)) → array_sort → transform/format_string
→ array_join.  No UDFs; exact-match testable.

Each expression is Spark SQL text built in Python, its string
constants quoted by ``normalize.sql_str``, and each serializer is one
``groupBy(doc_id).agg`` plus one ``selectExpr``: Spark parses a stage's
expressions in one call, where building them from ``Column`` objects
costs a Py4J round trip per function, literal and alias.  The plans
are the ones the equivalent ``Column`` expressions give.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import KIND_MEDIA, MIN_CONFIDENCE
from .normalize import sql_str

_MEDIA = sql_str(KIND_MEDIA)
_NL = sql_str("\n")


def xml_escape(expr: str) -> str:
    """Minimal XML attribute/text escaping, & first.  Mirrored verbatim
    by the DuckDB oracle (extraction_sql.py) — keep the replace order in
    sync."""
    for char, entity in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                         ('"', "&quot;")):
        expr = f"replace({expr}, {sql_str(char)}, {sql_str(entity)})"
    return expr


def _sorted_lines(*fields: str) -> str:
    """The group's rows as structs, sorted on their first fields."""
    return f"array_sort(collect_list(struct({', '.join(fields)})))"


def _concat(*parts: str) -> str:
    return f"concat({', '.join(parts)})"


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
    conf) from ExtractResult.raw_spans, an explode of the text lines
    and the decoded media lines of ``extract``'s per-doc frame.  Pure
    JVM string assembly: collect_list → array_sort on (offset,
    line_idx) → transform → array_join; no UDF.  Over the grouped
    (salted) plan the explode keeps the aggregate's doc_id
    partitioning, so this groupBy adds no exchange: over a persisted
    extract it is one job that reads the cache.  Over the row plan it
    shuffles the lines on doc_id.
    """
    wc = sql_str(' WC="%.2f"')
    line = _concat(
        sql_str('    <TextLine ID="l'),
        "CAST(s.offset * 1000 + s.line_idx AS STRING)",
        sql_str('"'),
        f"CASE WHEN s.kind = {_MEDIA} THEN format_string({wc}, s.conf) ELSE '' END",
        sql_str('><String CONTENT="'),
        xml_escape("s.text"),
        sql_str('"/></TextLine>'),
    )
    lines = _sorted_lines("offset", "line_idx", "kind", "text", "conf")
    out = raw_spans.where(
        f"kind != {_MEDIA} OR conf > {MIN_CONFIDENCE}D"
    ).groupBy("doc_id").agg(
        F.expr(f"array_join(transform({lines}, s -> {line}), {_NL}) AS alto_lines")
    )
    head = sql_str('<alto><Layout><Page ID="%s">\n')
    tail = sql_str("\n</Page></Layout></alto>")
    return out.selectExpr(
        "doc_id",
        "format_string('%s_alto.xml', doc_id) AS alto_name",
        f"{_concat(f'format_string({head}, doc_id)', 'alto_lines', tail)} AS alto_xml",
    )


def serialize_artifacts(spans: DataFrame) -> DataFrame:
    """PAGE-XML + txt fan-out from the final (stripped, arabic-fixed,
    reading-ordered) spans, with artifact names '{doc}_page.xml' /
    '{doc}.txt' (routes.py:252-254, 213-222).  The ALTO member comes
    from ``serialize_alto`` (it has different filter/normalize
    semantics — see there).  The PAGE shape is simplified but
    deterministic: one line element per span in reading order."""
    lines = _sorted_lines("`order`", "kind", "text", "media_ref")
    line = _concat(
        sql_str('    <TextLine id="l'),
        "CAST(s.`order` AS STRING)",
        sql_str('" kind="'),
        "s.kind",
        sql_str('"><Unicode>'),
        xml_escape("s.text"),
        sql_str("</Unicode></TextLine>"),
    )
    out = spans.groupBy("doc_id").agg(
        F.expr(f"array_join(transform({lines}, s -> {line}), {_NL}) AS page_lines"),
        F.expr(f"array_join(transform({lines}, s -> s.text), {_NL}) AS txt"),
    )
    head = sql_str('<PcGts><Page imageFilename="%s">\n')
    tail = sql_str("\n</Page></PcGts>")
    return out.selectExpr(
        "doc_id",
        "format_string('%s_page.xml', doc_id) AS page_name",
        f"{_concat(f'format_string({head}, doc_id)', 'page_lines', tail)} AS page_xml",
        "format_string('%s.txt', doc_id) AS txt_name",
        "txt",
    )
