r"""Normalization stages — all JVM-side built-ins (no Python in the hot
path; whole-stage codegen applies end-to-end).

Each expression function here returns Spark SQL expression text over a
given SQL expression (``fix_arabic("text")``), built from the constants
and the import-time tables, and each stage applies it in one
``withColumn``/``where`` call: Spark parses the text on the JVM in one
Py4J round trip, where the same tree of ``Column`` calls costs one per
function and literal (the ligature chain alone cost about 300).  ``sql_str``
quotes a Python string as a SQL literal, backslashes doubled (Spark
unescapes them), so a pattern like ``WS_CLASS`` reaches the regex
engine unchanged.  The plans are the ones the ``Column`` form gives.

- ``normalize_text_spans``: the text-branch boilerplate strip (SURVEY
  §2.9 X10): collapse whitespace runs, trim, drop empty spans.
  Whitespace is the EXPLICIT class ``[ \t\n\r\f\x0b]`` in all three
  engines: Java's ASCII ``\s``, Python's ``re.ASCII \s`` and RE2's
  ``\s`` disagree on \x0B (RE2 excludes it), and all of them exclude
  unicode whitespace like NBSP — so the engine pins the exact char
  set rather than trusting any ``\s``.  NBSP is content.  (Both
  divergences were found by the hypothesis property test + review.)
- ``normalize_transcriptions``: the Arabic visual→logical fix (SURVEY
  §2.7 F10; reference: arabic_helper.label_form_to_string at
  /root/reference/processing_client/run_client.py:218-220).  Arabic
  detection is a char-class rlike (logical block + presentation-form
  blocks); the fix is mark-reattach → reverse → presentation-form
  mapping, ALL built-in codegen expressions (regexp_replace + reverse
  + one translate + a 33-step ligature-replace chain), which beats the
  survey's pandas_udf suggestion (no Arrow crossing).  The
  presentation-form table (Unicode Arabic Presentation Forms-A/B →
  logical base letters) is generated at import time from stdlib
  ``unicodedata`` NFKC decompositions: 1→1 contextual letter forms go
  through one ``translate``; the 33 multi-char decompositions
  (lam-alef and Uyghur/yeh ligatures, tatweel+mark medial forms) are
  chained ``replace``s.  Scope contract: FB50–FBFF and FE70–FEFF are
  fully mapped (the blocks CTC OCR alphabets emit); the FC00–FDC7
  *optional typographic* ligature block is detected (reversed) but not
  decomposed — no OCR alphabet emits it.  Combining-mark order inside
  a grapheme: marks are moved in front of their base before the
  codepoint reverse so they end up after it again (a run of ≥2 marks
  on one base comes back run-reversed — canonically equivalent under
  Unicode reordering, documented corner).
- ``filter_confident_lines``: the PAGE/txt-path strip
  (run_client.py:36-37,213-216): the reference keeps only lines where
  ``l.transcription_confidence and l.transcription_confidence >
  min_conf`` — i.e. NULL/zero-confidence lines are dropped too.  Its
  ``if args.min_confidence > 0`` gate always holds here: the engine
  pins ``MIN_CONFIDENCE > 0`` (``oracle.py`` keeps the full gate).
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import MIN_CONFIDENCE, WS_CLASS

# logical Arabic + supplement + presentation-form blocks: any of these
# marks a line as Arabic (the reference's is_arabic_line analog)
ARABIC_CHARCLASS = (
    "[\u0600-\u06FF\u0750-\u077F\u08A0-\u08FF"
    "\uFB50-\uFDFF\uFE70-\uFEFF]"
)


def _build_presentation_tables() -> tuple[str, str, list[tuple[str, str]]]:
    """Presentation-form → logical tables from stdlib unicodedata NFKC:
    (translate_from, translate_to, [(ligature_form, logical_seq), ...]).
    Isolated harakat forms decompose to " <mark>"; we map them 1→1 to
    the bare mark (the space is a rendering carrier, not content)."""
    t_from, t_to, ligs = [], [], []
    for cp in list(range(0xFB50, 0xFC00)) + list(range(0xFE70, 0xFF00)):
        ch = chr(cp)
        d = unicodedata.normalize("NFKC", ch)
        if d == ch:
            continue
        if len(d) == 1:
            t_from.append(ch)
            t_to.append(d)
        elif len(d) == 2 and d[0] == " ":
            t_from.append(ch)
            t_to.append(d[1])
        else:
            ligs.append((ch, d))
    return "".join(t_from), "".join(t_to), ligs


_PF_FROM, _PF_TO, _PF_LIGATURES = _build_presentation_tables()

# combining marks (bare + presentation forms) and Arabic base letters
# (logical + presentation letter forms) for the grapheme-order fix
_MARK_CLASS = "[\u064B-\u065F\u0670\uFE70-\uFE7F]"
_BASE_CLASS = (
    "[\u0621-\u064A\u066E-\u06D3\u06D5\u0750-\u077F"
    "\uFB50-\uFDFF\uFE80-\uFEFC]"
)


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal.  Spark unescapes backslash
    sequences inside a literal and drops the backslash of an unknown
    one (``'[\\x0b]'`` reads back as ``[x0b]``), so every backslash is
    doubled and every quote escaped; any other character, a tab or an
    Arabic ligature included, stands for itself."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def normalized_text(expr: str) -> str:
    return f"trim(regexp_replace({expr}, {sql_str(WS_CLASS + '+')}, ' '))"


def normalize_text_spans(df: DataFrame) -> DataFrame:
    out = df.withColumn("text", F.expr(normalized_text("text")))
    return out.where("text != ''")


def label_form_to_logical(expr: str) -> str:
    """Visual-order presentation-form label → logical-order string (the
    reference's arabic_helper.label_form_to_string, run_client.py:220),
    unconditionally applied.  Three codegen stages:

    1. mark reattachment: in a visual label a combining mark follows
       its base; a plain codepoint reverse would flip that, so move
       mark-runs in front of their base first — after the reverse they
       trail it again;
    2. codepoint reverse (visual → logical order);
    3. presentation forms → logical letters: one ``translate`` for the
       249 1→1 contextual forms (incl. isolated harakat carried on a
       rendering space), then 33 ``replace``s for multi-char NFKC
       decompositions (lam-alef &c. — their decompositions are already
       logical order, and they are single codepoints pre-reverse, so
       order is preserved)."""
    marks = sql_str(f"({_BASE_CLASS})({_MARK_CLASS}+)")
    fixed = f"regexp_replace({expr}, {marks}, '$2$1')"
    fixed = f"translate(reverse({fixed}), {sql_str(_PF_FROM)}, {sql_str(_PF_TO)})"
    for form, logical in _PF_LIGATURES:
        fixed = f"replace({fixed}, {sql_str(form)}, {sql_str(logical)})"
    return fixed


def fix_arabic(expr: str) -> str:
    return (
        f"CASE WHEN {expr} RLIKE {sql_str(ARABIC_CHARCLASS)} "
        f"THEN {label_form_to_logical(expr)} ELSE {expr} END"
    )


def normalize_transcriptions(df: DataFrame) -> DataFrame:
    return df.withColumn("text", F.expr(fix_arabic("text")))


def confident(conf: str) -> str:
    """The strip's keep-predicate at the engine's pinned
    ``MIN_CONFIDENCE > 0`` (the ``D`` suffix makes a double literal; a
    bare ``0.66`` is a decimal)."""
    return f"({conf} IS NOT NULL AND {conf} > {MIN_CONFIDENCE}D)"


def filter_confident_lines(df: DataFrame) -> DataFrame:
    return df.where(confident("conf"))
