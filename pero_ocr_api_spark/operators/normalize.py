r"""Normalization stages — all JVM-side built-ins (no Python in the hot
path; whole-stage codegen applies end-to-end).

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
  + one translate + a short ligature-replace chain), which beats the
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

from pyspark.sql import Column, DataFrame
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


def normalized_text(col: Column) -> Column:
    return F.trim(F.regexp_replace(col, WS_CLASS + "+", " "))


def normalize_text_spans(df: DataFrame) -> DataFrame:
    out = df.withColumn("text", normalized_text(F.col("text")))
    return out.filter(F.col("text") != "")


def label_form_to_logical(col: Column) -> Column:
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
    fixed = F.regexp_replace(
        col, f"({_BASE_CLASS})({_MARK_CLASS}+)", "$2$1"
    )
    fixed = F.translate(F.reverse(fixed), _PF_FROM, _PF_TO)
    for form, logical in _PF_LIGATURES:
        fixed = F.replace(fixed, F.lit(form), F.lit(logical))
    return fixed


def fix_arabic(col: Column) -> Column:
    return F.when(
        col.rlike(ARABIC_CHARCLASS), label_form_to_logical(col)
    ).otherwise(col)


def normalize_transcriptions(df: DataFrame) -> DataFrame:
    return df.withColumn("text", fix_arabic(F.col("text")))


def confident(conf: Column) -> Column:
    """The strip's keep-predicate at the engine's pinned
    ``MIN_CONFIDENCE > 0``."""
    return conf.isNotNull() & (conf > F.lit(MIN_CONFIDENCE))


def filter_confident_lines(df: DataFrame) -> DataFrame:
    return df.filter(confident(F.col("conf")))
