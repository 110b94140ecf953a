"""The one shared definition of the md5 hex-byte bucket idiom.

Deterministic hash-bucketing (corpus splits, pack groups, the
snapshot buckets of the corpus diff) decodes two md5 hex nibbles into
a uniform 0-255 byte with ascii arithmetic — portable across Spark
and DuckDB (no conv(), no from_hex).  Its cross-engine equivalence is
load-bearing for every oracle pair that uses it, so both dialects are
generated HERE and nowhere else.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_byte_col(expr: Column, pos: int = 1) -> Column:
    """Spark Column: hex nibbles at (pos, pos+1) of md5(expr) decoded
    to a uniform 0-255 integer.  ``expr`` must already be a string
    column (cast upstream, so both dialects cast identically)."""
    h = F.md5(expr)

    def nibble(p: int) -> Column:
        a = F.ascii(F.substring(h, p, 1))
        return a - F.when(a >= 97, 87).otherwise(48)

    return nibble(pos) * 16 + nibble(pos + 1)


def md5_byte_sql(expr: str, pos: int = 1) -> str:
    """The DuckDB-SQL twin of md5_byte_col, over a SQL expression
    string (pre-cast to VARCHAR by the caller, same as the Column
    form)."""

    def nibble(p: int) -> str:
        a = f"ascii(substr(md5({expr}), {p}, 1))"
        return f"({a} - CASE WHEN {a} >= 97 THEN 87 ELSE 48 END)"

    return f"({nibble(pos)} * 16 + {nibble(pos + 1)})"

