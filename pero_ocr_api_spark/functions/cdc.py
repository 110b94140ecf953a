"""Change-data-capture shapes: MERGE-style upsert and SCD2 history.

The reference mutates rows in place (SQLAlchemy UPDATEs on page state,
/root/reference/app/db/model.py; processing_client re-uploads results
over prior ones).  A lakehouse expresses the same lifecycle as
set-based operations over immutable snapshots:

- **upsert (MERGE INTO ... WHEN MATCHED UPDATE / NOT MATCHED INSERT)**
  = source ∪ (target ⟕anti source): one anti join on the key — the
  runtime bloom filter (tests/test_runtime_filter.py) cuts the target
  scan when the change set is selective, and the result commits as a
  new snapshot via the checkpoint manifest plane;
- **SCD2 versioning** = change-point detection per key (lag) + validity
  intervals (lead) — one keyed window shuffle, never a self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import make_registry
from ..session import load_table

REGISTRY, _reg = make_registry()


def merge_upsert(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """MERGE semantics over whole rows: source rows win on key match,
    unmatched target rows survive, unmatched source rows insert.
    Equivalent to MERGE INTO t USING s ON t.key = s.key
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *.

    Scale shape: ONE left-anti join on the key (AQE picks broadcast
    when the change set is small, shuffle otherwise; the runtime bloom
    filter prunes the target scan either way) + a union.  No window,
    no full outer join — the matched rows never need pairing because
    the source row IS the result."""
    return source.unionByName(target.join(source.select(key), key, "left_anti"))


# deterministic synthetic change set over `documents`: every 10th doc
# gets re-texted (UPDATE), and 5 brand-new docs insert
_UPSERT_SRC_SQL = """src AS (
  SELECT doc_id, upper(text) AS text, lang, source,
         CAST(length(upper(text)) AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'new doc ' || doc_id AS text,
         'en' AS lang, 'ingest' AS source,
         CAST(length('new doc ' || doc_id) AS BIGINT) AS n_chars
  FROM documents WHERE doc_id < 5)"""


@_reg(
    "td_merge_upsert",
    f"""WITH {_UPSERT_SRC_SQL}
SELECT doc_id, text, lang, source, n_chars FROM src
UNION ALL
SELECT t.doc_id, t.text, t.lang, t.source, t.n_chars
FROM documents t
WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.doc_id = t.doc_id)""",
)
def q_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Registry probe of :func:`merge_upsert` with a deterministic
    change set: updates (every 10th doc re-texted) + inserts (5 new
    ids).  The oracle is the literal MERGE expansion in SQL."""
    target = load_table(spark, sf, "documents")
    updates = target.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.upper("text").alias("text"),
        "lang",
        "source",
        F.length(F.upper("text")).cast("long").alias("n_chars"),
    )
    inserts = target.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("new doc "), F.col("doc_id").cast("string")).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("ingest").alias("source"),
        F.length(
            F.concat(F.lit("new doc "), F.col("doc_id").cast("string"))
        ).cast("long").alias("n_chars"),
    )
    source = updates.unionByName(inserts)
    return merge_upsert(
        target.select("doc_id", "text", "lang", "source", "n_chars"),
        source,
        "doc_id",
    )


def scd2_versions(
    events: DataFrame,
    key: str = "user_id",
    attr: str = "event_type",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Slowly-changing-dimension type-2 history of ``attr`` per ``key``:
    one row per change point, with [valid_from, valid_to) intervals
    (valid_to NULL = current) and a dense version number.

    Scale shape: one window shuffle on the key; change-point detection
    is lag() != current (a row-local comparison after the sort), and
    validity intervals come from lead() over the ALREADY-FILTERED
    change points — never a self-join or a global sort."""
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    chg = (
        events.select(key, attr, ts, tiebreak)
        .withColumn("_prev", F.lag(attr).over(w))
        .filter(F.col("_prev").isNull() | (F.col(attr) != F.col("_prev")))
    )
    w2 = Window.partitionBy(key).orderBy(ts, tiebreak)
    return chg.select(
        F.col(key),
        F.col(attr),
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w2).alias("valid_to"),
        F.row_number().over(w2).alias("version"),
    )


@_reg(
    "td_scd2_versions",
    """WITH chg AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
cp AS (
  SELECT user_id, event_type, ts, event_id FROM chg
  WHERE prev IS NULL OR event_type <> prev)
SELECT user_id, event_type,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS valid_to,
       CAST(row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS BIGINT) AS version
FROM cp""",
)
def q_scd2_versions(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 history of each user's event_type over the events table."""
    return scd2_versions(load_table(spark, sf, "events"))


# ---- op-coded CDC MERGE (insert / update / DELETE) ----


def merge_cdc_ops(target: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """Full CDC apply: ``changes`` carries an ``op`` column
    ('I' insert, 'U' update, 'D' delete).  Equivalent to
    MERGE INTO t USING c ON t.key = c.key
    WHEN MATCHED AND c.op = 'D' THEN DELETE
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED AND c.op <> 'D' THEN INSERT *.

    Scale shape: still ONE left-anti join on the key plus a union —
    deletes need no second pass because every changed key (deleted or
    not) leaves the target via the same anti join, and only non-delete
    change rows re-enter via the union.  Last-op-wins within the batch
    is resolved BEFORE the join by a per-key window over the change
    set (the small side), so the target scan is unaffected.  Ties on
    seq resolve deterministically by op ('D' < 'I' < 'U' ascending, so
    a delete wins a same-seq tie — the conservative choice) instead of
    leaving the winner to partition order."""
    w = Window.partitionBy(key).orderBy(F.desc("seq"), F.asc("op"))
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    survivors = target.join(latest.select(key), key, "left_anti")
    applied = latest.filter(F.col("op") != "D").drop("op", "seq")
    return applied.unionByName(survivors)


# deterministic change set over `documents`: every 10th doc updates,
# every 7th DELETES (op precedence: a doc hit by both is deleted iff
# the delete has the higher seq — here deletes carry seq 2), and 5 new
# docs insert.
_CDC_SRC_SQL = """src AS (
  SELECT doc_id, upper(text) AS text, lang, source,
         CAST(length(upper(text)) AS BIGINT) AS n_chars,
         'U' AS op, 1 AS seq
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, text, lang, source, n_chars, 'D' AS op, 2 AS seq
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'new doc ' || doc_id AS text,
         'en' AS lang, 'ingest' AS source,
         CAST(length('new doc ' || doc_id) AS BIGINT) AS n_chars,
         'I' AS op, 1 AS seq
  FROM documents WHERE doc_id < 5),
latest AS (
  SELECT doc_id, text, lang, source, n_chars, op FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC, op ASC) AS rn
    FROM src) t WHERE rn = 1)"""


@_reg(
    "td_merge_cdc_delete",
    f"""WITH {_CDC_SRC_SQL}
SELECT doc_id, text, lang, source, n_chars FROM latest WHERE op <> 'D'
UNION ALL
SELECT t.doc_id, t.text, t.lang, t.source, t.n_chars
FROM documents t
WHERE NOT EXISTS (SELECT 1 FROM latest WHERE latest.doc_id = t.doc_id)""",
)
def q_merge_cdc_delete(spark: SparkSession, sf: str) -> DataFrame:
    """Registry probe of :func:`merge_cdc_ops`: updates (every 10th
    doc), DELETES (every 7th doc, winning on seq where both hit), and
    5 inserts — the oracle is the literal op-coded MERGE expansion."""
    target = load_table(spark, sf, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    updates = target.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.upper("text").alias("text"),
        "lang", "source",
        F.length(F.upper("text")).cast("long").alias("n_chars"),
        F.lit("U").alias("op"), F.lit(1).alias("seq"),
    )
    deletes = target.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", "text", "lang", "source", "n_chars",
        F.lit("D").alias("op"), F.lit(2).alias("seq"),
    )
    inserts = target.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("new doc "), F.col("doc_id").cast("string")).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("ingest").alias("source"),
        F.length(
            F.concat(F.lit("new doc "), F.col("doc_id").cast("string"))
        ).cast("long").alias("n_chars"),
        F.lit("I").alias("op"), F.lit(1).alias("seq"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    return merge_cdc_ops(target, changes, "doc_id")
