"""Main-content extraction (boilerplate classification) — the
north_rule's "HTML boilerplate strip / DOM heuristics" plane as a
block-level classifier in the style of jusText (Pomikálek 2011:
context-free block features, then a context-sensitive neighbor pass),
re-expressed entirely in Spark built-ins:

1. block segmentation: fixed windows of ``BLOCK_TOKENS`` tokens, built
   with ``sequence``/``slice``/``transform`` on the token array —
   pure codegen, NO token-level explode/shuffle; only the final
   per-block ``posexplode`` multiplies rows.
2. context-free class per block from link density (URL-token
   fraction), block length, and stopword density — 'bad' / 'short' /
   'good' / 'near_good'.
3. context-sensitive pass: 'short'/'near_good' blocks are promoted to
   'good' iff an adjacent block is context-free 'good' (lag/lead over
   a doc-partitioned window), else demoted to 'bad' — the jusText
   smoothing step, one partitioned window, scale-safe.
4. main content = the 'good' blocks re-joined in order.

Both queries have exact DuckDB oracle twins (same thresholds, same
integer-derived doubles, so the comparisons cannot diverge).  On this
corpus the URL feature is exercised structurally but fires ~never
(the synthetic documents carry no URLs); the classifier is driven by
stopword density and block length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..constants import STOPWORDS
from ..registry import make_registry
from ..session import load_table

REGISTRY, _reg = make_registry()

BLOCK_TOKENS = 15          # block = fixed token window (no HTML DOM here)
MIN_BLOCK_TOKENS = 5       # below → 'short' (jusText length_low analog)
STOPWORD_GOOD = 0.18       # ≥ → 'good' (stopwords_high analog)
LINK_DENSITY_BAD = 0.2     # > → 'bad' regardless of the rest
_URL_RE = "^https?://"

_SW_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def tokens_col(text_col="text"):
    return F.filter(F.split(text_col, " "), lambda t: t != F.lit(""))


def classify_blocks(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → one row per block with features, the
    context-free class, and the final (neighbor-smoothed) class."""
    d = docs.select("doc_id", tokens_col().alias("toks")).filter(
        F.size("toks") > 0
    )
    nb = F.ceil(F.size("toks") / F.lit(float(BLOCK_TOKENS))).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), nb - 1),
        lambda i: F.slice("toks", i * BLOCK_TOKENS + 1, BLOCK_TOKENS),
    )
    b = d.select("doc_id", F.posexplode(blocks).alias("block_idx", "btoks"))
    n = F.size("btoks")
    sw = F.size(
        F.filter(
            "btoks",
            lambda t: F.array_contains(
                F.array(*[F.lit(w) for w in STOPWORDS]), t
            ),
        )
    )
    lk = F.size(F.filter("btoks", lambda t: t.rlike(_URL_RE)))
    feat = b.select(
        "doc_id",
        "block_idx",
        "btoks",
        n.alias("n_toks"),
        F.round(sw / n.cast("double"), 6).alias("stopword_ratio"),
        F.round(lk / n.cast("double"), 6).alias("link_density"),
        F.when(lk / n.cast("double") > LINK_DENSITY_BAD, "bad")
        .when(n < MIN_BLOCK_TOKENS, "short")
        .when(sw / n.cast("double") >= STOPWORD_GOOD, "good")
        .otherwise("near_good")
        .alias("cf_class"),
    )
    w = Window.partitionBy("doc_id").orderBy("block_idx")
    neighbor_good = (F.lag("cf_class").over(w) == "good") | (
        F.lead("cf_class").over(w) == "good"
    )
    return feat.withColumn(
        "final_class",
        F.when(F.col("cf_class").isin("good", "bad"), F.col("cf_class"))
        .when(neighbor_good, "good")
        .otherwise("bad"),
    )


def main_content(docs: DataFrame) -> DataFrame:
    """Per-doc extracted main content: the 'good' blocks, in block
    order, re-joined with single spaces; plus block accounting."""
    classified = classify_blocks(docs)
    good_struct = F.when(
        F.col("final_class") == "good",
        F.struct(F.col("block_idx"), F.array_join("btoks", " ").alias("btext")),
    )
    return classified.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(good_struct)), lambda s: s.btext
            ),
            " ",
        ).alias("content"),
        F.count(F.when(F.col("final_class") == "good", 1)).alias("n_good"),
        F.count("*").alias("n_blocks"),
    )


_SQL_BLOCKS = f"""t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0),
b AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, CAST(ceil(len(toks) / {BLOCK_TOKENS}.0) AS INT)),
           i -> {{'block_idx': i,
                  'btoks': list_slice(toks, i * {BLOCK_TOKENS} + 1,
                                      i * {BLOCK_TOKENS} + {BLOCK_TOKENS})}})) AS s
  FROM t),
f AS (
  SELECT doc_id, s.block_idx AS block_idx, s.btoks AS btoks,
         len(s.btoks) AS n,
         len(list_filter(s.btoks, x -> list_contains({_SW_SQL}, x))) AS sw,
         len(list_filter(s.btoks, x -> regexp_matches(x, '{_URL_RE}'))) AS lk
  FROM b),
c AS (
  SELECT doc_id, block_idx, btoks, n,
         round(sw / CAST(n AS DOUBLE), 6) AS stopword_ratio,
         round(lk / CAST(n AS DOUBLE), 6) AS link_density,
         CASE WHEN lk / CAST(n AS DOUBLE) > {LINK_DENSITY_BAD} THEN 'bad'
              WHEN n < {MIN_BLOCK_TOKENS} THEN 'short'
              WHEN sw / CAST(n AS DOUBLE) >= {STOPWORD_GOOD} THEN 'good'
              ELSE 'near_good' END AS cf_class
  FROM f),
classified AS (
  SELECT *,
         CASE WHEN cf_class IN ('good', 'bad') THEN cf_class
              WHEN lag(cf_class) OVER w = 'good'
                   OR lead(cf_class) OVER w = 'good' THEN 'good'
              ELSE 'bad' END AS final_class
  FROM c WINDOW w AS (PARTITION BY doc_id ORDER BY block_idx))"""


@_reg(
    "td_mc_blocks",
    f"""WITH {_SQL_BLOCKS}
SELECT doc_id, block_idx, n AS n_toks, stopword_ratio, link_density,
       cf_class, final_class
FROM classified""",
)
def q_mc_blocks(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return classify_blocks(docs).select(
        "doc_id", "block_idx", "n_toks", "stopword_ratio", "link_density",
        "cf_class", "final_class",
    )


@_reg(
    "td_mc_extract",
    f"""WITH {_SQL_BLOCKS}
SELECT doc_id,
       coalesce(string_agg(
         CASE WHEN final_class = 'good'
              THEN array_to_string(btoks, ' ') END,
         ' ' ORDER BY block_idx), '') AS content,
       count(*) FILTER (WHERE final_class = 'good') AS n_good,
       count(*) AS n_blocks
FROM classified GROUP BY doc_id""",
)
def q_mc_extract(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return main_content(docs)
