"""Per-document text operators over the documents table: token
counting, quality scoring, a language-ID heuristic, fingerprinting,
the C4-style quality gate and deterministic split, repetition
metrics, sequence packing, and fixed-window chunking, plus the two
small corpus tables built from the same tokens (vocabulary head, IDF).
All pure JVM-side built-ins (codegen end-to-end); each has a DuckDB
oracle twin.

Registry entries follow the controlplane (fn, sql) convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..constants import STOPWORDS, WS_CLASS
from ..session import load_table
from .hashing import md5_byte_col, md5_byte_sql
from .maincontent import tokens_col

from ..registry import make_registry

REGISTRY, _reg = make_registry()


_WORD_RE = r"[A-Za-z0-9]+"
# explicit whitespace class — never \s (RE2 vs Java \x0B divergence,
# see operators/normalize.py)
_PUNCT_RE = r"[^A-Za-z0-9 \t\n\r\f\x0b]"
_SW_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


# ---- token counting: whitespace + BPE-ish regex ----
@_reg(
    "td_text_tokens",
    f"""SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws_tokens,
               len(regexp_extract_all(text, '{_WORD_RE}')) AS n_words,
               len(regexp_extract_all(text, '{_PUNCT_RE}')) AS n_punct
        FROM documents""",
)
def q_tokens(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens_col()).alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(_WORD_RE)).alias("n_words"),
        F.regexp_count("text", F.lit(_PUNCT_RE)).alias("n_punct"),
    )


# ---- quality scoring: length / stopword / token-length ratios ----
@_reg(
    "td_text_quality",
    f"""WITH t AS (
          SELECT doc_id, n_chars,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents)
        SELECT doc_id, n_chars,
               len(toks) AS n_tokens,
               round(len(list_filter(toks, x -> list_contains({_SW_SQL}, x)))
                     / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio,
               round(n_chars / CAST(len(toks) AS DOUBLE), 6) AS chars_per_token,
               (len(toks) >= 10 AND len(toks) <= 1000) AS length_ok
        FROM t WHERE len(toks) > 0""",
)
def q_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    toks = tokens_col()
    d = docs.select("doc_id", "n_chars", toks.alias("toks")).filter(
        F.size("toks") > 0
    )
    sw = F.size(
        F.filter(
            "toks",
            lambda t: F.array_contains(F.array(*[F.lit(w) for w in STOPWORDS]), t),
        )
    )
    n = F.size("toks")
    return d.select(
        "doc_id",
        "n_chars",
        n.alias("n_tokens"),
        F.round(sw / n.cast("double"), 6).alias("stopword_ratio"),
        F.round(F.col("n_chars") / n.cast("double"), 6).alias("chars_per_token"),
        ((n >= 10) & (n <= 1000)).alias("length_ok"),
    )


# ---- language-ID heuristic: stopword-hit-rate n-gram-free classifier ----
@_reg(
    "td_text_langid",
    f"""WITH t AS (
          SELECT doc_id, lang,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents),
        p AS (
          SELECT doc_id, lang,
                 CASE WHEN len(list_filter(toks, x -> list_contains({_SW_SQL}, x)))
                           / CAST(greatest(len(toks), 1) AS DOUBLE) > 0.02
                      THEN 'en' ELSE 'unk' END AS predicted
          FROM t)
        SELECT lang, predicted, count(*) AS n
        FROM p GROUP BY lang, predicted""",
)
def q_langid(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    toks = tokens_col()
    d = docs.select("doc_id", "lang", toks.alias("toks"))
    sw = F.size(
        F.filter(
            "toks",
            lambda t: F.array_contains(F.array(*[F.lit(w) for w in STOPWORDS]), t),
        )
    )
    ratio = sw / F.greatest(F.size("toks"), F.lit(1)).cast("double")
    pred = F.when(ratio > 0.02, "en").otherwise("unk")
    return (
        d.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


# ---- document fingerprint: md5 of whitespace-normalized lowercase text ----
@_reg(
    "td_text_fingerprint",
    f"""SELECT doc_id,
              md5(lower(trim(regexp_replace(text, '{WS_CLASS}+', ' ', 'g')))) AS fp
       FROM documents""",
)
def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", WS_CLASS + "+", " ")))
        ).alias("fp"),
    )


# ---- corpus vocabulary: global token counts, deterministic top-k ----
@_reg(
    "td_text_vocab",
    """WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents)
SELECT token, count(*) AS n
FROM tok GROUP BY token
ORDER BY n DESC, token ASC LIMIT 100""",
)
def q_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary head: global token counts, top-100 by count
    (total order via the token tie-break, so the LIMIT boundary is
    deterministic in both engines).  explode → partial-agg combine →
    one count shuffle → distributed top-k (TakeOrderedAndProject)."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.select(F.explode(tokens_col()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(100)
    )


# ---- corpus curation: C4-style quality gate + deterministic split ----
@_reg(
    "td_corpus_filter",
    f"""WITH t AS (
  SELECT doc_id, lang, n_chars,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
f AS (
  SELECT doc_id, lang,
         len(toks) AS n_tokens,
         round(len(list_filter(toks, x -> list_contains({_SW_SQL}, x)))
               / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS stopword_ratio,
         round(n_chars / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS chars_per_token
  FROM t)
SELECT doc_id, n_tokens, stopword_ratio, chars_per_token,
       (n_tokens >= 10 AND n_tokens <= 1000
        AND stopword_ratio >= 0.01 AND chars_per_token <= 12.0) AS keep
FROM f""",
)
def q_corpus_filter(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style document quality gate: length band, minimum stopword
    ratio (gibberish guard), maximum chars/token (no-space-blob guard).
    Emits the per-doc verdict with its features so downstream curation
    can audit WHY a doc was dropped — pure codegen, no shuffle."""
    docs = load_table(spark, sf, "documents")
    toks = tokens_col()
    t = docs.select("doc_id", "n_chars", toks.alias("toks"))
    n = F.greatest(F.size("toks"), F.lit(1))
    sw = F.size(
        F.filter(
            "toks",
            lambda t_: F.array_contains(F.array(*[F.lit(w) for w in STOPWORDS]), t_),
        )
    )
    swr = F.round(sw / n.cast("double"), 6)
    cpt = F.round(F.col("n_chars") / n.cast("double"), 6)
    nt = F.size("toks")
    return t.select(
        "doc_id",
        nt.alias("n_tokens"),
        swr.alias("stopword_ratio"),
        cpt.alias("chars_per_token"),
        (
            (nt >= 10) & (nt <= 1000) & (swr >= 0.01) & (cpt <= 12.0)
        ).alias("keep"),
    )


@_reg(
    "td_corpus_split",
    f"""WITH t AS (
  SELECT doc_id,
         {md5_byte_sql("CAST(doc_id AS VARCHAR)")} AS bucket
  FROM documents)
SELECT doc_id,
       CASE WHEN bucket < 205 THEN 'train'
            WHEN bucket < 230 THEN 'val'
            ELSE 'test' END AS split
FROM t""",
)
def q_corpus_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment from a content-stable
    hash of doc_id: the first md5 byte (two hex nibbles decoded by
    ascii arithmetic — engine-portable, no conv()) gives a uniform
    0-255 bucket split 205/25/26 ≈ 80/10/10.  Reproducible across
    engines, runs, and cluster sizes; no RNG, no shuffle."""
    docs = load_table(spark, sf, "documents")
    bucket = md5_byte_col(F.col("doc_id").cast("string"))
    split = (
        F.when(bucket < 205, "train")
        .when(bucket < 230, "val")
        .otherwise("test")
    )
    return docs.select("doc_id", split.alias("split"))


# ---- repetition metrics (Gopher-style quality signals) ----
@_reg(
    "td_text_repetition",
    """WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
g AS (
  SELECT doc_id, toks,
         [array_to_string(list_slice(toks, i, i + 1), ' ')
          for i in range(1, len(toks))] AS g2,
         [array_to_string(list_slice(toks, i, i + 2), ' ')
          for i in range(1, len(toks) - 1)] AS g3
  FROM t WHERE len(toks) >= 3)
SELECT doc_id,
       len(toks) AS n_tokens,
       round(1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6)
         AS dup_token_frac,
       round(1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE), 6)
         AS dup_2gram_frac,
       round(1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE), 6)
         AS dup_3gram_frac
FROM g""",
)
def q_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document repetition metrics (the Gopher repetition-filter
    family): duplicate fraction of tokens, 2-grams, and 3-grams —
    1 - distinct/total per doc.  Highly repetitive documents are a
    standard training-data exclusion signal.  Entirely per-row
    higher-order functions (transform/array_distinct): zero shuffle,
    zero Python."""
    docs = load_table(spark, sf, "documents")
    toks = tokens_col()
    d = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 3)

    def grams(n: int):
        return F.transform(
            F.sequence(F.lit(1), F.size("toks") - (n - 1)),
            lambda i: F.array_join(F.slice(F.col("toks"), i, n), " "),
        )

    def dup_frac(col):
        return F.round(
            1.0 - F.size(F.array_distinct(col)) / F.size(col).cast("double"), 6
        )

    return d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        dup_frac(F.col("toks")).alias("dup_token_frac"),
        dup_frac(grams(2)).alias("dup_2gram_frac"),
        dup_frac(grams(3)).alias("dup_3gram_frac"),
    )


# ---- sequence packing: bin assignment for training-batch assembly ----
PACK_CAPACITY = 2048
PACK_GROUPS = 64


@_reg(
    "td_pack_sequences",
    f"""WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         {md5_byte_sql("CAST(doc_id AS VARCHAR)", pos=3)}
           % {PACK_GROUPS} AS pack_group
  FROM documents),
s AS (
  SELECT doc_id, n_tokens, pack_group,
         sum(n_tokens) OVER (PARTITION BY pack_group
                             ORDER BY n_tokens DESC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS run
  FROM t WHERE n_tokens > 0)
SELECT doc_id, pack_group, n_tokens,
       CAST(floor((run - n_tokens) / {PACK_CAPACITY}.0) AS INT) AS bin_id
FROM s""",
)
def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy sequence packing for training-batch assembly: documents
    are hash-split into {PACK_GROUPS} independent pack groups (so the
    running-sum window is PARTITIONED — never a global single-task
    sort), ordered longest-first within each group, and assigned
    bin_id = floor(preceding_tokens / capacity).  A bin can overflow
    capacity by at most one document (next-fit-decreasing bound);
    grouping keeps the operator scale-free while the assignment stays
    fully deterministic.

    pack_group decodes TWO md5 hex nibbles to a uniform 0-255 byte
    before % PACK_GROUPS (as td_corpus_split does) — a single hex char
    has only 16 values, which would silently cap the window's
    parallelism at 16 groups (ADVICE r2)."""
    docs = load_table(spark, sf, "documents")
    n = F.size(tokens_col())
    group = md5_byte_col(F.col("doc_id").cast("string"), pos=3) % PACK_GROUPS
    t = docs.select(
        "doc_id", n.alias("n_tokens"), group.alias("pack_group")
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("pack_group")
        .orderBy(F.col("n_tokens").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id",
        "pack_group",
        "n_tokens",
        F.floor((run - F.col("n_tokens")) / float(PACK_CAPACITY))
        .cast("int")
        .alias("bin_id"),
    )


# ---- document frequency / IDF table (TF-IDF plane) ----
@_reg(
    "td_text_idf",
    """WITH tok AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))
           AS token
  FROM documents),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT token, count(*) AS df,
       round(ln((n.n_docs + 1.0) / (count(*) + 1.0)), 6) AS idf
FROM tok, n
GROUP BY token, n.n_docs""",
)
def q_idf(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus document-frequency / smoothed-IDF table — the weights
    behind TF-IDF retrieval and rare-token filters.  Per-doc distinct
    tokens (df counts documents, not occurrences), one explode + one
    combine-shuffled count; the corpus size joins in as a broadcast
    single-row aggregate."""
    docs = load_table(spark, sf, "documents")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_col())).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "df",
            F.round(
                F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("idf"),
        )
    )


# ---- fixed-window document chunking (training-sample preparation) ----

CHUNK_SIZE = 48      # tokens per chunk
CHUNK_OVERLAP = 16   # tokens shared with the previous chunk
CHUNK_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


def chunk_documents(
    df: DataFrame,
    chunk_size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    the context-window preparation step of an LLM training pipeline
    (reference computes per-page units instead,
    processing_client/run_client.py; chunking is its training-data
    analog over the text plane).

    Chunk k covers tokens [k*stride+1, k*stride+chunk_size] (1-based,
    stride = chunk_size - overlap); the last chunk is the first one
    whose window reaches the end of the document, so every token lands
    in ≥1 chunk and no chunk starts past the end.  Empty documents
    yield no chunks.

    Scale shape: pure per-row ops — split, a bounded `sequence` +
    `explode` (fan-out ≈ n_tokens/stride), `slice`, `array_join`.
    Zero shuffle, zero Python; at 100 TB this is a map-only stage whose
    output partitioning follows the input's.
    """
    stride = chunk_size - overlap
    if stride <= 0:
        raise ValueError("chunk overlap must be smaller than chunk size")
    n = F.size("toks")
    # ceil((n - overlap) / stride), floored at 1: the count k such that
    # chunk k-1 reaches the end.  Exact in integer arithmetic.
    n_chunks = F.greatest(
        F.lit(1), F.floor((n - overlap + (stride - 1)) / F.lit(stride))
    )
    t = df.select(
        "doc_id", tokens_col().alias("toks")
    ).filter(F.size("toks") > 0)
    k = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id")
    c = t.select("doc_id", "toks", k)
    start = F.col("chunk_id").cast("long") * stride + 1
    chunk = F.slice("toks", start, chunk_size)
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@_reg(
    "td_chunk_documents",
    f"""WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
n AS (
  SELECT doc_id, toks,
         greatest(1, CAST(floor((len(toks) - {CHUNK_OVERLAP}
                                 + {CHUNK_STRIDE - 1}) / {CHUNK_STRIDE}.0)
                     AS BIGINT)) AS n_chunks
  FROM t WHERE len(toks) > 0),
c AS (
  SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_id FROM n)
SELECT doc_id, chunk_id,
       chunk_id * {CHUNK_STRIDE} + 1 AS start_tok,
       len(list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                      chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE})) AS n_tokens,
       array_to_string(list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                       chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' ')
         AS chunk_text
FROM c""",
)
def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Registry wrapper: chunk the documents table at the default
    {CHUNK_SIZE}/{CHUNK_OVERLAP} token geometry."""
    return chunk_documents(load_table(spark, sf, "documents"))

