"""Text-analysis operators for large-scale training-data pipelines:
token counting, quality scoring, language-ID heuristic, document
fingerprinting.  All pure JVM-side built-ins (codegen end-to-end);
each has a DuckDB oracle twin.

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


# ---- per-language equi-depth length histogram (exact deciles) ----

N_TILES = 10


@_reg(
    "td_length_deciles",
    f"""WITH t AS (
  SELECT lang,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         doc_id
  FROM documents),
d AS (
  SELECT lang, n_tokens,
         ntile({N_TILES}) OVER (PARTITION BY lang
                                ORDER BY n_tokens NULLS LAST, doc_id) AS decile
  FROM t)
SELECT lang, decile,
       count(*) AS n_docs,
       min(n_tokens) AS lo,
       max(n_tokens) AS hi
FROM d GROUP BY lang, decile""",
)
def q_length_deciles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact equi-depth token-length deciles per language: ntile over a
    per-lang sort (doc_id tie-break makes bucket edges deterministic
    across engines), then per-bucket count/lo/hi — the corpus length
    profile a curation pass reads before choosing filter thresholds.

    Scale shape: ONE shuffle, partitioned by lang; the sort is per-lang
    (never global).  Exact ranks do require each language's rows to
    sort within its partition — for a 100 TB corpus where one language
    dominates, profile with the mergeable GK sketch
    (`td_sketch_quantiles`) instead and keep this exact form for
    per-stratum slices; the engine offers both."""
    docs = load_table(spark, sf, "documents")
    t = docs.select(
        "lang", F.size(tokens_col()).alias("n_tokens"), "doc_id"
    )
    # NULL n_tokens (NULL text): Spark default-asc sorts NULLS FIRST
    # where DuckDB sorts NULLS LAST — pin NULLS LAST so ntile bucket
    # assignment is engine-identical (fuzz-gate find).
    w = Window.partitionBy("lang").orderBy(
        F.asc_nulls_last("n_tokens"), "doc_id"
    )
    return (
        t.withColumn("decile", F.ntile(N_TILES).over(w))
        .groupBy("lang", "decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("lo"),
            F.max("n_tokens").alias("hi"),
        )
    )


# ---- unigram cross-entropy scoring (LM-based quality signal) ----


@_reg(
    "td_text_unigram_ce",
    """WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS token
  FROM documents),
vocab AS (
  SELECT token, count(*) AS c FROM tok GROUP BY token),
tot AS (
  SELECT sum(c) AS total, count(*) AS v FROM vocab)
SELECT doc_id,
       count(*) AS n_tokens,
       round(sum(CAST(round(-ln((c + 1.0) / (total + v)) * 1000000)
                      AS BIGINT))
             / (1000000.0 * count(*)), 6) AS cross_entropy
FROM tok JOIN vocab USING (token) CROSS JOIN tot
GROUP BY doc_id""",
)
def q_unigram_ce(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document unigram cross-entropy against the corpus's own
    add-1-smoothed unigram distribution — the KenLM-style perplexity
    quality gate of a curation pipeline reduced to its relational
    skeleton (a real deployment swaps the corpus unigram table for a
    trained LM table; the join/aggregate shape is identical).  High
    cross-entropy = improbable token stream = gibberish candidate.

    Scale shape: one token-explode, a combine-shuffled vocab count, the
    score join is a plain equi-join on token (broadcastable while the
    vocab fits, shuffle otherwise — AQE decides), and the corpus-size
    totals join in as a broadcast single-row aggregate.  Float
    discipline: each token's logp is snapped to a 1e-6 integer grid and
    the per-doc sum runs in BIGINT — exact and order-independent — so
    neither summation order nor a rounding-midpoint landing can flip the
    oracle hash (a float64 sum rounded post-hoc did, at sf0.1: one doc's
    sum sat exactly on a 4dp midpoint and the two engines' summation
    orders broke the tie differently)."""
    docs = load_table(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col()).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("c"))
    tot = vocab.agg(F.sum("c").alias("total"), F.count("*").alias("v"))
    logp = -F.log((F.col("c") + 1.0) / (F.col("total") + F.col("v")))
    logp_micro = F.round(logp * 1000000.0, 0).cast("long")
    return (
        tok.join(vocab, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum(logp_micro) / (1000000.0 * F.count("*")), 6
            ).alias("cross_entropy"),
        )
    )


# ---- BM25 retrieval scoring (Robertson/Sparck-Jones) ----

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("hash", "join", "vector")
BM25_TOP_K = 20
_BM25_Q_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY)


@_reg(
    "td_text_bm25",
    f"""WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS token
  FROM documents),
dl AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
  FROM documents),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok
  WHERE token IN ({_BM25_Q_SQL}) GROUP BY doc_id, token),
dfreq AS (
  SELECT token, count(*) AS df_t FROM tf GROUP BY token),
part AS (
  SELECT t.doc_id,
         CAST(round(ln(1.0 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
                    * ((t.tf * ({BM25_K1} + 1.0))
                       / (t.tf + {BM25_K1}
                          * (1.0 - {BM25_B}
                             + {BM25_B} * l.dl / s.avgdl)))
                    * 1000000.0) AS BIGINT) AS micro
  FROM tf t JOIN dfreq d USING (token) JOIN dl l USING (doc_id)
  CROSS JOIN stats s)
SELECT doc_id, round(sum(micro) / 1000000.0, 6) AS bm25,
       count(*) AS n_hit
FROM part GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP_K}""",
)
def q_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-k document retrieval for a fixed query-term set — the
    classic lexical ranking a training-data pipeline uses for targeted
    corpus search and retrieval-based decontamination over the
    documents table.

    Scale shape: doc length is a PER-ROW column (size of the token
    array — no explode, no shuffle); the token explode is filtered to
    the query terms before anything shuffles, so only matching tokens
    reach the (doc_id, token) tf aggregate; per-term document
    frequencies reduce that to |q| rows (broadcast); corpus stats join
    in as a broadcast single-row aggregate; the final ranking is a
    TakeOrderedAndProject top-k, not a global sort.  Float discipline
    mirrors td_text_unigram_ce: each (doc, term) partial score snaps to
    a 1e-6 integer grid and the per-doc sum runs in BIGINT, so
    summation order cannot flip the oracle hash."""
    docs = load_table(spark, sf, "documents")
    dl = docs.select("doc_id", F.size(tokens_col()).alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        docs.select("doc_id", F.explode(tokens_col()).alias("token"))
        .filter(F.col("token").isin(*BM25_QUERY))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df_t"))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    sat = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1
        * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    micro = F.round(idf * sat * 1000000.0, 0).cast("long")
    return (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", micro.alias("micro"))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("micro") / 1000000.0, 6).alias("bm25"),
            F.count("*").alias("n_hit"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOP_K)
    )


# ---- Zipf-law fit over the corpus rank-frequency curve ----
@_reg(
    "td_text_zipf",
    """WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS token
  FROM documents),
vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rank
  FROM vocab)
SELECT count(*) AS n_types,
       round(regr_slope(ln(c), ln(rank)), 6) AS zipf_slope,
       round(regr_intercept(ln(c), ln(rank)), 6) AS ln_c1
FROM ranked""",
)
def q_zipf(spark: SparkSession, sf: str) -> DataFrame:
    """Least-squares Zipf exponent of the corpus rank-frequency curve
    (natural text ≈ -1; a far-off slope is a corpus-health smell —
    boilerplate floods flatten it, dedup failures steepen it).

    Scale shape: the vocab count is the only token-volume shuffle; the
    regression runs over |vocab| rows via the regr_* aggregate family
    (mergeable sufficient statistics — one partial per partition, the
    same shape at 100 TB).  The rank window is global — a single-task
    sort of the VOCAB relation (corpus-sublinear; fine to ~1e8 types).
    At a vocabulary that outgrows one task, swap in the df-histogram
    two-pass rank, or fit on the td_text_vocab top-k: the Zipf tail
    below it contributes ~zero leverage to the regression.  ln/regr arithmetic is float64 in both
    engines over identical integer (c, rank) inputs; 6dp rounding
    absorbs the ulp-level summation-order drift."""
    docs = load_table(spark, sf, "documents")
    vocab = (
        docs.select(F.explode(tokens_col()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    ranked = vocab.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), "token"))
        .alias("rank"),
    )
    return ranked.agg(
        F.count("*").alias("n_types"),
        F.round(F.expr("regr_slope(ln(c), ln(rank))"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_intercept(ln(c), ln(rank))"), 6).alias("ln_c1"),
    )


# ---- BPE pair-count step (tokenizer training core) ----
BPE_TOP_K = 20


@_reg(
    "td_text_bpe_pairs",
    f"""WITH words AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
  FROM documents),
pairs AS (
  SELECT unnest([substr(w, i, 2) for i in range(1, length(w))]) AS pair
  FROM words WHERE length(w) >= 2),
counted AS (SELECT pair, count(*) AS n FROM pairs GROUP BY pair),
ranked AS (
  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rank
  FROM counted)
SELECT rank, pair, n FROM ranked WHERE rank <= {BPE_TOP_K}""",
)
def q_bpe_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The inner step of BPE tokenizer training: corpus-wide counts of
    adjacent symbol pairs within words, top-{BPE_TOP_K} by frequency —
    the pair the trainer would merge next is rank 1.  Iterating
    (count → merge best pair → recount) IS distributed BPE training;
    one verified step pins the recurrence.

    Scale shape: pair extraction is a per-row higher-order function
    (sequence → substr, zero shuffle, whole-stage codegen); the only
    shuffle is the pair-count groupBy, whose key domain is bounded by
    |alphabet|^2 (map-side partial aggregation collapses each partition
    to at most that many rows before the exchange).  The rank window is
    global but runs over that same bounded relation — a one-task sort
    of <= a few thousand rows at any corpus size.  No driver-side
    vocabulary state, unlike the classic single-node BPE trainer."""
    docs = load_table(spark, sf, "documents")
    words = docs.select(F.explode(tokens_col()).alias("w")).filter(
        F.length("w") >= 2
    )
    pair = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        )
    )
    counted = (
        words.select(pair.alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
    )
    ranked = counted.select(
        "pair", "n",
        F.row_number().over(Window.orderBy(F.desc("n"), "pair")).alias("rank"),
    )
    return ranked.filter(F.col("rank") <= BPE_TOP_K).select("rank", "pair", "n")


# ---- fastText-style hashed linear quality classifier ----
def _classifier_sql() -> str:
    from .hashing import md5_u16_sql

    u16 = md5_u16_sql("f")
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
fe AS (
  SELECT doc_id,
         list_concat(
           toks,
           [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
         ) AS feats
  FROM t WHERE len(toks) > 0),
sc AS (
  SELECT doc_id,
         len(feats) AS n_feats,
         round(list_sum(list_transform(feats, f -> {u16}))
               / (len(feats) * 65535.0) * 2.0 - 1.0, 6) AS cls_score
  FROM fe)
SELECT doc_id, n_feats, cls_score,
       round(1.0 / (1.0 + exp(-4.0 * cls_score)), 6) AS keep_prob,
       round(1.0 / (1.0 + exp(-4.0 * cls_score)), 6) >= 0.5 AS keep
FROM sc"""


@_reg("td_text_hash_classifier", _classifier_sql())
def q_hash_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """fastText-style hashed linear quality gate (the CCNet / LLaMA
    corpus-filter shape): unigram + bigram features via the hashing
    trick, a linear score, a sigmoid keep-probability, a boolean gate.
    Weights come from the feature hash itself (md5-u16 → uniform
    [0, 65535]), the sandbox stand-in for a broadcast trained weight
    vector — swapping in real weights changes one `transform` lambda
    (hash % D indexes a broadcast array) and nothing about the plan.

    Float discipline: per-feature weights are EXACT integers summed
    exactly (order-independent across engines); the double math
    (normalize, sigmoid) happens once per row on identical integers,
    then rounds to 6 dp — the td_text_unigram_ce discipline.

    Scale shape: one JVM-side projection over a pruned (doc_id, text)
    scan — zero shuffles, zero Python, no UDF (the array lambdas run
    as interpreted JVM expressions outside WholeStageCodegen, like the
    repo's other higher-order-function ops).  At 100 TB this is the cheapest
    kind of operator there is; the trained-weights variant broadcasts
    a D-float array to every executor exactly once.

    Reference scope: the reference has no corpus-quality plane; this
    is part of the training-data toolkit built on the same tables
    (SURVEY §2 extras)."""
    from .hashing import md5_u16_col

    docs = load_table(spark, sf, "documents")
    d = docs.select("doc_id", tokens_col().alias("toks")).filter(
        F.size("toks") > 0
    )
    bigrams = F.expr(
        "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1),"
        " (a, b) -> concat(a, ' ', b))"
    )
    d = d.select("doc_id", F.concat(F.col("toks"), bigrams).alias("feats"))
    raw_sum = F.aggregate(
        F.transform("feats", md5_u16_col),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    score = F.round(
        raw_sum / (F.size("feats") * F.lit(65535.0)) * 2.0 - 1.0, 6
    )
    d = d.select(
        "doc_id",
        F.size("feats").alias("n_feats"),
        score.alias("cls_score"),
    )
    prob = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-4.0) * F.col("cls_score"))), 6
    )
    return d.select(
        "doc_id",
        "n_feats",
        "cls_score",
        prob.alias("keep_prob"),
        (prob >= 0.5).alias("keep"),
    )


# ---- corpus report card: GROUPING SETS mixture rollup ----
_CORPUS_REPORT_SQL = """
WITH t AS (
  SELECT lang, source, n_chars,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks
  FROM documents)
SELECT coalesce(lang, '(all)') AS lang,
       coalesce(source, '(all)') AS source,
       CAST(GROUPING(lang, source) AS INT) AS gid,
       count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 6) AS avg_chars
FROM t
GROUP BY GROUPING SETS ((lang, source), (lang), ())"""


@_reg("td_corpus_report", _CORPUS_REPORT_SQL)
def q_corpus_report(spark: SparkSession, sf: str) -> DataFrame:
    """Data-card mixture report: doc / token / char totals per
    (lang, source) cell, per-lang subtotals, and the corpus total in
    ONE pass — the table every training-mix decision (rebalancing,
    sampling targets, data cards) starts from.

    Scale shape: GROUPING SETS expands each input row to its 3
    grouping-set replicas BELOW a partial aggregate, so the shuffle
    carries only group cells (|langs|x|sources| + |langs| + 1 rows),
    never the corpus; one Exchange total.  grouping_id disambiguates
    subtotal rows from a hypothetical literal '(all)' language.

    Reference scope: no corpus-report plane in the reference; SURVEY
    §2 extras (the documents-table twin of cp_a5a6_state_engine_cube,
    with GROUPING SETS replacing the full cube lattice)."""
    docs = load_table(spark, sf, "documents")
    t = docs.select(
        "lang", "source", "n_chars", F.size(tokens_col()).alias("n_toks")
    )
    g = t.groupingSets([["lang", "source"], ["lang"], []], "lang", "source")
    agg = g.agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )
    return agg.select(
        F.coalesce("lang", F.lit("(all)")).alias("lang"),
        F.coalesce("source", F.lit("(all)")).alias("source"),
        "gid", "n_docs", "total_tokens", "total_chars", "avg_chars",
    )


# ---- token-budget corpus selection (histogram threshold, no global sort) ----
_TOKEN_BUDGET = 20_000  # whitespace tokens the selected corpus may total


def _budget_select_sql() -> str:
    from .hashing import md5_u16_sql

    u16 = md5_u16_sql("f")
    # the NAIVE semantics: global (cls_score DESC, doc_id) prefix whose
    # running token sum stays within budget — the oracle computes it
    # directly with one global window; the Spark side reproduces the
    # SAME rows via the histogram-threshold plan (cross-ALGORITHM oracle)
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
fe AS (
  SELECT doc_id, len(toks) AS n_tokens,
         list_concat(
           toks,
           [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
         ) AS feats
  FROM t WHERE len(toks) > 0),
sc AS (
  SELECT doc_id, n_tokens,
         round(list_sum(list_transform(feats, f -> {u16}))
               / (len(feats) * 65535.0) * 2.0 - 1.0, 6) AS cls_score
  FROM fe),
r AS (
  SELECT doc_id, n_tokens, cls_score,
         sum(n_tokens) OVER (
           ORDER BY cls_score DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM sc)
SELECT doc_id, n_tokens, cls_score
FROM r WHERE cum <= {_TOKEN_BUDGET}"""


@_reg("td_token_budget_select", _budget_select_sql())
def q_token_budget_select(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget corpus selection (the LLaMA-recipe shape: spend a
    fixed training-token budget on the best documents): keep the
    prefix of the (cls_score DESC, doc_id) total order whose running
    whitespace-token sum stays within the budget.

    Scale shape — NO GLOBAL SORT.  The naive semantics is a running
    sum over a corpus-wide total order (what the DuckDB oracle runs);
    a global window is a single-task sort at 100 TB.  This plan:
      1. per-doc (score, tokens): the classifier projection, zero
         shuffles;
      2. score histogram: floor(score*1e6) integer grid (scores are
         6 dp, so the grid is EXACT — every distinct score is its own
         cell) -> per-cell token totals, ONE combine shuffle of
         <= |distinct scores| cells;
      3. threshold: cumulative sum over the tiny histogram (single
         partition of at most ~2M cells, in practice thousands) finds
         the boundary cell: cells strictly above keep ALL their docs;
      4. boundary cell only: a (score, doc_id) window WITHIN the cell
         spends the remaining budget — state bounded by one cell's
         population, not the corpus.
    The union reproduces the oracle's rows exactly because the grid is
    order-isomorphic to the score (same 6 dp value), so full-cell
    cumulative totals equal the naive prefix sums at cell boundaries.

    Reference scope: no curation plane in the reference; SURVEY §2
    extras (training-data toolkit)."""
    from .hashing import md5_u16_col

    docs = load_table(spark, sf, "documents")
    d = docs.select("doc_id", tokens_col().alias("toks")).filter(
        F.size("toks") > 0
    )
    bigrams = F.expr(
        "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1),"
        " (a, b) -> concat(a, ' ', b))"
    )
    feats = F.concat(F.col("toks"), bigrams)
    raw_sum = F.aggregate(
        F.transform(feats, md5_u16_col),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    score = F.round(
        raw_sum / (F.size(feats) * F.lit(65535.0)) * 2.0 - 1.0, 6
    )
    scored = d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        score.alias("cls_score"),
        # exact integer grid cell: scores carry 6 dp, so *1e6 is an
        # integer-valued double; round() guards float representation
        F.round(score * 1_000_000).cast("long").alias("cell"),
    # the scoring scan (md5 per unigram+bigram feature) is the whole
    # cost of this query and feeds FOUR subtrees (cells agg reused by
    # full + boundary, and both keep-side probes) — materialize it once
    # with localCheckpoint instead of 4 rescans
    ).localCheckpoint()

    cells = scored.groupBy("cell").agg(F.sum("n_tokens").alias("cell_toks"))
    wc = Window.orderBy(F.col("cell").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cells = cells.withColumn(
        "cum_before", F.coalesce(F.sum("cell_toks").over(wc), F.lit(0))
    )
    # cells whose PRIOR cumulative already exceeds the budget can keep
    # nothing; a cell fully inside the budget keeps everything; exactly
    # one boundary cell spends what remains
    full = cells.filter(
        F.col("cum_before") + F.col("cell_toks") <= F.lit(_TOKEN_BUDGET)
    ).select("cell")
    boundary = cells.filter(
        (F.col("cum_before") < F.lit(_TOKEN_BUDGET))
        & (F.col("cum_before") + F.col("cell_toks") > F.lit(_TOKEN_BUDGET))
    ).select("cell", (F.lit(_TOKEN_BUDGET) - F.col("cum_before")).alias("rem"))

    keep_full = scored.join(F.broadcast(full), "cell").select(
        "doc_id", "n_tokens", "cls_score"
    )
    wb = (
        Window.partitionBy("cell")
        .orderBy(F.col("cls_score").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    keep_part = (
        scored.join(F.broadcast(boundary), "cell")
        .withColumn("cum_in_cell", F.sum("n_tokens").over(wb))
        .filter(F.col("cum_in_cell") <= F.col("rem"))
        .select("doc_id", "n_tokens", "cls_score")
    )
    return keep_full.unionByName(keep_part)


# ---- inverted index build (postings lists) ----
_POSTINGS_HEAD = 10  # doc ids materialized per term in the report


@_reg(
    "td_text_postings",
    f"""WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents),
tf AS (
  SELECT term, doc_id, count(*) AS tf
  FROM tok GROUP BY term, doc_id)
SELECT term,
       count(*) AS df,
       CAST(sum(tf) AS BIGINT) AS tf_total,
       array_to_string(
         list_sort(list(doc_id))[1:{_POSTINGS_HEAD}], ',') AS postings_head
FROM tf GROUP BY term""",
)
def q_postings(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index construction — the build step BM25 scoring
    (td_text_bm25) consumes: per term, document frequency, total term
    frequency, and the head of the postings list (first 10 doc
    ids ascending, joined to a string so the driver's value hash covers
    it byte-for-byte).

    Scale shape: explode -> (term, doc_id) partial-count combine (the
    big shuffle, on the high-cardinality composite key) -> a rank
    window + per-term aggregate sharing that same term partitioning.
    The head is BOUNDED before collection (rank <= head, collect_list
    skips the NULLs the filter leaves), so a stopword-grade term with
    df in the millions costs O(head) aggregation state, not O(df);
    the production layout additionally keeps the raw (term, doc_id,
    tf) relation bucketed by term (plans/bucketing.py) so query-time
    term lookups are shuffle-free bucket probes.

    Reference scope: SURVEY §2 extras (sparse-retrieval counterpart of
    the ANN index-build plane)."""
    docs = load_table(spark, sf, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    # BOUNDED head: rank doc_ids within the term FIRST and collect only
    # rank <= head — a stopword-grade term with df in the millions must
    # never materialize its full posting array in one aggregation
    # buffer (collect_list ignores the NULLs the rank filter leaves).
    # The rank window and the aggregate share the term hash
    # partitioning, so this adds no extra exchange.
    w = Window.partitionBy("term").orderBy(F.col("doc_id").asc())
    tf = tf.withColumn("rn", F.row_number().over(w))
    return tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
        F.array_join(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("rn") <= _POSTINGS_HEAD, F.col("doc_id"))
                )
            ),
            ",",
        ).alias("postings_head"),
    )


# ---- bigram LM cross-entropy (KenLM-style perplexity filter) ----
_BIGRAM_CE_SQL = """WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
bg AS (
  SELECT doc_id,
         unnest([array_to_string(list_slice(toks, i, i + 1), ' ')
                 for i in range(1, len(toks))]) AS bigram
  FROM t WHERE len(toks) >= 2),
big AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY bigram),
hist AS (
  SELECT string_split(bigram, ' ')[1] AS w1, sum(c12) AS c1
  FROM big GROUP BY w1),
voc AS (
  SELECT count(DISTINCT token) AS v
  FROM (SELECT unnest(toks) AS token FROM t))
SELECT bg.doc_id,
       count(*) AS n_bigrams,
       round(sum(CAST(round(-ln((c12 + 1.0) / (c1 + v)) * 1000000)
                      AS BIGINT))
             / (1000000.0 * count(*)), 6) AS cross_entropy
FROM bg
JOIN big USING (bigram)
JOIN hist ON string_split(bg.bigram, ' ')[1] = hist.w1
CROSS JOIN voc
GROUP BY bg.doc_id"""


@_reg("td_text_bigram_ce", _BIGRAM_CE_SQL)
def q_bigram_ce(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document cross-entropy under an add-1-smoothed bigram LM
    trained on the corpus itself — the conditional-probability upgrade
    of td_text_unigram_ce and the relational skeleton of the KenLM
    perplexity gate (CCNet / LLaMA curation): p(w2|w1) =
    (C(w1 w2) + 1) / (C(w1) + V).  High CE = token stream the corpus
    LM finds improbable = gibberish/boilerplate candidate.  A real
    deployment swaps the in-pipeline counts for a pruned trained LM
    table; the join/aggregate shape — and the broadcast-model scaling
    story — is identical.

    Scale shape: one bigram explode feeds a combine-shuffled count;
    the history table C(w1) derives from the bigram counts (never a
    second corpus scan); V joins in as a broadcast single-row
    aggregate; the scoring join is an equi-join on the bigram string
    (broadcastable while the model fits — exactly how a KenLM artifact
    ships — shuffle otherwise, AQE decides).  Float discipline: each
    bigram's logp snaps to the 1e-6 integer grid and the per-doc sum
    runs in BIGINT (order-independent, engine-exact), the
    td_text_unigram_ce precedent."""
    docs = load_table(spark, sf, "documents")
    toks = tokens_col()
    d = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 2)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.array_join(F.slice(F.col("toks"), i, 2), " "),
    )
    bg = d.select("doc_id", F.explode(grams).alias("bigram"))
    big = bg.groupBy("bigram").agg(F.count("*").alias("c12"))
    hist = (
        big.groupBy(
            F.split("bigram", " ").getItem(0).alias("w1")
        ).agg(F.sum("c12").alias("c1"))
    )
    voc = (
        docs.select(F.explode(toks).alias("token"))
        .agg(F.count_distinct("token").alias("v"))
    )
    # fold the 1-row V aggregate into the (small) history table, not the
    # per-bigram stream: the nested-loop cross touches |vocab| rows, and
    # the smoothing denominator ships inside the broadcast model join
    hist = hist.crossJoin(F.broadcast(voc))
    logp = -F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v")))
    logp_micro = F.round(logp * 1000000.0, 0).cast("long")
    return (
        bg.join(big, "bigram")
        .join(hist, F.split(bg["bigram"], " ").getItem(0) == hist["w1"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum(logp_micro) / (1000000.0 * F.count("*")), 6
            ).alias("cross_entropy"),
        )
    )


# ---- LPT shard-balance plan (histogram arithmetic, no global rank) ----
from ..constants import N_SHARDS  # noqa: E402  (grouped with the op)

_SHARD_PLAN_SQL = f"""WITH t AS (
  SELECT doc_id,
         coalesce(len(list_filter(string_split(text, ' '), x -> x <> '')),
                  0) AS tokens
  FROM documents),
r AS (
  SELECT tokens,
         row_number() OVER (ORDER BY tokens DESC, doc_id) AS rk
  FROM t)
SELECT CAST((rk - 1) % {N_SHARDS} AS INT) AS shard_id,
       count(*) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS n_tokens
FROM r GROUP BY 1"""


@_reg("td_shard_plan", _SHARD_PLAN_SQL)
def q_shard_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Token-balanced output-shard plan (the tokenized-dataset writer's
    layout step): rank docs by token count descending and deal them
    round-robin into N_SHARDS shards — the LPT heuristic that keeps
    data-loader shards within one document of equal token mass —
    reporting per-shard doc and token totals.

    Scale shape — the corpus is NEVER ranked, shuffled, or even
    re-scanned.  The naive semantics (what the DuckDB oracle runs) is
    a corpus-wide row_number: a single-task global sort at 100 TB.
    This plan exploits that every doc in a token-count cell is
    interchangeable for the aggregate:
      1. per-doc token count: one codegen projection, zero shuffles;
      2. histogram by exact token count: ONE combine shuffle of
         <= |distinct counts| cells;
      3. cumulative window over the tiny cell table (descending
         tokens) gives each cell its starting global rank r0 =
         cum_before + 1; the cell's c docs occupy consecutive ranks,
         so shard s receives a CLOSED-FORM count
           d = (s - cum_before mod S) mod S
           n = c > d ? (c - 1 - d) div S + 1 : 0
         — pure integer arithmetic over cells x S rows;
      4. one tiny groupBy(shard_id) folds cells into the plan.
    Per-doc shard assignment, when needed at write time, is the same
    pure function of (cell cum_before, within-cell doc_id rank) and
    stays partition-local.  Cross-ALGORITHM oracle: the naive global
    window must produce identical totals because within-cell order
    cannot change a cell's shard multiset.

    Reference scope: no shard planner in the reference; SURVEY §2
    extras (training-data toolkit, write-layout plane)."""
    docs = load_table(spark, sf, "documents")
    # NULL text counts as 0 tokens (both engines): a NULL cell would
    # otherwise rank engine-dependently and null out its shard's sum
    t = docs.select(
        F.coalesce(F.size(tokens_col()), F.lit(0)).alias("tokens"), "doc_id"
    )
    cells = t.groupBy("tokens").agg(F.count("*").alias("c"))
    wc = Window.orderBy(F.col("tokens").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cells = cells.withColumn(
        "cum_before", F.coalesce(F.sum("c").over(wc), F.lit(0))
    )
    sh = cells.select(
        "tokens",
        "c",
        "cum_before",
        F.explode(F.sequence(F.lit(0), F.lit(N_SHARDS - 1))).alias(
            "shard_id"
        ),
    )
    # first within-cell index landing on this shard (offsets are all
    # non-negative after the +S guard, so plain % is floor-mod here)
    d = (F.col("shard_id") - F.col("cum_before") % N_SHARDS + N_SHARDS) % N_SHARDS
    n = F.when(
        F.col("c") > d,
        F.floor((F.col("c") - 1 - d) / N_SHARDS).cast("long") + 1,
    ).otherwise(F.lit(0).cast("long"))
    return (
        sh.select(F.col("shard_id").cast("int").alias("shard_id"),
                  n.alias("n"), F.col("tokens"))
        .groupBy("shard_id")
        .agg(
            F.sum("n").alias("n_docs"),
            F.sum(F.col("n") * F.col("tokens")).cast("bigint").alias(
                "n_tokens"
            ),
        )
        .filter(F.col("n_docs") > 0)
    )


# ---- winnowing fingerprints (Schleimer et al. 2003, the MOSS sketch) ----
WINNOW_K = 8   # k-gram width in characters
WINNOW_W = 4   # winnowing window: >= 1 selection per W consecutive k-grams

def _winnow_sels_ctes() -> str:
    """Shared CTE chain ending in wsels(doc_id, n_kgrams, h, sp): the
    per-full-window winnowing selections (duplicates possible — one
    row per window), consumed by the sketch op here."""
    return f"""pos AS (
  SELECT doc_id, length(text) - {WINNOW_K} + 1 AS n_kgrams,
         CAST(t.i AS INTEGER) AS p,
         md5(substr(text, CAST(t.i AS INTEGER), {WINNOW_K})) AS h
  FROM documents, unnest(range(1, length(text) - {WINNOW_K} + 2)) AS t(i)
  WHERE length(text) >= {WINNOW_K} + {WINNOW_W} - 1),
win AS (
  SELECT doc_id, n_kgrams, p,
         min({{'h': h, 'np': -p}}) OVER (
           PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS sel
  FROM pos),
wsels AS (
  SELECT doc_id, n_kgrams, sel.h AS h, -sel.np AS sp
  FROM win WHERE p <= n_kgrams - {WINNOW_W} + 1)"""


_WINNOW_SQL = f"""WITH {_winnow_sels_ctes()},
sels AS (
  SELECT DISTINCT doc_id, n_kgrams, h, sp FROM wsels)
SELECT doc_id,
       CAST(any_value(n_kgrams) AS INT) AS n_kgrams,
       count(*) AS n_selected,
       round(count(*) / CAST(any_value(n_kgrams) AS DOUBLE), 6) AS density,
       md5(string_agg(h || '@' || sp, ';' ORDER BY h || '@' || sp))
         AS sketch_md5
FROM sels GROUP BY doc_id"""


def _winnow_selected(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, n_kgrams, h, sp): the winnowing selections, one row
    per full window (duplicates possible — the same (h, sp) wins
    consecutive windows).  The Spark twin of the wsels CTE, used by
    the sketch op below."""
    k, w = WINNOW_K, WINNOW_W
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", (F.length("text") - k + 1).alias("n_kgrams")
    )
    pos = (
        docs.filter(F.length("text") >= k + w - 1)
        .select(
            "doc_id", "n_kgrams",
            F.explode(F.sequence(F.lit(1), F.col("n_kgrams"))).alias("p"),
            "text",
        )
        .select(
            "doc_id", "n_kgrams", "p",
            F.md5(F.col("text").substr(F.col("p"), F.lit(k))).alias("h"),
        )
    )
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = F.min(F.struct(F.col("h"), (-F.col("p")).alias("np"))).over(frame)
    return (
        pos.withColumn("sel", sel)
        .filter(F.col("p") <= F.col("n_kgrams") - w + 1)
        .select(
            "doc_id", "n_kgrams",
            F.col("sel.h").alias("h"), (-F.col("sel.np")).alias("sp"),
        )
    )


@_reg("td_text_winnowing", _WINNOW_SQL)
def q_winnowing(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003
    — the MOSS local-fingerprinting algorithm): hash every K-char
    k-gram, slide a window of W consecutive hashes, and select each
    window's minimum (rightmost on ties, via the (hash, -pos) struct
    argmin).  The guarantee MinHash cannot give: every W-window
    contributes a selection, so any shared substring of length
    >= K + W - 1 shares a fingerprint WITH ITS POSITION — the standard
    sketch for plagiarism / contamination localization.  Expected
    density is 2/(W+1) (~0.4 at W=4).  Output per doc: k-gram count,
    selections, density, and md5 over the position-sorted (hash@pos)
    sketch so the driver hash verifies every selected fingerprint.

    Plan: stride-1 k-gram explode (the suffix-array cost model) ->
    codegen md5 -> ONE doc-keyed shuffle feeding both the rolling-min
    frame and the per-doc aggregate (the window sort is reused);
    distinct-ing selections is per-doc, never global.  At 100 TB the
    k-gram hash would be xxhash64 instead of an md5 hex string (8-byte
    rows), same plan.

    Reference scope: no sketching plane in the reference; SURVEY §2
    extras (training-data toolkit)."""
    sels = _winnow_selected(spark, sf).select(
        "doc_id", "n_kgrams",
        F.concat_ws("@", F.col("h"), F.col("sp").cast("string")).alias("fp"),
    )
    # collect_set dedupes INSIDE the doc-keyed aggregate: a global
    # .distinct() here cost a second full shuffle of 32-byte hash rows
    # (measured 5.7x wall at 4x data); the aggregate instead reuses the
    # rolling-min window's doc_id partitioning — zero additional
    # exchanges after the one shuffle
    agg = sels.groupBy("doc_id").agg(
        F.first("n_kgrams").cast("int").alias("n_kgrams"),
        F.array_sort(F.collect_set("fp")).alias("fps"),
    )
    return agg.select(
        "doc_id", "n_kgrams",
        F.size("fps").cast("long").alias("n_selected"),
        F.round(
            F.size("fps") / F.col("n_kgrams").cast("double"), 6
        ).alias("density"),
        F.md5(F.array_join("fps", ";")).alias("sketch_md5"),
    )
