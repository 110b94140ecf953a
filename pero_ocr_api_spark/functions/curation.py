"""Corpus-curation operators a training-data pipeline runs between
dedup and packing: train/test decontamination, stratified sampling
with inverse-probability weights, and PII redaction.

The reference has no analog (it curates nothing — every uploaded page
is processed, /root/reference/app/main/routes.py:66-118); these extend
the documents plane the same way the dedup family does.

Scale shapes (100 TB):
- **decontamination**: the Lee/Brown-style n-gram overlap check between
  a heldout split and the training split.  Train shingles are
  DISTINCT-ed to one row per shingle BEFORE the join, so the join key
  (the shingle hash) is unique on the build side — no fan-out, no
  boilerplate hot key, and the two shuffles both partition on the
  high-cardinality shingle.  Never a doc×doc comparison.
- **stratified sampling**: rate-per-stratum via a salted content hash —
  no RNG state, no shuffle, reproducible across engines / runs /
  cluster sizes, and each kept row carries 1/rate so downstream
  estimators stay unbiased.
- **PII redaction**: pure per-row regexp_replace chains — codegen'd,
  embarrassingly parallel, zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..constants import BLOCKLIST, SUBSTR_W
from ..registry import make_registry
from ..session import load_table
from .dedup import _sql_shingles, shingles_df
from .hashing import md5_byte_col, md5_byte_sql

REGISTRY, _reg = make_registry()


# ---- train/test decontamination ----

_SPLIT_SQL = f"""split AS (
  SELECT doc_id,
         CASE WHEN {md5_byte_sql("CAST(doc_id AS VARCHAR)")} < 205
              THEN 'train' ELSE 'heldout' END AS split
  FROM documents)"""


def _split_col() -> Column:
    """train/heldout assignment — same first-md5-byte bucketing as
    td_corpus_split (val+test fold into 'heldout' here: contamination
    is checked for everything the model is evaluated on)."""
    bucket = md5_byte_col(F.col("doc_id").cast("string"))
    return F.when(bucket < 205, "train").otherwise("heldout")


@_reg(
    "td_decontaminate",
    f"""WITH {_sql_shingles(SUBSTR_W).strip().lstrip(',')}, {_SPLIT_SQL},
tr AS (
  SELECT DISTINCT sh.sh
  FROM sh JOIN split USING (doc_id) WHERE split.split = 'train'),
he AS (
  SELECT sh.doc_id, sh.sh
  FROM sh JOIN split USING (doc_id) WHERE split.split = 'heldout')
SELECT he.doc_id,
       count(*) AS n_windows,
       count(tr.sh) AS n_contaminated,
       round(count(tr.sh) / CAST(count(*) AS DOUBLE), 6) AS contaminated_frac,
       count(tr.sh) >= 1 AS contaminated
FROM he LEFT JOIN tr ON he.sh = tr.sh
GROUP BY he.doc_id""",
)
def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Heldout-vs-train n-gram contamination check: for every heldout
    doc, the count and fraction of its distinct {SUBSTR_W}-token
    windows that also occur in ANY train doc — the standard
    decontamination signal run before a corpus ships as an eval set.

    The train side is reduced to DISTINCT shingles first (one row per
    shingle — the build side of the join carries no duplicate keys, so
    a boilerplate window shared by 10^6 train docs is still ONE row),
    then a left join on the shingle key scores each heldout window.
    Both shuffles key on the high-cardinality shingle; nothing is ever
    doc×doc."""
    sh = shingles_df(spark, sf, k=SUBSTR_W).withColumn("split", _split_col())
    train_sh = (
        sh.filter(F.col("split") == "train").select("sh").distinct()
        .withColumn("hit", F.lit(1))
    )
    held = sh.filter(F.col("split") == "heldout").select("doc_id", "sh")
    return (
        held.join(train_sh, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.count("hit").cast("bigint").alias("n_contaminated"),
            F.round(
                F.count("hit") / F.count("*").cast("double"), 6
            ).alias("contaminated_frac"),
            (F.count("hit") >= 1).alias("contaminated"),
        )
    )


# ---- stratified sampling with inverse-probability weights ----

# per-language keep rates out of 256 (en, the head language, is
# downsampled the MOST — lowest keep rate; the tail languages keep a
# higher fraction, the usual rebalancing direction)
SAMPLE_RATES: dict[str, int] = {"en": 96, "de": 160, "fr": 160, "es": 160, "zh": 192}
SAMPLE_DEFAULT_RATE = 128
SAMPLE_SALT = "strat-v1:"


def _sample_bucket_sql(expr: str) -> str:
    return md5_byte_sql(f"'{SAMPLE_SALT}' || {expr}")


def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in SAMPLE_RATES.items()
    )
    return f"CASE lang {whens} ELSE {SAMPLE_DEFAULT_RATE} END"


@_reg(
    "td_stratified_sample",
    f"""WITH t AS (
  SELECT doc_id, lang,
         {_sample_bucket_sql("CAST(doc_id AS VARCHAR)")} AS bucket,
         {_rate_case_sql()} AS rate
  FROM documents)
SELECT doc_id, lang,
       round(256.0 / rate, 6) AS weight
FROM t WHERE bucket < rate""",
)
def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates
    applied via a salted content hash (first md5 byte of
    '{SAMPLE_SALT}'+doc_id → uniform 0-255 bucket, keep iff bucket <
    rate·256).  No RNG state and no shuffle — the sample is identical
    across engines, re-runs, and cluster sizes, which is what makes a
    100 TB curation run auditable.  Each kept row carries the
    inverse-probability weight 1/rate so downstream token counts and
    quality stats remain unbiased estimates of the full corpus."""
    docs = load_table(spark, sf, "documents")
    bucket = md5_byte_col(
        F.concat(F.lit(SAMPLE_SALT), F.col("doc_id").cast("string"))
    )
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, r in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"), rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
        .select(
            "doc_id",
            "lang",
            F.round(F.lit(256.0) / F.col("rate"), 6).alias("weight"),
        )
    )


# ---- PII redaction ----

# Patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): no backrefs, no lookaround, explicit classes only.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds per-kind match counts and a `redacted` column with every
    match replaced by `<KIND>` tokens.  Pure regexp column ops —
    codegen'd, zero shuffle, no Python crossing.

    Each kind is counted on the text AFTER the previous kinds were
    replaced — exactly what the sequential redaction sees — so
    `n_<kind>` always equals the number of `<KIND>` placeholders in
    `redacted` (counting on the raw text would claim a phone redaction
    for '1-234-5678@mail.com' whose digits the email replacement
    already consumed)."""
    out = df
    red = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(f"n_{kind}", F.regexp_count(red, F.lit(pat)))
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return out.withColumn("redacted", red)


def _pii_sql_counts() -> str:
    """Mirror of redact_pii's counting: kind k is counted on the text
    with kinds 1..k-1 already replaced, so counts match the artifact."""
    out, red = [], "text"
    for kind, pat in PII_PATTERNS.items():
        out.append(f"len(regexp_extract_all({red}, '{pat}')) AS n_{kind}")
        red = f"regexp_replace({red}, '{pat}', '<{kind.upper()}>', 'g')"
    return ",\n       ".join(out)


def _pii_sql_redacted() -> str:
    expr = "text"
    for kind, pat in PII_PATTERNS.items():
        expr = f"regexp_replace({expr}, '{pat}', '<{kind.upper()}>', 'g')"
    return expr


@_reg(
    "td_pii_redact",
    f"""SELECT doc_id,
       {_pii_sql_counts()},
       md5({_pii_sql_redacted()}) AS redacted_md5
FROM documents""",
)
def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub over the documents table: emails / phone numbers /
    IPv4 literals replaced with typed placeholder tokens, with per-doc
    match counts for the curation audit trail.  Entirely regexp column
    functions inside one codegen stage — the 100 TB cost is exactly one
    pass over the text bytes.  (Output carries md5(redacted) rather
    than the full redacted text to keep the compare payload small.)"""
    docs = load_table(spark, sf, "documents")
    out = redact_pii(docs, "text")
    return out.select(
        "doc_id",
        *[F.col(f"n_{k}").cast("bigint").alias(f"n_{k}") for k in PII_PATTERNS],
        F.md5("redacted").alias("redacted_md5"),
    )


# ---- token-blocklist gate (the C4 "bad words" filter) ----

# single quotes doubled so the advertised production swap (a real
# wordlist, which contains apostrophes) cannot break or inject the twin
_BL_SQL_LIST = (
    "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in BLOCKLIST) + "]"
)

_BLOCKLIST_SQL = f"""WITH h AS (
  SELECT doc_id,
         list_filter(
           list_filter(string_split(lower(coalesce(text, '')), ' '),
                       x -> x <> ''),
           x -> list_contains({_BL_SQL_LIST}, x)) AS hits
  FROM documents)
SELECT doc_id,
       CAST(len(hits) AS BIGINT) AS n_hits,
       coalesce(array_to_string(list_sort(list_distinct(hits)), ','),
                '') AS matched,
       len(hits) = 0 AS keep
FROM h"""


@_reg("td_blocklist_filter", _BLOCKLIST_SQL)
def q_blocklist_filter(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style token-blocklist gate (the 'bad words' document filter,
    Raffel et al. 2020 §2.2): a document containing ANY blocklisted
    token is dropped from the training mix.  Emits per-doc verdict
    plus the audit trail (total hit count, sorted distinct matched
    terms) so curation review can see WHY a doc was excluded — same
    contract as the PII counts above.

    Scale shape: the blocklist is a LITERAL array in the plan (a few
    thousand terms in production — ships inside the serialized plan
    exactly like a broadcast), matching is a higher-order filter over
    the token array — one codegen pass over the text bytes, zero
    shuffle, zero Python.  NULL text carries no tokens: keep=true,
    n_hits=0, matched='' on both engines (DuckDB's
    array_to_string([]) is NULL where Spark's array_join([]) is '' —
    the td_dedup_exact fuzz find — hence the coalesce in the twin).

    Reference scope: no curation plane in the reference; SURVEY §2
    extras (training-data toolkit)."""
    docs = load_table(spark, sf, "documents")
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " "),
        lambda t: t != F.lit(""),
    )
    hits = F.filter(toks, lambda t: t.isin(*BLOCKLIST))
    return docs.select(
        "doc_id",
        F.size(hits).cast("bigint").alias("n_hits"),
        F.array_join(F.array_sort(F.array_distinct(hits)), ",").alias(
            "matched"
        ),
        (F.size(hits) == 0).alias("keep"),
    )


# ---- per-stratum winsorization ----

WINSOR_LO, WINSOR_HI = 0.05, 0.95


@_reg(
    "td_length_winsorize",
    f"""WITH b AS (
  SELECT lang,
         round(quantile_cont(n_chars, {WINSOR_LO}), 6) AS lo,
         round(quantile_cont(n_chars, {WINSOR_HI}), 6) AS hi
  FROM documents GROUP BY lang)
SELECT d.doc_id, d.lang, d.n_chars, b.lo, b.hi,
       round(least(greatest(CAST(d.n_chars AS DOUBLE), b.lo), b.hi), 6)
         AS clamped
FROM documents d JOIN b USING (lang)""",
)
def q_length_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language length winsorization: exact p05/p95 bounds per
    stratum (linear-interpolated percentile — the same definition as
    DuckDB's quantile_cont), joined back and clamped.  The bounds table
    has one row per language — a classic tiny dimension AQE broadcasts
    — so the 100 TB cost is the one percentile aggregate plus a
    map-side join.  Winsorized length is the robust feature quality
    filters threshold on (outlier docs no longer drag the tails)."""
    docs = load_table(spark, sf, "documents")
    b = docs.groupBy("lang").agg(
        F.round(F.percentile("n_chars", F.lit(WINSOR_LO)), 6).alias("lo"),
        F.round(F.percentile("n_chars", F.lit(WINSOR_HI)), 6).alias("hi"),
    )
    return docs.join(b, "lang").select(
        "doc_id",
        "lang",
        "n_chars",
        "lo",
        "hi",
        F.round(
            F.least(
                F.greatest(F.col("n_chars").cast("double"), F.col("lo")),
                F.col("hi"),
            ),
            6,
        ).alias("clamped"),
    )


# ---- language rebalancing to a target mixture ----

# Target output shares by language (the data-mixing spec of a training
# run).  Downsampling-only waterfill: the language whose corpus is
# scarcest RELATIVE TO ITS TARGET binds the output size
# (scale = min_l n_l / w_l); every other language is thinned to
# rate_l = w_l * scale / n_l, so the kept corpus hits the target
# mixture as closely as 256-bucket quantization allows without ever
# upsampling (no duplicated rows, no RNG).
TARGET_MIX: dict[str, float] = {
    "en": 0.30,
    "de": 0.20,
    "fr": 0.20,
    "es": 0.15,
    "zh": 0.15,
}
REBALANCE_SALT = "mix-v1:"


def _mix_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN CAST({w} AS DOUBLE)"
        for lang, w in TARGET_MIX.items()
    )
    return f"CASE lang {whens} ELSE NULL END"


@_reg(
    "td_lang_rebalance",
    f"""WITH counts AS (
  SELECT lang, count(*) AS n, {_mix_case_sql()} AS w
  FROM documents GROUP BY lang),
tgt AS (SELECT * FROM counts WHERE w IS NOT NULL),
sc AS (SELECT min(n / w) AS scale FROM tgt),
rates AS (
  SELECT lang,
         CAST(least(CAST(256.0 AS DOUBLE), round(256.0 * w * scale / n))
              AS INT) AS rate256
  FROM tgt CROSS JOIN sc)
SELECT d.doc_id, d.lang, round(256.0 / rate256, 6) AS weight
FROM documents d JOIN rates USING (lang)
WHERE {md5_byte_sql(f"'{REBALANCE_SALT}' || CAST(doc_id AS VARCHAR)")}
      < rate256""",
)
def q_lang_rebalance(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic language rebalancing: thin each language to hit
    TARGET_MIX output shares (downsampling-only waterfill — the
    binding language keeps rate 256/256, the head language is thinned
    hardest).  The per-lang rate table is a ≤|langs|-row aggregate
    broadcast back onto the corpus, and membership is the shared salted
    md5-byte bucket — so the docs themselves never shuffle, the sample
    is identical across engines / re-runs / cluster sizes, and each
    kept row carries the inverse-probability weight 256/rate for
    unbiased downstream statistics.  Reference analog: the per-engine
    routing weights of `app/main/routes.py` pick QUEUES by share; this
    is the corpus-side equivalent a training-data pipeline needs.
    Float discipline: rate256 is computed with the identical
    literal/association `256.0 * w * scale / n` in both dialects from
    integer counts and double literals, so the quantized rate is
    bit-equal before the integer cast."""
    docs = load_table(spark, sf, "documents")
    w = F.lit(None).cast("double")
    for lang, share in TARGET_MIX.items():
        w = F.when(F.col("lang") == lang, F.lit(float(share))).otherwise(w)
    tgt = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .withColumn("w", w)
        .filter(F.col("w").isNotNull())
    )
    scale = tgt.agg(F.min(F.col("n") / F.col("w")).alias("scale"))
    rates = (
        tgt.crossJoin(F.broadcast(scale))
        .select(
            "lang",
            F.least(
                F.lit(256.0),
                F.round(
                    F.lit(256.0) * F.col("w") * F.col("scale") / F.col("n"),
                    0,
                ),
            )
            .cast("int")
            .alias("rate256"),
        )
    )
    bucket = md5_byte_col(
        F.concat(F.lit(REBALANCE_SALT), F.col("doc_id").cast("string"))
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("rate256"))
        .select(
            "doc_id",
            "lang",
            F.round(F.lit(256.0) / F.col("rate256"), 6).alias("weight"),
        )
    )


# ---- DSIR importance weights (data selection for LM pretraining) ----
# Xie et al. 2023, "Data Selection for Language Models via Importance
# Resampling": score every raw document by how much more likely its
# hashed-n-gram features are under a small high-quality TARGET corpus
# than under the RAW pool, then resample by that weight.  Here the
# target is a deterministic source whitelist and features are hashed
# unigrams (the paper hashes n-grams into 10k buckets; the bucket
# count is a constant, not a scale parameter).
DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3")
DSIR_BUCKETS = 256


def _dsir_sql() -> str:
    srcs = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    bucket = md5_byte_sql("token")
    return f"""WITH tok AS (
  SELECT doc_id, source IN ({srcs}) AS is_target,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents),
b AS (SELECT doc_id, is_target, {bucket} AS bucket FROM tok),
stats AS (
  SELECT bucket,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
         sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS cr
  FROM b GROUP BY bucket),
tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM stats),
rates AS (
  SELECT bucket,
         CAST(round((ln((ct + 1.0) / (tt + {DSIR_BUCKETS}.0))
                     - ln((cr + 1.0) / (tr + {DSIR_BUCKETS}.0)))
                    * 1000000) AS BIGINT) AS micro
  FROM stats CROSS JOIN tot)
SELECT doc_id, count(*) AS n_tokens,
       round(sum(micro) / 1000000.0, 6) AS log_weight
FROM b JOIN rates USING (bucket)
GROUP BY doc_id"""


@_reg("td_curation_dsir", _dsir_sql())
def q_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document DSIR log importance weight: sum over the doc's
    tokens of ln(p_target(bucket)) - ln(p_raw(bucket)), add-1 smoothed
    over the fixed hashed-feature space.  Docs that look like the
    target corpus score high; downstream selection keeps the top mass
    (or Gumbel-resamples by weight — both are a filter over this
    column).

    Scale shape: the token explode and bucket hash are per-row codegen;
    the feature stats collapse to a DSIR_BUCKETS-row relation (map-side
    partials bound every partition's contribution to <=256 rows before
    the exchange) and broadcast back onto the token stream, so the only
    corpus-size shuffle is the final per-doc sum on doc_id.  Float
    discipline = td_text_unigram_ce: each bucket's log-ratio snaps to a
    1e-6 integer grid once, per-doc sums run in BIGINT — summation
    order cannot flip the oracle hash."""
    from .text import tokens_col

    docs = load_table(spark, sf, "documents")
    is_t = F.col("source").isin(*DSIR_TARGET_SOURCES)
    tok = docs.select(
        "doc_id", is_t.alias("is_target"), F.explode(tokens_col()).alias("token")
    )
    b = tok.withColumn("bucket", md5_byte_col(F.col("token")))
    stats = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("cr"),
    )
    tot = stats.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    nb = float(DSIR_BUCKETS)
    ratio = F.log((F.col("ct") + 1.0) / (F.col("tt") + nb)) - F.log(
        (F.col("cr") + 1.0) / (F.col("tr") + nb)
    )
    rates = (
        stats.crossJoin(F.broadcast(tot))
        .select("bucket", F.round(ratio * 1000000.0, 0).cast("long").alias("micro"))
    )
    return (
        b.join(F.broadcast(rates), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum("micro") / 1000000.0, 6).alias("log_weight"),
        )
    )


# ---- Gumbel-top-k weighted sampling (importance-resampling executor) ----
# DSIR (td_curation_dsir) produces per-doc log importance weights; the
# SELECTION step of importance resampling draws docs WITHOUT
# replacement with P(doc) ∝ exp(log_weight).  The Gumbel-top-k trick
# makes that a deterministic distributed primitive: key = log_weight +
# Gumbel(noise), take the global top-k — equivalent in distribution to
# sequential weighted draws, but embarrassingly parallel and exactly
# reproducible when the noise is hashed from the doc id.
GUMBEL_N = 100
GUMBEL_SALT = "gumbel:"


def _uniform01_col(idc: Column) -> Column:
    """Deterministic 24-bit uniform in (0,1) from three md5 hex bytes
    of the salted id — portable to any engine with md5."""
    s = F.concat(F.lit(GUMBEL_SALT), idc.cast("string"))
    b = (
        md5_byte_col(s, 1) * 65536
        + md5_byte_col(s, 3) * 256
        + md5_byte_col(s, 5)
    )
    return (b + 0.5) / 16777216.0


def gumbel_topk(
    df: DataFrame, log_weight: Column, n: int, id_col: str = "doc_id"
) -> DataFrame:
    """Top-``n`` rows by ``log_weight + Gumbel(hash(id))`` — weighted
    sampling without replacement, P ∝ exp(log_weight), reproducible
    across engines / runs / cluster sizes.  Returns (id, gumbel_key,
    sample_rank).  ``log_weight`` must be finite: pre-filter P=0 rows
    (ln(0) = NULL in Spark but an ERROR in DuckDB).

    Scale shape: the key is a per-row expression (two md5 calls and a
    double log chain, codegen); the global top-n is a distributed
    partial top-k (TakeOrderedAndProject — every partition forwards at
    most n rows), never a full sort."""
    u = _uniform01_col(F.col(id_col))
    key = F.round(log_weight + (-F.log(-F.log(u))), 6)
    # self-enforce the finite-log_weight contract: a NULL key (ln(0)
    # from a P=0 weight) must mean "never sampled", not "ranks last" —
    # the SQL twin of any caller still has to pre-filter, since DuckDB
    # errors on ln(0) instead of going NULL
    ranked = df.select(
        F.col(id_col), key.alias("gumbel_key")
    ).filter(F.col("gumbel_key").isNotNull()).select(
        id_col, "gumbel_key",
        F.row_number()
        .over(Window.orderBy(F.desc("gumbel_key"), id_col))
        .alias("sample_rank"),
    )
    return ranked.filter(F.col("sample_rank") <= n)


def _gumbel_sql() -> str:
    def byte(pos: int) -> str:
        return md5_byte_sql(
            f"'{GUMBEL_SALT}' || CAST(doc_id AS VARCHAR)", pos
        )

    return f"""WITH keyed AS (
  SELECT doc_id,
         round(ln(CAST(n_chars AS DOUBLE))
               + (-ln(-ln((({byte(1)}) * 65536 + ({byte(3)}) * 256
                           + ({byte(5)}) + 0.5) / 16777216.0))), 6)
           AS gumbel_key
  FROM documents WHERE n_chars > 0)
SELECT doc_id, gumbel_key, sample_rank FROM (
  SELECT doc_id, gumbel_key,
         row_number() OVER (ORDER BY gumbel_key DESC, doc_id)
           AS sample_rank
  FROM keyed) t
WHERE sample_rank <= {GUMBEL_N}"""


@_reg("td_curation_gumbel_sample", _gumbel_sql())
def q_gumbel_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Registry probe of :func:`gumbel_topk` with P(doc) ∝ n_chars
    (log_weight = ln(n_chars)); in the DSIR pipeline the same call
    takes td_curation_dsir's log_weight column instead."""
    docs = load_table(spark, sf, "documents")
    # P(doc) ∝ n_chars = 0 means "never sampled": filter weight-0 docs
    # BEFORE keying — ln(0) would NULL the key in Spark (which then
    # still ranks, desc NULLS LAST) and ERROR outright in DuckDB
    # (fuzz-gate find).  gumbel_topk requires a finite log_weight.
    return gumbel_topk(
        docs.filter(F.col("n_chars") > 0),
        F.log(F.col("n_chars").cast("double")), GUMBEL_N
    )


# ---- curation funnel: the whole-engine summary table ----
def _funnel_sql() -> str:
    from .text import _SW_SQL
    from .hashing import md5_u16_sql
    from .dedup import NGRAM_JACCARD_SQL

    u16 = md5_u16_sql("f")
    return f"""WITH RECURSIVE t AS (
  SELECT doc_id, n_chars,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
q AS (
  SELECT doc_id, len(toks) AS n_toks,
         (len(toks) > 0) AS nonempty,
         (len(toks) >= 10 AND len(toks) <= 1000
          AND round(len(list_filter(toks, x -> list_contains({_SW_SQL}, x)))
                    / CAST(greatest(len(toks), 1) AS DOUBLE), 6) >= 0.01
          AND round(n_chars / CAST(greatest(len(toks), 1) AS DOUBLE), 6)
              <= 12.0) AS q_ok,
         CASE WHEN len(toks) = 0 THEN FALSE ELSE
           round(list_sum(list_transform(
                   list_concat(toks,
                     [toks[i] || ' ' || toks[i+1]
                      FOR i IN range(1, len(toks))]), f -> {u16}))
                 / ((2 * len(toks) - 1) * 65535.0) * 2.0 - 1.0, 6) >= 0.0
         END AS cls_ok
  FROM t),
pairs AS ({NGRAM_JACCARD_SQL}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
walk(doc_id, reach) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON e.src = w.reach),
clusters AS (SELECT doc_id, min(reach) AS cluster_id FROM walk GROUP BY doc_id),
canon AS (
  SELECT c.doc_id,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.doc_id ASC) = 1
           AS is_canon
  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id),
flags AS (
  SELECT q.*,
         (q.nonempty AND q.q_ok) AS s_quality,
         (q.nonempty AND q.q_ok AND q.cls_ok) AS s_cls,
         (q.nonempty AND q.q_ok AND q.cls_ok
          AND (cn.doc_id IS NULL OR cn.is_canon)) AS s_canon
  FROM q LEFT JOIN canon cn ON cn.doc_id = q.doc_id),
agg AS (
  SELECT count(*) AS d1, CAST(sum(n_toks) AS BIGINT) AS t1,
         CAST(sum(CASE WHEN nonempty THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(sum(CASE WHEN nonempty THEN n_toks ELSE 0 END) AS BIGINT) AS t2,
         CAST(sum(CASE WHEN s_quality THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         CAST(sum(CASE WHEN s_quality THEN n_toks ELSE 0 END) AS BIGINT) AS t3,
         CAST(sum(CASE WHEN s_cls THEN 1 ELSE 0 END) AS BIGINT) AS d4,
         CAST(sum(CASE WHEN s_cls THEN n_toks ELSE 0 END) AS BIGINT) AS t4,
         CAST(sum(CASE WHEN s_canon THEN 1 ELSE 0 END) AS BIGINT) AS d5,
         CAST(sum(CASE WHEN s_canon THEN n_toks ELSE 0 END) AS BIGINT) AS t5
  FROM flags)
SELECT CAST(1 AS INT) AS stage_idx, 'raw' AS stage, d1 AS n_docs, t1 AS n_tokens FROM agg
UNION ALL SELECT 2, 'nonempty', d2, t2 FROM agg
UNION ALL SELECT 3, 'quality_gate', d3, t3 FROM agg
UNION ALL SELECT 4, 'classifier_gate', d4, t4 FROM agg
UNION ALL SELECT 5, 'dedup_canonical', d5, t5 FROM agg"""


@_reg("td_curation_funnel", _funnel_sql())
def q_curation_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """The whole-engine summary table — docs and tokens surviving each
    cumulative curation stage: raw -> nonempty -> C4-style quality gate
    (td_corpus_filter's exact predicate) -> hashed-classifier gate
    (td_text_hash_classifier; keep_prob >= 0.5 is EXACTLY cls_score >=
    0 at 6 dp, so neither engine evaluates exp in the gate) -> dedup
    canonical (non-clustered docs plus each near-dup cluster's
    longest-then-min-id member, td_dedup_canonical's selection).
    The one table a data-release review reads first.

    Scale shape: one pass computes every per-doc flag (all codegen;
    the classifier sum is the exact-integer discipline), the corpus-
    SUBLINEAR cluster relation left-joins back on doc_id, and ALL five
    stages aggregate in a single combine-shuffled pass (conditional
    sums), unpivoted to rows by stack() — the funnel costs one
    aggregate regardless of stage count.

    Reference scope: SURVEY §2 extras (composes the quality, dedup and
    curation planes)."""
    from .cluster import q_clusters
    from .hashing import md5_u16_col
    from .text import STOPWORDS, tokens_col

    docs = load_table(spark, sf, "documents")
    toks = tokens_col()
    base = docs.select("doc_id", "n_chars", toks.alias("toks"))
    n = F.size("toks")
    g1 = F.greatest(n, F.lit(1))
    sw = F.size(
        F.filter(
            "toks",
            lambda t: F.array_contains(
                F.array(*[F.lit(w) for w in STOPWORDS]), t
            ),
        )
    )
    swr = F.round(sw / g1.cast("double"), 6)
    cpt = F.round(F.col("n_chars") / g1.cast("double"), 6)
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
        raw_sum / ((2 * n - 1) * F.lit(65535.0)) * 2.0 - 1.0, 6
    )
    flags = base.select(
        "doc_id",
        n.alias("n_toks"),
        (n > 0).alias("nonempty"),
        (
            (n >= 10) & (n <= 1000) & (swr >= 0.01) & (cpt <= 12.0)
        ).alias("q_ok"),
        F.when(n == 0, F.lit(False)).otherwise(score >= 0.0).alias("cls_ok"),
    )
    # the SAME cluster relation td_dedup_clusters registers — never a
    # re-inlined copy that could drift from the dedup plane
    clusters = q_clusters(spark, sf)
    wc = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    canon = (
        clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("is_canon", F.row_number().over(wc) == 1)
        .select("doc_id", "is_canon")
    )
    f2 = flags.join(canon, "doc_id", "left").select(
        "n_toks", "nonempty", "q_ok", "cls_ok",
        (
            F.col("nonempty") & F.col("q_ok") & F.col("cls_ok")
            & (F.col("is_canon").isNull() | F.col("is_canon"))
        ).alias("s_canon"),
    )

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    def tok(cond):
        return F.sum(F.when(cond, F.col("n_toks")).otherwise(0)).cast("long")

    s_q = F.col("nonempty") & F.col("q_ok")
    s_c = s_q & F.col("cls_ok")
    agg = f2.agg(
        F.count("*").alias("d1"), F.sum("n_toks").cast("long").alias("t1"),
        cnt(F.col("nonempty")).alias("d2"), tok(F.col("nonempty")).alias("t2"),
        cnt(s_q).alias("d3"), tok(s_q).alias("t3"),
        cnt(s_c).alias("d4"), tok(s_c).alias("t4"),
        cnt(F.col("s_canon")).alias("d5"), tok(F.col("s_canon")).alias("t5"),
    )
    return agg.selectExpr(
        "stack(5, 1, 'raw', d1, t1, 2, 'nonempty', d2, t2,"
        " 3, 'quality_gate', d3, t3, 4, 'classifier_gate', d4, t4,"
        " 5, 'dedup_canonical', d5, t5)"
        " AS (stage_idx, stage, n_docs, n_tokens)"
    )


# ---- winnowing-based decontamination (per-pair localization) ----

WINNOW_DF_CAP = 16     # train fingerprints in more docs are boilerplate
WINNOW_MIN_SHARED = 3  # shared distinct fingerprints to flag a pair


def _decontam_winnow_sql() -> str:
    from .text import _winnow_sels_ctes

    return f"""WITH {_winnow_sels_ctes()}, {_SPLIT_SQL},
fps AS (SELECT DISTINCT w.doc_id, w.h, s.split
        FROM wsels w JOIN split s USING (doc_id)),
tr AS (SELECT doc_id AS tr_doc, h FROM fps WHERE split = 'train'),
he AS (SELECT doc_id AS he_doc, h FROM fps WHERE split = 'heldout'),
over_cap AS (
  SELECT h FROM tr GROUP BY h HAVING count(*) > {WINNOW_DF_CAP}),
tr_ok AS (SELECT * FROM tr ANTI JOIN over_cap USING (h)),
pairs AS (
  SELECT he.he_doc, tr_ok.tr_doc, count(*) AS n_shared
  FROM he JOIN tr_ok USING (h)
  GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED})
SELECT he_doc AS doc_id,
       count(*) AS n_contaminating,
       CAST(max(n_shared) AS BIGINT) AS max_shared,
       min({{'neg': -n_shared, 'd': tr_doc}}).d AS top_train_doc
FROM pairs GROUP BY he_doc"""


@_reg("td_decontam_winnow", _decontam_winnow_sql())
def q_decontam_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing-based decontamination with PER-PAIR localization —
    what td_decontaminate's distinct-shingle check cannot say: WHICH
    train document contaminates each heldout document, and how
    heavily (the MOSS report shape).  A heldout doc is flagged when it
    shares >= {WINNOW_MIN_SHARED} distinct winnowing fingerprints with
    one train doc; per flagged doc the report carries the count of
    contaminating train docs, the heaviest overlap, and its source
    (ties -> smallest tr_doc, via the (-n_shared, tr_doc) struct
    argmin — deterministic on both engines).

    Scale shape: selections dedupe per (doc, fingerprint) first, so
    the join's probe side carries one row per distinct fingerprint
    per doc; train fingerprints in more than {WINNOW_DF_CAP} docs are
    boilerplate and are removed via a BROADCAST blacklist (the
    MinHash band-cap idiom), bounding per-key fan-out at
    {WINNOW_DF_CAP} — candidate volume is O(|heldout fps| x CAP),
    never heldout x train.  The pair aggregate keys on the
    (he_doc, tr_doc) composite; everything upstream keys on the
    high-cardinality fingerprint hash."""
    from .text import _winnow_selected

    fps = (
        _winnow_selected(spark, sf)
        .select("doc_id", "h")
        .distinct()
        .withColumn("split", _split_col())
    )
    tr = fps.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("tr_doc"), "h"
    )
    he = fps.filter(F.col("split") == "heldout").select(
        F.col("doc_id").alias("he_doc"), "h"
    )
    over_cap = (
        tr.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > WINNOW_DF_CAP)
        .select("h")
    )
    tr_ok = tr.join(F.broadcast(over_cap), "h", "left_anti")
    pairs = (
        he.join(tr_ok, "h")
        .groupBy("he_doc", "tr_doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    return pairs.groupBy("he_doc").agg(
        F.count("*").alias("n_contaminating"),
        F.max("n_shared").cast("bigint").alias("max_shared"),
        F.min(
            F.struct(
                (-F.col("n_shared")).alias("neg"), F.col("tr_doc").alias("d")
            )
        )["d"].alias("top_train_doc"),
    ).withColumnRenamed("he_doc", "doc_id")
