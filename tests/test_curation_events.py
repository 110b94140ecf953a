"""Behavior pins for the curation plane (decontamination, stratified
sampling, PII redaction, winsorizing, language rebalancing) and the
Spark/DuckDB floor-division idiom — edge semantics the sf-parity test
can't isolate."""

import pytest
from pyspark.sql import functions as F

from pero_ocr_api_spark.functions.curation import (
    PII_PATTERNS,
    SAMPLE_DEFAULT_RATE,
    SAMPLE_RATES,
    q_decontaminate,
    q_stratified_sample,
    redact_pii,
)


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_decontaminate_flags_copied_heldout_doc(spark, tmp_path):
    """A heldout doc that copies 8+ consecutive tokens from a train doc
    is flagged; a disjoint heldout doc is not.  doc_ids are chosen so
    the md5 split puts them on the intended side of the fence."""
    from pero_ocr_api_spark.functions.curation import _split_col

    probe = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), _split_col().alias("split")
    )
    sides = {r["doc_id"]: r["split"] for r in probe.collect()}
    train_id = next(i for i in sides if sides[i] == "train")
    held_ids = [i for i in sides if sides[i] == "heldout"]
    copied_id, clean_id = held_ids[0], held_ids[1]

    shared = " ".join(f"tok{i}" for i in range(12))
    clean = " ".join(f"other{i}" for i in range(12))
    rows = [
        (train_id, shared, "en", "s", len(shared)),
        (copied_id, "prefix " + shared, "en", "s", len(shared) + 7),
        (clean_id, clean, "en", "s", len(clean)),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in q_decontaminate(spark, sf).collect()}
    assert train_id not in got  # only heldout docs are scored
    assert got[copied_id]["contaminated"] is True
    assert got[copied_id]["n_contaminated"] == 5  # 12-token overlap → 5 shared 8-windows
    assert got[clean_id]["contaminated"] is False
    assert got[clean_id]["n_contaminated"] == 0


def test_stratified_sample_rates_and_weights(spark, sf_correct):
    out = q_stratified_sample(spark, sf_correct)
    rows = out.groupBy("lang").agg(
        F.count("*").alias("kept"), F.first("weight").alias("w")
    ).collect()
    from pero_ocr_api_spark.session import load_table

    totals = {
        r["lang"]: r["n"]
        for r in load_table(spark, sf_correct, "documents")
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for r in rows:
        rate = SAMPLE_RATES.get(r["lang"], SAMPLE_DEFAULT_RATE) / 256.0
        # md5 is uniform: observed keep-rate within a wide binomial band
        assert abs(r["kept"] / totals[r["lang"]] - rate) < 0.2
        assert r["w"] == pytest.approx(1.0 / rate, abs=1e-4)
    # deterministic: identical doc_id set on a re-run
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in q_stratified_sample(spark, sf_correct).collect()}
    assert a == b


def test_pii_redaction_fixture(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at john.doe+x@example.co.uk or call 555-123-4567"),
            (2, "server at 10.0.255.7 went down; contact ops@corp.io"),
            (3, "no pii here at all"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_phone"] == 1
    assert got[1]["redacted"] == "mail me at <EMAIL> or call <PHONE>"
    assert got[2]["n_ipv4"] == 1 and got[2]["n_email"] == 1
    assert got[2]["redacted"] == "server at <IPV4> went down; contact <EMAIL>"
    assert got[3]["redacted"] == "no pii here at all"
    assert all(got[3][f"n_{k}"] == 0 for k in PII_PATTERNS)


def test_winsorize_clamps_into_band(spark, sf_smoke):
    from pero_ocr_api_spark.functions.curation import q_length_winsorize

    rows = q_length_winsorize(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r["lo"] <= r["clamped"] <= r["hi"]
        if r["lo"] <= r["n_chars"] <= r["hi"]:
            assert r["clamped"] == float(r["n_chars"])


def test_lang_rebalance_hits_target_mixture(spark, sf_correct):
    """Downsampling-only waterfill: the achieved output shares track
    TARGET_MIX within 256-bucket quantization noise, the binding
    language (scarcest relative to its target) is kept whole
    (weight exactly 1.0), and the sample is deterministic."""
    from pero_ocr_api_spark.functions.curation import (
        TARGET_MIX,
        q_lang_rebalance,
    )

    out = q_lang_rebalance(spark, sf_correct).cache()
    total = out.count()
    shares = {
        r["lang"]: r["cnt"] / total
        for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    assert set(shares) == set(TARGET_MIX)
    for lang, w in TARGET_MIX.items():
        # 256-bucket quantization + hash noise at a few hundred docs
        # per lang: ±6 share points is far tighter than the raw corpus
        # skew (en is ~40% of documents, target 30%)
        assert abs(shares[lang] - w) < 0.06, (lang, shares[lang], w)
    # binding language keeps everything: some lang has weight 1.0
    weights = {r["lang"]: r["weight"] for r in
               out.select("lang", "weight").distinct().collect()}
    assert min(weights.values()) == pytest.approx(1.0)
    # deterministic: identical result set on a re-run
    again = q_lang_rebalance(spark, sf_correct)
    assert out.exceptAll(again).count() == 0
    assert again.exceptAll(out).count() == 0
    out.unpersist()


def test_props_variant_bucket_floors_negative_k(spark):
    """k_bucket must agree between the Spark floor expression and the
    oracle's explicit floor(k/10.0) for NEGATIVE k — neither engine's
    native integer-division idiom does: Spark (k/10).cast('int')
    truncates toward zero AND DuckDB's `//` also truncates
    ((-5)//10 = 0, verified), which is why both dialects spell floor
    literally.  Latent-divergence guard: testdata k is 0..99 today."""
    import duckdb

    from pyspark.sql import functions as F

    ks = [-25, -15, -5, -1, 0, 5, 15]
    sdf = spark.createDataFrame([(k,) for k in ks], "k int")
    got = sorted(
        (r["k"], r["b"])
        for r in sdf.select(
            "k", F.floor(F.col("k") / F.lit(10)).cast("int").alias("b")
        ).collect()
    )
    want = sorted(
        duckdb.sql(
            "SELECT k, CAST(floor(k/10.0) AS INTEGER) b FROM (VALUES "
            + ",".join(f"({k})" for k in ks)
            + ") t(k)"
        ).fetchall()
    )
    assert got == want
    assert dict(got)[-5] == -1 and dict(got)[-15] == -2
