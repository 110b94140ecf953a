"""Bucketed-layout co-location: doc-level joins over identically
bucketed tables must plan with zero Exchange (no shuffle) and return
the same rows as the unbucketed join."""

from pyspark.sql import functions as F

from pero_ocr_api_spark.plans.bucketing import (
    colocated_join,
    plan_has_no_exchange,
    write_bucketed,
)
from pero_ocr_api_spark.plans.pipeline import extract
from pero_ocr_api_spark.synth import interleaved_documents


def test_bucketed_join_is_shuffle_free(spark, sf_smoke):
    docs = interleaved_documents(spark, sf_smoke)
    res = extract(spark, docs, with_metrics=False)

    write_bucketed(docs.select("doc_id"), "docs_b", n_buckets=8)
    write_bucketed(res.docs, "results_b", n_buckets=8)

    joined = colocated_join(spark, "docs_b", "results_b")
    assert plan_has_no_exchange(joined), joined._jdf.queryExecution().executedPlan().toString()

    # same answer as the plain join
    exp = docs.select("doc_id").join(res.docs, "doc_id").count()
    assert joined.count() == exp

    # the resume anti-join is shuffle-free on the same layout
    remaining = spark.table("docs_b").join(
        spark.table("results_b").hint("merge"), "doc_id", "left_anti"
    )
    assert plan_has_no_exchange(remaining)
    assert remaining.count() == 0  # everything processed

    # mismatched bucket count DOES shuffle — the guard that co-location
    # is real, not vacuous
    write_bucketed(res.docs, "results_b4", n_buckets=4)
    mixed = colocated_join(spark, "docs_b", "results_b4")
    assert not plan_has_no_exchange(mixed)

    for t in ("docs_b", "results_b", "results_b4"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


import glob
import os

from pyspark.sql import functions as F

from pero_ocr_api_spark.plans.layout import (
    read_stratum, scan_partition_filters, write_partitioned, z_value,
)
from pero_ocr_api_spark.session import load_table


def test_partitioned_write_prunes_and_bounds_files(spark, sf_smoke, tmp_path):
    """The lake layout story end-to-end: partitionBy(lang) +
    maxRecordsPerFile write; a stratum read prunes at planning time
    (PartitionFilters, not post-scan Filter) and returns exactly the
    stratum's rows; no partition directory holds an unbounded file."""
    docs = load_table(spark, sf_smoke, "documents")
    path = str(tmp_path / "lake")
    write_partitioned(docs, path, max_records_per_file=40)

    one = read_stratum(spark, path, "lang", "en")
    pf = scan_partition_filters(one)
    assert "lang" in pf and "en" in pf, pf
    # pruning happened at planning: only the en/ directory is read
    scan = [
        ln
        for ln in one._jdf.queryExecution().executedPlan().toString().splitlines()
        if "FileScan" in ln
    ][0]
    assert "lang=en" in scan or "PartitionFilters" in scan

    expect = docs.filter(F.col("lang") == "en").count()
    assert one.count() == expect > 0

    # every partition's files respect the record bound
    for d in glob.glob(os.path.join(path, "lang=*")):
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert files, d
        for f in files:
            n = spark.read.parquet(f).count()
            assert n <= 40, (f, n)


def test_z_value_matches_reference_bit_interleave(spark):
    """z_value == the straightforward Python bit interleave, and
    z-sorting genuinely clusters both dimensions: within any aligned
    16×16 tile of (a, b) space the z-range is exactly the tile
    (contiguous 256-value block) — the property that keeps row-group
    min/max tight on each dimension."""

    def pyz(a, b, bits=16):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    pts = [(a, b) for a in range(0, 64, 7) for b in range(0, 64, 5)]
    df = spark.createDataFrame(pts, "a long, b long").select(
        "a", "b", z_value(F.col("a"), F.col("b")).alias("z")
    )
    for r in df.collect():
        assert r.z == pyz(r.a, r.b), (r.a, r.b, r.z)

    # aligned 16x16 tile => one contiguous 256-value z block
    tile = [(a, b) for a in range(16, 32) for b in range(32, 48)]
    zs = sorted(
        r.z
        for r in spark.createDataFrame(tile, "a long, b long")
        .select(z_value(F.col("a"), F.col("b")).alias("z"))
        .collect()
    )
    assert zs == list(range(zs[0], zs[0] + 256))
