"""The checkpoint-backend seam (VERDICT r4 item 5): 'auto' resolves to
native Iceberg snapshots when the runtime + a catalog exist, and to the
parquet-dir + atomic-manifest stand-in otherwise — mirroring the codec
seam.  The real branch's kill/resume parity is env-gated: it runs on
any cluster image that ships the Iceberg jar, and skips here."""

import os

import pytest

from pero_ocr_api_spark.plans.checkpoint import (
    CheckpointedExtractor,
    SimulatedFailure,
)
from pero_ocr_api_spark.plans.iceberg_backend import (
    IcebergCheckpointedExtractor,
    checkpointed_extractor,
    iceberg_runtime_available,
)


def test_checkpoint_backend_seam(spark, tmp_path):
    """In this container (no Iceberg jar) the seam must resolve to the
    manifest stand-in, the forced-iceberg branch must refuse loudly,
    and the resolved extractor must be fully functional."""
    assert not iceberg_runtime_available(spark)

    ck = checkpointed_extractor(spark, str(tmp_path / "ckpt"), n_groups=2)
    assert type(ck) is CheckpointedExtractor

    with pytest.raises(NotImplementedError, match="Iceberg"):
        checkpointed_extractor(
            spark, str(tmp_path / "ckpt2"), backend="iceberg"
        )
    with pytest.raises(ValueError, match="unknown checkpoint backend"):
        checkpointed_extractor(spark, str(tmp_path / "ckpt3"), backend="bogus")

    # the resolved stand-in runs end-to-end through the seam factory
    docs = spark.createDataFrame(
        [(f"d{i}", [("text", f"t{i}", None, 0)]) for i in range(8)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    manifest = ck.run(spark, docs)
    assert set(manifest) == {0, 1}
    assert ck.read_spans(spark).count() == 8


@pytest.mark.skipif(
    "SPARK_GRAFT_ICEBERG" not in os.environ,
    reason="needs an Iceberg-enabled Spark session (set SPARK_GRAFT_ICEBERG "
    "and configure spark.sql.catalog.* = SparkCatalog)",
)
def test_iceberg_backend_kill_resume_parity(spark, tmp_path):
    """On an Iceberg-enabled image: same kill/resume contract as the
    manifest backend — a job killed mid-run resumes to a byte-identical
    table, commits are per-group snapshots carrying lineage."""
    assert iceberg_runtime_available(spark)
    docs = spark.createDataFrame(
        [(f"d{i}", [("text", f"t{i}", None, 0)]) for i in range(32)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    ck = IcebergCheckpointedExtractor(
        spark, "default.pero_seam_test", n_groups=4,
        staging_dir=str(tmp_path / "stage"),
    )
    with pytest.raises(SimulatedFailure):
        ck.run(spark, docs, fail_after=2)
    assert len(ck.committed_groups()) == 2
    ck.run(spark, docs)  # resume
    lineage = ck.committed_groups()
    assert len(lineage) == 4
    assert all("snapshot_id" in lin for lin in lineage.values())
    got = {
        (r.doc_id, r.order, r.text) for r in ck.read_spans(spark).collect()
    }
    assert got == {(f"d{i}", 0, f"t{i}") for i in range(32)}


def test_table_prefix_from_path_sanitizes_paths():
    """'auto' upgrades path-based call sites: the filesystem output_dir
    must become a parseable Iceberg identifier, never raw '/tmp/x'."""
    from pero_ocr_api_spark.plans.iceberg_backend import (
        table_prefix_from_path,
    )

    import re

    for raw, stem in [
        ("/tmp/ckpt", "tmp_ckpt"),
        ("/data/run-5/out.dir", "data_run_5_out_dir"),
        ("Already_Fine", "already_fine"),
        ("123/x", "t_123_x"),
        ("///", "pero_ckpt"),
    ]:
        got = table_prefix_from_path(raw)
        assert re.fullmatch(re.escape(stem) + r"_[0-9a-f]{6}", got), got
    # the hash tag makes the mapping injective where the stem is not:
    # distinct output_dirs must never share Iceberg tables
    assert (
        table_prefix_from_path("/data/run.5")
        != table_prefix_from_path("/data/run_5")
    )
    # and deterministic
    assert table_prefix_from_path("/tmp/ckpt") == table_prefix_from_path("/tmp/ckpt")
