"""Lifecycle tests (SURVEY §5.3): kill-and-resume produces a final table
identical to an uninterrupted run, with no duplicate lineage and no
partially-visible (uncommitted) results."""

import glob
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from pero_ocr_api_spark import oracle
from pero_ocr_api_spark.constants import KIND_MEDIA
from pero_ocr_api_spark.operators.inference import stub_infer_one
from pero_ocr_api_spark.plans import checkpoint
from pero_ocr_api_spark.plans.checkpoint import CheckpointedExtractor, SimulatedFailure
from pero_ocr_api_spark.plans.pipeline import RESULTS_SCHEMA, explode_spans, extract
from pero_ocr_api_spark.session import load_table
from pero_ocr_api_spark.synth import interleaved_documents


@pytest.fixture(scope="module")
def docs(spark, sf_smoke):
    return interleaved_documents(spark, sf_smoke)


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def uninterrupted(spark, docs, tmp_path_factory):
    """(spans, docs) read back from an uninterrupted 4-group run."""
    full = CheckpointedExtractor(str(tmp_path_factory.mktemp("ckfull")), n_groups=4)
    full.run(spark, docs, run_id="full")
    return _read_back(spark, full)


def _read_back(spark, ck):
    return _collect_sorted(ck.read_spans(spark)), _collect_sorted(ck.read_docs(spark))


def _oracle_metrics(docs):
    """pages_decoded / lines_emitted / decode_failures of the stub
    engine over every media span of ``docs``."""
    out = dict.fromkeys(("pages_decoded", "lines_emitted", "decode_failures"), 0)
    media = explode_spans(docs).filter(F.col("kind") == KIND_MEDIA)
    for r in media.select("media_ref").collect():
        err, lines = stub_infer_one(r.media_ref)
        if err is not None:
            out["decode_failures"] += 1
        else:
            out["pages_decoded"] += 1
            out["lines_emitted"] += len(lines)
    return out


def test_kill_and_resume_identical(spark, docs, uninterrupted, tmp_path_factory):
    expected_spans, expected_docs = uninterrupted

    # killed after 2 of 4 group commits
    half = CheckpointedExtractor(str(tmp_path_factory.mktemp("ckhalf")), n_groups=4)
    with pytest.raises(SimulatedFailure):
        half.run(spark, docs, run_id="try1", fail_after=2)
    committed = half.committed_groups()
    assert len(committed) == 2

    # only committed groups are visible mid-crash
    partial = _collect_sorted(half.read_spans(spark))
    assert 0 < len(partial) < len(expected_spans)

    # resume completes the remainder; final state identical
    half.run(spark, docs, run_id="try2")
    assert len(half.committed_groups()) == 4
    assert _read_back(spark, half) == uninterrupted

    # lineage: one row per group, no duplicates, counts add up
    lineage = half.lineage_df(spark).collect()
    assert sorted(r.group_id for r in lineage) == [0, 1, 2, 3]
    assert sum(r.span_count for r in lineage) == len(expected_spans)
    assert sum(r.doc_count for r in lineage) == len(expected_docs)
    # resumed groups carry the resume run_id
    assert {r.run_id for r in lineage} == {"try1", "try2"}
    # the observed inference metrics are exact without a persist
    metrics = [lin["metrics"] for lin in half.committed_groups().values()]
    assert {k: sum(m[k] for m in metrics) for k in metrics[0]} == _oracle_metrics(docs)


def test_empty_groups_commit_without_a_plan(
    spark, sf_smoke, tmp_path_factory, monkeypatch
):
    """64 groups over at most 20 docs leave most groups without a
    staged doc.  Those commit zero lineage rows in commit order and
    are never planned or written; a kill, a resume and the read-back
    still give the oracle's spans, scores and status, and the summed
    metrics stay exact."""
    docs = interleaved_documents(spark, sf_smoke).filter(
        F.col("doc_id") < "doc-000020"
    )
    flat = load_table(spark, sf_smoke, "documents").filter(F.col("doc_id") < 20)
    expected = oracle.extract_all(
        [(r.doc_id, r.text) for r in flat.select("doc_id", "text").collect()]
    )
    ck = CheckpointedExtractor(str(tmp_path_factory.mktemp("ckempty")), n_groups=64)
    n_planned = {}
    build = checkpoint.extract

    def counting_extract(*args, **kwargs):
        n_planned[run_id] = n_planned.get(run_id, 0) + 1
        return build(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(checkpoint, "extract", counting_extract)
        run_id = "try1"
        with pytest.raises(SimulatedFailure):
            ck.run(spark, docs, run_id=run_id, fail_after=32)
        assert len(ck.committed_groups()) == 32
        run_id = "try2"
        ck.run(spark, docs, run_id=run_id)

    committed = ck.committed_groups()
    assert sorted(committed) == list(range(64))
    assert [committed[g]["snapshot_id"] for g in range(64)] == list(range(1, 65))
    occupied = {g for g, lin in committed.items() if lin["doc_count"]}
    assert 0 < len(occupied) < 64
    # only occupied groups are planned; the kill drops the one plan
    # built ahead, and the resume builds it again
    by_run = {
        rid: sum(1 for g in occupied if committed[g]["run_id"] == rid)
        for rid in ("try1", "try2")
    }
    assert by_run["try1"] > 0 and by_run["try2"] > 0
    assert n_planned == {"try1": by_run["try1"] + 1, "try2": by_run["try2"]}
    for g, lin in committed.items():
        assert os.path.exists(ck._group_path(g)) == (g in occupied)
        if g not in occupied:
            assert lin["span_count"] == 0
            assert set(lin["metrics"].values()) == {0}

    spans = {}
    for r in ck.read_spans(spark).collect():
        spans.setdefault(r.doc_id, []).append((r.order, r.kind, r.text, r.media_ref))
    got_docs = {r.doc_id: (r.score, r.status) for r in ck.read_docs(spark).collect()}
    assert set(got_docs) == set(expected)
    for doc_id, od in expected.items():
        assert sorted(spans.get(doc_id, [])) == od.spans, doc_id
        assert got_docs[doc_id] == (od.score, od.status), doc_id
    assert sum(lin["doc_count"] for lin in committed.values()) == len(expected)
    metrics = [lin["metrics"] for lin in committed.values()]
    assert {k: sum(m[k] for m in metrics) for k in metrics[0]} == _oracle_metrics(docs)


def test_empty_source_commits_and_resumes(spark, docs, tmp_path_factory):
    """A source with no documents stages no group directory.  The run
    and a resume both complete with every group committed at zero
    counts, and both reads return zero rows with their usual columns."""
    empty = docs.filter(F.lit(False))
    ck = CheckpointedExtractor(str(tmp_path_factory.mktemp("ckvoid")), n_groups=4)
    for run_id in ("first", "resume"):
        committed = ck.run(spark, empty, run_id=run_id)
        assert sorted(committed) == [0, 1, 2, 3]
        for lin in committed.values():
            assert lin["run_id"] == "first"
            assert (lin["doc_count"], lin["span_count"]) == (0, 0)
            assert set(lin["metrics"].values()) == {0}
    full = extract(spark, docs, with_metrics=False)
    for got, want in ((ck.read_spans(spark), full.spans),
                      (ck.read_docs(spark), full.docs)):
        assert got.schema.simpleString() == want.schema.simpleString()
        assert got.count() == 0


def test_results_schema_is_what_extract_writes(spark, docs, tmp_path):
    """``RESULTS_SCHEMA`` is the schema of ``extract(...).results``, and
    a read with it sees exactly what a read that infers the schema from
    the written files sees."""
    results = extract(spark, docs, with_metrics=False).results
    known = spark.createDataFrame([], RESULTS_SCHEMA).schema
    assert known.simpleString() == results.schema.simpleString()
    path = str(tmp_path / "results")
    results.write.parquet(path)
    assert spark.read.schema(RESULTS_SCHEMA).parquet(path).schema == (
        spark.read.parquet(path).schema)


def test_checkpoint_reads_infer_no_schema(spark, docs, tmp_path):
    """Compaction and both reads read the committed files with the
    known schema, so none of them runs a schema-inference job:
    ``compact`` runs 2 Spark jobs, and collecting ``read_spans`` or
    ``read_docs`` 1 each."""
    ck = CheckpointedExtractor(str(tmp_path / "out"), n_groups=4)
    ck.run(spark, docs)
    sc = spark.sparkContext

    def jobs(name, action):
        sc.setJobGroup(name, name)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(name))

    assert {
        "compact": jobs("ck-compact", lambda: ck.compact(spark)),
        "spans": jobs("ck-spans", lambda: ck.read_spans(spark).collect()),
        "docs": jobs("ck-docs", lambda: ck.read_docs(spark).collect()),
    } == {"compact": 2, "spans": 1, "docs": 1}


def test_crash_after_group_data_before_manifest(
    spark, docs, uninterrupted, tmp_path_factory, monkeypatch
):
    """A crash after a group's results land but before its manifest
    leaves that group invisible; the resume rewrites it."""
    out = str(tmp_path_factory.mktemp("ckcrash"))
    ck = CheckpointedExtractor(out, n_groups=4)
    commit = CheckpointedExtractor._commit_group

    def crash_on_second(self, group, lineage):
        if self.committed_groups():
            raise SimulatedFailure("killed before the manifest")
        commit(self, group, lineage)

    with monkeypatch.context() as m:
        m.setattr(CheckpointedExtractor, "_commit_group", crash_on_second)
        with pytest.raises(SimulatedFailure):
            ck.run(spark, docs)
    assert len(glob.glob(os.path.join(out, "results", "group=*"))) == 2
    assert len(ck.committed_groups()) == 1
    ck.run(spark, docs)
    assert _read_back(spark, ck) == uninterrupted


def test_crash_after_compaction_data_before_manifest(
    spark, docs, uninterrupted, tmp_path_factory, monkeypatch
):
    """A crash after the compacted rewrite lands but before its
    manifest leaves reads on the group files; re-compacting completes."""
    out = str(tmp_path_factory.mktemp("ckcompcrash"))
    ck = CheckpointedExtractor(out, n_groups=4)
    ck.run(spark, docs)
    write = checkpoint._write_json_atomic

    def crash_on_compaction(path, obj):
        if os.path.basename(path).startswith("compaction-"):
            raise SimulatedFailure("killed before the compaction manifest")
        write(path, obj)

    with monkeypatch.context() as m:
        m.setattr(checkpoint, "_write_json_atomic", crash_on_compaction)
        with pytest.raises(SimulatedFailure):
            ck.compact(spark, target_files=1)
    rewrite = os.path.join(out, "results_compact", "snap=4")
    assert glob.glob(os.path.join(rewrite, "*.parquet"))
    assert _read_back(spark, ck) == uninterrupted
    assert ck.compact(spark, target_files=1)["covers_up_to"] == 4
    assert len(glob.glob(os.path.join(rewrite, "*.parquet"))) == 1
    assert _read_back(spark, ck) == uninterrupted


def test_next_group_planned_while_group_writes(
    spark, docs, uninterrupted, tmp_path_factory, monkeypatch
):
    """Each group's write waits until the next group's plan is being
    built, so the run only completes when planning overlaps writing;
    the per-group wall_ms then still sums to at most run()'s wall."""
    ck = CheckpointedExtractor(str(tmp_path_factory.mktemp("ckahead")), n_groups=4)
    planned = threading.Condition()
    n_planned = n_written = 0
    build, write = checkpoint.extract, CheckpointedExtractor._write_group

    def counting_extract(*args, **kwargs):
        nonlocal n_planned
        with planned:
            n_planned += 1
            planned.notify_all()
        return build(*args, **kwargs)

    def write_after_next_plan(self, g, results):
        nonlocal n_written
        n_written += 1
        if n_written < 4:
            with planned:
                assert planned.wait_for(
                    lambda: n_planned > n_written, timeout=30
                ), f"group {g} wrote before the next group was planned"
        write(self, g, results)

    with monkeypatch.context() as m:
        m.setattr(checkpoint, "extract", counting_extract)
        m.setattr(CheckpointedExtractor, "_write_group", write_after_next_plan)
        t0 = time.monotonic()
        manifest = ck.run(spark, docs)
        wall_ms = (time.monotonic() - t0) * 1000
    assert sorted(manifest) == [0, 1, 2, 3]
    assert sum(lin["wall_ms"] for lin in manifest.values()) <= wall_ms
    assert _read_back(spark, ck) == uninterrupted


def test_planner_failure_raises_after_earlier_commits(
    spark, docs, uninterrupted, tmp_path_factory, monkeypatch
):
    """A plan that fails to build surfaces from run() once the groups
    before it are committed; its group lands nothing and a resume
    completes the table."""
    out = str(tmp_path_factory.mktemp("ckplanfail"))
    ck = CheckpointedExtractor(out, n_groups=4)
    boom = RuntimeError("plan of the third group failed")
    calls = 0
    build = checkpoint.extract

    def fail_third(*args, **kwargs):
        nonlocal calls
        calls += 1
        if calls == 3:
            raise boom
        return build(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(checkpoint, "extract", fail_third)
        with pytest.raises(RuntimeError) as err:
            ck.run(spark, docs)
    assert err.value is boom
    assert sorted(ck.committed_groups()) == [0, 1]
    assert not os.path.exists(os.path.join(out, "results", "group=2"))
    ck.run(spark, docs)
    assert _read_back(spark, ck) == uninterrupted


def test_extract_build_runs_no_spark_job(spark, docs, tmp_path):
    """Building a group's extract plan is driver-only: it runs no Spark
    job, so building it on the planner thread never runs work outside
    the caller's job group."""
    src = str(tmp_path / "staged")
    docs.withColumn("group_id", F.lit(0)).write.partitionBy("group_id").parquet(src)
    staged = spark.read.parquet(src)
    sc = spark.sparkContext
    tag = "extract-build"
    sc.setJobGroup(tag, tag)
    try:
        extract(spark, staged.filter(F.col("group_id") == 0).drop("group_id"),
                salt_partitions=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(tag)) == 0


def test_checkpoint_group_runs_at_most_four_jobs(spark, docs, tmp_path_factory):
    """Spark jobs per checkpoint group: the slope between uninterrupted
    runs with 2 and 6 groups over the same input, whose staging jobs
    are common to both."""
    base = tmp_path_factory.mktemp("ckjobs")
    src = str(base / "input.parquet")
    docs.write.parquet(src)
    sc = spark.sparkContext

    def jobs(n_groups):
        tag = f"ckjobs-{n_groups}"
        sc.setJobGroup(tag, tag)
        try:
            CheckpointedExtractor(str(base / tag), n_groups=n_groups).run(
                spark, spark.read.parquet(src)
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    assert (jobs(6) - jobs(2)) / 4 <= 4


def test_remaining_docs_left_anti(spark, docs, tmp_path_factory):
    base = tmp_path_factory.mktemp("ckpt2")
    ck = CheckpointedExtractor(str(base / "out"), n_groups=4)
    total = docs.count()
    assert ck.remaining_docs(spark, docs).count() == total
    with pytest.raises(SimulatedFailure):
        ck.run(spark, docs, fail_after=2)
    remaining = ck.remaining_docs(spark, docs).count()
    done = ck.read_docs(spark).count()
    assert remaining + done == total
    ck.run(spark, docs)
    assert ck.remaining_docs(spark, docs).count() == 0


def test_n_groups_mismatch_refused(spark, sf_smoke, tmp_path_factory):
    """Resuming a checkpoint with a different hash-bucket width would
    silently skip groups — the constructor must refuse."""
    import pytest as _pytest

    from pero_ocr_api_spark.plans.checkpoint import CheckpointedExtractor
    from pero_ocr_api_spark.synth import interleaved_documents

    out = str(tmp_path_factory.mktemp("ckmeta"))
    docs = interleaved_documents(spark, sf_smoke).orderBy("doc_id").limit(20)
    CheckpointedExtractor(out, n_groups=4).run(spark, docs)
    with _pytest.raises(ValueError, match="n_groups=4"):
        CheckpointedExtractor(out, n_groups=8)
    # same width re-opens fine and is a no-op resume
    m = CheckpointedExtractor(out, n_groups=4).run(spark, docs)
    assert len(m) == 4


def test_changed_input_on_resume_refused(spark, sf_smoke, tmp_path_factory):
    """ADVICE r1: resuming a partially-committed checkpoint with a
    different documents DataFrame must refuse, not silently process
    the frozen stale snapshot."""
    from pero_ocr_api_spark.synth import interleaved_documents

    out = str(tmp_path_factory.mktemp("ckfp"))
    docs = interleaved_documents(spark, sf_smoke).orderBy("doc_id").limit(20)
    ck = CheckpointedExtractor(out, n_groups=4)
    with pytest.raises(SimulatedFailure):
        ck.run(spark, docs, fail_after=1)
    with pytest.raises(ValueError, match="fingerprint"):
        CheckpointedExtractor(out, n_groups=4).run(spark, docs.limit(10))
    # the unchanged source still resumes to completion
    m = CheckpointedExtractor(out, n_groups=4).run(spark, docs)
    assert len(m) == 4


def test_changed_content_on_resume_refused(spark, sf_smoke, tmp_path_factory):
    """ADVICE r2: the fingerprint must cover CONTENT, not just the
    doc_id set — resuming after the source's span text changed under
    identical doc_ids must refuse, not process the stale snapshot."""
    from pyspark.sql import functions as F

    from pero_ocr_api_spark.synth import interleaved_documents

    out = str(tmp_path_factory.mktemp("ckcontent"))
    docs = interleaved_documents(spark, sf_smoke).orderBy("doc_id").limit(20)
    ck = CheckpointedExtractor(out, n_groups=4)
    with pytest.raises(SimulatedFailure):
        ck.run(spark, docs, fail_after=1)
    mutated = docs.withColumn(
        "spans",
        F.expr(
            "transform(spans, s -> named_struct("
            "'kind', s.kind, 'text', upper(s.text), "
            "'media_ref', s.media_ref, 'offset', s.offset))"
        ),
    )
    assert mutated.count() == docs.count()  # same ids, same row count
    with pytest.raises(ValueError, match="fingerprint"):
        CheckpointedExtractor(out, n_groups=4).run(spark, mutated)
    m = CheckpointedExtractor(out, n_groups=4).run(spark, docs)
    assert len(m) == 4


def test_old_layouts_refused(tmp_path):
    """Group manifests without a _meta.json pin, and the old spans/ +
    docs/ layout, are refused instead of resumed."""
    prepin = tmp_path / "prepin" / "_manifest"
    prepin.mkdir(parents=True)
    (prepin / "group-0.json").write_text("{}")
    with pytest.raises(ValueError, match="no _meta.json"):
        CheckpointedExtractor(str(tmp_path / "prepin"), n_groups=4)
    (tmp_path / "flat" / "spans" / "group=0").mkdir(parents=True)
    with pytest.raises(ValueError, match=r"spans/ \+ docs/"):
        CheckpointedExtractor(str(tmp_path / "flat"), n_groups=4)


def test_snapshot_time_travel(spark, sf_smoke, tmp_path_factory):
    """Iceberg-style time travel: every commit gets a monotonically
    increasing snapshot_id (continuing across resume), and
    read_docs/read_spans(as_of=N) shows exactly the groups committed at
    snapshots <= N — the state a reader at that moment saw."""
    from pero_ocr_api_spark.synth import interleaved_documents

    out = str(tmp_path_factory.mktemp("cktt"))
    docs = interleaved_documents(spark, sf_smoke).orderBy("doc_id").limit(20)
    ck = CheckpointedExtractor(out, n_groups=4)
    with pytest.raises(SimulatedFailure):
        ck.run(spark, docs, run_id="try1", fail_after=2)
    manifest = ck.run(spark, docs, run_id="try2")

    snaps = {g: lin["snapshot_id"] for g, lin in manifest.items()}
    assert sorted(snaps.values()) == [1, 2, 3, 4]  # resume continues
    # as_of the crash point: exactly the first two committed groups
    first_two = {g for g, s in snaps.items() if s <= 2}
    asof = ck.read_docs(spark, as_of=2)
    full = ck.read_docs(spark)
    expect = sum(manifest[g]["doc_count"] for g in first_two)
    assert asof.count() == expect < full.count()
    # spans agree with the docs snapshot
    span_expect = sum(manifest[g]["span_count"] for g in first_two)
    assert ck.read_spans(spark, as_of=2).count() == span_expect
    # as_of beyond head == current table
    assert ck.read_docs(spark, as_of=99).count() == full.count()
    # lineage carries the snapshot column
    rows = ck.lineage_df(spark).collect()
    assert sorted(r.snapshot_id for r in rows) == [1, 2, 3, 4]


def test_lineage_records_n_groups(spark, sf_smoke, tmp_path_factory):
    from pero_ocr_api_spark.synth import interleaved_documents

    out = str(tmp_path_factory.mktemp("cklin"))
    docs = interleaved_documents(spark, sf_smoke).orderBy("doc_id").limit(20)
    ck = CheckpointedExtractor(out, n_groups=4)
    ck.run(spark, docs)
    rows = ck.lineage_df(spark).collect()
    assert len(rows) == 4
    assert all(r.n_groups == 4 for r in rows)


def test_compaction_and_snapshot_expiry(spark, sf_smoke, tmp_path_factory):
    """Iceberg rewrite-data-files semantics: compaction rewrites the
    committed table into few files, reads are value-identical before
    and after, time travel below the compaction point keeps working
    from the original group files until expire_snapshots reclaims them
    (after which sub-horizon reads raise), and groups committed AFTER
    a compaction union on top of the rewrite."""
    from pero_ocr_api_spark.synth import interleaved_documents

    out = str(tmp_path_factory.mktemp("ckcompact"))
    docs = interleaved_documents(spark, sf_smoke).orderBy("doc_id").limit(20)
    ck = CheckpointedExtractor(out, n_groups=4)

    # commit the first two groups, compact, then finish the run: the
    # final table must union the rewrite with the post-compaction groups
    with pytest.raises(SimulatedFailure):
        ck.run(spark, docs, run_id="r1", fail_after=2)
    before = _collect_sorted(ck.read_spans(spark))
    comp = ck.compact(spark, target_files=1)
    assert comp["covers_up_to"] == 2
    assert _collect_sorted(ck.read_spans(spark)) == before

    ck.run(spark, docs, run_id="r2")
    full_spans = _collect_sorted(ck.read_spans(spark))
    full_docs = _collect_sorted(ck.read_docs(spark))
    n_small = len(glob.glob(os.path.join(out, "results", "group=*", "*.parquet")))

    comp2 = ck.compact(spark, target_files=1)
    assert comp2["covers_up_to"] == 4
    # reads identical through the rewrite
    assert _collect_sorted(ck.read_spans(spark)) == full_spans
    assert _collect_sorted(ck.read_docs(spark)) == full_docs
    # the rewrite actually consolidated files
    n_compact = len(glob.glob(
        os.path.join(out, "results_compact", "snap=4", "*.parquet")))
    assert n_compact == 1 < n_small
    # time travel below the horizon still works (original files intact)
    asof2 = ck.read_docs(spark, as_of=2).count()
    assert 0 < asof2 < ck.read_docs(spark).count()

    expired = ck.expire_snapshots()
    assert expired  # originals reclaimed
    # current reads still serve from the rewrite
    assert _collect_sorted(ck.read_spans(spark)) == full_spans
    # as_of=2 STILL works: the first compaction (covers_up_to=2) is a
    # complete rewrite of that snapshot and survives expiry
    assert ck.read_docs(spark, as_of=2).count() == asof2
    # but below every rewrite the history is truly gone
    with pytest.raises(ValueError, match="expired"):
        ck.read_docs(spark, as_of=1).count()
    # lineage metadata survives expiry
    assert ck.lineage_df(spark).count() == 4
