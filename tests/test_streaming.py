"""availableNow streaming variant must equal the batch run, and a second
invocation must process only newly-arrived files (incremental, no
duplicates)."""

import os

import pytest

from pero_ocr_api_spark.plans.pipeline import extract, result_docs, result_spans
from pero_ocr_api_spark.streaming.stream import incremental_extract
from pero_ocr_api_spark.synth import interleaved_documents


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.select(
        "doc_id", "order", "kind", "text", "media_ref").collect())


def test_streaming_equals_batch(spark, sf_smoke, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    in_dir = str(base / "in")
    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")

    docs = interleaved_documents(spark, sf_smoke)
    first = docs.filter("doc_id < 'doc-000250'")
    second = docs.filter("doc_id >= 'doc-000250'")

    def sink():
        return spark.read.parquet(os.path.join(out_dir, "results"))

    os.makedirs(in_dir, exist_ok=True)
    first.write.mode("append").parquet(in_dir)
    incremental_extract(spark, in_dir, out_dir, ckpt)

    got_first = _sorted_rows(result_spans(sink()))
    exp_first = _sorted_rows(extract(spark, first, with_metrics=False).spans)
    assert got_first == exp_first

    # late-arriving files: only the delta is processed on re-trigger
    second.write.mode("append").parquet(in_dir)
    incremental_extract(spark, in_dir, out_dir, ckpt)

    batch = extract(spark, docs, with_metrics=False)
    got_all = _sorted_rows(result_spans(sink()))
    exp_all = _sorted_rows(batch.spans)
    assert got_all == exp_all  # no duplicates, nothing missing
    got_docs = sorted(tuple(r) for r in result_docs(sink()).collect())
    assert got_docs == sorted(tuple(r) for r in batch.docs.collect())


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "engine_id string, state string, ts timestamp, message string"
    ).coalesce(1).write.mode("append").parquet(path)


def test_windowed_state_counts_watermark(spark, tmp_path_factory):
    """Watermarked tumbling windows emit exactly once, in append mode,
    when the watermark passes their end; late-but-within-watermark
    events are folded in before emission."""
    from datetime import datetime

    from pero_ocr_api_spark.streaming.windows import windowed_state_counts

    base = tmp_path_factory.mktemp("winstream")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ck")
    os.makedirs(in_dir, exist_ok=True)

    t = lambda m, s=0: datetime(2024, 1, 1, 10, m, s)
    # batch 1: events in windows [10:00,10:10) and [10:10,10:20);
    # max ts 10:19 -> watermark after batch1 = 10:14
    _write_events(spark, in_dir, [
        ("e1", "PROCESSED", t(1), "a"),
        ("e1", "PROCESSED", t(5), "b"),
        ("e2", "FAILED", t(9, 59), "c"),
        ("e1", "PROCESSED", t(19), "d"),
    ])
    # batch 2: t(15) arrives after batch 1 set the watermark to 10:14 —
    # late relative to already-seen 10:19 but >= the watermark, so it
    # folds into the still-open [10:10,10:20) window before emission;
    # t(55) then advances the watermark far enough to close both early
    # windows before the stream ends.
    _write_events(spark, in_dir, [
        ("e2", "PROCESSED", t(15), "e"),
        ("e1", "PROCESSED", t(55), "f"),
    ])

    windowed_state_counts(spark, in_dir, out_dir, ckpt,
                          window="10 minutes", watermark="5 minutes")

    got = {
        (r.win_start.minute, r.win_end.minute, r.state): r.n
        for r in spark.read.parquet(out_dir).collect()
    }
    # watermark at the close of processing = 10:55 - 5min = 10:50, so
    # windows ending 10:10 and 10:20 have emitted; [10:50,11:00) has not.
    assert got[(0, 10, "PROCESSED")] == 2
    assert got[(0, 10, "FAILED")] == 1
    assert got[(10, 20, "PROCESSED")] == 2
    assert (50, 0, "PROCESSED") not in got  # open window unemitted


def test_rate_limited_notifications_state_across_batches(spark, tmp_path_factory):
    """applyInPandasWithState keeps last-notification per engine in the
    state store: an event early in batch 2 is suppressed by the
    notification sent in batch 1 (reference MAX_EMAIL_FREQUENCY
    throttle, routes.py:332-334)."""
    from datetime import datetime

    from pero_ocr_api_spark.streaming.windows import rate_limited_notifications

    base = tmp_path_factory.mktemp("notify")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ck")
    os.makedirs(in_dir, exist_ok=True)

    t = lambda m, s=0: datetime(2024, 1, 1, 12, m, s)
    # batch 1: e1 notifies at 12:00 (first), 12:02 suppressed (<5 min),
    # e2 notifies at 12:01
    _write_events(spark, in_dir, [
        ("e1", "FAILED", t(0), "n1"),
        ("e1", "FAILED", t(2), "n2"),
        ("e2", "FAILED", t(1), "n3"),
    ])
    rate_limited_notifications(spark, in_dir, out_dir, ckpt, min_interval_s=300)

    # batch 2 (separate trigger run, state restored from checkpoint):
    # e1 at 12:04 still suppressed by the 12:00 notification;
    # e1 at 12:06 clears the 5-minute interval; e2 at 12:07 clears too
    _write_events(spark, in_dir, [
        ("e1", "FAILED", t(4), "n4"),
        ("e1", "FAILED", t(6, 1), "n5"),
        ("e2", "FAILED", t(7), "n6"),
    ])
    rate_limited_notifications(spark, in_dir, out_dir, ckpt, min_interval_s=300)

    got = sorted(
        (r.engine_id, r.message)
        for r in spark.read.parquet(os.path.join(out_dir, "notifications")).collect()
    )
    assert got == [("e1", "n1"), ("e1", "n5"), ("e2", "n3"), ("e2", "n6")]


def test_streaming_page_state_tracker_equals_batch_fold(spark, tmp_path_factory):
    """Stateful lifecycle tracking: events drained in two separate
    availableNow runs fold to exactly the states a single-pass Python
    fold produces (same TRANSITIONS table), with illegal events
    ignored and state surviving the checkpoint between drains."""
    from datetime import datetime

    from pero_ocr_api_spark.streaming.statemachine_stream import (
        fold_events, track_page_states,
    )

    base = tmp_path_factory.mktemp("smstream")
    in_dir, out_dir, ckpt = (str(base / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir, exist_ok=True)
    t = lambda m: datetime(2024, 5, 1, 10, m, 0)

    batch1 = [
        ("p1", "created", t(0)), ("p1", "upload", t(1)), ("p1", "claim", t(2)),
        ("p2", "created", t(0)),
        ("p3", "created", t(0)), ("p3", "claim", t(1)),   # illegal: ignored
    ]
    batch2 = [
        ("p1", "finish_ok", t(10)),                        # across-drain state
        ("p2", "upload", t(11)), ("p2", "cancel", t(12)),
        ("p3", "upload", t(11)),
        ("p4", "created", t(11)), ("p4", "upload", t(12)),
        ("p4", "claim", t(13)), ("p4", "finish_fail", t(14)),
    ]
    schema = "page_id string, event string, ts timestamp"
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(in_dir)
    track_page_states(spark, in_dir, out_dir, ckpt)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(in_dir)
    track_page_states(spark, in_dir, out_dir, ckpt)

    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    out = spark.read.parquet(out_dir)
    # latest emitted row per page = current state
    w = _W.partitionBy("page_id").orderBy(_F.col("batch_id").desc())
    latest = {
        r.page_id: r.state
        for r in out.withColumn("rn", _F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    # independent fold over ALL events per page, sorted
    events = sorted(batch1 + batch2, key=lambda e: (e[0], e[2], e[1]))
    expected = {}
    for pid, ev, _ts in events:
        expected.setdefault(pid, []).append(ev)
    expected = {p: fold_events(None, evs) for p, evs in expected.items()}
    assert latest == expected
    assert expected == {
        "p1": "PROCESSED", "p2": "CANCELED",
        "p3": "WAITING", "p4": "PROCESSING_FAILED",
    }


def test_streaming_cancel_racing_finish(spark, tmp_path_factory):
    """VERDICT r2 #7: the reference allows cancel while a page is
    PROCESSING (general.py:54-63 cancels CREATED/WAITING/PROCESSING
    pages), so a cancel event can race the worker's finish event.  The
    fold must resolve every ordering deterministically:
    - cancel lands first → CANCELED; the late finish is a no-op
      (the reference worker's result upload hits a canceled page);
    - finish lands first → PROCESSED/FAILED; the late cancel is a
      no-op (cancel only touches non-terminal pages);
    - same timestamp → event-name tiebreak (cancel < finish_*) makes
      the outcome CANCELED, identically in every drain split.
    The race is exercised ACROSS drains: the checkpointed state carries
    PROCESSING over the restart boundary."""
    from datetime import datetime

    from pero_ocr_api_spark.streaming.statemachine_stream import (
        fold_events, track_page_states,
    )

    base = tmp_path_factory.mktemp("smrace")
    in_dir, out_dir, ckpt = (str(base / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir, exist_ok=True)
    t = lambda m: datetime(2024, 5, 1, 10, m, 0)

    def start(pid):
        return [(pid, "created", t(0)), (pid, "upload", t(1)),
                (pid, "claim", t(2))]

    batch1 = (
        start("pc1") + start("pc2") + start("pc3")
        + [("pc1", "cancel", t(3))]          # cancel BEFORE the drain split
    )
    batch2 = [
        ("pc1", "finish_ok", t(4)),          # late finish on CANCELED: no-op
        ("pc2", "finish_fail", t(3)), ("pc2", "cancel", t(4)),  # finish first
        ("pc3", "cancel", t(5)), ("pc3", "finish_ok", t(5)),    # exact tie
    ]
    schema = "page_id string, event string, ts timestamp"
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(in_dir)
    track_page_states(spark, in_dir, out_dir, ckpt)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(in_dir)
    track_page_states(spark, in_dir, out_dir, ckpt)

    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    out = spark.read.parquet(out_dir)
    w = _W.partitionBy("page_id").orderBy(_F.col("batch_id").desc())
    latest = {
        r.page_id: r.state
        for r in out.withColumn("rn", _F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert latest == {
        "pc1": "CANCELED",           # cancel-then-finish: cancel sticks
        "pc2": "PROCESSING_FAILED",  # finish-then-cancel: terminal sticks
        "pc3": "CANCELED",           # tie: deterministic name order
    }
    # the streaming fold equals the batch fold on the merged stream
    events = sorted(batch1 + batch2, key=lambda e: (e[0], e[2], e[1]))
    per_page = {}
    for pid, ev, _ts in events:
        per_page.setdefault(pid, []).append(ev)
    assert latest == {p: fold_events(None, evs) for p, evs in per_page.items()}


def test_streaming_upsert_folds_batches_in_order(spark, tmp_path):
    """Streaming MERGE sink: two availableNow drains — the second sees
    only the new change file and its rows overwrite the first's on key
    match; within a batch the highest seq per key wins; a no-change
    re-drain leaves the committed snapshot untouched."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from pero_ocr_api_spark.streaming.cdc_stream import (
        read_target, streaming_upsert,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("v", StringType()),
        StructField("seq", LongType()),
    ])
    in_dir = str(tmp_path / "changes")
    tgt = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: keys 1,2 — key 2 appears twice, seq 11 must win
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (2, "b2", 11)], schema
    ).write.mode("append").parquet(in_dir)
    streaming_upsert(spark, in_dir, tgt, ckpt, schema)
    got = {r.doc_id: (r.v, r.seq) for r in read_target(spark, tgt).collect()}
    assert got == {1: ("a", 10), 2: ("b2", 11)}

    # batch 2: update key 1 (even with a LOWER seq — later batch wins),
    # insert key 3
    spark.createDataFrame(
        [(1, "a9", 5), (3, "c", 1)], schema
    ).write.mode("append").parquet(in_dir)
    streaming_upsert(spark, in_dir, tgt, ckpt, schema)
    got = {r.doc_id: (r.v, r.seq) for r in read_target(spark, tgt).collect()}
    assert got == {1: ("a9", 5), 2: ("b2", 11), 3: ("c", 1)}

    # idle drain: no new files → snapshot unchanged
    streaming_upsert(spark, in_dir, tgt, ckpt, schema)
    again = {r.doc_id: (r.v, r.seq) for r in read_target(spark, tgt).collect()}
    assert again == got


def test_streaming_upsert_crash_between_merge_and_pointer_flip(
    spark, tmp_path, monkeypatch
):
    """Exactly-once under crash (VERDICT r4 item 7): kill the job at the
    two worst moments inside foreachBatch — (a) after the merged
    snapshot is written but BEFORE the pointer flips, and (b) after the
    pointer flips but before Spark commits the batch offset — then
    re-drain.  Both retries must converge to the same final table as an
    uninterrupted run: the version-dir write is keyed by batch_id
    (overwrite-idempotent) and re-merging rows already in the target is
    a fixed point of merge_upsert."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from pero_ocr_api_spark.streaming import cdc_stream
    from pero_ocr_api_spark.streaming.cdc_stream import (
        read_target, streaming_upsert,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("v", StringType()),
        StructField("seq", LongType()),
    ])
    in_dir = str(tmp_path / "changes")
    tgt = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], schema
    ).write.mode("append").parquet(in_dir)
    streaming_upsert(spark, in_dir, tgt, ckpt, schema)

    real_flip = cdc_stream._commit_pointer

    # ---- crash (a): merged data landed, pointer NOT flipped ----
    def crash_before_flip(target_dir, version):
        raise RuntimeError("injected crash before pointer flip")

    spark.createDataFrame(
        [(1, "a2", 20), (3, "c", 1)], schema
    ).write.mode("append").parquet(in_dir)
    monkeypatch.setattr(cdc_stream, "_commit_pointer", crash_before_flip)
    with pytest.raises(Exception, match="injected crash before pointer"):
        streaming_upsert(spark, in_dir, tgt, ckpt, schema)
    # the crash left the COMMITTED view untouched (old pointer)
    got = {r.doc_id: (r.v, r.seq) for r in read_target(spark, tgt).collect()}
    assert got == {1: ("a", 10), 2: ("b", 10)}

    monkeypatch.setattr(cdc_stream, "_commit_pointer", real_flip)
    streaming_upsert(spark, in_dir, tgt, ckpt, schema)  # retry drains same batch
    got = {r.doc_id: (r.v, r.seq) for r in read_target(spark, tgt).collect()}
    assert got == {1: ("a2", 20), 2: ("b", 10), 3: ("c", 1)}

    # ---- crash (b): pointer flipped, then the job dies before the
    # streaming offset commit — the retry re-runs the SAME batch over a
    # target that already contains it ----
    calls = {"n": 0}

    def crash_after_flip(target_dir, version):
        real_flip(target_dir, version)
        calls["n"] += 1
        raise RuntimeError("injected crash after pointer flip")

    spark.createDataFrame(
        [(2, "b9", 30), (4, "d", 1)], schema
    ).write.mode("append").parquet(in_dir)
    monkeypatch.setattr(cdc_stream, "_commit_pointer", crash_after_flip)
    with pytest.raises(Exception, match="injected crash after pointer"):
        streaming_upsert(spark, in_dir, tgt, ckpt, schema)
    assert calls["n"] == 1
    # the flip won the race: the new data IS already visible
    got = {r.doc_id: (r.v, r.seq) for r in read_target(spark, tgt).collect()}
    assert got == {1: ("a2", 20), 2: ("b9", 30), 3: ("c", 1), 4: ("d", 1)}

    monkeypatch.setattr(cdc_stream, "_commit_pointer", real_flip)
    streaming_upsert(spark, in_dir, tgt, ckpt, schema)  # re-merge = fixed point
    again = {r.doc_id: (r.v, r.seq) for r in read_target(spark, tgt).collect()}
    assert again == got

    # and a fresh post-recovery batch still flows normally
    spark.createDataFrame([(5, "e", 1)], schema).write.mode(
        "append"
    ).parquet(in_dir)
    streaming_upsert(spark, in_dir, tgt, ckpt, schema)
    assert read_target(spark, tgt).count() == 5


def test_stream_stream_join_equals_batch(spark, tmp_path_factory):
    """Watermarked stream-stream interval join (claims ⋈ results within
    the hour) equals the batch join on the same events — including a
    result arriving in a LATER micro-batch than its claim (cross-batch
    state), an out-of-window result (excluded), and an unanswered claim
    (no row; inner join)."""
    import datetime as dt

    from pero_ocr_api_spark.streaming.join_stream import (
        JOIN_WINDOW_SECS, claim_result_stream, joined_frame,
    )

    base = tmp_path_factory.mktemp("ssjoin")
    c_dir, r_dir = str(base / "claims"), str(base / "results")
    out_dir, ckpt = str(base / "out"), str(base / "ck")
    os.makedirs(c_dir, exist_ok=True)
    os.makedirs(r_dir, exist_ok=True)

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    sec = lambda s: t0 + dt.timedelta(seconds=s)
    claims = [
        ("p1", 1, sec(0)),       # answered in results batch 1
        ("p2", 1, sec(10)),      # answered in results batch 2 (cross-batch)
        ("p3", 2, sec(20)),      # answered too late -> excluded
        ("p4", 2, sec(30)),      # never answered -> no row
        ("p5", 1, sec(40)),      # two results in window -> two rows
    ]
    results_b1 = [
        ("p1", "PROCESSED", sec(600)),
        ("p5", "PROCESSED", sec(700)),
    ]
    results_b2 = [
        ("p2", "PROCESSING_FAILED", sec(1200)),
        ("p3", "PROCESSED", sec(20 + JOIN_WINDOW_SECS + 1)),
        ("p5", "PROCESSING_FAILED", sec(800)),
    ]
    c_schema = "page_id string, engine_id bigint, claim_ts timestamp"
    r_schema = "page_id string, status string, finish_ts timestamp"
    spark.createDataFrame(claims, c_schema).coalesce(1).write.mode(
        "append"
    ).parquet(c_dir)
    spark.createDataFrame(results_b1, r_schema).coalesce(1).write.mode(
        "append"
    ).parquet(r_dir)
    spark.createDataFrame(results_b2, r_schema).coalesce(1).write.mode(
        "append"
    ).parquet(r_dir)

    claim_result_stream(spark, c_dir, r_dir, out_dir, ckpt)
    got = {tuple(r) for r in spark.read.parquet(out_dir).collect()}

    want = {
        tuple(r)
        for r in joined_frame(
            spark.createDataFrame(claims, c_schema),
            spark.createDataFrame(results_b1 + results_b2, r_schema),
        ).collect()
    }
    assert got == want
    assert len(got) == 4  # p1, p2, p5 x2; p3 out-of-window, p4 unmatched
    assert {r[0] for r in got} == {"p1", "p2", "p5"}

    # incremental drain: a new result for the (still-buffered) p4 claim
    spark.createDataFrame(
        [("p4", "PROCESSED", sec(900))], r_schema
    ).coalesce(1).write.mode("append").parquet(r_dir)
    claim_result_stream(spark, c_dir, r_dir, out_dir, ckpt)
    got2 = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    assert len(got2) == 5 and ("p4" in {r[0] for r in got2})


def test_stream_timeout_detector_equals_batch_anti(spark, tmp_path_factory):
    """LEFT OUTER watermarked interval join as a timeout detector: a
    claim with no in-window result emits (exactly once) after the
    results watermark proves no match can still arrive — equals the
    batch left-anti twin.  The out-of-window result (p3) and the
    never-answered claim (p4) are timeouts; answered claims are not."""
    import datetime as dt

    from pero_ocr_api_spark.streaming.join_stream import (
        JOIN_WINDOW_SECS, claim_timeout_stream, timeout_frame,
    )

    base = tmp_path_factory.mktemp("sstimeout")
    c_dir, r_dir = str(base / "claims"), str(base / "results")
    out_dir, ckpt = str(base / "out"), str(base / "ck")
    os.makedirs(c_dir, exist_ok=True)
    os.makedirs(r_dir, exist_ok=True)

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    sec = lambda s: t0 + dt.timedelta(seconds=s)
    claims = [
        ("p1", 1, sec(0)),       # answered in window -> not a timeout
        ("p3", 2, sec(20)),      # answered too late -> timeout
        ("p4", 2, sec(30)),      # never answered -> timeout
    ]
    results = [
        ("p1", "PROCESSED", sec(600)),
        ("p3", "PROCESSED", sec(20 + JOIN_WINDOW_SECS + 1)),
    ]
    c_schema = "page_id string, engine_id bigint, claim_ts timestamp"
    r_schema = "page_id string, status string, finish_ts timestamp"
    spark.createDataFrame(claims, c_schema).coalesce(1).write.mode(
        "append"
    ).parquet(c_dir)
    spark.createDataFrame(results, r_schema).coalesce(1).write.mode(
        "append"
    ).parquet(r_dir)

    claim_timeout_stream(spark, c_dir, r_dir, out_dir, ckpt)
    emitted_early = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    # nothing may emit yet: the results watermark has not passed
    # claim_ts + window + lateness for ANY claim
    want = {
        tuple(r)
        for r in timeout_frame(
            spark.createDataFrame(claims, c_schema),
            spark.createDataFrame(results, r_schema),
        ).collect()
    }
    assert {r[0] for r in want} == {"p3", "p4"}
    assert emitted_early <= want

    # sentinel events far in the future on BOTH feeds advance both
    # watermarks past every claim's timeout bound (left-outer eviction
    # needs the claims watermark too, not just the results side); the
    # sentinel claim itself stays buffered (nothing newer proves ITS
    # timeout), so it never reaches the output
    spark.createDataFrame(
        [("zzz", "PROCESSED", sec(50 * 3600))], r_schema
    ).coalesce(1).write.mode("append").parquet(r_dir)
    spark.createDataFrame(
        [("yyy", 9, sec(50 * 3600))], c_schema
    ).coalesce(1).write.mode("append").parquet(c_dir)
    claim_timeout_stream(spark, c_dir, r_dir, out_dir, ckpt)
    got = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    assert got <= want

    # one more drain with no new data: the post-sentinel watermark is
    # now in the checkpoint, so eviction completes; timeouts emit
    # exactly once and answered claims never do
    claim_timeout_stream(spark, c_dir, r_dir, out_dir, ckpt)
    again = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    assert again == want


def test_sliding_rate_equals_batch(spark, tmp_path_factory):
    """Sliding (overlapping) windows: the streaming append-mode output
    must equal the batch F.window(ts, w, s) aggregate over the same
    events, restricted to windows the final watermark has closed —
    and every event must appear in window/slide overlapping windows."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from pero_ocr_api_spark.streaming.windows import sliding_rate_counts

    base = tmp_path_factory.mktemp("slidestream")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ck")
    os.makedirs(in_dir, exist_ok=True)

    t = lambda m, s=0: datetime(2024, 1, 1, 10, m, s)
    rows = [
        ("e1", "PROCESSED", t(1), "a"),
        ("e1", "PROCESSED", t(7), "b"),
        ("e2", "FAILED", t(9, 30), "c"),
        ("e1", "PROCESSED", t(12), "d"),
    ]
    sentinel = [("e9", "PROCESSED", t(59), "z")]  # closes all early windows
    _write_events(spark, in_dir, rows)
    _write_events(spark, in_dir, sentinel)

    sliding_rate_counts(spark, in_dir, out_dir, ckpt,
                        window="10 minutes", slide="5 minutes",
                        watermark="5 minutes")

    got = sorted(
        (r.win_start.minute, r.win_end.minute, r.state, r.n)
        for r in spark.read.parquet(out_dir).collect()
    )

    batch = (
        spark.createDataFrame(rows + sentinel, EVENTS_SCHEMA := (
            "engine_id string, state string, ts timestamp, message string"))
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"), "state")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"),
                F.col("win.end").alias("win_end"), "state", "n")
        # final watermark = 10:59 - 5 min = 10:54 → only windows ending
        # at or before it have been emitted by the stream
        .filter(F.col("win_end") <= t(54))
    )
    exp = sorted(
        (r.win_start.minute, r.win_end.minute, r.state, r.n)
        for r in batch.collect()
    )
    assert got == exp and len(got) > 0
    # each event lands in exactly window/slide = 2 windows: total mass
    # across emitted windows = 2 * |closed events|
    assert sum(n for *_k, n in got) == 2 * len(rows)


def test_stream_static_enrichment_equals_batch(spark, tmp_path_factory):
    """Stream-static broadcast join: streaming output equals the batch
    join, inner-join semantics drop claims with no dim row, and the
    stateless shape holds across micro-batches."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from pero_ocr_api_spark.streaming.join_stream import (
        CLAIMS_SCHEMA, enriched_claim_stream)

    base = tmp_path_factory.mktemp("enrichstream")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ck")
    os.makedirs(in_dir, exist_ok=True)

    t = lambda m: datetime(2024, 1, 1, 10, m)
    rows1 = [("p1", 1, t(0)), ("p2", 2, t(1))]
    rows2 = [("p3", 1, t(2)), ("p4", 99, t(3))]  # 99: no dim row -> dropped
    for rows in (rows1, rows2):  # two files -> two micro-batches
        spark.createDataFrame(rows, CLAIMS_SCHEMA).coalesce(1).write.mode(
            "append").parquet(in_dir)

    engines = spark.createDataFrame(
        [(1, "ocr_fast"), (2, "ocr_accurate")],
        "engine_id bigint, engine_name string",
    )
    enriched_claim_stream(spark, in_dir, engines, out_dir, ckpt)

    got = sorted(
        (r.page_id, r.engine_id, r.engine_name)
        for r in spark.read.parquet(out_dir).collect()
    )
    exp = sorted(
        (r.page_id, r.engine_id, r.engine_name)
        for r in spark.createDataFrame(rows1 + rows2, CLAIMS_SCHEMA)
        .join(F.broadcast(engines), "engine_id")
        .collect()
    )
    assert got == exp and len(got) == 3  # p4 dropped (inner join)


def test_streaming_upsert_accepts_map_payload_column(spark, tmp_path):
    """Schemas with unorderable payload columns (MapType) must not
    crash the seq-tie window ordering — the tiebreaker uses only
    ORDERABLE columns, and a genuine seq winner still resolves by seq
    alone."""
    from pyspark.sql.types import (
        LongType, MapType, StringType, StructField, StructType,
    )

    from pero_ocr_api_spark.streaming.cdc_stream import (
        read_target, streaming_upsert,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("v", StringType()),
        StructField("props", MapType(StringType(), StringType())),
        StructField("seq", LongType()),
    ])
    in_dir = str(tmp_path / "changes")
    tgt = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(1, "a", {"k": "x"}, 10), (1, "b", {"k": "y"}, 11), (2, "c", {}, 1)],
        schema,
    ).write.mode("append").parquet(in_dir)
    streaming_upsert(spark, in_dir, tgt, ckpt, schema)
    got = {r.doc_id: (r.v, r.seq) for r in read_target(spark, tgt).collect()}
    assert got == {1: ("b", 11), 2: ("c", 1)}
