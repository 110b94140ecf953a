"""Golden span-sequence tests: the Spark pipeline must equal the
single-threaded pure-Python oracle on 100% of documents
(BASELINE.json metric; reference golden-file methodology:
/root/reference/processing_client/run_client.py:32-33,224-230)."""

import pytest
from pyspark.sql import functions as F

from pero_ocr_api_spark import oracle
from pero_ocr_api_spark.constants import (
    ERROR_STATES, KIND_MEDIA, KIND_TEXT, STATE_PROCESSED,
)
from pero_ocr_api_spark.operators.normalize import fix_arabic
from pero_ocr_api_spark.operators.serialize import serialize_artifacts
from pero_ocr_api_spark.plans.pipeline import extract
from pero_ocr_api_spark.session import load_table
from pero_ocr_api_spark.synth import interleaved_documents


@pytest.fixture(scope="module")
def result(spark, sf_smoke):
    docs = interleaved_documents(spark, sf_smoke)
    return extract(spark, docs, salt_partitions=16, with_metrics=False)


@pytest.fixture(scope="module")
def oracle_docs(spark, sf_smoke):
    flat = load_table(spark, sf_smoke, "documents").select("doc_id", "text").collect()
    return oracle.extract_all([(r.doc_id, r.text) for r in flat])


def test_span_sequence_equality(result, oracle_docs):
    got = {}
    for r in result.spans.collect():
        got.setdefault(r.doc_id, []).append(
            (r.order, r.kind, r.text, r.media_ref)
        )
    for v in got.values():
        v.sort()
    assert set(got) | {d for d, o in oracle_docs.items() if not o.spans} == set(
        oracle_docs
    )
    n_checked = 0
    for doc_id, od in oracle_docs.items():
        assert got.get(doc_id, []) == od.spans, f"span mismatch in {doc_id}"
        n_checked += 1
    assert n_checked == len(oracle_docs)  # 100% of docs


def test_scores_and_status(result, oracle_docs):
    got = {r.doc_id: (r.score, r.status) for r in result.docs.collect()}
    assert set(got) == set(oracle_docs)
    for doc_id, od in oracle_docs.items():
        assert got[doc_id] == (od.score, od.status), doc_id


def test_error_taxonomy_present(result):
    states = {r.status for r in result.docs.select("status").distinct().collect()}
    assert STATE_PROCESSED in states
    assert states - {STATE_PROCESSED} <= set(ERROR_STATES)
    # fixture guarantees some failures exist (FIXTURES.md error coverage)
    assert len(states) > 1


def test_orders_dense_per_doc(result):
    bad = (
        result.spans.groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.min("order").alias("lo"),
            F.max("order").alias("hi"),
        )
        .filter((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1))
        .count()
    )
    assert bad == 0


def test_kinds_are_valid(result):
    kinds = {r.kind for r in result.spans.select("kind").distinct().collect()}
    assert kinds == {KIND_TEXT, KIND_MEDIA}


def test_arabic_normalization_roundtrip(spark):
    df = spark.createDataFrame(
        [("plain-line",), ("ar-ابتث"[::-1],)], "text string"
    )
    out = [r.text for r in df.select(F.expr(fix_arabic("text")).alias("text")).collect()]
    assert out[0] == "plain-line"
    assert out[1] == "ar-ابتث"


def test_arabic_presentation_forms_to_logical(spark):
    """Real presentation-form fixtures (VERDICT r4 item 4): visual-order
    CTC labels built from Unicode Arabic Presentation Forms-B come back
    as logical-order base-letter strings — the actual
    arabic_helper.label_form_to_string contract (run_client.py:220),
    not just reverse().

    Fixture construction: logical word → per-letter contextual forms
    (joining rules applied by hand) → codepoint-reversed = the visual
    label an OCR line emits."""
    cases = [
        # isolated lam-alef ligature FEFB → logical lam + alef
        ("ﻻ", "لا"),
        # "باب": beh-init FE91, alef-final FE8E, beh-isolated FE8F;
        # visual label is the reverse of that sequence
        ("ﺏﺎﺑ", "باب"),
        # "سلام": seen-init FEB3, lam-alef-final FEFC, meem-iso FEE1
        ("ﻡﻼﺳ", "سلام"),
        # combining mark rides its base through the reverse:
        # logical "بَا" (beh+fatha, alef) — visual grapheme order is
        # [alef-final][beh-init + fatha], mark AFTER its base form
        ("ﺎﺑَ", "بَا"),
        # isolated fathatan form FE70 maps to the bare mark (its NFKC
        # decomposition " ً" carries a rendering space we drop)
        ("ﺎﺑﹰ", "بًا"),
        # non-Arabic text is untouched
        ("latin text", "latin text"),
    ]
    df = spark.createDataFrame([(v,) for v, _ in cases], "text string")
    got = [
        r.text
        for r in df.select(F.expr(fix_arabic("text")).alias("text")).collect()
    ]
    assert got == [want for _, want in cases]


def test_serializers(result):
    arts = serialize_artifacts(result.spans)
    row = arts.orderBy("doc_id").first()
    assert row.page_name == f"{row.doc_id}_page.xml"
    assert row.txt_name == f"{row.doc_id}.txt"
    assert row.page_xml.startswith("<PcGts>")
    assert "\n" in row.txt or len(row.txt) > 0
    # line order inside the artifact matches reading order
    spans = result.spans.filter(F.col("doc_id") == row.doc_id).orderBy("order").collect()
    assert row.txt == "\n".join(s.text for s in spans)


def test_serialize_alto_dual_semantics(result):
    """ALTO is built from pre-arabic-fix transcriptions (visual order)
    with the confidence threshold applied at serialization
    (run_client.py:210-216): an Arabic line must appear reversed in
    ALTO relative to the PAGE/txt path, and below-threshold lines must
    be absent from both."""
    from pero_ocr_api_spark.constants import MIN_CONFIDENCE
    from pero_ocr_api_spark.operators.serialize import serialize_alto

    raw = result.raw_spans
    # every surviving ALTO media line respects the threshold
    alto = serialize_alto(raw)
    row = alto.orderBy("doc_id").first()
    assert row.alto_name == f"{row.doc_id}_alto.xml"
    assert row.alto_xml.startswith("<alto>") and row.alto_xml.endswith("</alto>")

    # pick an arabic media line that survives the filter, if any
    ar = (
        raw.filter(
            (F.col("kind") == "media")
            & (F.col("conf") > MIN_CONFIDENCE)
            & F.col("text").rlike("[؀-ۿ]")
        )
        .select("doc_id", "text")
        .first()
    )
    if ar is not None:
        alto_doc = alto.filter(F.col("doc_id") == ar.doc_id).first().alto_xml
        fixed = ar.text[::-1]
        assert ar.text in alto_doc          # visual (stored) form in ALTO
        final_texts = [
            r.text
            for r in result.spans.filter(F.col("doc_id") == ar.doc_id).collect()
        ]
        assert fixed in final_texts         # logical form in PAGE/txt path


def test_accumulator_metrics_exact(spark, sf_smoke):
    """A9 (north_star): the observed pages_decoded / lines_emitted /
    decode_failures must equal the oracle's ground truth exactly, also
    when observed from below a persist shared by two actions, on the
    row plan (no salt) and on the grouped one."""
    from pero_ocr_api_spark.operators.inference import stub_infer_one
    from pero_ocr_api_spark.plans.pipeline import explode_spans

    docs = interleaved_documents(spark, sf_smoke)
    got = {}
    for salt_partitions in (None, 16):
        res = extract(spark, docs, salt_partitions=salt_partitions,
                      persist_inference=True)
        res.spans.count()
        res.docs.count()
        got[salt_partitions] = res.metrics.as_dict()
        res.unpersist()

    media_refs = [
        r.media_ref
        for r in explode_spans(docs).filter(F.col("kind") == KIND_MEDIA).collect()
    ]
    exp_failures = 0
    exp_lines = 0
    for ref in media_refs:
        err, lines = stub_infer_one(ref)
        if err is not None:
            exp_failures += 1
        else:
            exp_lines += len(lines)
    exp_pages = len(media_refs) - exp_failures   # decoded = attempted - failed
    exp = {
        "pages_decoded": exp_pages,
        "lines_emitted": exp_lines,
        "decode_failures": exp_failures,
    }
    assert got == {None: exp, 16: exp}


def test_heavy_doc_salting_bounds_skew(spark):
    """north_rule: heavy multi-page documents are salted/repartitioned
    to bound skew.  One 2000-media-span doc among 50 small docs must
    (a) spread near-uniformly over the salted partitions — no partition
    holds more than 2x the mean — and (b) still reconstruct the exact
    reading order."""

    heavy_spans = [
        {"kind": "media", "text": None,
         "media_ref": f"img://heavy/p{i}", "offset": i}
        for i in range(2000)
    ]
    rows = [("doc-heavy", heavy_spans)] + [
        (f"doc-small-{j}",
         [{"kind": "text", "text": f"tiny {j}", "media_ref": None, "offset": 0}])
        for j in range(50)
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )

    # (a) partition balance of the plan's own salted exchange: the
    # media rows each inference task read
    n_parts = 16
    sizes = [
        t.taskMetrics().get().shuffleReadMetrics().recordsRead()
        for t in _salted_inference_tasks(spark, docs, n_parts)
    ]
    assert len(sizes) == min(n_parts, spark.sparkContext.defaultParallelism)
    assert sum(sizes) == len(heavy_spans)
    assert min(sizes) > 0  # every partition got work
    mean = sum(sizes) / len(sizes)
    assert max(sizes) < 2 * mean, f"skewed: {sizes}"

    # (b) output equality for the heavy doc vs direct stub evaluation
    res = extract(spark, docs, salt_partitions=n_parts, with_metrics=False)
    got = [
        (r.order, r.text, r.media_ref)
        for r in res.spans.filter(F.col("doc_id") == "doc-heavy")
        .orderBy("order")
        .collect()
    ]
    from pero_ocr_api_spark.oracle import extract_spans
    flat = [(i, KIND_MEDIA, None, f"img://heavy/p{i}") for i in range(2000)]
    ordered, _score, _status = extract_spans(flat)
    exp = [(order, text, ref) for (order, _kind, text, ref) in ordered]
    assert got == exp


def test_skewed_input_wall_time_bounded(spark):
    """VERDICT r2 #6 / north_rule skew claim: with salting on, a corpus
    where ONE doc holds 10% of all media spans must run within 1.5x the
    wall time of a uniform corpus with the SAME total span count.  The
    emulated per-page model latency makes the media stage time-bound,
    so an unsalted plan (doc-partitioned) would serialize the heavy doc
    on one task; the xxhash64(media_ref) salt spreads its distinct
    pages over the lanes."""
    import time

    def corpus(split):
        rows = []
        for j, n_spans in enumerate(split):
            rows.append((
                f"doc-{j:03d}",
                [{"kind": "media", "text": None,
                  "media_ref": f"img://d{j}/p{i}", "offset": i}
                 for i in range(n_spans)],
            ))
        return spark.createDataFrame(
            rows,
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )

    total, heavy_frac = 1600, 0.10
    uniform = corpus([16] * 100)
    heavy = int(total * heavy_frac)
    skewed = corpus([heavy] + [16] * ((total - heavy) // 16))
    cfg = {"engine": "stub-ocr", "version": 1,
           "work_iters": 0, "work_sleep_ms": 5.0}

    def wall(docs):
        # best-of-2 damps scheduler noise; first overall run also warms
        # the python workers for everyone after it
        best = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            extract(spark, docs, engine_config=cfg, with_metrics=False,
                    salt_partitions=16).spans.count()
            best = min(best, time.monotonic() - t0)
        return best

    wall(uniform)  # warmup (JIT + worker spawn), unmeasured
    t_uniform = wall(uniform)
    t_skewed = wall(skewed)
    ratio = t_skewed / t_uniform
    assert ratio < 1.5, (
        f"skewed/uniform wall ratio {ratio:.2f} "
        f"({t_skewed:.2f}s vs {t_uniform:.2f}s)"
    )


_DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _documents(spark, flat_by_doc):
    """documents frame from {doc_id: [(offset, kind, text, media_ref)]}."""
    return spark.createDataFrame(
        [(d, [{"kind": k, "text": t, "media_ref": r, "offset": o}
              for (o, k, t, r) in flat])
         for d, flat in flat_by_doc.items()],
        _DOCS_SCHEMA,
    )


def _assert_oracle_spans(span_rows, flat_by_doc):
    got = {}
    for r in span_rows:
        got.setdefault(r.doc_id, []).append(
            (r.order, r.kind, r.text, r.media_ref))
    for doc_id, flat in flat_by_doc.items():
        exp = oracle.extract_spans(flat)[0]
        assert sorted(got.get(doc_id, [])) == exp, doc_id


def _cluster_names(cluster) -> set:
    names = {cluster.name()}
    children = cluster.childClusters()
    for i in range(children.length()):
        names |= _cluster_names(children.apply(i))
    return names


def _salted_inference_tasks(spark, docs, salt_partitions, out=None):
    """Run one salted extract with a persisted per-doc result (the
    scan_batch shape) under its own job group, writing its spans to
    ``out`` (or counting them), and return the status-store data of its
    inference tasks.  Inference runs in the map stage of the per-doc
    exchange, next to the text and carrier partitions, which read the
    input directly: the inference tasks are the tasks of that stage
    that read the salted shuffle.  A lane whose salted partition got no
    rows reads nothing, so it is missing from the list."""
    sc = spark.sparkContext
    group = f"salted-inference-{id(docs)}"
    sc.setJobGroup(group, group)
    try:
        res = extract(spark, docs, with_metrics=False, persist_inference=True,
                      salt_partitions=salt_partitions)
        if out is None:
            res.spans.count()
        else:
            res.spans.write.parquet(out)
        res.unpersist()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stages = []
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            stage = store.lastStageAttempt(sid)
            # later jobs list the stages they reuse, skipped
            if str(stage.status()) == "SKIPPED":
                continue
            names = _cluster_names(store.operationGraphForStage(sid).rootCluster())
            if "MapInPandas" in names:
                stages.append(stage)
    assert len(stages) == 1, [s.stageId() for s in stages]
    return [
        t for t in _stage_tasks(spark, stages[0])
        if t.taskMetrics().get().shuffleReadMetrics().recordsRead() > 0
    ]


def _stage_tasks(spark, stage) -> list:
    seq = spark.sparkContext._jsc.sc().statusStore().taskList(
        stage.stageId(), stage.attemptId(), 1 << 20)
    return [seq.apply(i) for i in range(seq.length())]


def test_salted_inference_runs_one_task_per_lane(spark, tmp_path):
    """A salted extract runs inference in one Python task per lane:
    min(salt_partitions, defaultParallelism) tasks however wide the
    salt, and its written spans still equal the oracle.  Pages repeat
    across documents, as in a scanned archive."""
    flat_by_doc = {
        f"doc-{j:03d}": [(0, KIND_TEXT, f" title {j} ", None)] + [
            (i, KIND_MEDIA, None, f"img://scan/p{(j * 7 + i) % 150}")
            for i in range(1, 13)
        ]
        for j in range(40)
    }
    out = str(tmp_path / "spans")
    tasks = _salted_inference_tasks(
        spark, _documents(spark, flat_by_doc), 16, out)
    assert len(tasks) == min(16, spark.sparkContext.defaultParallelism)
    _assert_oracle_spans(spark.read.parquet(out).collect(), flat_by_doc)


def test_scan_outputs_read_one_cached_result(spark, tmp_path):
    """The scan shape (a persisted salted extract written as spans,
    docs, ALTO and PAGE) computes the per-doc result once: the docs,
    ALTO and PAGE writes each run one Spark job over the cached per-doc
    frame and write one file, and their rows equal those of an
    unpersisted extract.  A plan that reads only the results prunes the
    ALTO lines."""
    import os

    from pero_ocr_api_spark.operators.serialize import serialize_alto

    flat_by_doc = {
        f"doc-{j:03d}": [(0, KIND_TEXT, f" <title> & {j} ", None)] + [
            (i, KIND_MEDIA, None, f"img://scan/p{(j * 5 + i) % 60}")
            for i in range(1, 1 + j % 7)
        ]
        for j in range(30)
    }
    flat_by_doc["doc-empty"] = []
    docs = _documents(spark, flat_by_doc)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    res = extract(spark, docs, persist_inference=True, salt_partitions=4)
    outputs = {
        "spans": lambda: res.spans,
        "docs": lambda: res.docs,
        "alto": lambda: serialize_alto(res.raw_spans),
        "page": lambda: serialize_artifacts(res.spans),
    }
    jobs = {}
    try:
        for name, frame in outputs.items():
            group = f"scan-{name}-{id(docs)}"
            sc.setJobGroup(group, group)
            try:
                frame().write.parquet(str(tmp_path / name))
            finally:
                sc._jsc.clearJobGroup()
            jobs[name] = len(tracker.getJobIdsForGroup(group))
    finally:
        res.unpersist()
    assert {n: jobs[n] for n in ("docs", "alto", "page")} == {
        "docs": 1, "alto": 1, "page": 1}, jobs
    for name in outputs:
        data = [f for f in os.listdir(tmp_path / name) if f.endswith(".parquet")]
        assert len(data) == 1, (name, data)

    plain = extract(spark, docs, persist_inference=False)
    for name, frame in (("alto", serialize_alto(plain.raw_spans)),
                        ("page", serialize_artifacts(plain.spans))):
        written = spark.read.parquet(str(tmp_path / name))
        assert sorted(written.collect()) == sorted(frame.collect()), name
    _assert_oracle_spans(
        spark.read.parquet(str(tmp_path / "spans")).collect(), flat_by_doc)

    optimized = plain.results._jdf.queryExecution().optimizedPlan().toString()
    assert "raw_text" not in optimized, optimized


def test_scan_plan_builds_in_few_py4j_commands(spark, tmp_path, monkeypatch):
    """Building the scan plan (a persisted salted extract over a parquet
    input, ``serialize_alto`` of its raw spans and
    ``serialize_artifacts`` of its spans) stays within 800 Py4J
    commands: each stage's expressions go to Spark as SQL text in one
    call, not as one command per column function, literal and alias
    (about 2,500 commands that way).  The first build is a warm-up.
    py4j's deferred garbage-collection commands are not counted: they
    free objects of earlier builds, in bursts of up to several hundred
    whenever py4j flushes its queue."""
    import py4j.clientserver
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    from pero_ocr_api_spark.operators.serialize import serialize_alto

    free = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    flat_by_doc = {
        f"doc-{j:03d}": [(0, KIND_TEXT, f" title {j} ", None)] + [
            (i, KIND_MEDIA, None, f"img://scan/p{(j * 3 + i) % 40}")
            for i in range(1, 6)
        ]
        for j in range(20)
    }
    src = str(tmp_path / "docs")
    _documents(spark, flat_by_doc).write.parquet(src)
    docs = spark.read.parquet(src)

    def build():
        res = extract(spark, docs, persist_inference=True, salt_partitions=4)
        serialize_alto(res.raw_spans)
        serialize_artifacts(res.spans)
        res.unpersist()

    build()
    sent = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith(free):
            sent.append(command)
        return send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting)
    build()
    monkeypatch.undo()
    assert len(sent) <= 800, len(sent)


def test_sql_str_round_trips_through_expr(spark):
    """A Python string quoted by ``sql_str`` reads back unchanged from
    ``F.expr``: quote, backslash, tab, \\x0b, NBSP, an Arabic ligature
    and the whitespace class, whose backslashes Spark's unescaping
    would otherwise drop."""
    from pero_ocr_api_spark.constants import WS_CLASS
    from pero_ocr_api_spark.operators.normalize import sql_str

    values = ["it's", "a\\b", "a\tb", "a\x0bb", "a\u00a0b", "\ufefb", WS_CLASS]
    row = spark.range(1).select(
        *[F.expr(sql_str(v)).alias(f"c{i}") for i, v in enumerate(values)]
    ).first()
    assert list(row) == values


def test_infer_fn_infers_each_distinct_ref_once(monkeypatch):
    """Both inference wrappers hand each distinct media_ref of an Arrow
    batch to the engine once (a NULL ref once, as None) and expand the
    results to exactly the rows the per-row expansion gives, in input
    order: make_infer_fn one row per line, make_infer_lines_fn one list
    of lines per document, empty for a NULL or empty media list."""
    import types

    import pandas as pd
    import pyarrow as pa

    from pero_ocr_api_spark.constants import STATE_NOT_FOUND
    from pero_ocr_api_spark.operators import inference
    from pero_ocr_api_spark.operators.inference import (
        _StubEngine, make_infer_fn, make_infer_lines_fn, stub_infer_one,
    )

    def infer_one(ref):
        return (STATE_NOT_FOUND, []) if ref is None else stub_infer_one(ref)

    class CountingEngine(_StubEngine):
        def __init__(self):
            super().__init__({})
            self.seen = []

        def infer_batch(self, refs):
            self.seen.extend(refs)
            return [infer_one(r) for r in refs]

    engine = CountingEngine()
    monkeypatch.setattr(inference, "_get_engine", lambda config: engine)

    refs = [f"img://p{6 + i % 5}" for i in range(12)] + [None, "img://p7", None]
    pdf = pd.DataFrame({
        "doc_id": [f"d{i % 3}" for i in range(len(refs))],
        "offset": pd.Series(range(len(refs)), dtype="int32"),
        "media_ref": pd.Series(refs, dtype="object"),
    })
    assert any(infer_one(r)[0] is not None for r in refs if r)  # an error row
    infer = make_infer_fn(types.SimpleNamespace(value={}))
    got = pd.concat(list(infer(iter([pdf, pdf.iloc[:0]]))), ignore_index=True)

    distinct = list(dict.fromkeys(refs))
    assert engine.seen == distinct
    assert engine.seen.count(None) == 1

    exp = []
    for doc_id, offset, ref in zip(pdf["doc_id"], pdf["offset"], refs):
        err, lines = infer_one(ref)
        if err is not None:
            exp.append((doc_id, offset, ref, 0, None, None, err))
        for (idx, text, conf) in lines:
            exp.append((doc_id, offset, ref, idx, text, conf, None))
    rows = [
        tuple(None if (v is not None and v != v) else v for v in row)
        for row in got.itertuples(index=False, name=None)
    ]
    assert rows == exp
    assert [str(t) for t in got.dtypes] == [
        "object", "int32", "object", "int32", "object", "float64", "object"]

    # the same spans as one media list per document, with a NULL and an
    # empty list between them
    doc_ids = ["d0", "d1", "d2"]
    by_doc = [
        [{"offset": o, "media_ref": r}
         for d, o, r in zip(pdf["doc_id"], pdf["offset"], refs) if d == doc]
        for doc in doc_ids
    ]
    span_type = pa.struct([("offset", pa.int32()), ("media_ref", pa.string())])
    media = pa.array(by_doc[:2] + [None] + by_doc[2:] + [[]],
                     pa.list_(span_type))
    engine.seen = []
    infer_lines = make_infer_lines_fn(types.SimpleNamespace(value={}))
    lines = infer_lines(media).to_pylist()

    assert engine.seen == list(dict.fromkeys(
        s["media_ref"] for spans in by_doc for s in spans))
    assert engine.seen.count(None) == 1
    fields = ("offset", "media_ref", "line_idx", "text", "conf", "error")
    exp_lines = [
        [dict(zip(fields, row[1:])) for row in exp if row[0] == doc]
        for doc in doc_ids
    ]
    assert lines == exp_lines[:2] + [[]] + exp_lines[2:] + [[]]


def test_null_media_ref_is_not_found(spark):
    """A media span with a NULL media_ref names no page, so its fetch
    fails: one NOT_FOUND error row (SURVEY X9), not a failed job.  Salted
    and unsalted, with the emulated burn and device calls on, the doc's
    spans, score and status equal the oracle's and decode_failures
    counts the span."""
    from pero_ocr_api_spark.constants import STATE_NOT_FOUND
    from pero_ocr_api_spark.operators.inference import stub_infer_one

    page = "img://scan/p1"
    assert stub_infer_one(page)[0] is None
    flat = [
        (0, KIND_TEXT, " intro  text ", None),
        (1, KIND_MEDIA, None, page),
        (2, KIND_MEDIA, None, None),
        (3, KIND_TEXT, "outro", None),
    ]
    exp_spans, exp_score, exp_status = oracle.extract_spans(flat)
    assert exp_status == STATE_NOT_FOUND
    config = {"engine": "stub-ocr", "version": 1, "work_iters": 10,
              "work_sleep_ms": 1.0, "batch_pages": 4}
    for salt_partitions in (None, 4):
        res = extract(spark, _documents(spark, {"doc-null": flat}),
                      engine_config=config, salt_partitions=salt_partitions)
        [doc] = res.results.collect()
        assert [tuple(s) for s in doc.spans] == exp_spans, salt_partitions
        assert (doc.score, doc.status) == (exp_score, exp_status)
        assert res.metrics.as_dict() == {
            "pages_decoded": 1,
            "lines_emitted": len(stub_infer_one(page)[1]),
            "decode_failures": 1,
        }


def test_documents_without_spans(spark):
    """A document whose spans are NULL or empty gets a result row with
    no spans, the default score and PROCESSED, on both plans."""
    from pero_ocr_api_spark.plans.pipeline import DOCUMENTS_SCHEMA

    exp_spans, exp_score, exp_status = oracle.extract_spans([])
    docs = spark.createDataFrame(
        [("doc-null", None), ("doc-empty", [])], DOCUMENTS_SCHEMA)
    for salt_partitions in (None, 4):
        res = extract(spark, docs, salt_partitions=salt_partitions)
        got = sorted(
            (r.doc_id, [tuple(s) for s in r.spans], r.score, r.status)
            for r in res.results.collect()
        )
        assert got == [
            (d, exp_spans, exp_score, exp_status)
            for d in ("doc-empty", "doc-null")
        ], salt_partitions
        assert res.metrics.as_dict() == dict.fromkeys(
            ("pages_decoded", "lines_emitted", "decode_failures"), 0)


def test_hot_ref_wall_time_bounded(spark):
    """One page named by 10% of all media spans, salted: the salt hashes
    on media_ref, so every copy of the hot page lands in one inference
    task, and per-batch deduplication keeps that task short.  The run
    must take at most 1.5x the wall time of a uniform corpus with the
    same span count, and its output must equal the oracle."""
    import time

    def corpus(hot_every):
        return {
            f"doc-{j:03d}": [
                (i, KIND_MEDIA, None,
                 "img://hot/page" if hot_every and (j * 16 + i) % hot_every == 0
                 else f"img://d{j}/p{i}")
                for i in range(16)
            ]
            for j in range(100)
        }

    uniform_flat, hot_flat = corpus(0), corpus(10)
    assert sum(r == "img://hot/page" for f in hot_flat.values()
               for (_, _, _, r) in f) == 160  # 10% of 1600 spans
    uniform, hot = _documents(spark, uniform_flat), _documents(spark, hot_flat)
    cfg = {"engine": "stub-ocr", "version": 1,
           "work_iters": 0, "work_sleep_ms": 5.0}

    def wall(docs):
        best = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            extract(spark, docs, engine_config=cfg, with_metrics=False,
                    salt_partitions=16).spans.count()
            best = min(best, time.monotonic() - t0)
        return best

    wall(uniform)  # warmup, unmeasured
    t_uniform = wall(uniform)
    t_hot = wall(hot)
    assert t_hot / t_uniform < 1.5, (
        f"hot/uniform wall ratio {t_hot / t_uniform:.2f} "
        f"({t_hot:.2f}s vs {t_uniform:.2f}s)"
    )
    res = extract(spark, hot, engine_config=cfg, salt_partitions=16)
    _assert_oracle_spans(res.spans.collect(), hot_flat)


def test_partitioning_independence(spark, sf_smoke):
    """The result must be identical whatever the salt width — output
    depends only on data, never on physical partitioning (the property
    that makes the salt a free knob at any cluster size)."""
    docs = interleaved_documents(spark, sf_smoke)

    def run(salt):
        res = extract(spark, docs, with_metrics=False, salt_partitions=salt)
        spans = sorted(tuple(r) for r in res.spans.collect())
        docs_out = sorted(tuple(r) for r in res.docs.collect())
        return spans, docs_out

    base = run(None)
    assert run(4) == base
    assert run(64) == base


def test_docs_plan_prunes_window(spark, sf_smoke, tmp_path):
    """The per-doc score action must not pay a reading-order window.
    The row plan (no salt) builds each document in its own row, with
    no exchange; the grouped plan gets reading order, score and status
    from one per-doc aggregate with a map-side-combined percentile
    (PLANS.md §1).  The input is read from parquet, so any exchange in
    the plan is the extract's own."""
    src = str(tmp_path / "docs")
    interleaved_documents(spark, sf_smoke).write.parquet(src)
    docs = spark.read.parquet(src)

    res = extract(spark, docs, persist_inference=False)
    plan = res.docs._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan

    res = extract(spark, docs, persist_inference=False, salt_partitions=4)
    plan = res.docs._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "partial_percentile" in plan, plan


def test_row_plan_normalizes_each_span_once(spark, sf_smoke):
    """The row plan evaluates the whitespace regexp once per text span
    and the Arabic fix once per confident line, however many outputs
    read them (the regexp and the fix's mark-reattach pattern each
    appear once in the optimized plan), and a plan that reads only the
    results prunes the ALTO lines."""
    from pero_ocr_api_spark.constants import WS_CLASS
    from pero_ocr_api_spark.operators.normalize import _BASE_CLASS

    res = extract(spark, interleaved_documents(spark, sf_smoke))
    results = res.results._jdf.queryExecution().optimizedPlan().toString()
    for pattern in (WS_CLASS + "+", f"({_BASE_CLASS})"):
        assert results.count(pattern) == 1, (pattern, results)
    assert "alto_lines" not in results, results
    per_doc = res.per_doc._jdf.queryExecution().optimizedPlan().toString()
    assert "alto_lines" in per_doc, per_doc


def test_region_segmentation_gap_and_kind_boundaries(spark):
    """Layout regions split on kind changes AND offset gaps; ids are
    0-based in offset order; regions are homogeneous."""
    from pero_ocr_api_spark.operators.layout import (
        region_summary, segment_regions,
    )

    spans = spark.createDataFrame(
        [
            ("d1", 0, "text"), ("d1", 1, "text"),     # region 0
            ("d1", 2, "media"),                        # region 1 (kind flip)
            ("d1", 3, "text"),                         # region 2
            ("d1", 10, "text"),                        # region 3 (gap > 1)
            ("d2", 5, "media"),                        # region 0 (per-doc ids)
        ],
        "doc_id string, offset int, kind string",
    )
    ids = {
        (r.doc_id, r.offset): r.region_id
        for r in segment_regions(spans).collect()
    }
    assert ids == {("d1", 0): 0, ("d1", 1): 0, ("d1", 2): 1,
                   ("d1", 3): 2, ("d1", 10): 3, ("d2", 5): 0}
    summ = {
        (r.doc_id, r.region_id): r for r in region_summary(spans).collect()
    }
    assert summ[("d1", 0)].n_spans == 2
    assert summ[("d1", 0)].region_kind == "text"
    assert summ[("d1", 3)].start_offset == 10 and summ[("d1", 3)].end_offset == 10
    # wider gap tolerance merges the gap split but never the kind split
    wide = {
        (r.doc_id, r.offset): r.region_id
        for r in segment_regions(spans, gap=20).collect()
    }
    assert wide[("d1", 3)] == wide[("d1", 10)] == 2
    assert wide[("d1", 2)] == 1


def test_device_micro_batching():
    """GPU-batching realism (VERDICT r4 item 3): pages group onto
    emulated device calls capped by batch_pages AND the megapixel
    budget; batching amortizes the fixed call overhead (cheaper per
    page than serial) while results stay bit-identical."""
    import pandas as pd

    from pero_ocr_api_spark.operators.inference import (
        MAX_MEGAPIXELS,
        _StubEngine,
        page_megapixels,
    )

    refs = [f"m/{i}.jpg" for i in range(100)]
    mps = [page_megapixels(r) for r in refs]
    assert all(0.5 <= m <= MAX_MEGAPIXELS for m in mps)
    assert len(set(mps)) > 10  # genuinely varied sizes

    serial = _StubEngine({"work_sleep_ms": 15.0})  # batch_pages default 1
    batched = _StubEngine(
        {"work_sleep_ms": 15.0, "batch_pages": 16, "batch_megapixels": 40.0}
    )

    # plan respects both caps
    calls = batched.plan_device_batches(refs)
    assert [r for c in calls for r in c] == refs  # order-preserving, total
    for c in calls:
        assert len(c) <= 16
        assert len(c) == 1 or sum(page_megapixels(r) for r in c) <= 40.0
    assert max(len(c) for c in calls) > 1  # batching actually happens

    # serial path: one page per call, cost = work_sleep_ms exactly
    assert serial.plan_device_batches(refs[:5]) == [[r] for r in refs[:5]]
    assert serial._device_call_ms(refs[:1]) == 15.0

    # batched emulated wall is strictly cheaper than serial, and a full
    # batch amortizes to a fraction of the per-page serial latency
    serial_ms = sum(
        serial._device_call_ms(c) for c in serial.plan_device_batches(refs)
    )
    batched_ms = sum(
        batched._device_call_ms(c) for c in calls
    )
    assert batched_ms < 0.5 * serial_ms, (batched_ms, serial_ms)

    # results are a pure function of media_ref — batching never changes
    # them (the correctness invariant the span-sequence tests pin E2E)
    s = pd.Series(refs)
    fast_serial = _StubEngine({})
    fast_batched = _StubEngine({"batch_pages": 16})
    assert fast_serial.infer_batch(s) == fast_batched.infer_batch(s)
    # ... nor does the overlapped host/device path
    costly = _StubEngine(
        {"work_sleep_ms": 0.5, "work_iters": 10, "batch_pages": 16}
    )
    assert costly.infer_batch(s) == fast_serial.infer_batch(s)


def test_device_overlaps_host_work():
    """A lane's host work for device call k+1 runs while call k is on
    the device: with ~0.3 s of each per batch, the batch wall stays well
    under their sum.  Device calls still run one at a time, in plan
    order, and the results are those of an engine with no cost."""
    import threading
    import time

    import pandas as pd

    from pero_ocr_api_spark.operators.inference import _StubEngine

    refs = [f"ov/{i}.jpg" for i in range(32)]
    s = pd.Series(refs)
    target_s = 0.3

    def wall(engine):
        t0 = time.monotonic()
        engine.infer_batch(s)
        return time.monotonic() - t0

    # size work_iters so the batch's host work takes ~target_s
    probe = _StubEngine({"work_iters": 20000})
    per_iter_s = min(wall(probe) for _ in range(3)) / (len(refs) * 20000)
    work_iters = max(1, int(target_s / len(refs) / per_iter_s))

    # size work_sleep_ms so the batch's device calls sum to ~target_s
    cfg = {"work_iters": work_iters, "batch_pages": 4}
    unit = _StubEngine({**cfg, "work_sleep_ms": 1.0})
    plan = unit.plan_device_batches(refs)
    assert len(plan) > 2 and max(len(c) for c in plan) > 1
    unit_ms = sum(unit._device_call_ms(c) for c in plan)
    engine = _StubEngine({**cfg, "work_sleep_ms": 1000.0 * target_s / unit_ms})
    device_s = sum(engine._device_call_ms(c) for c in plan) / 1000.0

    intervals, burns = [], []
    device_call, burn = engine._device_call, engine._burn

    def recording(call):
        t0 = time.monotonic()
        device_call(call)
        intervals.append((t0, time.monotonic(), call))

    def recording_burn(ref):
        burns.append((time.monotonic(), ref))
        burn(ref)

    engine._device_call, engine._burn = recording, recording_burn
    host_only = _StubEngine({"work_iters": work_iters})
    threads_before = threading.active_count()
    # host-only and overlapped walls interleaved (ABAB), so drift between
    # them hits both; the best pair is held to the bound
    pairs = [(wall(host_only), wall(engine)) for _ in range(3)]
    assert any(
        both < 0.8 * (host + device_s) for host, both in pairs
    ), (pairs, device_s)
    # serial, in plan order, and no device thread outlives its batch
    assert [c for _, _, c in intervals] == plan * 3
    # the overlap itself: in every batch, the host work of call k+1
    # starts before call k leaves the device
    n = len(plan)
    for run in range(3):
        started = {ref: t for t, ref in burns[run * len(refs):(run + 1) * len(refs)]}
        calls = intervals[run * n:(run + 1) * n]
        assert all(
            started[nxt[2][0]] < prev[1] for prev, nxt in zip(calls, calls[1:])
        ), (run, calls, started)
    assert all(
        prev[1] <= nxt[0] for prev, nxt in zip(intervals, intervals[1:])
    )
    assert threading.active_count() == threads_before
    assert engine.infer_batch(s) == _StubEngine({}).infer_batch(s)


def test_device_call_starts_without_waiting_for_host_work():
    """Each device call starts as soon as it is handed over: with about
    30 calls whose host work is a third of a call, the batch wall stays
    within 10% of the device time.  A device thread that had to wait
    for the task thread's GIL switch interval before each call would
    add up to a switch interval per call."""
    import time

    import pandas as pd

    from pero_ocr_api_spark.operators.inference import _StubEngine

    refs = pd.Series([f"start/{i}.jpg" for i in range(30)])
    call_ms = 15.0

    def best_wall(engine):
        best = float("inf")
        for _ in range(3):
            t0 = time.monotonic()
            engine.infer_batch(refs)
            best = min(best, time.monotonic() - t0)
        return best

    # size work_iters so each page's host work takes about a third of
    # its device call, the serial one-page-per-call plan
    probe = _StubEngine({"work_iters": 20000})
    per_iter_s = best_wall(probe) / (len(refs) * 20000)
    work_iters = max(1, int(call_ms / 3000.0 / per_iter_s))
    engine = _StubEngine({"work_iters": work_iters, "work_sleep_ms": call_ms})
    plan = engine.plan_device_batches(list(refs))
    assert len(plan) == len(refs)
    device_s = sum(engine._device_call_ms(c) for c in plan) / 1000.0
    best = best_wall(engine)
    assert best <= 1.1 * device_s, (best, device_s)
