"""INI engine-config plane (VERDICT r2 missing #2): the reference's
literal model configs must roundtrip through from_ini/to_ini, the
config.ini assembly must match routes.py:286-311 semantics, and the
broadcast-config seam of the extraction pipeline must accept a parsed
config."""

import pytest

from pero_ocr_api_spark.plans.engine_config import (
    ENGINE_MODELS,
    MODEL_CONFIGS,
    assemble_engine_config,
    from_ini,
    q_engine_knobs,
    to_ini,
)


def test_reference_literals_roundtrip():
    """Parse the verbatim reference config texts
    (/root/reference/app/db/model.py:167-194) and roundtrip them."""
    for name, text in MODEL_CONFIGS.items():
        parsed = from_ini(text)
        assert from_ini(to_ini(parsed)) == parsed, name
    ln = from_ini(MODEL_CONFIGS["lidove_noviny"])
    assert ln["LINE_CROPPER"]["LINE_HEIGHT"] == "40"
    assert ln["OCR"]["METHOD"] == "pytorch_ocr"
    uni = from_ini(MODEL_CONFIGS["universal"])
    # blank lines do NOT end a section (the reference relies on this)
    assert uni["LAYOUT_PARSER"]["MAX_MEGAPIXELS"] == "5"
    assert uni["LAYOUT_PARSER"]["DOWNSAMPLE"] == "4"
    assert uni["LAYOUT_PARSER"]["DETECTION_THRESHOLD"] == "0.2"


def test_assembly_decoder_flag_and_arity():
    """routes.py:286-298: RUN_DECODER = yes only for a 3-model engine;
    anything else is refused."""
    two = from_ini(assemble_engine_config(["lidove_noviny", "universal"]))
    assert two["PAGE_PARSER"]["RUN_DECODER"] == "no"
    three = from_ini(
        assemble_engine_config(["lidove_noviny", "universal", "lidove_noviny"])
    )
    assert three["PAGE_PARSER"]["RUN_DECODER"] == "yes"
    with pytest.raises(ValueError, match="2 or 3 models"):
        assemble_engine_config(["universal"])
    # assembled text carries every model section
    assert set(two) == {"PAGE_PARSER", "LINE_CROPPER", "OCR", "LAYOUT_PARSER"}


def test_malformed_ini_refused():
    with pytest.raises(ValueError, match="before any"):
        from_ini("KEY = 1\n[SEC]\n")
    with pytest.raises(ValueError, match="unparseable"):
        from_ini("[SEC]\nnot a key value line\n")


def test_knobs_query_shape(spark):
    df = q_engine_knobs(spark, "")
    rows = {
        (r.engine, r.section, r.key): (r.value, r.n_occurrences)
        for r in df.collect()
    }
    assert rows[("printed_ocr", "PAGE_PARSER", "RUN_DECODER")] == ("no", 1)
    assert rows[("printed_ocr_lm", "PAGE_PARSER", "RUN_DECODER")] == ("yes", 1)
    assert rows[("printed_ocr", "LAYOUT_PARSER", "MAX_MEGAPIXELS")] == ("5", 1)
    # the 3-model engine repeats the lidove_noviny block
    assert rows[("printed_ocr_lm", "OCR", "METHOD")] == ("pytorch_ocr", 2)
    assert set(ENGINE_MODELS) == {r[0] for r in rows}


def test_pipeline_accepts_parsed_config(spark, sf_smoke):
    """The broadcast engine-config seam takes from_ini output as-is."""
    from pero_ocr_api_spark.plans.pipeline import extract
    from pero_ocr_api_spark.synth import interleaved_documents

    docs = interleaved_documents(spark, sf_smoke).orderBy("doc_id").limit(5)
    cfg = from_ini(assemble_engine_config(["lidove_noviny", "universal"]))
    res = extract(spark, docs, engine_config=cfg, with_metrics=False)
    assert res.spans.count() > 0


def test_extract_reuses_one_engine_broadcast(spark, sf_smoke):
    """Repeated extracts with one engine config share one broadcast: at
    most one new broadcast file in the context's temp dir, whatever the
    config's key order, and the same spans every time.  A new context
    does not reuse the old context's broadcast."""
    import os

    from pero_ocr_api_spark.plans.pipeline import _engine_broadcast, extract
    from pero_ocr_api_spark.synth import interleaved_documents

    docs = interleaved_documents(spark, sf_smoke).orderBy("doc_id").limit(5)
    temp_dir = spark.sparkContext._temp_dir
    before = set(os.listdir(temp_dir))
    cfg = {"engine": "stub-ocr", "version": 1, "batch_pages": 4}
    outs = []
    for i in range(4):
        c = cfg if i % 2 == 0 else dict(reversed(list(cfg.items())))
        res = extract(spark, docs, engine_config=c, with_metrics=False)
        outs.append(sorted(tuple(r) for r in res.spans.collect()))
    assert len(set(os.listdir(temp_dir)) - before) <= 1
    assert outs[0] and all(o == outs[0] for o in outs)

    # a new context gets its own broadcast
    class Context:
        def broadcast(self, value):
            return object()

    old, new = Context(), Context()
    first = _engine_broadcast(old, cfg)
    assert _engine_broadcast(old, dict(reversed(list(cfg.items())))) is first
    assert _engine_broadcast(new, cfg) is not first
