"""Property checks for the functions/ ops, the multimodal operators and
the admin helpers (oracle parity is covered in test_oracle_parity; these
assert semantic invariants)."""

from pyspark.sql import functions as F

from pero_ocr_api_spark.operators.multimodal import (
    decode_images, resize_images, sample_frames, synth_media_bytes,
)
from pero_ocr_api_spark.synth import exploded_spans


def test_multimodal_plumbing(spark, sf_smoke):
    refs = (
        exploded_spans(spark, sf_smoke)
        .filter(F.col("kind") == "media")
        .select("media_ref")
        .distinct()
        .limit(50)
    )
    media = synth_media_bytes(refs)
    assert media.schema["payload"].dataType.typeName() == "binary"
    decoded = decode_images(media)
    rows = decoded.collect()
    assert all(r.ok and r.channels == 3 for r in rows)
    assert all(r.width * r.height <= 5_000_000 for r in rows)

    resized = resize_images(media, target_long_edge=128).collect()
    for r in resized:
        assert max(r.out_width, r.out_height) <= 128
        assert 0 < r.scale <= 1.0

    frames = sample_frames(media).collect()
    assert len(frames) >= 50  # at least one frame per ref
    assert all(len(r.frame_key) == 12 for r in frames)

    # determinism: same refs → same decode output
    again = decode_images(synth_media_bytes(refs)).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_main_content_classifier_edges(spark):
    """jusText-style classifier edge semantics on a hand-built doc:
    URL-heavy blocks are 'bad' regardless of stopwords; a short block
    neighboring a good one is promoted; an isolated near-good block is
    demoted; content joins good blocks in block order."""
    from pero_ocr_api_spark.functions.maincontent import (
        classify_blocks, main_content,
    )

    sw = "the a of and to"                     # 5 stopwords
    good = (sw + " x y z w v u q r s p")       # 15 toks, ratio 0.33 → good
    linky = " ".join(["https://x.example"] * 10 + [sw])  # 15 toks, lk 0.67 → bad
    filler = " ".join(f"tok{i}" for i in range(15))      # ratio 0 → near_good
    docs = spark.createDataFrame(
        [
            # doc A: good + short tail (promoted via neighbor)
            ("A", good + " tail"),
            # doc B: linky then filler (near_good, no good neighbor → bad)
            ("B", linky + " " + filler),
        ],
        "doc_id string, text string",
    )
    rows = {
        (r.doc_id, r.block_idx): r for r in classify_blocks(docs).collect()
    }
    assert rows[("A", 0)].cf_class == "good"
    assert rows[("A", 1)].cf_class == "short"
    assert rows[("A", 1)].final_class == "good"     # promoted by neighbor
    assert rows[("B", 0)].cf_class == "bad"         # link density 0.67
    assert rows[("B", 0)].link_density > 0.2
    assert rows[("B", 1)].cf_class == "near_good"
    assert rows[("B", 1)].final_class == "bad"      # no good neighbor
    out = {r.doc_id: r for r in main_content(docs).collect()}
    assert out["A"].content == good + " tail"       # order preserved
    assert out["A"].n_good == 2 and out["A"].n_blocks == 2
    assert out["B"].content == "" and out["B"].n_good == 0


def test_add_api_key_quote_safe(spark):
    """ADVICE r2: owner/permission are data, not SQL — a value with a
    single quote must not break the digest expression."""
    from pero_ocr_api_spark.plans.admin import add_api_key

    keys = spark.createDataFrame(
        [("k1", "AAAA", "alice", "USER", False)],
        "key_id string, api_string string, owner string, "
        "permission string, suspension boolean",
    )
    out = add_api_key(keys, owner="O'Brien; DROP TABLE--", permission="USER")
    rows = {r.key_id: r for r in out.collect()}
    assert set(rows) == {"k1", "k2"}
    new = rows["k2"]
    assert new.owner == "O'Brien; DROP TABLE--"
    assert new.api_string and "=" not in new.api_string


def test_merge_upsert_semantics(spark):
    """MERGE expansion over whole rows: matched keys take the source
    row, unmatched target rows survive untouched, unmatched source
    rows insert; no duplicates on any path."""
    from pero_ocr_api_spark.functions.cdc import merge_upsert

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    source = spark.createDataFrame(
        [(2, "B!"), (9, "new")], "k long, v string"
    )
    got = {r.k: r.v for r in merge_upsert(target, source, "k").collect()}
    assert got == {1: "a", 2: "B!", 3: "c", 9: "new"}


def test_scd2_versions_change_points(spark):
    """SCD2 history: consecutive duplicates collapse, validity
    intervals chain exactly ([from, to) with NULL = current), versions
    are dense per key, tie on ts broken by event_id."""
    from datetime import datetime

    from pero_ocr_api_spark.functions.cdc import scd2_versions

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1: a a b a  -> versions a@0, b@2, a@3
        (1, 10, "a", t(0)), (1, 11, "a", t(1)),
        (1, 12, "b", t(2)), (1, 13, "a", t(3)),
        # user 2: tie at the same ts — event_id orders it: a then b
        (2, 20, "a", t(5)), (2, 21, "b", t(5)),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp"
    )
    got = {
        (r.user_id, r.version): (r.event_type, r.valid_from, r.valid_to)
        for r in scd2_versions(ev).collect()
    }
    assert got == {
        (1, 1): ("a", t(0), t(2)),
        (1, 2): ("b", t(2), t(3)),
        (1, 3): ("a", t(3), None),
        (2, 1): ("a", t(5), t(5)),
        (2, 2): ("b", t(5), None),
    }


def test_codec_seam_pluggable(monkeypatch):
    """_decode resolves a real codec at CALL time: with a (fake) cv2
    module installed the payload goes through cv2.imdecode + BGR→RGB
    (the reference decode, run_client.py:163-166); without one it
    falls back to the deterministic stub — same HxWx3 uint8 contract
    either way."""
    import sys
    import types

    import numpy as np
    import pytest

    from pero_ocr_api_spark.operators import multimodal as mm

    # no codec installed (this container) → deterministic fake
    base = mm._decode(b"\x01\x02\x03\x04", 4, 2)
    assert base.shape == (2, 4, 3) and base.dtype == np.uint8
    assert np.array_equal(base, mm._decode_fake(b"\x01\x02\x03\x04", 4, 2))

    jpeg_payload = b"\xff\xd8\xff\xe0" + b"\x00" * 16  # real JPEG magic

    # fake cv2 through the seam: a payload with genuine image magic
    # goes through cv2.imdecode, and its BGR output must come back
    # channel-flipped to RGB
    bgr = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    fake_cv2 = types.ModuleType("cv2")
    fake_cv2.imdecode = lambda buf, flag: bgr.copy()
    monkeypatch.setitem(sys.modules, "cv2", fake_cv2)
    out = mm._decode(jpeg_payload, 999, 999)
    assert np.array_equal(out, bgr[:, :, ::-1])

    # the synthetic bench tiles (md5 digest tiled 8x, detected
    # STRUCTURALLY) must bypass an installed codec entirely — cv2 would
    # reject them and flip every oracle row to ok=False
    fake_cv2.imdecode = lambda buf, flag: (_ for _ in ()).throw(
        AssertionError("real codec must not see synthetic payloads")
    )
    tile = bytes(range(16)) * 8
    assert mm._is_synthetic_tile(tile)
    synth = mm._decode(tile, 4, 2)
    assert np.array_equal(synth, mm._decode_fake(tile, 4, 2))

    # an UNKNOWN container (not whitelisted magic, not a synthetic
    # tile — e.g. JPEG2000/PNM/AVIF) must still ATTEMPT the real codec
    # when one is installed: decodable -> real pixels, not fake ones
    jp2ish = b"\x00\x00\x00\x0cjP  " + b"\x00" * 16
    fake_cv2.imdecode = lambda buf, flag: bgr.copy()
    out2 = mm._decode(jp2ish, 999, 999)
    assert np.array_equal(out2, bgr[:, :, ::-1])
    # ...and an undecodable unknown payload is a row-level error
    # (ok=False), never silent fake pixels
    fake_cv2.imdecode = lambda buf, flag: None
    with pytest.raises(ValueError):
        mm._decode(jp2ish, 4, 2)

    # a codec that rejects a real-magic payload is a row-level error
    # (ok=False in decode_images), NOT a silent fall-through to the fake
    fake_cv2.imdecode = lambda buf, flag: None
    with pytest.raises(ValueError):
        mm._decode(jpeg_payload, 4, 2)


def test_merge_cdc_ops_semantics(spark):
    """Delete wins over update when its seq is higher; update wins when
    ITS seq is higher; inserts land; untouched targets survive; a
    re-apply of the same batch is idempotent."""
    from pyspark.sql import functions as F

    from pero_ocr_api_spark.functions.cdc import merge_cdc_ops

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", "U", 1), (1, "x", "D", 2),   # delete wins (seq 2)
            (2, "b0", "D", 1), (2, "b2", "U", 2),  # update wins (seq 2)
            (9, "i", "I", 1),                       # insert
        ],
        "id long, v string, op string, seq int",
    )
    out = merge_cdc_ops(target, changes, "id")
    got = sorted((r.id, r.v) for r in out.collect())
    assert got == [(2, "b2"), (3, "c"), (9, "i")]

    again = merge_cdc_ops(out, changes, "id")
    assert sorted((r.id, r.v) for r in again.collect()) == got


def test_media_refs_stage_is_wide(spark, sf_smoke):
    """Regression for the AQE-coalesce-then-explode trap: the media-ref
    relation feeding the heavy mapInPandas stages must carry cluster
    width, not the 1-partition plan AQE coalesces a tiny distinct to.
    Round-robin repartition (REPARTITION_BY_NUM) is the non-coalescible
    form; a hash repartition on the key gets ELIMINATED as redundant
    against the distinct's partitioning (this assert catches both the
    removal and a future AQE-origin regression)."""
    from pero_ocr_api_spark.queries.multimodal_q import _media_refs

    refs = _media_refs(spark, sf_smoke)
    n = refs.rdd.getNumPartitions()
    assert n == spark.sparkContext.defaultParallelism, n
