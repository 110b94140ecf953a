"""Property checks for the training-data ops (oracle parity is covered
in test_oracle_parity; these assert semantic invariants)."""

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


def test_pack_groups_use_full_byte(spark, sf_smoke):
    """ADVICE r2: pack_group must draw from the full PACK_GROUPS range
    (two-nibble 0-255 decode), not the 16 values a single md5 hex char
    yields — otherwise the packing window's parallelism caps at 16."""
    from pero_ocr_api_spark.functions.text import PACK_GROUPS, q_pack_sequences

    groups = {
        r.pack_group
        for r in q_pack_sequences(spark, sf_smoke).select("pack_group")
        .distinct().collect()
    }
    assert len(groups) > 16
    assert all(0 <= g < PACK_GROUPS for g in groups)


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


def test_chunk_documents_geometry(spark):
    """Edge geometry of fixed-window chunking: short doc (< overlap),
    exact-multiple doc, and an off-grid doc — chunk count, starts,
    overlap width, and full-coverage all pinned."""
    from pero_ocr_api_spark.functions.text import (
        CHUNK_OVERLAP, CHUNK_SIZE, CHUNK_STRIDE, chunk_documents,
    )

    def doc(i, n):
        return (i, " ".join(f"t{j}" for j in range(1, n + 1)))

    df = spark.createDataFrame(
        # 5 tokens (< overlap), exactly one stride+chunk (2 chunks,
        # second full), chunk_size exactly (1 chunk), chunk_size+1
        # (2 chunks, second mostly overlap), empty doc (dropped)
        [doc(1, 5), doc(2, CHUNK_STRIDE + CHUNK_SIZE), doc(3, CHUNK_SIZE),
         doc(4, CHUNK_SIZE + 1), (5, "")],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.chunk_id): r
        for r in chunk_documents(df).collect()
    }
    by_doc = {}
    for (d, k) in rows:
        by_doc.setdefault(d, []).append(k)

    assert sorted(by_doc) == [1, 2, 3, 4]          # empty doc dropped
    assert by_doc[1] == [0] and rows[(1, 0)].n_tokens == 5
    assert sorted(by_doc[2]) == [0, 1]
    assert rows[(2, 1)].start_tok == CHUNK_STRIDE + 1
    assert rows[(2, 1)].n_tokens == CHUNK_SIZE      # second chunk full
    assert by_doc[3] == [0]                         # exact fit: 1 chunk
    assert sorted(by_doc[4]) == [0, 1]
    assert rows[(4, 1)].n_tokens == CHUNK_OVERLAP + 1

    # coverage + overlap invariants on the off-grid doc
    c0 = rows[(4, 0)].chunk_text.split(" ")
    c1 = rows[(4, 1)].chunk_text.split(" ")
    assert c0[-CHUNK_OVERLAP:] == c1[:CHUNK_OVERLAP]
    assert set(c0) | set(c1) == {f"t{j}" for j in range(1, CHUNK_SIZE + 2)}


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


def test_bm25_plan_topk_and_broadcasts(spark, sf_smoke):
    """BM25's physical plan must rank via TakeOrderedAndProject (top-k,
    never a global Sort+Limit over the corpus) and bring df / corpus
    stats in as broadcasts — the shapes that keep it one filtered
    shuffle at 100 TB."""
    from pero_ocr_api_spark.functions.text import q_bm25

    plan = (
        q_bm25(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


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


def test_hash_classifier_features_and_gate(spark):
    """td_text_hash_classifier geometry + semantics on a pinned
    fixture: n_feats = 2n-1 (unigrams + bigrams), single-token docs
    have exactly one feature (no degenerate descending `sequence`),
    the score is the exact integer-sum formula, and keep == prob>=.5."""
    import math

    from pero_ocr_api_spark.functions.hashing import md5_u16_col
    from pero_ocr_api_spark.functions.text import q_hash_classifier
    import pero_ocr_api_spark.functions.text as _t
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", "en", "s", 16),
         (2, "solo", "en", "s", 4),
         (3, "  ", "en", "s", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = _t.load_table
    _t.load_table = lambda _s, _sf, _t2: docs
    try:
        out = {r["doc_id"]: r for r in q_hash_classifier(spark, "_").collect()}
    finally:
        _t.load_table = orig

    assert set(out) == {1, 2}  # whitespace-only doc filtered
    assert out[1]["n_feats"] == 5  # 3 unigrams + 2 bigrams
    assert out[2]["n_feats"] == 1  # single token -> no bigrams

    # recompute doc 1's score from the shared u16 hash primitive
    feats = ["alpha", "beta", "gamma", "alpha beta", "beta gamma"]
    raws = [
        r["u"]
        for r in spark.createDataFrame([(f,) for f in feats], "f string")
        .select(md5_u16_col(F.col("f")).alias("u"))
        .collect()
    ]
    assert all(0 <= u <= 65535 for u in raws)
    expect = round(sum(raws) / (len(raws) * 65535.0) * 2.0 - 1.0, 6)
    assert out[1]["cls_score"] == expect
    prob = round(1.0 / (1.0 + math.exp(-4.0 * out[1]["cls_score"])), 6)
    assert abs(out[1]["keep_prob"] - prob) < 1e-9
    for r in out.values():
        assert -1.0 <= r["cls_score"] <= 1.0
        assert r["keep"] == (r["keep_prob"] >= 0.5)


def test_corpus_report_rollup_consistency(spark, sf_smoke):
    """td_corpus_report lattice invariants: per-lang subtotals sum the
    (lang, source) cells, the corpus total sums the subtotals, and gid
    encodes the grouping level (lang = MSB, matching DuckDB GROUPING)."""
    from pero_ocr_api_spark.functions.text import q_corpus_report

    rows = q_corpus_report(spark, sf_smoke).collect()
    cells = [r for r in rows if r["gid"] == 0]
    subs = {r["lang"]: r for r in rows if r["gid"] == 1}
    total = [r for r in rows if r["gid"] == 3]
    assert len(total) == 1 and not [r for r in rows if r["gid"] == 2]
    assert all(r["source"] == "(all)" for r in subs.values())
    for lang, sub in subs.items():
        mine = [c for c in cells if c["lang"] == lang]
        for m in ("n_docs", "total_tokens", "total_chars"):
            assert sub[m] == sum(c[m] for c in mine), (lang, m)
    for m in ("n_docs", "total_tokens", "total_chars"):
        assert total[0][m] == sum(s[m] for s in subs.values())


def test_token_budget_select_boundary_semantics(spark):
    """td_token_budget_select on a pinned fixture: the kept set is the
    exact (cls_score DESC, doc_id) prefix whose running token sum stays
    within budget — including when the budget boundary falls INSIDE a
    score cell (partial-cell spend) and between tied scores (doc_id
    tiebreak)."""
    import pero_ocr_api_spark.functions.text as _t
    from pero_ocr_api_spark.functions.text import q_token_budget_select

    # identical text -> identical cls_score; budget lands mid-tie-group
    same = "alpha beta gamma delta " * 5  # 20 tokens per doc
    docs = spark.createDataFrame(
        [(i, same.strip(), "en", "s", len(same)) for i in range(10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig_load, orig_budget = _t.load_table, _t._TOKEN_BUDGET
    _t.load_table = lambda _s, _sf, _n: docs
    _t._TOKEN_BUDGET = 70  # 3 docs of 20 fit; the 4th would make 80
    try:
        kept = sorted(r["doc_id"] for r in q_token_budget_select(spark, "_").collect())
    finally:
        _t.load_table, _t._TOKEN_BUDGET = orig_load, orig_budget
    # all scores tie -> doc_id ascending is the total order
    assert kept == [0, 1, 2]


def test_corpus_diff_null_text_parity(spark, tmp_path):
    """td_corpus_diff presence semantics on NULL-text docs: md5(NULL)
    is NULL, so presence must come from dedicated flags, not
    fingerprint nullness — pinned by running BOTH engines over a
    corpus where every snapshot-bucket combination carries a NULL-text
    doc."""
    from pero_ocr_api_spark.compare import run_pair
    from pero_ocr_api_spark.functions.cdc import REGISTRY

    rows = []
    for i in range(200):
        text = None if i % 3 == 0 else f"doc text {i}"
        n = 0 if text is None else len(text)
        rows.append((i, text, "en", f"s{i % 2}", n))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    fn, sql = REGISTRY["td_corpus_diff"]
    errs = run_pair(spark, str(tmp_path), fn, sql)
    assert errs == [], errs
    out = fn(spark, str(tmp_path))
    # sanity: the synthetic buckets produced a non-degenerate diff
    statuses = {r["status"] for r in out.collect()}
    assert "unchanged" in statuses and len(statuses) >= 3


def test_bigram_ce_matches_closed_form(spark, tmp_path):
    """td_text_bigram_ce equals the hand-computed add-1-smoothed
    bigram cross-entropy (same 1e-6 grid snapping)."""
    import math
    from collections import Counter

    from pero_ocr_api_spark.functions.text import REGISTRY as TXT

    texts = {1: "a b a b", 2: "a b c", 3: "c"}
    spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    toks = {i: t.split() for i, t in texts.items()}
    bigrams = {i: list(zip(tk, tk[1:])) for i, tk in toks.items()}
    c12 = Counter(b for bs in bigrams.values() for b in bs)
    c1 = Counter(b[0] for bs in bigrams.values() for b in bs)
    v = len({w for tk in toks.values() for w in tk})

    def ce(doc):
        micro = sum(
            round(-math.log((c12[b] + 1.0) / (c1[b[0]] + v)) * 1e6)
            for b in bigrams[doc]
        )
        return round(micro / (1e6 * len(bigrams[doc])), 6)

    out = {
        r["doc_id"]: r
        for r in TXT["td_text_bigram_ce"][0](spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2}  # doc 3 has no bigrams
    assert out[1]["n_bigrams"] == 3 and out[2]["n_bigrams"] == 2
    assert out[1]["cross_entropy"] == ce(1)
    assert out[2]["cross_entropy"] == ce(2)


def test_shard_plan_matches_naive_lpt(spark, tmp_path):
    """The histogram-arithmetic shard plan equals the naive global
    row_number deal on two hand-checkable corpora: distinct token
    counts (one doc per rank) and a single 10-doc tie cell (the
    wrap-around case: shards 0-1 get 2 docs, shards 2-7 get 1)."""
    from pero_ocr_api_spark.constants import N_SHARDS
    from pero_ocr_api_spark.functions.text import REGISTRY as TXT

    assert N_SHARDS == 8

    def run(texts):
        spark.createDataFrame(
            [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "documents.parquet")
        )
        return {
            r["shard_id"]: (r["n_docs"], r["n_tokens"])
            for r in TXT["td_shard_plan"][0](spark, str(tmp_path)).collect()
        }

    # distinct counts 5,5,3,2,1 -> ranks 1..5 -> shards 0..4
    out = run(["a b c d e", "f g h i j", "k l m", "n o", "p"])
    assert out == {0: (1, 5), 1: (1, 5), 2: (1, 3), 3: (1, 2), 4: (1, 1)}

    # one tie cell of 10 docs x 2 tokens: wrap-around within the cell
    out = run(["w x"] * 10)
    assert out == {
        0: (2, 4), 1: (2, 4),
        **{s: (1, 2) for s in range(2, 8)},
    }


def test_winnowing_matches_pure_python(spark, tmp_path):
    """Third-engine oracle: an independent pure-Python winnowing
    implementation (hashlib.md5, rightmost-min-per-window, distinct,
    position-sorted digest) must reproduce sketch_md5 exactly; plus
    the structural guarantee — two docs sharing a substring of length
    >= K+W-1 share at least one fingerprint hash."""
    import hashlib

    from pero_ocr_api_spark.functions.text import (
        REGISTRY as TXT, WINNOW_K, WINNOW_W,
    )

    def winnow(text):
        k, w = WINNOW_K, WINNOW_W
        n = len(text) - k + 1
        if n < w:
            return None
        hs = [hashlib.md5(text[p:p + k].encode()).hexdigest()
              for p in range(n)]
        sels = set()
        for start in range(n - w + 1):
            # min hash, rightmost position on ties (min over (h, -p))
            h, np = min((hs[start + j], -(start + j + 1))
                        for j in range(w))
            sels.add((h, -np))
        sketch = ";".join(sorted(f"{h}@{p}" for h, p in sels))
        return {
            "n_kgrams": n,
            "n_selected": len(sels),
            "density": round(len(sels) / n, 6),
            "sketch_md5": hashlib.md5(sketch.encode()).hexdigest(),
            "hashes": {h for h, _ in sels},
        }

    shared = "the shared plagiarized passage here"   # len 35 >= K+W-1
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "intro words then " + shared + " and an ending",
        shared + " with a different continuation entirely",
        "short",                                      # < K+W-1: absent
        None,
    ]
    rows = [
        (i, t, "en", "s0", 0 if t is None else len(t))
        for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    from pero_ocr_api_spark.compare import run_pair

    fn, sql = TXT["td_text_winnowing"]
    assert run_pair(spark, str(tmp_path), fn, sql) == []
    out = {r["doc_id"]: r for r in fn(spark, str(tmp_path)).collect()}
    exp = {i: winnow(t) for i, t in enumerate(texts) if t is not None}
    for i, want in exp.items():
        if want is None:
            assert i not in out
            continue
        got = out[i]
        for key in ("n_kgrams", "n_selected", "density", "sketch_md5"):
            assert got[key] == want[key], (i, key, got[key], want[key])
    # the localization guarantee: docs 1 and 2 share >= K+W-1 chars,
    # so their sketches intersect on at least one k-gram hash
    assert exp[1]["hashes"] & exp[2]["hashes"]


def test_winnowing_plan_single_exchange(spark, sf_smoke):
    """Pin the winnowing plan shape: exactly ONE shuffle (the doc_id
    exchange feeding the rolling-min window; the collect_set aggregate
    reuses its partitioning).  A reintroduced global distinct — a
    measured 5.7x-at-4x-data regression — would add a second
    hashpartitioning exchange and fail here."""
    from pero_ocr_api_spark.functions.text import REGISTRY as TXT

    plan = (
        TXT["td_text_winnowing"][0](spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastExchange" not in plan, plan
