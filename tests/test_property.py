"""Property-based span-sequence equality (SURVEY §5.4): hypothesis
generates arbitrary interleaved documents — unicode text, whitespace
runs, empty spans, arabic-looking content, error-triggering media refs,
heavy docs — and the Spark pipeline must match a direct per-span oracle
built from the same stub/constants.  Offsets are unique per doc (the
input_hint's document-order position; ordering is undefined otherwise).
"""

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pero_ocr_api_spark.constants import KIND_MEDIA, KIND_TEXT
from pero_ocr_api_spark.plans.pipeline import extract

DOC_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)

# text spans: printable-ish unicode incl. whitespace runs and arabic chars
_text = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=32, max_codepoint=0x2FF),
        st.sampled_from(" \t\nابتث١"),
    ),
    max_size=40,
)
# media refs: non-empty printable ascii (md5-keyed stub; any string works)
_ref = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1,
    max_size=24,
)

_span = st.one_of(
    st.tuples(st.just(KIND_TEXT), _text, st.none()),
    st.tuples(st.just(KIND_MEDIA), st.none(), _ref),
)


@st.composite
def documents(draw):
    n_docs = draw(st.integers(min_value=1, max_value=8))
    rows = []
    for d in range(n_docs):
        n_spans = draw(st.integers(min_value=0, max_value=12))
        spans = []
        offsets = draw(
            st.lists(
                st.integers(min_value=0, max_value=10_000),
                min_size=n_spans, max_size=n_spans, unique=True,
            )
        )
        for off, (kind, text, ref) in zip(
            offsets, draw(st.lists(_span, min_size=n_spans, max_size=n_spans))
        ):
            spans.append({"kind": kind, "text": text, "media_ref": ref,
                          "offset": off})
        rows.append((f"pdoc-{d}", spans))
    return rows


def _oracle(rows):
    """Direct oracle over arbitrary spans — delegates to
    oracle.extract_spans, the single source of per-span semantics."""
    from pero_ocr_api_spark.oracle import extract_spans

    out = {}
    for doc_id, spans in rows:
        flat = [(s["offset"], s["kind"], s["text"], s["media_ref"])
                for s in spans]
        spans_out, score, status = extract_spans(flat)
        out[doc_id] = (spans_out, score, status)
    return out


@settings(
    max_examples=int(__import__("os").environ.get("PROPERTY_MAX_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(rows=documents())
def test_random_documents_match_oracle(spark, rows):
    """Each drawn example on both plans: the row plan (no salt) and the
    grouped one."""
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    exp = _oracle(rows)
    for salt_partitions in (None, 8):
        res = extract(spark, docs, with_metrics=False,
                      salt_partitions=salt_partitions)

        got_spans = {}
        for r in res.spans.collect():
            got_spans.setdefault(r.doc_id, []).append(
                (r.order, r.kind, r.text, r.media_ref)
            )
        for v in got_spans.values():
            v.sort()
        got_docs = {r.doc_id: (r.score, r.status) for r in res.docs.collect()}

        assert set(got_docs) == set(exp), salt_partitions
        for doc_id, (spans_out, score, status) in exp.items():
            assert got_spans.get(doc_id, []) == spans_out, (doc_id, salt_partitions)
            assert got_docs[doc_id] == (score, status), (doc_id, salt_partitions)


# ---- main-content classifier vs an independent pure-Python oracle ----

_vocab = ["the", "a", "of", "to", "and", "tok", "alpha", "beta", "x9",
          "https://ex.am/p", "data", "row", ""]


def _py_main_content(text: str):
    """Independent reimplementation of functions/maincontent.py
    semantics (jusText-style) in plain Python."""
    from pero_ocr_api_spark.constants import STOPWORDS
    from pero_ocr_api_spark.functions.maincontent import (
        BLOCK_TOKENS, LINK_DENSITY_BAD, MIN_BLOCK_TOKENS, STOPWORD_GOOD,
    )

    toks = [t for t in text.split(" ") if t != ""]
    if not toks:
        return None
    blocks = [
        toks[i: i + BLOCK_TOKENS] for i in range(0, len(toks), BLOCK_TOKENS)
    ]
    cf = []
    for b in blocks:
        n = len(b)
        sw = sum(1 for t in b if t in STOPWORDS)
        lk = sum(1 for t in b if t.startswith(("http://", "https://")))
        if lk / n > LINK_DENSITY_BAD:
            cf.append("bad")
        elif n < MIN_BLOCK_TOKENS:
            cf.append("short")
        elif sw / n >= STOPWORD_GOOD:
            cf.append("good")
        else:
            cf.append("near_good")
    final = []
    for i, c in enumerate(cf):
        if c in ("good", "bad"):
            final.append(c)
        else:
            prev_good = i > 0 and cf[i - 1] == "good"
            next_good = i + 1 < len(cf) and cf[i + 1] == "good"
            final.append("good" if prev_good or next_good else "bad")
    content = " ".join(
        " ".join(b) for b, c in zip(blocks, final) if c == "good"
    )
    return {"content": content,
            "n_good": sum(1 for c in final if c == "good"),
            "n_blocks": len(blocks)}


@given(
    docs=st.lists(
        st.lists(st.sampled_from(_vocab), min_size=0, max_size=80).map(
            " ".join
        ),
        min_size=1, max_size=6,
    )
)
@settings(
    max_examples=int(__import__("os").environ.get("PROPERTY_MAX_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_main_content_matches_python_oracle(spark, docs):
    from pero_ocr_api_spark.functions.maincontent import main_content

    df = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(docs)],
        "doc_id string, text string",
    )
    got = {r.doc_id: r for r in main_content(df).collect()}
    for i, text in enumerate(docs):
        expect = _py_main_content(text)
        rid = f"d{i}"
        if expect is None:
            assert rid not in got          # empty docs are filtered out
            continue
        assert got[rid].content == expect["content"], (text,)
        assert got[rid].n_good == expect["n_good"]
        assert got[rid].n_blocks == expect["n_blocks"]


# ---- cross-engine fuzz: random corpora through the REAL parity gate ----
_doc_text = st.one_of(
    st.none(),
    st.text(alphabet=list("abcdefgh "), max_size=60),
)


@settings(
    max_examples=int(os.environ.get("PROPERTY_MAX_EXAMPLES", "8")),
    deadline=None,
    # derandomized: the two CDC merges compare keys, strings and a
    # long length (no doubles), and a fixed seed makes every run
    # reproduce the same examples, like the other fuzz gates here
    # (grow coverage deliberately via PROPERTY_MAX_EXAMPLES).
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(_doc_text, min_size=1, max_size=30),
    data=st.data(),
)
def test_fuzz_new_ops_cross_engine(spark, tmp_path_factory, texts, data):
    """The documents-table ops' Spark/DuckDB twins must agree on ARBITRARY
    small corpora, not just the frozen testdata: random texts (incl.
    NULLs, empties, whitespace runs, dup-heavy samples) land in a tmp
    parquet dir and each op runs through the real run_pair gate."""
    from pero_ocr_api_spark.compare import run_pair
    from pero_ocr_api_spark.functions.cdc import REGISTRY as CDC

    rows = []
    for i, t in enumerate(texts):
        # bias toward duplicate content (rows that differ only by key)
        if t is not None and data.draw(st.booleans(), label=f"dup{i}"):
            t = texts[0] if texts[0] is not None else t
        rows.append(
            (
                i,
                t,
                data.draw(st.sampled_from(["en", "de", "fr"]), label=f"l{i}"),
                f"s{i % 3}",
                0 if t is None else len(t),
            )
        )
    d = tmp_path_factory.mktemp("fuzz")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    for name, reg in [
        # every op whose only input is the documents table goes through
        # the same gate: the two CDC merges over it
        ("td_merge_upsert", CDC),
        ("td_merge_cdc_delete", CDC),
    ]:
        fn, sql = reg[name]
        errs = run_pair(spark, str(d), fn, sql)
        assert errs == [], (name, errs, rows)


_event_type = st.sampled_from(
    ["signup", "click", "purchase", "view", "error"]
)


@settings(
    max_examples=int(os.environ.get("PROPERTY_MAX_EXAMPLES", "8")),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(n=st.integers(min_value=1, max_value=40), data=st.data())
def test_fuzz_event_ops_cross_engine(spark, tmp_path_factory, n, data):
    """The events-table op (SCD2 versions) must agree with its DuckDB
    twin on ARBITRARY event streams, not just the frozen testdata.

    Determinism contract encoded in the generator: timestamps are
    globally UNIQUE (ASOF/lag tie order at equal ts is engine-defined,
    same as the cdc seq-uniqueness contract) and never NULL (window
    ORDER BY null placement differs: Spark NULLS FIRST asc, DuckDB
    NULLS LAST).  Values are dyadic rationals (k/8) so every sum is
    exact in float64 and the 3/4 dp rounds cannot straddle a boundary;
    value and props may be NULL."""
    from datetime import datetime, timedelta

    from pero_ocr_api_spark.compare import run_pair

    offsets = data.draw(
        st.lists(
            st.integers(0, 2_000_000), min_size=n, max_size=n, unique=True
        ),
        label="offsets",
    )
    base = datetime(2026, 1, 1)
    rows = []
    for i in range(n):
        val = data.draw(
            st.one_of(st.none(), st.integers(0, 64)), label=f"v{i}"
        )
        k = data.draw(
            st.one_of(st.none(), st.integers(-30, 99)), label=f"k{i}"
        )
        rows.append(
            (
                i,
                base + timedelta(seconds=offsets[i]),
                data.draw(st.integers(0, 3), label=f"u{i}"),
                data.draw(_event_type, label=f"t{i}"),
                None if val is None else val / 8.0,
                None if k is None else '{"k": %d}' % k,
            )
        )
    d = tmp_path_factory.mktemp("fuzz_ev")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))

    # td_scd2_versions (cdc registry) reads the events table
    from pero_ocr_api_spark.functions.cdc import REGISTRY as CDC

    for name, reg in [
        ("td_scd2_versions", CDC),
    ]:
        fn, sql = reg[name]
        errs = run_pair(spark, str(d), fn, sql)
        assert errs == [], (name, errs, rows)


def _write_tpch_fuzz_dir(spark, d, seed: int, size: int) -> None:
    """Deterministically expand one drawn seed into a CONSISTENT random
    TPC-H-ish snowflake (plus events/documents/embeddings) with the
    cross-engine determinism contract: money and rates are dyadic
    (quarters / 64ths — every sum exact in float64), order dates are
    globally unique (window/rank tie order at equal ts is
    engine-defined), and ~10% of FKs dangle so outer/anti/semi paths
    light up.  Domains mirror the frozen testdata so the cp_* literal
    predicates actually select rows."""
    import random as _random
    from datetime import datetime, timedelta

    R = _random.Random(seed)
    base = datetime(1995, 1, 1)

    region = [(i, nm) for i, nm in enumerate(
        ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])]
    nation = [(i, f"NATION_{i}", R.randint(0, 4)) for i in range(8)]
    n_cust = max(3, size)
    customer = [
        (i, f"Customer#{i:09d}", R.randint(0, 9),  # 8,9 dangle
         R.randint(-4000, 40000) / 4.0,
         R.choice(["MACHINERY", "BUILDING", "AUTOMOBILE", "HOUSEHOLD",
                   "FURNITURE"]))
        for i in range(n_cust)
    ]
    supplier = [
        (i, f"Supplier#{i:09d}", R.randint(0, 9),
         R.randint(-4000, 40000) / 4.0)
        for i in range(max(2, size // 3))
    ]
    part = [
        (i,
         f"{R.choice(['small','blue','cold','new','hot'])} "
         f"{R.choice(['widget','rod','ring','anvil','bolt'])}",
         f"Brand#{R.randint(1, 25)}",
         R.choice(["ECONOMY", "LARGE", "STANDARD", "PROMO", "MEDIUM",
                   "SMALL"]),
         R.randint(1, 50), R.randint(100, 8000) / 4.0)
        for i in range(max(3, size // 2))
    ]
    n_ord = max(5, size * 2)
    odates = R.sample(range(0, 200_000_000), n_ord)  # unique, ~6.3y span
    orders, lineitem = [], []
    for i in range(n_ord):
        orders.append(
            (i, R.randint(0, n_cust + 1), R.choice("POF"),
             R.randint(400, 2_000_000) / 4.0,
             base + timedelta(seconds=odates[i]),
             R.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                       "4-NOT SPECIFIED", "5-LOW"]))
        )
        for j in range(R.randint(0, 4)):
            lineitem.append(
                (i, R.randint(0, len(part)), R.randint(0, len(supplier)),
                 j + 1, float(R.randint(1, 50)),
                 R.randint(100, 400_000) / 4.0,
                 R.randint(0, 6) / 64.0, R.randint(0, 5) / 64.0,
                 R.choice("NAR"), R.choice("FO"),
                 base + timedelta(seconds=odates[i] + j,
                                  days=R.randint(1, 120)))
            )
    ev_base = datetime(2024, 1, 1)
    ev_offsets = R.sample(range(0, 5_000_000), max(5, size * 3))
    events = [
        (i, ev_base + timedelta(seconds=off), R.randint(0, 5),
         R.choice(["signup", "click", "purchase", "view", "error"]),
         None if R.random() < 0.15 else R.randint(0, 2000) / 8.0,
         None if R.random() < 0.15 else '{"k": %d}' % R.randint(-30, 99))
        for i, off in enumerate(ev_offsets)
    ]
    documents = [
        (i,
         None if R.random() < 0.15 else
         "".join(R.choice("abcd ") for _ in range(R.randint(0, 30))),
         R.choice(["en", "de", "fr"]), f"s{i % 3}")
        for i in range(max(2, size))
    ]
    documents = [t + (0 if t[1] is None else len(t[1]),) for t in documents]
    embeddings = [
        (i, [R.randint(-16, 16) / 8.0 for _ in range(64)], R.randint(0, 3))
        for i in range(max(6, size))
    ]

    for name, rows, schema in [
        ("region", region, "r_regionkey int, r_name string"),
        ("nation", nation,
         "n_nationkey int, n_name string, n_regionkey int"),
        ("customer", customer,
         "c_custkey long, c_name string, c_nationkey int, "
         "c_acctbal double, c_mktsegment string"),
        ("supplier", supplier,
         "s_suppkey long, s_name string, s_nationkey int, "
         "s_acctbal double"),
        ("part", part,
         "p_partkey long, p_name string, p_brand string, p_type string, "
         "p_size int, p_retailprice double"),
        ("orders", orders,
         "o_orderkey long, o_custkey long, o_orderstatus string, "
         "o_totalprice double, o_orderdate timestamp_ntz, "
         "o_orderpriority string"),
        ("lineitem", lineitem,
         "l_orderkey long, l_partkey long, l_suppkey long, "
         "l_linenumber int, l_quantity double, l_extendedprice double, "
         "l_discount double, l_tax double, l_returnflag string, "
         "l_linestatus string, l_shipdate timestamp_ntz"),
        ("events", events,
         "event_id long, ts timestamp_ntz, user_id long, "
         "event_type string, value double, props string"),
        ("documents", documents,
         "doc_id long, text string, lang string, source string, "
         "n_chars long"),
        ("embeddings", embeddings,
         "vec_id long, embedding array<float>, label int"),
    ]:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"{name}.parquet"))


@settings(
    max_examples=max(
        2, int(os.environ.get("PROPERTY_MAX_EXAMPLES", "8")) // 4
    ),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**32 - 1),
    size=st.integers(min_value=3, max_value=15),
)
def test_fuzz_controlplane_cross_engine(spark, tmp_path_factory, seed, size):
    """Every oracled cp_* query (the whole control plane: filters,
    joins, aggs, windows, state machine, admin, and the 22-shape ANSI
    SQL surface) must agree with DuckDB on ARBITRARY consistent
    TPC-H-ish snapshots, not just the frozen testdata.  The hand-
    translated DataFrame queries are where dialect divergence can
    hide; the cp_sql_* twins run ONE string on both engines, so any
    failure there is an engine-semantics difference on identical SQL."""
    import __spark_entry__ as entrymod
    from pero_ocr_api_spark.compare import run_pair

    d = tmp_path_factory.mktemp("fuzz_cp")
    _write_tpch_fuzz_dir(spark, d, seed, size)
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    for name in sorted(n for n in qs if n.startswith("cp_") and n in osql):
        errs = run_pair(spark, str(d), qs[name], osql[name])
        assert errs == [], (name, errs, seed, size)

# the extraction gate feeds XML serializers and the md5 stub: stress
# XML-specials, quotes, unicode (incl. arabic) alongside the plain
# alphabet — escaping and UTF-8 hashing must agree cross-engine
_xml_text = st.one_of(
    st.none(),
    _doc_text,
    st.text(alphabet=list("ab &<>\"'\t\n ةاب١€漢"), max_size=60),
)


@settings(
    # extraction runs the emulated-latency inference stage per example,
    # so this gate gets the quarter budget
    max_examples=max(
        2, int(os.environ.get("PROPERTY_MAX_EXAMPLES", "8")) // 4
    ),
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(_xml_text, min_size=1, max_size=20),
    data=st.data(),
)
def test_fuzz_extraction_mm_cross_engine(spark, tmp_path_factory, texts, data):
    """The flagship extraction pipeline, its serializers, and the
    multimodal/main-content planes must agree with their
    DuckDB twins on ARBITRARY corpora — the spans table derives
    deterministically from documents (synth.exploded_spans ==
    SQL_EXPLODED_SPANS_CTE), so random text fuzzes the whole
    interleaved-span derivation, the md5-stub inference, reading
    order, and the XML serializers on both engines.  With this gate
    every oracled query in the registry is fuzz-covered."""
    import __spark_entry__ as entrymod
    from pero_ocr_api_spark.compare import run_pair

    rows = []
    for i, t in enumerate(texts):
        if t is not None and data.draw(st.booleans(), label=f"dup{i}"):
            t = texts[0] if texts[0] is not None else t
        rows.append(
            (
                i,
                t,
                data.draw(st.sampled_from(["en", "de", "fr"]), label=f"l{i}"),
                f"s{i % 3}",
                0 if t is None else len(t),
            )
        )
    d = tmp_path_factory.mktemp("fuzz_xt")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    for name in [
        "extract_input_spans", "extract_pipeline_spans",
        "extract_doc_results", "extract_regions",
        "extract_serialize_txt", "extract_serialize_alto",
        "extract_serialize_page", "extract_conf_histogram",
        "td_mm_decode", "td_mm_features", "td_mm_resize_plan",
        "td_mm_frame_sample",
        "td_mc_blocks", "td_mc_extract",
    ]:
        errs = run_pair(spark, str(d), qs[name], osql[name])
        assert errs == [], (name, errs, rows)
