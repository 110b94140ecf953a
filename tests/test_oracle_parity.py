"""Replicates the driver's correctness gate locally: every queries()
entry with an oracle must match DuckDB (row count + schema + values)."""

import pytest

import __spark_entry__ as entry_mod
from pero_ocr_api_spark.compare import run_pair

_REG = entry_mod._registry()
_PAIRS = [(n, fn, sql) for n, (fn, sql) in _REG.items() if sql is not None]


@pytest.mark.parametrize("name,fn,sql", _PAIRS, ids=[p[0] for p in _PAIRS])
def test_oracle_parity(spark, sf_smoke, name, fn, sql):
    problems = run_pair(spark, sf_smoke, fn, sql)
    assert not problems, problems


def test_rows_only_queries_run():
    """Every registry entry carries oracle SQL, so test_oracle_parity
    runs (and value-checks) all of them; an entry without one would run
    nowhere in this suite."""
    assert [n for n, (_fn, sql) in _REG.items() if sql is None] == []


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["doc_id", "order", "kind", "text", "media_ref"]


def test_driver_window_covers_everything_cumulatively():
    """The grading driver records only the first 50 registry entries.
    Invariant: the curated window is exactly the registry's head, and
    every demoted entry already has a fully-green row in SOME earlier
    round's driver file — so union(past-green, current-window) covers
    all oracle pairs."""
    import json
    from pathlib import Path

    qs = list(_REG.keys())
    assert qs[: len(entry_mod._DRIVER_WINDOW)] == entry_mod._DRIVER_WINDOW
    green = set()
    for rnd in ("r01", "r02", "r03", "r04"):
        prior = json.loads(
            (Path(entry_mod.__file__).parent / f"CORRECTNESS_{rnd}.json")
            .read_text()
        )
        green |= {
            k
            for k, v in prior.items()
            if all(x for kk, x in v.items() if kk.endswith("_match"))
        }
    # rows-only entries (no SQL oracle) only ever get the driver's
    # weak runs-and-returns-rows check, so hash-coverage continuity
    # does not apply to them
    rows_only = {n for n, (_f, sql) in _REG.items() if sql is None}
    demoted = qs[50:]
    missing = [q for q in demoted if q not in green and q not in rows_only]
    assert not missing, f"demoted without prior driver-green: {missing}"


def test_compare_kind_gate_skips_valueless_columns():
    """The dtype-KIND strictness gate must not false-positive on a
    column with zero non-null cells (empty result or all-NULL date:
    Spark DateType -> object while DuckDB DATE -> datetime64), and an
    actual all-null-vs-values divergence must still be flagged by the
    value loop."""
    import pandas as pd

    from pero_ocr_api_spark.compare import compare_frames

    empty_obj = pd.DataFrame({"d": pd.Series([], dtype=object)})
    empty_ts = pd.DataFrame({"d": pd.Series([], dtype="datetime64[us]")})
    assert compare_frames(empty_obj, empty_ts) == []

    allnull_obj = pd.DataFrame({"d": pd.Series([None, None], dtype=object)})
    allnull_ts = pd.DataFrame(
        {"d": pd.Series([pd.NaT, pd.NaT], dtype="datetime64[us]")}
    )
    assert compare_frames(allnull_obj, allnull_ts) == []

    values_ts = pd.DataFrame(
        {"d": pd.Series(pd.to_datetime(["2026-01-01", "2026-01-02"]))}
    )
    assert compare_frames(allnull_obj, values_ts) != []

    # the original strictness case must still fail: int vs float kinds
    ints = pd.DataFrame({"n": pd.Series([1, 2], dtype="int64")})
    floats = pd.DataFrame({"n": pd.Series([1.0, 2.0], dtype="float64")})
    assert any("kind mismatch" in p for p in compare_frames(ints, floats))
