"""Full-registry verification at sf0.1 — 10x the driver gate's scale.

Runs EVERY registered query at /root/testdata/sf0.1 and compares it
cell-exact (row count + schema + values, via pero_ocr_api_spark.compare)
against its DuckDB oracle (an entry without one is reported as an
error).  Regenerates BENCH/SF01_VERIFY.md in registry order.

Usage: python BENCH/sf01_verify.py   (~15-25 min at local[32])
"""

from __future__ import annotations

import datetime
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from pero_ocr_api_spark.compare import compare_frames, duckdb_con  # noqa: E402
from pero_ocr_api_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
OUT = os.path.join(REPO, "BENCH", "SF01_VERIFY.md")


def main() -> int:
    spark = get_spark(
        parallelism=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    rows_out: list[tuple[str, str, int, float]] = []
    n_ok = n_bad = 0
    for name, fn in qs.items():
        t0 = time.monotonic()
        try:
            spdf = fn(spark, SF_DIR).toPandas()
            con = duckdb_con(SF_DIR)
            try:
                odf = con.execute(osql[name]).fetchdf()
            finally:
                con.close()
            errs = compare_frames(spdf, odf)
            check = "OK" if not errs else "MISMATCH: " + "; ".join(errs)
            nr = len(spdf)
        except Exception as exc:  # noqa: BLE001 — recorded, not raised
            check, nr = f"ERROR: {type(exc).__name__}: {exc}", -1
        wall = time.monotonic() - t0
        if check == "OK":
            n_ok += 1
        else:
            n_bad += 1
        rows_out.append((name, check, nr, wall))
        print(f"{name}: {check} rows={nr} wall={wall:.1f}s", flush=True)
    spark.stop()

    ts = datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%d")
    lines = [
        "# Full-registry verification at sf0.1 (10x the driver gate)",
        "",
        "Every registered query executed at `" + SF_DIR + "` and compared",
        "cell-exact (row count + schema + values) against its DuckDB oracle.",
        f"**{n_ok}/{n_ok + n_bad} green, {n_bad} mismatches or errors.**",
        f"Captured {ts} by",
        "`python BENCH/sf01_verify.py` (includes the device-micro-batched",
        "engine).",
        "",
        f"Wall seconds include BOTH engines (Spark local[{CPUS}] + DuckDB)",
        "and any first-use JIT; entries are listed in registry order.",
        "",
        "| query | check | rows | wall (s) |",
        "|---|---|---|---|",
    ]
    for name, check, nr, wall in rows_out:
        lines.append(f"| {name} | {check} | {nr} | {wall:.1f} |")
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {OUT}: {n_ok} OK, {n_bad} bad")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
