#!/usr/bin/env python
"""Skewed-corpus occupancy evidence (VERDICT r4 item 6).

BENCH/BASELINE.md pins scale-out (0.905 efficiency) and data-scale
(1.03x flat) on a ~uniform corpus; this leg pins SKEW: the same
extraction job over (a) the uniform sf0.1 interleaved corpus and (b) an
adversarially skewed variant of it — ONE document carrying 100x a
normal document's spans, plus one media_ref repeated across ~10% of
all media spans corpus-wide — must keep worker occupancy flat.  The
media branch hashes on xxhash64(media_ref) into one partition per lane
before inference (plans/pipeline.py): a heavy document's distinct pages
spread across the cluster, and the hot media_ref's copies share one
task, which infers each distinct page of an Arrow batch once, so the
hot page is inferred once per batch instead of once per span.

Evidence recorded in BENCH/SKEW.md:
- wall(skewed) / wall(uniform)  — corpus-level flatness;
- max-task / median-task run time of the inference stage on the SKEWED
  corpus (from the Spark status REST API) — task-level occupancy; the
  gate is < 2 (a straggler task twice the median means salting failed).

Runs in a subprocess (needs spark.ui.enabled=true for the REST API,
which the library session disables by default).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATE = 2.0

_WORKER = r"""
import json, sys, time, urllib.request
sys.path.insert(0, REPO_PLACEHOLDER)
from pyspark.sql import Window
from pyspark.sql import functions as F
from pero_ocr_api_spark.session import get_spark
from pero_ocr_api_spark.plans.pipeline import extract
from pero_ocr_api_spark.synth import interleaved_documents
from perfbench.workloads import SCAN_ENGINE as BENCH_ENGINE_CONFIG

cores = 32
sf_dir = sys.argv[1]
spark = get_spark(app_name="skew-bench", parallelism=cores,
                  shuffle_partitions=2 * cores,
                  extra_conf={"spark.ui.enabled": "true",
                              "spark.ui.port": "0",
                              "spark.ui.showConsoleProgress": "false"})
sc = spark.sparkContext

SPAN_SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
               "media_ref:string,offset:int>>")

uniform = interleaved_documents(spark, sf_dir).cache()
n_docs = uniform.count()

# ---- skewed variant ----
flat = uniform.select(
    "doc_id", F.explode("spans").alias("s")
).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")

# one media_ref repeated corpus-wide: ~10% of ALL media spans share it
hot_ref = F.when(
    (F.col("kind") == "media") & (F.xxhash64("doc_id", "offset") % 10 == 0),
    F.lit("img://doc-hotspot/p1"),
).otherwise(F.col("media_ref"))
flat_hot = flat.withColumn("media_ref", hot_ref)

# one doc with 100x spans: replicate the median-size doc 100 times into
# a single doc_id with renumbered offsets
sizes = uniform.select("doc_id", F.size("spans").alias("n"))
rows = sizes.orderBy("n", "doc_id").collect()
mid = rows[len(rows) // 2]
donor = flat.filter(F.col("doc_id") == mid.doc_id)
copies = spark.range(100).select(F.col("id").cast("int").alias("copy"))
heavy = donor.crossJoin(copies).select(
    F.lit("doc-heavy").alias("doc_id"), "kind", "text", "media_ref",
    (F.col("copy") * 100000 + F.col("offset")).cast("int").alias("offset"),
)
skew_flat = flat_hot.unionByName(heavy)
skewed = skew_flat.groupBy("doc_id").agg(
    F.collect_list(F.struct("kind", "text", "media_ref", "offset")).alias("spans")
).cache()
skewed.count()

warm_cfg = {**BENCH_ENGINE_CONFIG, "work_sleep_ms": 0.0, "work_iters": 0}
extract(spark, uniform, engine_config=warm_cfg,
        with_metrics=False, salt_partitions=4 * cores).spans.count()


def api(path):
    base = sc.uiWebUrl
    with urllib.request.urlopen(f"{base}/api/v1/applications/{sc.applicationId}{path}") as r:
        return json.loads(r.read())


def completed_stage_ids():
    return {s["stageId"] for s in api("/stages?status=complete")}


def run_once(docs):
    before = completed_stage_ids()
    t0 = time.monotonic()
    res = extract(spark, docs, engine_config=BENCH_ENGINE_CONFIG,
                  with_metrics=False, persist_inference=True,
                  salt_partitions=4 * cores)
    n_spans = res.spans.count()
    res.docs.count()
    res.unpersist()
    wall = time.monotonic() - t0
    stages = [s for s in api("/stages?status=complete")
              if s["stageId"] not in before]
    # the inference stage = the new stage with the largest total run time
    top = max(stages, key=lambda s: s.get("executorRunTime", 0))
    summ = api(f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary"
               "?quantiles=0.5,1.0")
    dist = summ.get("executorRunTime") or summ.get("duration")
    med, mx = float(dist[0]), float(dist[1])
    return dict(wall=round(wall, 2), n_spans=n_spans,
                stage=top["stageId"], n_tasks=top["numCompleteTasks"],
                task_med_ms=med, task_max_ms=mx,
                ratio=round(mx / med, 3) if med else None)


def run_one(docs):
    # 2 interleaved reps per corpus (see caller), min-wall rep wins —
    # damps run-order warmup bias that would make the two corpora
    # incomparable
    a, b = run_once(docs), run_once(docs)
    return a if a["wall"] <= b["wall"] else b

out = {
    "n_docs": n_docs,
    "uniform": run_one(uniform),
    "skewed": run_one(skewed),
}
spark.stop()
print("RESULT " + json.dumps(out))
""".replace("REPO_PLACEHOLDER", repr(REPO))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER, sf_dir],
        capture_output=True, text=True, cwd=REPO,
    )
    line = next(
        (ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")),
        None,
    )
    if line is None:
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-5000:])
        return 1
    res = json.loads(line[len("RESULT "):])
    u, s = res["uniform"], res["skewed"]
    wall_ratio = round(s["wall"] / u["wall"], 3)
    lines = [
        "# BENCH/SKEW — skewed-corpus occupancy (VERDICT r4 item 6)",
        "",
        f"Corpus: sf0.1 interleaved ({res['n_docs']} docs).  Skewed variant:",
        "ONE doc with 100x the median doc's spans + one media_ref shared by",
        "~10% of all media spans corpus-wide.  local[32], bench engine",
        "config (15 ms single-page latency, 16-page device micro-batches).",
        "",
        "| corpus | wall (s) | inference-stage tasks | task median (ms) "
        "| task max (ms) | max/median |",
        "|---|---|---|---|---|---|",
        f"| uniform | {u['wall']} | {u['n_tasks']} | {u['task_med_ms']} "
        f"| {u['task_max_ms']} | {u['ratio']} |",
        f"| skewed | {s['wall']} | {s['n_tasks']} | {s['task_med_ms']} "
        f"| {s['task_max_ms']} | {s['ratio']} |",
        "",
        f"wall(skewed)/wall(uniform) = **{wall_ratio}** "
        "(the skewed corpus carries ~4% more spans via the heavy doc).",
        f"Gate: skewed max-task/median-task < {GATE} — "
        + ("**PASS**" if s["ratio"] and s["ratio"] < GATE else "**FAIL**")
        + f" ({s['ratio']}).",
        "",
        "Why it holds: the media branch repartitions on",
        "xxhash64(media_ref) before inference (plans/pipeline.py), so the",
        "heavy doc's pages spread over all salt partitions, and the shared",
        "ref's copies meet in one task, which infers each distinct page of",
        "an Arrow batch once.",
    ]
    with open(os.path.join(REPO, "BENCH", "SKEW.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    return 0 if (s["ratio"] and s["ratio"] < GATE) else 2


if __name__ == "__main__":
    sys.exit(main())
