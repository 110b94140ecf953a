"""Snapshot-checkpointed extraction runs — the sandbox realization of
Iceberg snapshot commits (north_rule: resumable from checkpoint at
partition granularity with per-partition lineage + metrics).

Reference analog: the page state machine is the reference's implicit
checkpoint (/root/reference/app/db/model.py:13-22 states; re-queue of
timed-out work /root/reference/app/__init__.py:71-119; idempotent
download-skip /root/reference/user_scripts/retrieve_ocr_results.py:62-64).

Mechanics:
- documents are hash-bucketed into ``n_groups`` partition-groups
  (pmod(xxhash64(doc_id), n_groups)) — the commit granularity;
- the grouped input is frozen once under ``_staged/``; the staging
  write also observes the source fingerprint, which ``_meta.json``
  records next to the ``n_groups`` pin (recording it commits the
  staging);
- each group's per-document results (``pipeline.extract``: doc_id,
  score, status, spans[]) land under ``results/group=G/`` in ONE write
  action (dynamic overwrite per group = idempotent re-run); the doc and
  span counts and the inference metrics are ``DataFrame.observe``
  metrics of that same write;
- a group with no staged docs (no ``_staged/group_id=G`` directory)
  is neither planned nor written: it commits a lineage row with zero
  counts and zero metrics, in commit order, without a Spark job (an
  empty source stages no group, so all its groups commit this way);
- one planner thread builds group G+1's plan (filter → extract →
  observe; driver-only, it runs no Spark job) while group G writes, so
  the Py4J-bound plan construction leaves the critical path; writes,
  manifest commits, snapshot ids and the injected kill stay on the
  calling thread in group order, so at most one group's data is ever
  in flight;
- a group becomes VISIBLE only when its manifest file
  ``_manifest/group-G.json`` is atomically renamed into place with its
  lineage row (doc/span counts, wall_ms, metrics) — write-then-rename
  gives the atomic results+lineage commit of an Iceberg snapshot;
  ``wall_ms`` runs from the previous group's commit (or the start of
  the group loop) to this group's commit, so the lineage walls of a
  run never sum past the run's wall;
- resume = skip committed groups (the left-anti of work vs manifest);
  a killed job re-runs only the uncommitted remainder and the final
  table is identical to an uninterrupted run (tests prove it);
- ``read_spans`` / ``read_docs`` are an explode and a projection of the
  committed results (zero rows when every committed group is empty).

On a real cluster the same code commits to an Iceberg catalog
(plans/iceberg_backend.py) — only _write_group / _read_committed change.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .pipeline import (
    RESULTS_SCHEMA,
    ExtractMetrics,
    extract,
    result_docs,
    result_spans,
)


class SimulatedFailure(RuntimeError):
    """Raised by run(fail_after=...) to model a mid-job crash in tests."""


def _fingerprint_exprs(cols: list[str]) -> list[Column]:
    """(row count, order-insensitive xor of per-row hashes) — identity
    check between a live source and the frozen snapshot.  The hash
    covers EVERY column (xxhash64 handles arrays/structs), not just
    doc_id: a source whose *content* changed under identical doc_ids
    must be refused too, or resume would silently process the stale
    snapshot.  bit_xor rather than sum: commutative AND overflow-free
    under ANSI.  xxhash64 is order-sensitive, so both sides hash the
    caller's column list in the caller's order."""
    col_list = ", ".join(f"`{c}`" for c in cols)
    return [
        F.count("*").alias("n"),
        F.expr(f"bit_xor(xxhash64({col_list}))").alias("h"),
    ]


def _write_json_atomic(path: str, obj: dict) -> None:
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


class CheckpointedExtractor:
    def __init__(self, output_dir: str, n_groups: int = 8, salt_partitions: int | None = None):
        self.output_dir = output_dir
        self.n_groups = n_groups
        self.salt_partitions = salt_partitions
        self.manifest_dir = os.path.join(output_dir, "_manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)
        if any(os.path.isdir(os.path.join(output_dir, d)) for d in ("spans", "docs")):
            raise ValueError(
                f"checkpoint at {output_dir} is in the old spans/ + docs/ "
                "layout; start a fresh output_dir"
            )
        # n_groups is part of the on-disk layout (hash-bucket width):
        # resuming with a different value would silently skip or
        # empty-commit groups, so the first run pins it and every later
        # construction must match.
        meta = self._meta()
        if meta is None:
            if any(f.startswith("group-") for f in os.listdir(self.manifest_dir)):
                raise ValueError(
                    f"checkpoint at {output_dir} has group manifests but no "
                    "_meta.json (pre-pin layout) — cannot verify the bucket "
                    "width; start a fresh output_dir"
                )
            _write_json_atomic(self._meta_path(), {"n_groups": n_groups})
        elif meta["n_groups"] != n_groups:
            raise ValueError(
                f"checkpoint at {output_dir} was created with "
                f"n_groups={meta['n_groups']}; got {n_groups} — resuming "
                "with a different bucket width would lose groups"
            )

    def _meta_path(self) -> str:
        return os.path.join(self.manifest_dir, "_meta.json")

    def _meta(self) -> dict | None:
        if not os.path.exists(self._meta_path()):
            return None
        with open(self._meta_path()) as f:
            return json.load(f)

    # ---- manifest (snapshot log) ----
    def _manifest_path(self, group: int) -> str:
        return os.path.join(self.manifest_dir, f"group-{group}.json")

    def committed_groups(self) -> dict[int, dict]:
        out = {}
        for g in range(self.n_groups):
            p = self._manifest_path(g)
            if os.path.exists(p):
                with open(p) as f:
                    out[g] = json.load(f)
        return out

    def _commit_group(self, group: int, lineage: dict) -> None:
        _write_json_atomic(self._manifest_path(group), lineage)  # snapshot commit

    def _group_path(self, g: int) -> str:
        return os.path.join(self.output_dir, "results", f"group={g}")

    def _write_group(self, g: int, results: DataFrame) -> None:
        """Land one group's results (NOT yet visible — visibility is the
        manifest commit).  The Iceberg backend overrides this with
        writeTo().overwritePartitions() (plans/iceberg_backend.py)."""
        results.write.mode("overwrite").parquet(self._group_path(g))

    # ---- run / resume ----
    def _grouped(self, documents: DataFrame) -> DataFrame:
        return documents.withColumn(
            "group_id", F.pmod(F.xxhash64("doc_id"), F.lit(self.n_groups)).cast("int")
        )

    def _staged_dir(self) -> str:
        return os.path.join(self.output_dir, "_staged")

    def _staged_groups(self) -> set[int]:
        """Groups with at least one staged document: the staging write
        makes a ``group_id=G`` directory only for a group it has rows
        for, so this is a file listing, not a Spark job."""
        return {
            int(d.split("=", 1)[1])
            for d in os.listdir(self._staged_dir())
            if d.startswith("group_id=")
        }

    def _stage_input(self, spark: SparkSession, documents: DataFrame) -> DataFrame:
        """Write the grouped input ONCE, partitioned by group_id, so each
        group iteration reads only its own partition (partition pruning)
        instead of rescanning + rehashing the whole source per group
        (n_groups × full-scan → 1 write + n_groups pruned reads).  Also
        freezes the input snapshot: a resume after crash processes the
        same rows even if the source moved.  On a real Iceberg table
        bucketed by doc_id this staging step disappears — the layout
        already is the grouping."""
        staged = self._staged_dir()
        # read back with the grouped source's schema, not an inferred
        # one: an empty source stages no group_id=G directory and no
        # file to infer it from
        schema = self._grouped(documents).schema
        meta = self._meta()
        if "fingerprint" not in meta:
            # the staging write observes the source's fingerprint; writing
            # it into _meta.json commits the staging (a crash before that
            # re-stages)
            fp = Observation()
            self._grouped(
                documents.observe(fp, *_fingerprint_exprs(documents.columns))
            ).write.mode("overwrite").partitionBy("group_id").parquet(staged)
            got = fp.get
            _write_json_atomic(
                self._meta_path(), {**meta, "fingerprint": [got["n"], got["h"]]}
            )
            return spark.read.schema(schema).parquet(staged)
        # Resuming over an existing snapshot: refuse if the caller's
        # documents differ from what was frozen — silently processing
        # the stale snapshot is the same divergence class the n_groups
        # pin guards against.  A changed source needs a fresh
        # output_dir.  (One single-agg scan of the source, resume-only.)
        row = documents.agg(*_fingerprint_exprs(documents.columns)).first()
        fp_new, fp_old = [row["n"], row["h"]], meta["fingerprint"]
        if fp_new != fp_old:
            raise ValueError(
                f"checkpoint at {self.output_dir} froze an input snapshot "
                f"of {fp_old[0]} docs (fingerprint {fp_old[1]}); the "
                f"documents passed now fingerprint as {fp_new[0]} docs "
                f"({fp_new[1]}) — resuming would silently process "
                "stale data; use a fresh output_dir for a changed source"
            )
        return spark.read.schema(schema).parquet(staged)

    def run(
        self,
        spark: SparkSession,
        documents: DataFrame,
        run_id: str | None = None,
        fail_after: int | None = None,
    ) -> dict:
        """Process all uncommitted groups; returns the manifest.  If
        ``fail_after`` is set, raises SimulatedFailure after that many
        fresh commits (kill/resume testing)."""
        run_id = run_id or uuid.uuid4().hex[:12]
        grouped = self._stage_input(spark, documents)
        done = self.committed_groups()
        # snapshot_id is a per-commit sequence number (Iceberg snapshot
        # lineage): time travel reads "the table as of snapshot N".
        # Single-writer is the checkpoint contract, so resuming
        # continues the sequence.
        snapshot = max(
            (lin["snapshot_id"] for lin in done.values()), default=0
        )
        todo = [g for g in range(self.n_groups) if g not in done]
        occupied = self._staged_groups()
        # the planner thread holds exactly one occupied group's plan
        # ahead of the write on this thread (Mechanics)
        planner = ThreadPoolExecutor(max_workers=1)
        to_plan = iter([g for g in todo if g in occupied])

        def plan_next():
            g = next(to_plan, None)
            if g is None:
                return None
            return planner.submit(self._plan_group, spark, grouped, g)

        try:
            turn = time.monotonic()
            ahead = plan_next()
            for i, g in enumerate(todo):
                if g in occupied:
                    results, observed, metrics = ahead.result()
                    ahead = plan_next()
                    self._write_group(g, results)
                    counts, metrics = observed.get, metrics.as_dict()
                else:
                    # no staged docs: nothing to plan or write, and an
                    # empty group's observations would never be filled
                    counts = {"doc_count": 0, "span_count": 0}
                    metrics = ExtractMetrics().as_dict()
                snapshot += 1
                lineage = {
                    "run_id": run_id,
                    "n_groups": self.n_groups,
                    "snapshot_id": snapshot,
                    "group_id": g,
                    **counts,
                    "wall_ms": int((time.monotonic() - turn) * 1000),
                    "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    "metrics": metrics,
                }
                self._commit_group(g, lineage)
                turn = time.monotonic()
                if fail_after is not None and i + 1 >= fail_after:
                    raise SimulatedFailure(
                        f"injected failure after {i + 1} group commits"
                    )
        finally:
            # a plan built ahead of a failure is dropped, not waited for
            planner.shutdown(wait=False, cancel_futures=True)
        return self.committed_groups()

    def _plan_group(
        self, spark: SparkSession, grouped: DataFrame, g: int
    ) -> tuple[DataFrame, Observation, ExtractMetrics]:
        """Group ``g``'s lazy plan: its results with the doc/span counts
        observed, the counts and the inference metrics.  Driver-only (no
        Spark job), so it runs on the planner thread."""
        sub = grouped.filter(F.col("group_id") == g).drop("group_id")
        res = extract(spark, sub, salt_partitions=self.salt_partitions)
        counts = Observation()
        results = res.results.observe(
            counts,
            F.count("*").alias("doc_count"),
            F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("span_count"),
        )
        return results, counts, res.metrics

    # ---- reads (only committed groups are visible) ----
    def _read_committed(
        self, spark: SparkSession, as_of: int | None = None
    ) -> DataFrame:
        """Union of committed group results; ``as_of`` is Iceberg time
        travel — only groups committed at snapshot_id <= as_of are
        visible.  If a compaction manifest covers part of the requested
        horizon, the compacted rewrite is read INSTEAD of the per-group
        files it covers (Iceberg: a rewrite-data-files snapshot replaces
        the small files in every later read); groups committed after the
        compaction point are unioned on top."""
        committed = self.committed_groups()
        effective = (
            as_of
            if as_of is not None
            else max(
                (lin["snapshot_id"] for lin in committed.values()), default=0
            )
        )
        comp = self._best_compaction(effective)
        floor = comp["covers_up_to"] if comp else -1
        groups = sorted(
            g for g, lin in committed.items()
            if floor < lin["snapshot_id"] <= effective and lin["doc_count"]
        )
        paths = [os.path.join(self.output_dir, comp["path"])] if comp else []
        for g in groups:
            p = self._group_path(g)
            if not os.path.exists(p):
                raise ValueError(
                    f"snapshot {effective} needs group {g} whose files "
                    "were expired by a later compaction — history below "
                    "the expiry horizon is gone (expire_snapshots)"
                )
            paths.append(p)
        # read with the known schema: inferring it from the files runs
        # a Spark job per read
        if paths:
            return spark.read.schema(RESULTS_SCHEMA).parquet(*paths)
        if not any(lin["snapshot_id"] <= effective for lin in committed.values()):
            raise ValueError("no committed groups")
        # every visible group is empty: the results of no documents
        return spark.createDataFrame([], RESULTS_SCHEMA)

    # ---- compaction (rewrite-data-files) + snapshot expiry ----
    def _compaction_manifests(self) -> list[dict]:
        out = []
        for fname in sorted(os.listdir(self.manifest_dir)):
            if fname.startswith("compaction-") and fname.endswith(".json"):
                with open(os.path.join(self.manifest_dir, fname)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda c: c["covers_up_to"])

    def _best_compaction(self, effective: int) -> dict | None:
        """The newest compaction whose coverage fits inside the
        requested snapshot horizon (a compaction covering snapshots the
        reader must not see cannot be used for that read)."""
        fit = [
            c for c in self._compaction_manifests()
            if c["covers_up_to"] <= effective
        ]
        return fit[-1] if fit else None

    def compact(self, spark: SparkSession, target_files: int = 2) -> dict:
        """Rewrite every committed group's results into ``target_files``
        files — the Iceberg rewrite-data-files action.  At 10^12-doc
        scale the per-group commit layout accumulates one file set per
        group per run; readers pay the small-file tax (open cost, no
        row-group locality) forever unless the table is periodically
        compacted.  The rewrite is atomic: data lands first, the
        compaction manifest second (os.replace), so a reader either
        sees the old group files or the complete rewrite, never half.
        Time travel BELOW the compaction point keeps reading the
        original group files until `expire_snapshots` reclaims them."""
        committed = self.committed_groups()
        if not committed:
            raise ValueError("nothing committed to compact")
        covers = max(lin["snapshot_id"] for lin in committed.values())
        for c in self._compaction_manifests():
            if c["covers_up_to"] == covers:
                return c  # already compacted at this snapshot
        manifest = {
            "covers_up_to": covers,
            "target_files": target_files,
            "created_at": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
            "path": os.path.join("results_compact", f"snap={covers}"),
        }
        self._read_committed(spark).repartition(target_files).write.mode(
            "overwrite"
        ).parquet(os.path.join(self.output_dir, manifest["path"]))
        _write_json_atomic(
            os.path.join(self.manifest_dir, f"compaction-{covers}.json"), manifest
        )
        return manifest

    def expire_snapshots(self) -> list[int]:
        """Delete the original per-group files superseded by the newest
        compaction (Iceberg expire_snapshots): reclaims the small files
        and REMOVES time-travel capability below the compaction point —
        reads with as_of under the horizon raise.  Lineage manifests are
        kept (history metadata survives; only data files go)."""
        comps = self._compaction_manifests()
        if not comps:
            raise ValueError("no compaction to expire against")
        horizon = comps[-1]["covers_up_to"]
        expired = []
        for g, lin in self.committed_groups().items():
            p = self._group_path(g)
            if lin["snapshot_id"] <= horizon and os.path.exists(p):
                shutil.rmtree(p)
                expired.append(g)
        return sorted(expired)

    def read_spans(self, spark: SparkSession, as_of: int | None = None) -> DataFrame:
        return result_spans(self._read_committed(spark, as_of))

    def read_docs(self, spark: SparkSession, as_of: int | None = None) -> DataFrame:
        return result_docs(self._read_committed(spark, as_of))

    _LINEAGE_SCHEMA = (
        "run_id string, n_groups long, snapshot_id long, group_id int, "
        "doc_count long, span_count long, wall_ms long, committed_at string"
    )

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        keys = [f.split()[0] for f in self._LINEAGE_SCHEMA.split(", ")]
        rows = [[lin[k] for k in keys] for lin in self.committed_groups().values()]
        return spark.createDataFrame(rows, self._LINEAGE_SCHEMA)

    def remaining_docs(self, spark: SparkSession, documents: DataFrame) -> DataFrame:
        """Doc-level resume view: documents not yet in any committed
        group — the left-anti of input vs extracted output."""
        try:
            done = self.read_docs(spark).select("doc_id")
        except ValueError:
            return documents
        return documents.join(done, "doc_id", "left_anti")
