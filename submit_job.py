#!/usr/bin/env python
"""spark-submit entrypoint for the extraction pipeline (north_star:
``spark-submit --py-files pero_ocr_api_spark.zip submit_job.py ...``).

Local sandbox:
    python submit_job.py --sf-dir /root/testdata/sf0.01 --output /tmp/out

Cluster:
    zip -r pero_ocr_api_spark.zip pero_ocr_api_spark
    spark-submit --py-files pero_ocr_api_spark.zip submit_job.py \
        --input <interleaved-table-path> --output <dir> --groups 256

Resumable: re-running with the same --output skips committed groups.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path of interleaved documents")
    ap.add_argument("--sf-dir", help="testdata dir to synthesize input from")
    ap.add_argument("--output", required=True)
    ap.add_argument("--groups", type=int, default=8)
    ap.add_argument(
        "--salt-partitions", type=int, default=None,
        help="hash the media spans on media_ref into at most this many "
             "inference tasks (capped at the default parallelism); "
             "unset, inference runs on the input's partitions",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pero-ocr-extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.input:
        docs = spark.read.parquet(args.input)
    elif args.sf_dir:
        from pero_ocr_api_spark.synth import interleaved_documents
        docs = interleaved_documents(spark, args.sf_dir)
    else:
        ap.error("one of --input / --sf-dir required")
        return

    from pero_ocr_api_spark.plans.checkpoint import CheckpointedExtractor

    ck = CheckpointedExtractor(
        args.output, n_groups=args.groups, salt_partitions=args.salt_partitions
    )
    manifest = ck.run(spark, docs)
    summary = {
        "groups": len(manifest),
        "docs": sum(m["doc_count"] for m in manifest.values()),
        "spans": sum(m["span_count"] for m in manifest.values()),
        "metrics": {
            k: sum(m["metrics"][k] for m in manifest.values())
            for k in ("pages_decoded", "lines_emitted", "decode_failures")
        },
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
