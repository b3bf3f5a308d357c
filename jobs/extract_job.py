"""Production extraction job — the spark-submit entry point.

Usage (cluster):
    zip -r sax_wasm_spark.zip sax_wasm_spark
    spark-submit --py-files sax_wasm_spark.zip jobs/extract_job.py \\
        --input  <pages table path / iceberg table>  \\
        --output <output root>                       \\
        --num-shards 4096

Usage (sandbox, synthesizes input):
    python jobs/extract_job.py --synth 10000 --output /tmp/extract_out

Resumable: re-running the same command after a failure processes only
the shards without an ok lineage row (plans/lineage.py). Each pass
writes a new extracted/pass=<pass_id>/ directory and commits it with
its lineage rows, so a retry never overwrites a file and a pass that
dies before its commit is never read.

Cluster sizing guidance (10^12 docs): the extractor and the write run
in the scan stage, so the Python tasks and the output files follow the
input splits (spark.sql.files.maxPartitionBytes sizes them by bytes),
not --num-shards. --num-shards sets the retry units only; pick
num-shards ≈ 4-16x the executor count. Executor memory only needs one
Arrow batch + one document's parser state per core
(spark.sql.execution.arrow.maxRecordsPerBatch bounds the batch).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet path (url, warc_ts, html, text, lang)")
    ap.add_argument("--output", required=True, help="output root (extracted/ + lineage/)")
    ap.add_argument("--num-shards", type=int, default=256)
    ap.add_argument("--synth", type=int, default=0, help="synthesize N pages instead of --input")
    ap.add_argument("--run-id", default=f"run-{int(time.time())}")
    ap.add_argument(
        "--table-format",
        choices=["parquet", "iceberg"],
        default="parquet",
        help="iceberg needs the iceberg-spark runtime jars + a catalog; "
        "--output is then a table identifier (see plans/lineage.py runbook)",
    )
    ap.add_argument(
        "--lineage-path",
        default=None,
        help="lineage parquet location for --table-format iceberg, where "
        "--output is not a path (required there); parquet output always "
        "commits to <output>/lineage, and any other path is refused",
    )
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from sax_wasm_spark.plans.lineage import run_extraction
    from sax_wasm_spark.session import get_spark
    from sax_wasm_spark.sources.pages import synthesize_pages

    spark = get_spark(app_name="sax-extract-job", cores=args.cores)
    try:
        if args.synth:
            pages = synthesize_pages(spark, args.synth)
        elif args.input:
            pages = spark.read.parquet(args.input)
        else:
            ap.error("either --input or --synth is required")
        stats = run_extraction(
            spark,
            pages,
            args.output,
            num_shards=args.num_shards,
            run_id=args.run_id,
            table_format=args.table_format,
            lineage_path=args.lineage_path,
        )
        print(json.dumps({"run_id": args.run_id, **stats}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
