"""spark-submit entry point for the checkpointed extraction job.

Cluster usage (north_rule submission contract):

    python jobs/package.py                      # builds dist/medical_ocr_service_spark.zip
    spark-submit \
        --master <cluster> \
        --py-files dist/medical_ocr_service_spark.zip \
        jobs/run_extraction.py \
        --docs s3://bucket/docs_interleaved/ \
        --media s3://bucket/media/ \
        --output /mnt/shared/previsacion_out/ \
        [--salted | --quarantine [--max-intentos N]] [--shuffle-partitions N]

Local smoke:

    spark-submit --master 'local[8]' \
        --py-files dist/medical_ocr_service_spark.zip \
        jobs/run_extraction.py --docs ... --media ... --output /tmp/out

The job is resumable: rerunning with the same --output processes only
documents absent from the output snapshot (anti-join resume). Every run is
one atomic snapshot commit (sources/snapshot_table.py) and writes a lineage
record (docs processed, spans emitted, parse failures).

--output must be a local or shared POSIX path (local disk, NFS): the
snapshot table commits through POSIX renames, so a URI root (s3://,
hdfs://, file://) is refused before any Spark job runs. --docs and --media
may be any URI Spark reads.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="parquet dir/file of interleaved docs")
    ap.add_argument("--media", required=True, help="parquet dir/file of media layouts")
    ap.add_argument(
        "--output",
        required=True,
        help="output root (results + _quarantine + _lineage): a local or "
        "shared POSIX path, not a URI",
    )
    ap.add_argument("--salted", action="store_true", help="two-phase salted reassembly")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument(
        "--quarantine",
        action="store_true",
        help="per-row failure isolation (Q3): unparsable docs land in the "
        "_quarantine table instead of failing the job; resumed runs retry "
        "them up to --max-intentos",
    )
    ap.add_argument("--max-intentos", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("medical-ocr-extraction")
    if args.shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions)
        )
    spark = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4000")
        .getOrCreate()
    )

    from medical_ocr_service_spark.plans.checkpoint import CheckpointedExtraction

    ck = CheckpointedExtraction(args.output)
    docs = spark.read.parquet(args.docs)
    media = spark.read.parquet(args.media)
    metrics = ck.run(
        docs,
        media,
        salted=args.salted,
        quarantine=args.quarantine,
        max_intentos=args.max_intentos,
    )
    print(json.dumps(metrics, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
