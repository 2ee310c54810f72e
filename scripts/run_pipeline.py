"""spark-submit entry point: construct + materialize the KG for a pages
table (north rule: deployment is pure ``spark-submit --py-files`` on
multi-executor clusters).

    spark-submit --py-files tab2neo_spark.zip scripts/run_pipeline.py \
        --pages /data/pages_parquet --store /data/graph --run-id crawl_2024_01

In local smoke mode (--synthetic N) the pages table is generated
deterministically instead of read. Re-invoking with the same run-id
resumes: completed stages are skipped via the checkpoint table.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages parquet path (url, warc_ts, html, text, lang)")
    ap.add_argument("--synthetic", type=int, default=0, help="generate N synthetic pages instead")
    ap.add_argument("--store", required=True, help="graph store root")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--unique-urls", action="store_true",
                    help="input guarantees one row per url (enables the zero-shuffle path)")
    args = ap.parse_args(argv)

    # on a cluster, SparkSession comes from spark-submit's conf; builder
    # flags here only fill gaps (local smoke runs)
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("tab2neo_spark_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from tab2neo_spark.datagen import synthetic_pages
    from tab2neo_spark.kg.construct import construct_kg
    from tab2neo_spark.kg.materialize import GraphStore, materialize_kg

    if args.synthetic:
        pages = synthetic_pages(spark, args.synthetic)
        unique = True
    elif args.pages:
        pages = spark.read.parquet(args.pages)
        unique = args.unique_urls
    else:
        ap.error("one of --pages / --synthetic is required")

    t0 = time.time()
    kg = construct_kg(spark, pages, unique_urls=unique)
    store = GraphStore(spark, args.store)
    results = materialize_kg(store, kg, run_id=args.run_id)
    kg.unpersist()

    summary = {
        "run_id": args.run_id,
        "wall_s": round(time.time() - t0, 2),
        "tables": {k: v["row_count"] for k, v in results.items()},
        "resumed_stages": [k for k, v in results.items() if v.get("ts", 0) < t0],
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
