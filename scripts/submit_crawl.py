"""spark-submit entry point for the crawl (north_rule: "run via
spark-submit --py-files on multi-executor clusters").

Usage:
    python scripts/make_pyfiles_zip.py           # build dist/bisque_spark.zip
    spark-submit --master local[8] \\
        --py-files dist/bisque_spark.zip \\
        scripts/submit_crawl.py --workdir /tmp/crawl --epochs 3 \\
        --hosts 100 --seeds 150 [--resume]

On a real cluster, swap --master for the cluster manager; nothing else
changes (executors import the package from the shipped zip).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--epochs", type=int, default=3)
    ap.add_argument("--hosts", type=int, default=100)
    ap.add_argument("--seeds", type=int, default=150)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--trap-guard",
        action="store_true",
        help="enable spider-trap URL filters (operators/trapguard "
        "defaults); a resumed crawl must keep the same setting",
    )
    args = ap.parse_args()

    # Built here rather than by session.get_spark, so Python workers run
    # the stock pyspark.daemon: on a cluster the --py-files zip joins the
    # worker's path per task, after the daemon starts, so
    # bisque_spark.worker_daemon is not importable at daemon start.
    spark = (
        SparkSession.builder.appName("bisque_spark_crawl")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    from bisque_spark.operators.trapguard import TrapGuard
    from bisque_spark.plans.crawl import run_crawl
    from bisque_spark.synth import World, seed_urls

    world = World(n_hosts=args.hosts, n_seeds=args.seeds)
    res = run_crawl(
        spark,
        world,
        seed_urls(world),
        workdir=args.workdir,
        max_epochs=args.epochs,
        resume=args.resume,
        trap_guard=TrapGuard() if args.trap_guard else None,
    )
    print("CRAWL_RESULT " + json.dumps({"epochs": res["epochs"]}))
    spark.stop()


if __name__ == "__main__":
    main()
