"""Tiny-size smoke runs of every workload through the command line,
and the known curation defect on repeated image ids."""

import json
import os
import subprocess
import sys

import pytest

import run
import workloads

RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")


def _run(*args):
    out = subprocess.run(
        [sys.executable, RUN, "--seed", "7", "--seconds", "1", "--scale", "tiny", *args],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_untraced_run_reports_every_end_to_end_metric(workload):
    res = _run("--workload", workload, "--trace", "0")
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {name for name, _ in run.metric_spec("end_to_end")}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_reports_every_per_layer_metric():
    res = _run("--workload", "crawl-wide", "--trace", "1")
    assert res["correct"]
    assert set(res["metrics"]) == {name for name, _ in run.metric_spec("per_layer")}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["crawl.attributed_frac"] >= 0.9
    assert m["extract.python_run_s"] > 0 and m["encoding.decode_us_per_doc"] > 0


def test_unknown_workload_exits_without_result():
    out = subprocess.run(
        [sys.executable, RUN, "--workload", "nope", "--seed", "1", "--seconds", "1"],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""


@pytest.mark.xfail(strict=True, reason="run_image_curation's meta_ok ⋈ quality_ok "
                   "join multiplies rows when image_id repeats; the benchmark keeps "
                   "ids unique and records the defect here for a separate fix")
def test_curation_funnel_with_repeated_ids(tmp_path):
    import pyspark.sql.functions as F

    from bisque_spark.operators.extract import materialize_images_batches
    from bisque_spark.plans.curate_images import run_image_curation
    from bisque_spark.session import get_spark

    spark = get_spark(master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    ids = spark.range(30).select(
        F.concat(F.lit("img-r-"), (F.col("id") % 10).cast("string")).alias("image_id"),
        F.lit("a repeated caption").alias("caption"),
    )
    images = ids.mapInPandas(materialize_images_batches, schema=workloads.IMG_SCHEMA)
    counts = run_image_curation(spark, images, str(tmp_path / "cat"))
    assert counts["after_quality"] <= counts["input"]
