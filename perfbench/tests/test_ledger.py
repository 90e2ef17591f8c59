"""The event-log fold, checked on a recorded fragment: the seed write
and the first epoch (state and observational junction writes) of a
three-epoch crawl of a 40-host world on local[4]."""

import os

import pytest

import ledger

FRAGMENT = os.path.join(os.path.dirname(__file__), "eventlog_fragment.jsonl")


@pytest.fixture(scope="module")
def log():
    return ledger.Log(ledger.load_events(FRAGMENT))


@pytest.fixture(scope="module")
def fold(log):
    t0 = min(j["start"] for j in log.jobs.values())
    t1 = max(j["end"] for j in log.jobs.values())
    return ledger.fold_call(log, t0, t1)


def test_union_merges_overlaps():
    assert ledger.union_s([]) == 0
    assert ledger.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert ledger.union_s([(5, 6), (0, 10)]) == 10


def test_stage_group_prefers_python_scopes():
    assert ledger.stage_group({"WriteFiles", "MapInPandas"}) == "MapInPandas"
    assert ledger.stage_group({"Window", "Exchange"}) == "Window"
    assert ledger.stage_group({"Exchange"}) == "other"


def test_node_kinds():
    assert ledger.node_kind(
        "MapInPandas", "MapInPandas fetch_extract(url#1)#2, [url#3], false"
    ) == "extract"
    assert ledger.node_kind(
        "ArrowEvalPython", "ArrowEvalPython [_canonicalize_series(url#20)#22]"
    ) == "urlnorm"
    assert ledger.node_kind("Window", "Window [row_number()]") is None


def test_jobs_in_submission_order_with_write_labels(fold):
    assert fold["n_jobs"] == 6
    assert [j["order"] for j in fold["jobs"]] == list(range(6))
    labels = [j["label"] for j in fold["jobs"]]
    assert "write:crawl/frontier_seed" in labels
    assert "write:epoch=00000/junction" in labels
    assert "write:epoch=00000/junction_tmp" in labels


def test_wall_is_attributed(fold):
    # stage time plus the driver gap covers the interval
    assert fold["driver_gap_s"] > 0
    assert 0.9 <= fold["attributed_frac"] <= 1.0
    assert fold["stage_union_s"] <= fold["job_union_s"] <= fold["wall_s"]
    for g in ("MapInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas",
              "ArrowEvalPython", "WriteFiles"):
        assert fold["groups"][g]["wall_s"] > 0


def test_python_metrics_per_udf(log, fold):
    ext = ledger.python_metrics(log, fold["_stages"], "extract")
    assert ext["run_s"] > 0
    assert ext["sent_bytes"] > 0 and ext["returned_bytes"] > ext["sent_bytes"]
    assert ledger.python_metrics(log, fold["_stages"], "urlnorm")["run_s"] > 0
    assert ledger.kind_stage_s(log, fold["_stages"], "seen_cogroup") > 0


def test_write_metrics(log, fold):
    w = ledger.write_metrics(log, fold["_stages"], "/data/run/crawl")
    assert w["files"] > 0 and w["bytes"] > 0 and w["rows"] > 0
    assert w["task_commit_s"] > 0
    assert ledger.write_metrics(log, fold["_stages"], "/elsewhere")["files"] == 0


def test_engine_metrics(log, fold):
    m = ledger.engine_metrics(log, fold["_stages"])
    assert m["spark.executor_run_s"] > m["spark.executor_cpu_s"] > 0
    assert m["spark.shuffle_write_bytes"] > 0
