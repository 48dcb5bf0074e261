"""The event-log reader on a recorded log: one crawl repetition
(run_extract_job) with the lineage call labelled as the benchmark labels it."""

import os
import shutil

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures",
                   "crawl_rep.eventlog")


@pytest.fixture(scope="module")
def log():
    return eventlog.EventLog.from_file(LOG)


def test_call_sites_attribute_jobs(log):
    jobs = log.finished_jobs()
    cats = [j["category"] for j in jobs]
    # schema read, staging write, the two recounts (two adaptive jobs each),
    # then every job started inside lineage.write_metrics
    assert cats == ["read", "write", "read", "count", "count", "count",
                    "count", "lineage", "lineage", "lineage"]
    assert {j["call_site"] for j in jobs if j["category"] == "count"} == {
        "Dataset.count"}
    assert all(j["end_ms"] >= j["start_ms"] for j in jobs)


def test_call_site_parsing():
    details = ("org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)\n"
               "java.base/jdk.internal.reflect.NativeMethodAccessorImpl.invoke0")
    assert eventlog.call_site(details) == "Dataset.count"
    assert eventlog.category(None, "DataFrameWriter.parquet") == "write"
    assert eventlog.category("lineage", "DataFrameWriter.parquet") == "lineage"


def test_stage_metrics(log):
    jobs = log.finished_jobs()
    m = log.stage_metrics(jobs)
    write = log.stage_metrics([j for j in jobs if j["category"] == "write"])
    assert m["stages"] >= 4
    assert 0 < write["task_s"] <= m["task_s"]
    assert m["task_skew"] >= 1.0
    # the staging write reads every page once; lineage reads every row
    assert write["records_read"] == 1155
    lineage = log.stage_metrics([j for j in jobs if j["category"] == "lineage"])
    assert lineage["records_read"] == write["records_read"]


def test_time_window_selects_jobs(log):
    jobs = log.finished_jobs()
    mid = jobs[len(jobs) // 2]["start_ms"] / 1000.0
    assert log.finished_jobs(end_s=mid) == jobs[:len(jobs) // 2]
    assert log.finished_jobs(start_s=mid) == jobs[len(jobs) // 2:]


def test_torn_last_line_of_a_live_log(tmp_path):
    torn = tmp_path / "app.inprogress"
    shutil.copy(LOG, torn)
    with open(torn, "a") as f:
        f.write('{"Event":"SparkListenerTaskEnd","Stage ID"')
    assert (eventlog.EventLog.from_file(str(torn)).finished_jobs()
            == eventlog.EventLog.from_file(LOG).finished_jobs())
