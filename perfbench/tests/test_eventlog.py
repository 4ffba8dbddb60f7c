"""The event-log reader on a small recorded log.

``data/eventlog-small.jsonl`` is a ``local[4]`` log of two job groups,
cut down to the fields the reader uses: ``pass.0`` (a 4-partition
range, hash-repartitioned to 3, through an identity ``mapInPandas``)
and ``probe.scan`` (a 2-partition range to the noop sink).
"""
import json
import os

import pytest

from perfbench.eventlog import EventLog, load

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog-small.jsonl")


@pytest.fixture(scope="module")
def raw():
    with open(LOG) as f:
        return [json.loads(line) for line in f]


@pytest.fixture(scope="module")
def ev():
    return EventLog(load(LOG))


def test_groups(ev):
    assert ev.groups() == ["pass.0", "probe.scan"]


def test_pass_summary_matches_raw_events(ev, raw):
    s = ev.summary(lambda g: g == "pass.0", cores=4, wall_s=10.0)
    jobs = [e for e in raw if e["Event"] == "SparkListenerJobStart"
            and e["Properties"]["spark.jobGroup.id"] == "pass.0"]
    stage_ids = {sid for j in jobs for sid in j["Stage IDs"]}
    done = {e["Stage Info"]["Stage ID"] for e in raw
            if e["Event"] == "SparkListenerStageCompleted"}
    tasks = [e for e in raw if e["Event"] == "SparkListenerTaskEnd"
             and e["Stage ID"] in stage_ids]
    assert s["jobs"] == len(jobs)
    assert s["stages"] == len(stage_ids & done)
    assert s["tasks"] == len(tasks) == 4 + 3
    written = sum(t["Task Metrics"]["Shuffle Write Metrics"][
        "Shuffle Bytes Written"] for t in tasks)
    assert written > 0
    assert s["shuffle_write_mb"] == pytest.approx(written / 2**20)
    assert s["shuffle_read_mb"] == pytest.approx(written / 2**20)
    busy = sum(t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
               for t in tasks) / 1000
    assert s["idle_core_frac"] == pytest.approx(1 - busy / 40)
    assert 0 <= s["task_p50_s"] <= s["task_max_s"]
    # the mapInPandas node's Arrow-boundary metrics
    assert s["py.worker_run_s"] > 0
    assert s["py.mb_to_py"] > 0 and s["py.mb_from_py"] > 0


def test_scan_group_has_no_shuffle_or_python(ev):
    s = ev.summary(lambda g: g == "probe.scan", cores=4)
    assert s["tasks"] == 2 and s["jobs"] == 1
    assert s["shuffle_write_mb"] == 0 and s["py.worker_run_s"] == 0
    assert "idle_core_frac" not in s


def test_load_refuses_ambiguous_dir(tmp_path):
    for name in ("app-1", "app-2"):
        (tmp_path / name).write_text("")
    with pytest.raises(ValueError):
        load(str(tmp_path))
