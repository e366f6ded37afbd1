"""Self-tests of the benchmark's own parts.

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
# the Spark Python workers import the package from the checkout
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])

from check import OutputMismatch, check_import  # noqa: E402
from dks import DELAY_S, DksStub  # noqa: E402
from gen import OUTPUT_KEY, SKIP_EARLIER_THAN, SKIP_LATER_THAN, generate  # noqa: E402
from measure import GroupStats, Tracer, parse_event_log, read_event_logs, tree_cpu_s  # noqa: E402


def _tree_bytes(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    a = generate(str(tmp_path / "a"), 5, n_files=3, records_per_file=200, existing_share=0.5)
    b = generate(str(tmp_path / "b"), 5, n_files=3, records_per_file=200, existing_share=0.5)
    c = generate(str(tmp_path / "c"), 6, n_files=3, records_per_file=200, existing_share=0.5)
    assert _tree_bytes(tmp_path / "a") == _tree_bytes(tmp_path / "b")
    assert a.files == b.files and a.plain_bodies == b.plain_bodies
    assert _tree_bytes(tmp_path / "a") != _tree_bytes(tmp_path / "c")
    stems = ["database-1.collection-1.0001", "database-1.collection-two.0001",
             "database-2.collection-thirtyone.0001"]
    assert sorted(_tree_bytes(a.input_dir)) == sorted(
        s + sfx for s in stems for sfx in (".json.gz.enc", ".json.encryption.json"))


def test_snapshot_choice_leaves_the_input_unchanged(tmp_path):
    plain = generate(str(tmp_path / "a"), 9, n_files=2, records_per_file=300)
    snap = generate(str(tmp_path / "b"), 9, n_files=2, records_per_file=300,
                    existing_share=0.5)
    assert _tree_bytes(plain.input_dir) == _tree_bytes(snap.input_dir)
    assert sum(f.existing for f in snap.files) > 0
    assert all(f.existing + f.puts == g.puts for f, g in zip(snap.files, plain.files))


def test_dks_stub_counts_calls_and_rejects_unknown_keys():
    from uc_historic_data_importer_spark.sources.key_service import (
        DataKeyDecryptionException,
        HttpKeyService,
    )

    with DksStub({"ZW5j": "cGxhaW4="}) as stub:
        assert HttpKeyService(stub.url).decrypt_key("kek-1", "ZW5j") == "cGxhaW4="
        assert HttpKeyService(stub.url).decrypt_key("kek-1", "ZW5j") == "cGxhaW4="
        with pytest.raises(DataKeyDecryptionException):
            HttpKeyService(stub.url).decrypt_key("kek-1", "bm9wZQ==")
        calls, retries, wait_s = stub.counters()
    assert (calls, retries) == (3, 1) and wait_s >= 3 * DELAY_S


def test_tree_cpu_counts_children_that_exited():
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(range(30_000_000))"], check=True)
    assert tree_cpu_s() - before > 0.2


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_event_log_parser_attributes_jobs_by_group():
    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
               "Properties": {"spark.jobGroup.id": "g:listing"}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {}}),
        # job 1 reuses stage 1 (skipped) and runs stage 2
        _event("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [1, 2],
               "Properties": {"spark.jobGroup.id": "g:kv"}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {}}),
        _event("SparkListenerJobStart", **{"Job ID": 2, "Stage IDs": [3]}),
    ]
    got = parse_event_log(lines)
    assert got["g:listing"] == GroupStats(jobs=1, tasks=2, shuffle_bytes=100)
    assert got["g:kv"] == GroupStats(jobs=1, tasks=1)
    assert got[""].jobs == 1


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from uc_historic_data_importer_spark.session import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark(
        app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{log_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.ui.showConsoleProgress": "false"})
    yield spark, str(log_dir)
    spark.stop()


def _import(ds, out, extra=()):
    from uc_historic_data_importer_spark import run

    kv, man = str(out / "kv"), str(out / "man")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert run.main(["--input-dir", ds.input_dir, "--kv-path", kv, "--manifest-dir", man,
                         "--master", "local[2]", "--parallelism", "2",
                         "--skip-earlier-than", SKIP_EARLIER_THAN,
                         "--skip-later-than", SKIP_LATER_THAN, *extra]) == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1]), kv, man


def test_expected_outcome_matches_a_tiny_import(traced_spark, tmp_path):
    ds = generate(str(tmp_path / "g"), 3, n_files=3, records_per_file=120,
                  existing_share=0.5)
    # the snapshot is what an earlier import of the chosen records wrote
    snap_report, snap_kv, snap_man = _import(ds.snapshot, tmp_path / "snap")
    check_import(ds.snapshot, snap_report["per_file"], snap_kv, snap_man, False, None,
                 totals=snap_report)
    key = OUTPUT_KEY
    report, kv, man = _import(ds, tmp_path / "out", [
        "--skip-existing", "--existing-kv", snap_kv,
        "--encrypt-output", "--data-key", key])
    assert sum(f.existing for f in ds.files) > 0 and ds.plain_bodies
    check_import(ds, report["per_file"], kv, man, True, key, totals=report)
    # the check is not vacuous: a wrong expectation or wrong key fails it
    ds.files[0].puts += 1
    with pytest.raises(OutputMismatch):
        check_import(ds, report["per_file"], kv, man, True, key, totals=report)
    ds.files[0].puts -= 1
    with pytest.raises(OutputMismatch):
        check_import(ds, report["per_file"], kv, man, True,
                     "AAAAAAAAAAAAAAAAAAAAAA==", totals=report)


def test_event_log_attributes_spark_jobs_to_span_tags(traced_spark):
    spark, log_dir = traced_spark
    tr = Tracer(run_id="t", sc=spark.sparkContext)
    with tr.span("outer"):
        with tr.span("one_job"):
            spark.range(1000).count()
        spark.range(10).collect()
    spark.range(5).collect()  # after the spans: no group
    spark.stop()
    groups = read_event_logs(log_dir)
    one, outer = groups[tr.get("one_job").job_group], groups[tr.get("outer").job_group]
    assert one.jobs >= 1 and one.tasks >= 1  # count() may plan two jobs
    assert outer.jobs == 1
    assert groups[""].jobs >= 1
    assert tr.coverage("outer") < 1.0
