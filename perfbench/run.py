"""HDI import benchmark: times ``uc_historic_data_importer_spark.run.main``.

Usage (from the repository root):

    python3 perfbench/run.py --workload many_small_files --seed 1 --seconds 25 --trace 0

Each run generates its workload's encrypted dumps from ``--seed``, starts
one Spark session (``local[nproc]``, ``--parallelism nproc``) and imports
back to back for ``--seconds`` seconds: a closed loop with one client,
as a batch operator runs the job. Every import gets fresh output
directories and its report, KV store and manifests are checked against
the generator's expected outcome.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` also runs one
traced pass that calls the public functions in pipeline order and prints
the per-layer metrics. The last stdout line is the result object; the
line before it holds the raw samples. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Workloads. Sizes are scaled so that one run, its Spark start-up and
# its checks fit in about a minute on 4 cores. Every import applies both
# time bounds.
WORKLOADS = {
    # per-file path: one DKS-resolved key, one decrypt task and one
    # manifest per file, little record work, passthrough bodies
    "many_small_files": dict(n_files=24, records_per_file=60, dks=True,
                             existing_share=0.0, encrypt=False),
    # record path on a few large files with sidecar keys, re-imported
    # with re-encrypted bodies against a KV store that holds half of its
    # put-eligible cells
    "reimport_encrypted": dict(n_files=8, records_per_file=2000, dks=False,
                               existing_share=0.5, encrypt=True),
}
# set-up import input: one file per collection, enough decrypt tasks to
# start a Python worker on every core
TINY = dict(n_files=4, records_per_file=10)


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self.stub = None
        self.attempted = 0
        self.failures: list[str] = []
        self.digest = None
        self.check_s = 0.0  # wall time spent checking outputs
        self._n = 0

    # -- session -------------------------------------------------------

    def start_session(self, event_log_dir: str | None = None):
        from uc_historic_data_importer_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                # zstandard is not installed; one plain file per session
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- one import through run.main -------------------------------------

    def out_dirs(self):
        """Fresh KV and manifest directories for one import."""
        self._n += 1
        base = os.path.join(self.work, f"out{self._n}")
        return os.path.join(base, "kv"), os.path.join(base, "manifests")

    def argv(self, ds, kv, man, tiny=False):
        from gen import (OUTPUT_KEK_ID, OUTPUT_KEY, OUTPUT_WRAPPED_KEY,
                         SKIP_EARLIER_THAN, SKIP_LATER_THAN)

        argv = ["--input-dir", ds.input_dir, "--kv-path", kv, "--manifest-dir", man,
                "--master", f"local[{self.nproc}]", "--parallelism", str(self.nproc),
                "--skip-earlier-than", SKIP_EARLIER_THAN, "--skip-later-than", SKIP_LATER_THAN]
        if tiny:
            return argv
        if self.wl["dks"]:
            argv += ["--dks-url", self.stub.url]
        if self.wl["existing_share"]:
            argv += ["--skip-existing", "--existing-kv", self.snapshot]
        if self.wl["encrypt"]:
            argv += ["--encrypt-output", "--data-key", OUTPUT_KEY,
                     "--key-encryption-key-id", OUTPUT_KEK_ID,
                     "--encrypted-data-key", OUTPUT_WRAPPED_KEY]
        return argv

    def run_main(self, argv) -> dict:
        from uc_historic_data_importer_spark import run

        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = run.main(argv)
        if code != 0:
            raise RuntimeError(f"run.main exited with {code}")
        return json.loads(out.getvalue().strip().splitlines()[-1])

    def checked_import(self, ds, tiny=False):
        """One timed run.main call plus its output check.

        Returns (wall_s, cpu_s, kv_bytes) or None when it failed."""
        from check import check_import
        from gen import OUTPUT_KEY
        from measure import tree_cpu_s

        kv, man = self.out_dirs()
        argv = self.argv(ds, kv, man, tiny)
        self.attempted += 1
        if self.stub is not None:
            self.stub.reset_seen()
        try:
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            report = self.run_main(argv)
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
            t0 = time.perf_counter()
            skip_existing = not tiny and bool(self.wl["existing_share"])
            res = check_import(ds, report["per_file"], kv, man, skip_existing,
                               OUTPUT_KEY if self.wl["encrypt"] and not tiny else None,
                               totals=report)
            if not tiny:
                self.check_digest(res.digest)
            self.check_s += time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — counted, reported, never retried
            self.failures.append(f"{type(e).__name__}: {e}")
            return None
        finally:
            shutil.rmtree(os.path.dirname(kv), ignore_errors=True)
        return wall, cpu, res.kv_bytes

    def check_digest(self, digest):
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            raise AssertionError("KV (table, key_hex, version) multiset differs "
                                 "from the first import of this run")

    # -- phases ----------------------------------------------------------

    def setup(self, tiny) -> float:
        """Session start plus one cold import of the tiny input."""
        t0 = time.perf_counter()
        self.start_session(self.event_log_dir)
        if self.checked_import(tiny, tiny=True) is None:
            raise RuntimeError("set-up import failed: " + self.failures[-1])
        return time.perf_counter() - t0

    def build_snapshot(self, ds):
        """Import the snapshot input once; the timed imports only read it."""
        from check import check_import

        kv, man = self.snapshot, os.path.join(self.work, "snapshot-manifests")
        snap = ds.snapshot
        report = self.run_main(["--input-dir", snap.input_dir, "--kv-path", kv,
                                "--manifest-dir", man, "--master", f"local[{self.nproc}]",
                                "--parallelism", str(self.nproc)])
        check_import(snap, report["per_file"], kv, man, False, None, totals=report)

    def timed_loop(self, ds, seconds):
        samples = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(samples) < 2:
            s = self.checked_import(ds)
            if s is not None:
                samples.append(s)
            if len(self.failures) > 3:  # a broken build: stop early
                break
        return samples

    def run(self):
        from gen import generate

        args, wl = self.args, self.wl
        tiny = generate(os.path.join(self.work, "tiny"), args.seed, **TINY)
        ds = generate(os.path.join(self.work, "data"), args.seed,
                      n_files=wl["n_files"], records_per_file=wl["records_per_file"],
                      sidecar_key=not wl["dks"], existing_share=wl["existing_share"])
        self.snapshot = os.path.join(self.work, "snapshot-kv")
        self.event_log_dir = None
        if args.trace:
            self.event_log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_log_dir)
        if wl["dks"]:
            from dks import DksStub

            self.stub = DksStub(ds.data_keys).start()

        setup_s = self.setup(tiny)
        if wl["existing_share"]:
            self.build_snapshot(ds)
        # one untimed import of the workload's input first: the set-up
        # import leaves the JIT cold for it
        t0 = time.perf_counter()
        self.checked_import(ds)
        warmup_s = time.perf_counter() - t0
        samples = self.timed_loop(ds, args.seconds)
        if not samples:
            raise RuntimeError("no import passed its check: " + "; ".join(self.failures))
        detail = {
            "workload": args.workload, "seed": args.seed, "nproc": self.nproc,
            "files": len(ds.files), "records": ds.records, "input_bytes": ds.data_bytes,
            "setup_s": round(setup_s, 4), "warmup_s": round(warmup_s, 4),
            "import_s": [round(s[0], 4) for s in samples],
            "cpu_s": [round(s[1], 3) for s in samples],
        }
        import_s = statistics.median(s[0] for s in samples)
        if args.trace:
            from traced import traced_pass

            metrics = traced_pass(self, ds, import_s)
        else:
            ok = self.attempted - len(self.failures)
            metrics = {
                "import_s": (import_s, "s"),
                "records_per_s": (ds.records / import_s, "records/s"),
                "cpu_s": (statistics.median(s[1] for s in samples), "CPU-s"),
                "kv_bytes_per_record": (statistics.median(s[2] for s in samples) / ds.records,
                                        "B/record"),
                "setup_s": (setup_s, "s"),
                "passed_import_ratio": (ok / self.attempted, "ratio"),
            }
        detail["check_s"] = round(self.check_s, 3)
        detail["failures"] = self.failures
        print(json.dumps(detail))
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def _stop_gateway():
    """Shut the py4j gateway and wait for the JVM it launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — escalate below
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap_children(timeout_s: float = 30.0):
    """Wait for every process this run started to end; kill stragglers."""
    from measure import process_tree

    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in process_tree() if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout_s
        time.sleep(0.2)
        for p in left:  # reap direct children
            with contextlib.suppress(ChildProcessError, OSError):
                os.waitpid(p, os.WNOHANG)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the program under test comes from the checkout; fail before any
    # work when it is not there
    sys.path.insert(0, ROOT)
    import uc_historic_data_importer_spark  # noqa: F401

    work_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file Spark, the JVM and the Python workers write inside
    # the checkout; workers import the package from it
    tmp = os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # both JVMs spark-submit starts: the launcher and Spark's own
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        x for x in (os.environ.get("SPARK_SUBMIT_OPTS"), jvm_opts) if x)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])

    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        with contextlib.suppress(Exception):
            bench.stop_session()
        if bench.stub is not None:
            bench.stub.stop()
        _stop_gateway()
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
