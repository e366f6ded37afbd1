"""Traced pass: one import through the public functions, layer by layer.

The calls mirror what ``run.main`` does for an encrypted import, in the
same order: listing, sidecars, keys, ``process_lines(persist=True)``,
the two sinks, the counts collect and ``unpersist()``. Each call runs in
a span with its own Spark job group. The record layers are lazy, so a
second set of spans forces growing prefixes of the record path with a
``noop`` write (lines, +transforms, +envelope, +filters); a layer's self
time is the difference between consecutive legs.
"""

from __future__ import annotations

import os
import statistics
import uuid
from datetime import datetime, timezone

from pyspark.sql import Observation
from pyspark.sql import functions as F

from uc_historic_data_importer_spark import sinks
from uc_historic_data_importer_spark.operators import filters as Filt
from uc_historic_data_importer_spark.operators.envelope import (
    RunContext,
    encrypt_body,
    passthrough_body,
    with_envelope,
)
from uc_historic_data_importer_spark.operators.keying import flatten_normalized
from uc_historic_data_importer_spark.operators.naming import with_table_names
from uc_historic_data_importer_spark.operators.transforms import normalize_records
from uc_historic_data_importer_spark.plans.pipeline import PipelineConfig, process_lines
from uc_historic_data_importer_spark.sources import listing as L
from uc_historic_data_importer_spark.sources import metadata as M
from uc_historic_data_importer_spark.sources.crypto_source import read_encrypted_jsonl
from uc_historic_data_importer_spark.sources.key_service import HttpKeyService

from check import check_import, parquet_files
from gen import (OUTPUT_KEK_ID, OUTPUT_KEY, OUTPUT_WRAPPED_KEY, SKIP_EARLIER_THAN,
                 SKIP_LATER_THAN)
from measure import GroupStats, Tracer, read_event_logs

MAX_OBJECT_SIZE = 2_200_000_000  # run.main's --max-object-size default
# the child spans of the traced import, of the legs and of each round of
# legs must account for their parent span's wall time within this share
TRACE_TOLERANCE = 0.05
# Each prefix is written once per round. A layer's time is the median,
# over rounds, of its leg minus the previous leg of the same round: the
# two writes run back to back, so a drift in machine speed mostly cancels.
LEG_ROUNDS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _config(bench) -> PipelineConfig:
    wl = bench.wl
    now = datetime.now(timezone.utc)
    return PipelineConfig(
        run_mode="import_and_manifest",
        skip_earlier_than=SKIP_EARLIER_THAN,
        skip_later_than=SKIP_LATER_THAN,
        skip_existing=bool(wl["existing_share"]),
        encrypt=wl["encrypt"],
        data_key_b64=OUTPUT_KEY if wl["encrypt"] else None,
        key_encryption_key_id=OUTPUT_KEK_ID if wl["encrypt"] else "",
        encrypted_encryption_key=OUTPUT_WRAPPED_KEY if wl["encrypt"] else "",
        run_context=RunContext(
            unit_of_work_id=str(uuid.uuid4()),
            timestamp=now.strftime("%Y-%m-%dT%H:%M:%S.") + f"{now.microsecond // 1000:03d}",
            trace_id=str(uuid.uuid4()),
        ),
    )


def _import(bench, ds, tr: Tracer, kv: str, man: str):
    """The run.main import path, one span per public call."""
    spark, stub = bench.spark, bench.stub
    cfg = _config(bench)
    with tr.span("import"):
        with tr.span("listing"):
            objects = L.list_local_objects(spark, ds.input_dir)
            pairs = L.drop_zero_byte_pairs(L.pair_files(objects))
            pairs = L.filter_oversized(pairs, MAX_OBJECT_SIZE)
            n_files = pairs.count()
        with tr.span("metadata.parse"):
            pairs = M.parse_metadata(pairs)
        dks = (0, 0, 0.0)
        with tr.span("metadata.resolve_keys"):
            if stub is not None:
                stub.reset_seen()
                before = stub.counters()
                keys = M.resolve_data_keys(pairs, HttpKeyService(stub.url))
                dks = tuple(b - a for a, b in zip(before, stub.counters()))
            else:
                plain = {r["encrypted_encryption_key"]: r["plaintext_datakey"]
                         for r in pairs.select("encrypted_encryption_key",
                                               "plaintext_datakey").collect()}
                keys = M.resolve_data_keys(pairs, M.DummyKeyService(plain))
        with tr.span("crypto_source"):
            lines = read_encrypted_jsonl(pairs, keys, n_files=n_files)
        with tr.span("pipeline.process_lines"):
            existing = spark.read.parquet(bench.snapshot) if cfg.skip_existing else None
            result = process_lines(lines, cfg, existing=existing, persist=True)
        try:
            with tr.span("sinks.kv"):
                sinks.kv_sink(result.putable, kv)
            with tr.span("sinks.manifest"):
                sinks.manifest_sink(result.manifest, man)
            with tr.span("pipeline.counts"):
                counts = [r.asDict() for r in result.counts.collect()]
        finally:
            with tr.span("pipeline.unpersist"):
                result.unpersist()
    return cfg, lines, existing, counts, dks


def _leg_frames(cfg, lines, existing):
    """The record-path prefixes in pipeline order, each with the counts
    observed while it is written: [(span name, frame, observation)]."""
    obs = {k: Observation(k) for k in ("lines", "norm", "filters")}
    out = [("leg.lines", lines.observe(obs["lines"], F.count(F.lit(1)).alias("n")),
            obs["lines"])]
    norm = with_table_names(flatten_normalized(normalize_records(lines)))
    out.append(("leg.transforms",
                norm.observe(obs["norm"], F.count(F.lit(1)).alias("n"),
                             F.count_if(F.col("valid")).alias("valid")),
                obs["norm"]))
    valid = Filt.valid_records(norm)
    if cfg.encrypt:
        valid = encrypt_body(valid, data_key_b64=cfg.data_key_b64)
    else:
        valid = passthrough_body(valid)
    valid = with_envelope(valid, cfg.run_context,
                          key_encryption_key_id=cfg.key_encryption_key_id,
                          encrypted_encryption_key=cfg.encrypted_encryption_key,
                          encrypted=cfg.encrypt)
    out.append(("leg.envelope", valid, None))
    valid = Filt.with_filter_status(valid, cfg.skip_earlier_than, cfg.skip_later_than)
    if existing is not None:
        valid = Filt.mark_existing(valid, existing)
    out.append(("leg.filters",
                valid.observe(obs["filters"], F.count(F.lit(1)).alias("n"),
                              F.count_if(F.col("filter_status") == Filt.FILTER_NOT)
                              .alias("put")),
                obs["filters"]))
    return out


def _legs(tr: Tracer, cfg, lines, existing) -> dict:
    """Write each prefix once per round, alternating the order between
    rounds so warm-up does not favour one leg; return the counts the
    first round observed. Frames are planned before the legs span, so
    it holds only the writes."""
    rounds = [_leg_frames(cfg, lines, existing) for _ in range(LEG_ROUNDS)]
    with tr.span("legs"):
        for r, frames in enumerate(rounds):
            with tr.span(f"legs.round{r}"):
                for name, df, _ in frames if r % 2 == 0 else frames[::-1]:
                    with tr.span(name):
                        _noop(df)
    return {name: obs.get for name, _, obs in rounds[0] if obs is not None}


def traced_pass(bench, ds, import_s: float) -> dict:
    """Run the traced pass and return the per-layer metrics."""
    tr = Tracer(run_id=uuid.uuid4().hex[:12], sc=bench.spark.sparkContext)
    kv, man = bench.out_dirs()
    bench.attempted += 1
    cfg, lines, existing, counts, dks = _import(bench, ds, tr, kv, man)
    try:
        res = check_import(ds, counts, kv, man, cfg.skip_existing,
                           OUTPUT_KEY if cfg.encrypt else None)
        bench.check_digest(res.digest)
    except AssertionError as e:
        bench.failures.append(f"traced import: {e}")
    kv_files = parquet_files(kv)
    manifest_files = sum(f.endswith(".csv") for f in os.listdir(man))
    observed = _legs(tr, cfg, lines, existing)
    bench.stop_session()  # closes the event log
    tr.dump(os.path.join(os.path.dirname(bench.work),
                         f"spans-{bench.args.workload}-{bench.args.seed}.json"))
    groups = read_event_logs(bench.event_log_dir)

    def g(name) -> GroupStats:
        return groups.get(tr.get(name).job_group, GroupStats())

    def d(name) -> float:
        return tr.get(name).duration

    rounds = [{s.name: s for s in tr.children(f"legs.round{r}")} for r in range(LEG_ROUNDS)]

    def leg(name, attr="duration") -> float:
        return statistics.median(getattr(r[name], attr) for r in rounds)

    def self_of(name, prev, attr="duration") -> float:
        return statistics.median(getattr(r[name], attr) - getattr(r[prev], attr)
                                 for r in rounds)

    import_groups = [s.job_group for s in tr.spans
                     if s.name == "import" or s.parent == "import"]
    calls, retries, wait_s = dks
    valid_n = observed["leg.transforms"]["valid"]
    m = {
        "listing.s": (d("listing"), "s"),
        "listing.jobs": (g("listing").jobs, "count"),
        "metadata.parse_s": (d("metadata.parse"), "s"),
        "metadata.resolve_keys_s": (d("metadata.resolve_keys"), "s"),
        "metadata.jobs": (g("metadata.parse").jobs + g("metadata.resolve_keys").jobs, "count"),
        "key_service.calls": (calls, "count"),
        "key_service.retries": (retries, "count"),
        "key_service.wait_s": (wait_s, "s"),
        "crypto_source.s": (leg("leg.lines"), "s"),
        "crypto_source.share": (leg("leg.lines") / import_s, "ratio"),
        "crypto_source.cpu_s": (leg("leg.lines", "cpu_s"), "CPU-s"),
        "crypto_source.tasks": (g("leg.lines").tasks, "count"),
        "crypto_source.bytes_in": (ds.data_bytes, "B"),
        "crypto_source.records_out": (observed["leg.lines"]["n"], "count"),
        "transforms.self_s": (self_of("leg.transforms", "leg.lines"), "s"),
        "transforms.cpu_s": (self_of("leg.transforms", "leg.lines", "cpu_s"), "CPU-s"),
        "transforms.valid_ratio": (valid_n / observed["leg.transforms"]["n"], "ratio"),
        "envelope.self_s": (self_of("leg.envelope", "leg.transforms"), "s"),
        "envelope.cpu_s": (self_of("leg.envelope", "leg.transforms", "cpu_s"), "CPU-s"),
        "filters.self_s": (self_of("leg.filters", "leg.envelope"), "s"),
        "filters.cpu_s": (self_of("leg.filters", "leg.envelope", "cpu_s"), "CPU-s"),
        "filters.shuffle_bytes": (g("leg.filters").shuffle_bytes
                                  - g("leg.envelope").shuffle_bytes, "B"),
        "filters.put_ratio": (observed["leg.filters"]["put"] / valid_n, "ratio"),
        "sinks.kv_s": (d("sinks.kv"), "s"),
        "sinks.kv_self_s": (d("sinks.kv") - leg("leg.filters"), "s"),
        "sinks.kv_cpu_s": (tr.get("sinks.kv").cpu_s, "CPU-s"),
        "sinks.kv_files": (len(kv_files), "count"),
        "sinks.kv_bytes": (sum(os.path.getsize(p) for p in kv_files), "B"),
        "sinks.manifest_s": (d("sinks.manifest"), "s"),
        "sinks.manifest_files": (manifest_files, "count"),
        "pipeline.counts_s": (d("pipeline.counts"), "s"),
        "pipeline.jobs": (sum(groups.get(x, GroupStats()).jobs for x in import_groups), "count"),
        "pipeline.tasks": (sum(groups.get(x, GroupStats()).tasks for x in import_groups), "count"),
        "tracing_overhead_s": (d("import") - import_s, "s"),
        "trace.import_coverage": (tr.coverage("import"), "ratio"),
        "trace.legs_coverage": (tr.coverage("legs"), "ratio"),
    }
    for name in ["import", "legs"] + [f"legs.round{r}" for r in range(LEG_ROUNDS)]:
        if tr.coverage(name) < 1 - TRACE_TOLERANCE:
            bench.failures.append(f"spans cover {tr.coverage(name):.3f} of {name}")
    # the legs rebuild the record path from its public functions; they
    # must see the records the traced import saw, and cost no more than
    # the KV write that forced the same path inside the import
    seen = {"records": observed["leg.lines"]["n"], "valid": valid_n,
            "puts": observed["leg.filters"]["put"]}
    want = {"records": ds.records, "valid": sum(f.manifest_lines for f in ds.files),
            "puts": sum(int(r["put_count"] or 0) for r in counts)}
    if seen != want:
        bench.failures.append(f"legs counted {seen}, the traced import {want}")
    if leg("leg.filters") > d("sinks.kv") * (1 + TRACE_TOLERANCE):
        bench.failures.append(f"leg.filters {leg('leg.filters'):.3f} s exceeds "
                              f"sinks.kv {d('sinks.kv'):.3f} s")
    return m

