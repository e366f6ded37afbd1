"""Output check of one import against the generator's expected outcome."""

from __future__ import annotations

import base64
import hashlib
import json
import os
from dataclasses import dataclass

import pyarrow.compute as pc
import pyarrow.dataset as pads
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes


class OutputMismatch(AssertionError):
    pass


@dataclass
class CheckResult:
    digest: str  # of the KV (table, key_hex, version) multiset
    kv_bytes: int  # parquet bytes written to the KV store


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise OutputMismatch(what)


def check_report(ds, per_file: list[dict], skip_existing: bool, totals: dict | None) -> None:
    """The F5 report equals the expected-outcome record, file by file."""
    want = ds.expected_report(skip_existing)
    got = {}
    for row in per_file:
        key = (row["db"], row["collection"], int(row["file_number"]))
        got[key] = {k: int(row[k] or 0) for k in want["per_file"].get(key, {})}
    _expect(set(got) == set(want["per_file"]),
            f"report files {sorted(got)} != expected {sorted(want['per_file'])}")
    for key, exp in want["per_file"].items():
        _expect(got[key] == exp, f"report for {key}: {got[key]} != expected {exp}")
    if totals is not None:
        for k, v in want["totals"].items():
            _expect(totals[k] == v, f"report {k}={totals[k]} != expected {v}")


def check_manifests(ds, man_dir: str) -> None:
    """One manifest per input file, one line per valid record."""
    want = {f"db.{f.db}.{f.collection}-{f.file_number:06d}.csv": f.manifest_lines
            for f in ds.files}
    names = sorted(n for n in os.listdir(man_dir) if n.endswith(".csv"))
    _expect(names == sorted(want), f"manifests {names} != expected {sorted(want)}")
    for name in names:
        with open(os.path.join(man_dir, name), "rb") as fh:
            n = sum(1 for _ in fh)
        _expect(n == want[name], f"{name} has {n} lines, expected {want[name]}")


def check_sampled_cell(kv, plain_bodies: dict[str, str], data_key: str | None) -> None:
    """One stored body equals the generator's bytes, after decryption
    with the run's data key when the import re-encrypted bodies."""
    bodies = kv.to_table(columns=["body"]).column("body")
    hits = pc.filter(bodies, pc.match_substring(bodies, '"_id":"plain-'))
    for body in hits.to_pylist():
        msg = json.loads(body)["message"]
        want = plain_bodies.get(msg["_id"])
        if want is None:
            continue
        got = msg["dbObject"]
        if data_key is not None:
            iv = base64.b64decode(msg["encryption"]["initialisationVector"])
            dec = Cipher(algorithms.AES(base64.b64decode(data_key)), modes.CTR(iv)).decryptor()
            got = (dec.update(base64.b64decode(got)) + dec.finalize()).decode("utf-8", "replace")
        _expect(got == want, f"stored body of {msg['_id']} differs from its input")
        return
    raise OutputMismatch("no stored cell of a sampled input record found")


def parquet_files(kv_dir: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(kv_dir)
            for f in fs if f.endswith(".parquet")]


def kv_digest(kv) -> str:
    t = kv.to_table(columns=["table", "key_hex", "version"])
    rows = sorted(zip(*(t.column(c).to_pylist() for c in ("table", "key_hex", "version"))))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def check_import(ds, per_file, kv_dir, man_dir, skip_existing, data_key,
                 totals=None) -> CheckResult:
    """Raise OutputMismatch unless the import's outputs are the expected ones."""
    check_report(ds, per_file, skip_existing, totals)
    check_manifests(ds, man_dir)
    kv = pads.dataset(kv_dir, format="parquet", partitioning="hive")
    puts = sum(int(r["put_count"] or 0) for r in per_file)
    n = kv.count_rows()
    _expect(n == puts, f"KV holds {n} cells, report put_count is {puts}")
    if ds.plain_bodies:
        check_sampled_cell(kv, ds.plain_bodies, data_key)
    kv_bytes = sum(os.path.getsize(p) for p in parquet_files(kv_dir))
    return CheckResult(kv_digest(kv), kv_bytes)
