"""Seeded generator of encrypted HDI dumps plus their expected outcome.

Writes ``<db>.<coll>.<NNNN>.json.gz.enc`` data files (AES-CTR over gzip
over JSONL) and ``<db>.<coll>.<NNNN>.json.encryption.json`` sidecars, the
reference naming. Every record is one of the FIXTURES.md variants, drawn
at the shares in ``VARIANT_SHARES``. The expected per-file outcome is
derived from the generator's own choices, never by calling the package.

The same seed and sizes give byte-identical files.
"""

from __future__ import annotations

import base64
import gzip
import json
import math
import os
import random
import string
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from statistics import NormalDist

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

# docker-compose.yml:99-101 filter bounds of the reference
SKIP_EARLIER_THAN = "2000-01-02T12:34:56.000Z"
SKIP_LATER_THAN = "2020-06-28T12:34:56.000Z"

# --encrypt-output key of the re-encrypting workload, and the envelope
# metadata naming it
OUTPUT_KEY = base64.b64encode(b"perfbench-key-16").decode()
OUTPUT_KEK_ID = "cloudhsm:perfbench"
OUTPUT_WRAPPED_KEY = base64.b64encode(b"perfbench-wrapped").decode()

# (variant, share of records). The shares are assumed: no production
# dump or count of its variants is available to derive them from.
# "base" is the reference template with $date wrappers and a compound
# id; "plain" has a string id and plain-string timestamps, so
# normalization leaves its body unchanged and a stored cell can be
# checked against the generator's own bytes.
VARIANT_SHARES = (
    ("base", 0.55),
    ("plain", 0.15),
    ("oid", 0.06),
    ("id_inner_date", 0.04),
    ("removed", 0.04),
    ("archived", 0.04),
    ("no_last_modified", 0.03),
    ("no_timestamps", 0.02),
    ("blank_id", 0.02),
    ("malformed", 0.02),
    ("too_early", 0.015),
    ("too_late", 0.015),
)

# (db, collection) pairs the files cycle through: plain names, a
# split-collection suffix that coalesces, and the archive table mapping
COLLECTIONS = (
    ("database-1", "collection-1"),
    ("database-1", "collection-two"),
    ("database-2", "collection-thirtyone"),
    ("agent-core", "agentToDoArchive"),
)

# padding lengths are log-normal: median ~150 chars, long tail to 6000.
# Also assumed, for the same reason as the variant shares.
_PAD_MU, _PAD_SIGMA, _PAD_MAX = 5.0, 1.2, 6000
_EPOCH_2001 = datetime(2001, 1, 1, tzinfo=timezone.utc)
_SPAN_S = 19 * 365 * 86400  # versions spread over 2001..2019


@dataclass
class FileExpect:
    """Expected F5 counters of one input file."""

    db: str
    collection: str
    file_number: int
    records: int = 0
    parse_errors: int = 0
    blank_ids: int = 0
    too_early: int = 0
    too_late: int = 0
    existing: int = 0
    puts: int = 0

    @property
    def manifest_lines(self) -> int:
        """Valid records: every one gets a manifest row, filtered or not."""
        return self.records - self.parse_errors - self.blank_ids


@dataclass
class Dataset:
    input_dir: str
    files: list[FileExpect]
    # encryptedEncryptionKey -> base64 plaintext data key (the DKS's view)
    data_keys: dict[str, str]
    # the earlier import whose KV output is the exists snapshot (only
    # when existing_share > 0)
    snapshot: "Dataset | None" = None
    # string id -> exact normalized body, for "plain" put records
    plain_bodies: dict[str, str] = field(default_factory=dict)
    data_bytes: int = 0

    @property
    def records(self) -> int:
        return sum(f.records for f in self.files)

    def expected_report(self, skip_existing: bool) -> dict:
        """The report run.main must print, in its own field names."""
        per_file = {}
        for f in self.files:
            per_file[(f.db, f.collection, f.file_number)] = {
                "records_total": f.records,
                "parse_errors": f.parse_errors,
                "date_errors": 0,
                "blank_ids": f.blank_ids,
                "put_count": f.puts + (0 if skip_existing else f.existing),
                "filtered_too_early": f.too_early,
                "filtered_too_late": f.too_late,
                "filtered_exists": f.existing if skip_existing else 0,
            }
        totals = {
            "files_processed": len(per_file),
            "records_processed": sum(v["records_total"] for v in per_file.values()),
            "put_count": sum(v["put_count"] for v in per_file.values()),
            "filtered_too_early": sum(v["filtered_too_early"] for v in per_file.values()),
            "filtered_too_late": sum(v["filtered_too_late"] for v in per_file.values()),
            "parse_errors": sum(v["parse_errors"] for v in per_file.values()),
            "blank_ids": sum(v["blank_ids"] for v in per_file.values()),
        }
        return {"totals": totals, "per_file": per_file}


def _ts(rng: random.Random) -> str:
    t = _EPOCH_2001 + timedelta(seconds=rng.randrange(_SPAN_S))
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{rng.randrange(1000):03d}"


def _record(rng: random.Random, variant: str, uid: str, pad: str) -> dict | str:
    """One dump record of the given variant (a str for malformed lines)."""
    rec: dict = {
        "_id": {"someId": f"GUID-{uid}", "declarationId": f"decl-{uid}"},
        "type": "addressDeclaration",
        "contractId": f"contract-{uid}",
        "addressNumber": {"type": "AddressLine", "cryptoId": f"crypto-{uid}"},
        "postcode": "SM5 2LE",
        "effectiveDate": {"type": "SPECIFIC_EFFECTIVE_DATE", "date": 20150320},
        "notes": pad,
        "createdDateTime": {"$date": "2015-03-20T12:23:25.183Z"},
        "_version": 2,
        "nullField": None,
        "_lastModifiedDateTime": {"$date": _ts(rng) + "Z"},
    }
    if variant == "plain":
        rec["_id"] = f"plain-{uid}"
        rec["createdDateTime"] = "2015-03-20T12:23:25.183+0000"
        rec["_lastModifiedDateTime"] = _ts(rng) + "+0000"
    elif variant == "oid":
        rec["_id"] = {"$oid": f"{uid}{rng.getrandbits(32):08x}"}
    elif variant == "id_inner_date":
        rec["_id"] = {
            "someId": f"GUID-{uid}",
            "createdDateTime": {"$date": "2010-01-01T00:00:00.000Z"},
        }
    elif variant == "removed":
        rec = {
            "_removed": rec,
            "_removedDateTime": {"$date": _ts(rng) + "Z"},
            "_lastModifiedDateTime": {"$date": _ts(rng) + "Z"},
        }
    elif variant == "archived":
        rec = {
            "_archived": rec,
            "_archivedDateTime": {"$date": _ts(rng) + "Z"},
            "_lastModifiedDateTime": {"$date": _ts(rng) + "Z"},
        }
    elif variant == "no_last_modified":
        del rec["_lastModifiedDateTime"]
    elif variant == "no_timestamps":
        del rec["_lastModifiedDateTime"]
        del rec["createdDateTime"]
    elif variant == "blank_id":
        del rec["_id"]
    elif variant == "too_early":
        rec["_lastModifiedDateTime"] = {"$date": "2000-01-01T12:34:56.000Z"}
    elif variant == "too_late":
        rec["_lastModifiedDateTime"] = {"$date": "2020-06-29T12:34:56.000Z"}
    elif variant == "malformed":
        return json.dumps(rec)[: 40 + rng.randrange(40)]
    return rec


def _encrypt(plain: bytes, key: bytes, iv: bytes) -> bytes:
    enc = Cipher(algorithms.AES(key), modes.CTR(iv)).encryptor()
    return enc.update(plain) + enc.finalize()


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode("ascii")


def _write_pair(
    out_dir: str, db: str, coll: str, number: int, lines: list[str],
    key: bytes, iv: bytes, wrapped: str, key_id: str, sidecar_key: bool,
) -> int:
    stem = os.path.join(out_dir, f"{db}.{coll}.{number:04d}.json")
    body = gzip.compress(("\n".join(lines) + "\n").encode("utf-8"), mtime=0)
    data = _encrypt(body, key, iv)
    with open(stem + ".gz.enc", "wb") as fh:
        fh.write(data)
    meta = {
        "keyEncryptionKeyId": key_id,
        "encryptedEncryptionKey": wrapped,
        "initialisationVector": _b64(iv),
    }
    if sidecar_key:
        meta["plaintextDatakey"] = _b64(key)
    with open(stem + ".encryption.json", "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    return len(data)


def _variant_list(n: int) -> list[str]:
    """n variants at exactly the stated shares (largest remainders)."""
    want = [(name, share * n) for name, share in VARIANT_SHARES]
    counts = {name: int(x) for name, x in want}
    by_remainder = sorted(want, key=lambda t: t[1] - int(t[1]), reverse=True)
    for name, _ in by_remainder[: n - sum(counts.values())]:
        counts[name] += 1
    return [name for name, _ in VARIANT_SHARES for _ in range(counts[name])]


def _pad_lengths(n: int) -> list[int]:
    """n padding lengths at evenly spaced quantiles of the log-normal."""
    dist = NormalDist(_PAD_MU, _PAD_SIGMA)
    return [min(_PAD_MAX, int(math.exp(dist.inv_cdf((j + 0.5) / n)))) for j in range(n)]


def _outcome(variant: str) -> str:
    """The FileExpect counter a record of this variant lands in, under
    both time bounds."""
    return {"malformed": "parse_errors", "blank_id": "blank_ids",
            "too_early": "too_early", "too_late": "too_late"}.get(variant, "puts")


def generate(
    out_dir: str,
    seed: int,
    n_files: int,
    records_per_file: int,
    sidecar_key: bool = True,
    existing_share: float = 0.0,
) -> Dataset:
    """Write the dump under ``out_dir/input`` and return its expectation.

    ``sidecar_key=False`` leaves ``plaintextDatakey`` out of the
    sidecars, so the import must resolve every key through the DKS.
    ``existing_share`` of the put-eligible records are also written to
    ``out_dir/snapshot``; importing that directory first yields the KV
    snapshot a ``--skip-existing`` import filters against."""
    rng = random.Random(seed)
    # a separate stream picks the existing records, so the input files
    # are the same with or without a snapshot
    pick = random.Random(seed + 0x5EED)
    input_dir = os.path.join(out_dir, "input")
    os.makedirs(input_dir)
    snap = None
    if existing_share:
        snap = Dataset(os.path.join(out_dir, "snapshot"), [], {})
        os.makedirs(snap.input_dir)
    pool = "".join(rng.choices(string.ascii_letters + string.digits + " ", k=1 << 16))
    numbers: dict[tuple[str, str], int] = {}
    ds = Dataset(input_dir=input_dir, files=[], data_keys={}, snapshot=snap)
    for i in range(n_files):
        db, coll = COLLECTIONS[i % len(COLLECTIONS)]
        number = numbers[(db, coll)] = numbers.get((db, coll), 0) + 1
        exp = FileExpect(db, coll, number)
        # every file has the exact variant shares and the same record
        # sizes; the seed decides their order, ids, dates and contents
        variants = _variant_list(records_per_file)
        pads = _pad_lengths(records_per_file)
        rng.shuffle(variants)
        rng.shuffle(pads)
        outcomes = [_outcome(v) for v in variants]
        eligible = [j for j, o in enumerate(outcomes) if o == "puts"]
        existing = set(pick.sample(eligible, round(existing_share * len(eligible))))
        lines, snap_lines = [], []
        for j, variant in enumerate(variants):
            off = rng.randrange(len(pool) - pads[j])
            rec = _record(rng, variant, f"{seed:x}-{i:05d}-{j:06d}", pool[off:off + pads[j]])
            line = rec if isinstance(rec, str) else json.dumps(rec)
            lines.append(line)
            exp.records += 1
            outcome = "existing" if j in existing else outcomes[j]
            setattr(exp, outcome, getattr(exp, outcome) + 1)
            if outcome == "existing":
                snap_lines.append(line)
            elif outcome == "puts" and variant == "plain" and i == 0:
                ds.plain_bodies[rec["_id"]] = json.dumps(
                    rec, separators=(",", ":"), ensure_ascii=False
                )
        key, iv = rng.randbytes(16), rng.randbytes(16)
        wrapped = _b64(rng.randbytes(32))
        key_id = f"cloudhsm:{rng.randrange(1 << 20)},{rng.randrange(1 << 20)}"
        ds.data_keys[wrapped] = _b64(key)
        ds.data_bytes += _write_pair(input_dir, db, coll, number, lines, key, iv,
                                     wrapped, key_id, sidecar_key)
        if snap is not None:
            n = len(snap_lines)
            snap.files.append(FileExpect(db, coll, number, records=n, puts=n))
            _write_pair(snap.input_dir, db, coll, number, snap_lines, key, iv,
                        wrapped, key_id, True)
        ds.files.append(exp)
    return ds
