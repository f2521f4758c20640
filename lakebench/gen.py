"""Seeded input generator for the lake benchmark.

Everything a run feeds the engine comes from here, before any timing
starts: change envelopes in the reference's JSON shape (``databaseName``,
``tableName``, ``schema``, ``type``, ``timestamp``, ``rows``), their due
times for the open-loop stream, and the lookup keys of the read mix.
The same ``(workload, seed, seconds)`` always yields byte-identical
files; ``generate`` is pure Python and never touches Spark.

Event order is the LWW order: envelope timestamps never decrease along
the stream (many repeat), and every row carries a globally increasing
``seq`` that the sync's ``engine.dedup.order.fields`` tie-break uses.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import math
import os
import random

ROW_FIELDS = (("id", "long"), ("seq", "long"), ("qty", "integer"),
              ("name", "string"), ("note", "string"))
SCHEMA_JSON = json.dumps({
    "type": "struct",
    "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in ROW_FIELDS
    ],
}, separators=(",", ":"))

_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
          "kilo lima mike november oscar papa quebec romeo sierra tango "
          "uniform victor whiskey xray yankee zulu").split()

# Workload shapes. Sizes are per table; counts of batches/cycles are caps
# (a run stops at its deadline, usually long before a cap).
SHAPES = {
    "cdc-stream-mor": {
        "tables": [("shop", "orders"), ("shop", "items"),
                   ("crm", "contacts"), ("crm", "tickets")],
        "mode": "mor",
        "buckets": 2,
        "initial_keys": 1_000,
        "rate_rows_per_s": 30.0,
        "rows_per_event": 2,
        "delete_share": 0.10,
        "insert_share": 0.15,
        "ts_granularity_ms": 250,
    },
    "lake-read-mix": {
        "tables": [("app", "profiles")],
        "mode": "mor",
        "buckets": 4,
        "initial_keys": 10_000,
        "merge_rows": 200,
        "rows_per_event": 20,
        "delete_share": 0.10,
        "insert_share": 0.05,
        "lookups_per_cycle": 2,
        "absent_every": 10,  # every 10th lookup names a never-written id
        "cycles_per_second": 2,
    },
}


class _Keys:
    """Live/dead id bookkeeping for one table: ids ``0..n-1`` exist
    (some deleted); new inserts take ``n``."""

    def __init__(self, n: int):
        self.n = n

    def skewed(self, rnd: random.Random) -> int:
        # log-uniform rank (zipf, s ~ 1) counted back from the newest id:
        # recent keys are favoured, old keys keep a long thin tail
        rank = int(math.exp(rnd.random() * math.log(self.n)))
        return max(0, self.n - rank)

    def fresh(self) -> int:
        self.n += 1
        return self.n - 1


def _row(rnd: random.Random, key: int, seq: int) -> dict:
    words = " ".join(rnd.choice(_WORDS) for _ in range(rnd.randint(3, 8)))
    return {"id": key, "seq": seq, "qty": rnd.randint(0, 999),
            "name": f"n{key:07d}", "note": words}


def envelope(db: str, table: str, op: str, ts: int, rows: list) -> str:
    return json.dumps({
        "databaseName": db, "tableName": table, "schema": SCHEMA_JSON,
        "type": op, "timestamp": ts, "rows": rows,
    }, separators=(",", ":"))


def _initial_load(rnd, shape, seq, keys) -> list[str]:
    """Every table's ids ``0..initial_keys-1`` as upserts at ts 0."""
    out = []
    for db, table in shape["tables"]:
        k = keys[(db, table)]
        for lo in range(0, k.n, 500):
            rows = [_row(rnd, i, next(seq))
                    for i in range(lo, min(k.n, lo + 500))]
            out.append(envelope(db, table, "upsert", 0, rows))
    return out


def _change_batch(rnd, shape, seq, keys, ts, n_rows, per_event, pick):
    """``n_rows`` changes as envelopes of ``per_event`` rows, one table
    and one op per envelope. Deletes name existing ids; inserts take
    fresh ones; the rest update existing ids chosen by ``pick``."""
    out = []
    tables = shape["tables"]
    done = 0
    while done < n_rows:
        db, table = tables[rnd.randrange(len(tables))]
        k = keys[(db, table)]
        n = min(per_event, n_rows - done)
        u = rnd.random()
        if u < shape["delete_share"]:
            op, ids = "delete", [pick(k, rnd) for _ in range(n)]
        elif u < shape["delete_share"] + shape.get("insert_share", 0.0):
            op, ids = "upsert", [k.fresh() for _ in range(n)]
        else:
            op, ids = "upsert", [pick(k, rnd) for _ in range(n)]
        out.append(envelope(db, table, op, ts,
                            [_row(rnd, i, next(seq)) for i in ids]))
        done += n
    return out


def generate(workload: str, seed: int, seconds: float) -> dict[str, bytes]:
    """All input files of one run, as ``{relative name: bytes}``."""
    shape = SHAPES[workload]
    rnd = random.Random(f"{workload}/{seed}")
    seq = itertools.count(1)
    keys = {t: _Keys(shape["initial_keys"]) for t in shape["tables"]}
    files: dict[str, bytes] = {}
    files["load.jsonl"] = _lines(_initial_load(rnd, shape, seq, keys))
    skewed = _Keys.skewed
    # one untimed change batch after the load warms the merge path
    per = shape["rows_per_event"]
    files["warm.jsonl"] = _lines(_change_batch(
        rnd, shape, seq, keys, 500, 10 * per, per, skewed))

    if workload == "cdc-stream-mor":
        # open loop: one event every rows_per_event/rate seconds (evenly
        # spaced, so every seed offers the same load); the run stops at
        # its deadline, events are generated 50% past it
        gap = per / shape["rate_rows_per_s"]
        gran = shape["ts_granularity_ms"]
        lines, due = [], []
        for i in range(int((seconds * 1.5 + 5) / gap)):
            t = (i + 1) * gap
            ts = 1_000 + int(t * 1000) // gran * gran  # repeats by design
            lines += _change_batch(rnd, shape, seq, keys, ts, per, per, skewed)
            due.append(f"{t:.6f}")
        files["stream.jsonl"] = _lines(lines)
        files["stream.due"] = _lines(due)
    elif workload == "lake-read-mix":
        n = max(8, int(seconds * shape["cycles_per_second"]))
        (db, table), = shape["tables"]
        k = keys[(db, table)]
        lookups = []
        for c in range(n):
            files[f"batch-{c:04d}.jsonl"] = _lines(_change_batch(
                rnd, shape, seq, keys, 1_000 + c, shape["merge_rows"],
                shape["rows_per_event"], skewed))
            # reads follow writes: ids the cycle's merge just changed
            written = sorted({r["id"] for x in files[f"batch-{c:04d}.jsonl"]
                              .splitlines() for r in json.loads(x)["rows"]})
            ids = []
            for _ in range(shape["lookups_per_cycle"]):
                if (len(lookups) * shape["lookups_per_cycle"] + len(ids) + 1) \
                        % shape["absent_every"] == 0:
                    ids.append(k.n + rnd.randrange(1_000_000))  # never written
                else:
                    ids.append(rnd.choice(written))
            lookups.append(ids)
        files["lookups.json"] = json.dumps(lookups).encode()
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return files


def _lines(items: list[str]) -> bytes:
    return ("\n".join(items) + "\n").encode()


def digest(files: dict[str, bytes]) -> str:
    h = hashlib.sha256()
    for name in sorted(files):
        h.update(name.encode() + b"\0" + hashlib.sha256(files[name]).digest())
    return h.hexdigest()


def write_inputs(workload: str, seed: int, seconds: float, out_dir: str) -> dict:
    """Generate, write under ``out_dir`` and check determinism by
    generating a second time and comparing digests. Returns a manifest:
    digest, whether the regeneration matched, envelope rows and bytes."""
    files = generate(workload, seed, seconds)
    os.makedirs(out_dir, exist_ok=True)
    for name, data in files.items():
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
    d = digest(files)
    again = digest(generate(workload, seed, seconds))
    rows = env_bytes = 0
    for name, data in files.items():
        if name.endswith(".jsonl"):
            for line in data.splitlines():
                rows += len(json.loads(line)["rows"])
                env_bytes += len(line)
    return {"digest": d, "deterministic": d == again,
            "envelope_rows": rows, "envelope_bytes": env_bytes}
