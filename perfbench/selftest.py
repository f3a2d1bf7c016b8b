#!/usr/bin/env python3
#  Copyright (c) 2026 graft contributors
#  SPDX-License-Identifier: Apache-2.0
"""Shows that the notes checks catch faults, without Spark.

Usage: python3 perfbench/selftest.py

Builds the exports a correct pipeline would leave for a small seeded
input (from the generator's ground truth alone), checks they pass, then
plants one fault at a time and checks that the batch that wrote it is
reported as failed:
- a silver row whose text still holds a name;
- a gold table missing a key;
- a gold table holding a key twice.
Exits non-zero if any case is judged wrongly.
"""
import hashlib
import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import gen_notes  # noqa: E402

SHAPE = dict(backfill=200, warmup_batches=0, batches=3, inserts=10,
             deletes=5, words=30)


def perfect(notes, expected, plan):
    """Exports and result a correct program would produce: silver and
    gold take the backfill at version 0 and batch i at version i + 1.
    """
    by_id = {r["NoteID"]: r for r in notes.to_pylist()}
    exp = {r["NoteID"]: r for r in expected.to_pylist()}
    silver, gold = [], []

    def change(k, kind, v):
        n, e = by_id[k], exp[k]
        salted = (n["PatientID"] + checks.SALT).encode()
        silver.append({"NoteID": k, "NoteText": e["silver_text"],
                       "PatientID_hashed": hashlib.sha256(salted).hexdigest(),
                       "AppointmentDate": n["AppointmentDate"].replace(
                           minute=0, second=0, microsecond=0),
                       "_change_type": kind, "_commit_version": v})
        gold.append({"NoteID": k, "_change_type": kind, "_commit_version": v,
                     **{c: e[c] for c in ["ent_text", "ent_category",
                                          "ent_offset", "ent_length"]}})

    live = [k for k, n in by_id.items() if n["batch"] == -1]
    for k in live:
        change(k, "insert", 0)
    versions, reads = [], []
    for i, b in enumerate(plan):
        for k in b["inserts"]:
            change(k, "insert", i + 1)
        for k in b["deletes"]:
            change(k, "delete", i + 1)
        live = [k for k in live if k not in set(b["deletes"])] + b["inserts"]
        versions.append({"batch": b["batch"], "round": i, "silver": i + 1,
                         "gold": i + 1, "rows": len(b["inserts"]) + len(b["deletes"])})
        cats = {}
        for k in live:
            for c in exp[k]["ent_category"]:
                cats[c] = cats.get(c, 0) + 1
        reads += [
            {"round": i, "batch": b["batch"], "kind": "category", "value": cats},
            {"round": i, "batch": b["batch"], "kind": "lookup", "key": b["lookup"],
             "value": [exp[b["lookup"]]["silver_text"]]},
            {"round": i, "batch": b["batch"], "kind": "cdf",
             "value": len(b["inserts"]) + len(b["deletes"])}]
    result = {"versions": versions, "setup_versions": {"silver": 0, "gold": 0},
              "reads": reads, "silver_columns": ["NoteID", "NoteText",
                                                  "AppointmentDate", "PatientID_hashed"]}
    return silver, gold, live, result


def write(export, silver, gold, live):
    shutil.rmtree(export, ignore_errors=True)
    ts = pa.timestamp("us", tz="UTC")
    tables = {
        "silver_cdf": pa.Table.from_pylist(silver, pa.schema([
            ("NoteID", pa.int64()), ("NoteText", pa.string()),
            ("PatientID_hashed", pa.string()), ("AppointmentDate", ts),
            ("_change_type", pa.string()), ("_commit_version", pa.int64())])),
        "gold_cdf": pa.Table.from_pylist(gold, pa.schema([
            ("NoteID", pa.int64()), ("_change_type", pa.string()),
            ("_commit_version", pa.int64()), ("ent_text", pa.list_(pa.string())),
            ("ent_category", pa.list_(pa.string())),
            ("ent_offset", pa.list_(pa.int32())), ("ent_length", pa.list_(pa.int32()))])),
        "silver_keys": pa.table({"NoteID": pa.array(live, pa.int64())}),
        "gold_keys": pa.table({"NoteID": pa.array(live, pa.int64())})}
    for name, t in tables.items():
        (export / name).mkdir(parents=True)
        pq.write_table(t, export / name / "part-0.parquet")


def main():
    work = BENCH / "out" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    plan = gen_notes.write(str(work), 7, **SHAPE)
    notes = pq.read_table(work / "notes.parquet")
    expected = pq.read_table(work / "expected.parquet")
    silver, gold, live, result = perfect(notes, expected, plan)
    export = work / "export"

    def judge(name, silver, gold, live, gold_keys=None, want=frozenset()):
        write(export, silver, gold, live)
        if gold_keys is not None:
            shutil.rmtree(export / "gold_keys")
            (export / "gold_keys").mkdir()
            pq.write_table(pa.table({"NoteID": pa.array(gold_keys, pa.int64())}),
                           export / "gold_keys" / "part-0.parquet")
        got = checks.check_notes(work, export, result, plan)
        ok = got == set(want)
        print(f"{'ok  ' if ok else 'FAIL'} {name}: reported {sorted(got)}")
        return ok

    results = [judge("correct outputs", silver, gold, live)]
    # batch 1 writes a silver row with a name left in its text
    raw = {r["NoteID"]: r["NoteText"] for r in notes.to_pylist()}
    named = next(i for i, r in enumerate(silver) if r["_commit_version"] == 2 and
                 r["_change_type"] == "insert" and "<PERSON>" in r["NoteText"])
    bad = [dict(r) for r in silver]
    bad[named]["NoteText"] = raw[bad[named]["NoteID"]]
    results.append(judge("silver row with an unredacted name", bad, gold, live,
                         want={(1, "batch", "pipeline")}))
    # the last batch's gold commit loses one inserted key
    lost = plan[-1]["inserts"][0]
    gold_lost = [r for r in gold if not (r["NoteID"] == lost and r["_change_type"] == "insert")]
    results.append(judge("gold table missing a key", silver, gold_lost, live,
                         gold_keys=[k for k in live if k != lost],
                         want={(2, "batch", "pipeline")}))
    # the last batch's gold commit inserts a live key a second time
    twice = dict(next(r for r in gold if r["NoteID"] == live[0]), _commit_version=3)
    results.append(judge("gold table holding a key twice", silver, gold + [twice],
                         live, gold_keys=live + [live[0]],
                         want={(2, "batch", "pipeline")}))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
