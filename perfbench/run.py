#!/usr/bin/env python3
#  Copyright (c) 2026 graft contributors
#  SPDX-License-Identifier: Apache-2.0
"""The benchmark's one command.

Usage (from the repository root):
  python3 perfbench/run.py --workload <notes_bulk|notes_trickle|query_suite>
      --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness (perfbench/build.py), generates the
workload's inputs from the seed, runs the workload in a fresh JVM with a
fixed heap, checks the outputs apart from the program (perfbench/
checks.py) and prints one JSON line: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import checks  # noqa: E402
import gen_notes  # noqa: E402
import gen_tables  # noqa: E402

HEAP = "3g"
JVM_TIMEOUT_S = 160
# set-ups per run: a notes set-up repeats cheaply in one JVM; the
# suite's set-up is its cold pass, which only the first pass can be
SETUP_REPS = {"notes_bulk": 2, "notes_trickle": 2, "query_suite": 1}
NOTES_SHAPES = {
    # backfill, then large batches: UDF and operator work dominates
    "notes_bulk": dict(backfill=4000, warmup_batches=1, batches=20,
                       inserts=1500, deletes=300, words=60),
    # a large live set, then small batches: fixed per-batch costs dominate
    "notes_trickle": dict(backfill=5000, warmup_batches=1, batches=40,
                          inserts=40, deletes=20, words=60),
}
SUITE_SCALE = 0.01
E2E = {"setup_s": "s", "work_s": "s", "rows_per_s": "1/s", "batch_p50_s": "s",
       "read_p50_s": "s", "heap_mb": "MB", "lake_mb": "MB"}
MODULES = ["Relational", "Pipeline", "Privacy", "TextAnalysis", "Dedup",
           "Similarity", "Multimodal", "EventsStream", "EventsOps", "Sampling",
           "Vectors", "StreamOps", "Chunking", "Skew", "Profiling", "Reshape",
           "CorpusHygiene", "Layout", "HeavyHitters", "Ivm", "Features",
           "TextSources", "Eval", "CdfStream"]
PER_LAYER = {
    "pipeline.pseudonymisation_s": "s", "pipeline.feature_extraction_s": "s",
    "lake.cdf_read_s": "s", "lake.commit_s": "s", "lake.watermark_s": "s",
    "lake.catalog_s": "s", "lake.snapshot_open_s": "s", "lake.commits": "count",
    "lake.files_added": "count", "lake.rewrite_rows_per_change": "ratio",
    "ops.pseudonymise_s": "s", "ops.extract_s": "s",
    "ops.extract_rows_out_per_in": "ratio", "functions.ner_mb_per_s": "MB/s",
    "functions.annotate_mb_per_s": "MB/s",
    "functions.ner_calls_per_insert": "ratio",
    "functions.annotate_calls_per_insert": "ratio",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.task_s": "s", "engine.task_cpu_s": "s", "engine.no_task_s": "s",
    "engine.shuffle_mb": "MB", "engine.scan_mb": "MB", "jvm.gc_s": "s",
    **{f"queries.{m}_s": "s" for m in MODULES}}


def jvm_command(config):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # A class-data archive per workload, written at the exit of the
    # workload's first run in a build and mapped by every later run,
    # takes class loading out of each fresh JVM's start.
    archive = build.OUT / f"{config.get('workload', 'found')}.jsa"
    share = ("SharedArchiveFile" if archive.exists() else "ArchiveClassesAtExit")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
           f"-XX:{share}={archive}", f"-Djava.io.tmpdir={config['runDir']}/tmp"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", build.classpath(), "perfbench.Harness",
                  f"{config['runDir']}/config.json"]


def make_inputs(workload, seed, input_dir):
    """Generate the inputs; returns the notes plan or the suite's row count."""
    input_dir.mkdir(parents=True)
    if workload in NOTES_SHAPES:
        plan = gen_notes.write(str(input_dir), seed, **NOTES_SHAPES[workload])
        (input_dir / "plan.json").write_text(json.dumps(plan))
        return plan
    return gen_tables.generate(str(input_dir), seed, SUITE_SCALE)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, res, rows_in, setup_s):
    ops = res["ops"]
    rounds = {}
    for o in ops:
        rounds[o["round"]] = rounds.get(o["round"], 0.0) + o["seconds"]
    batches = [o for o in ops if o["kind"] == "batch"]
    if workload in NOTES_SHAPES:
        reads = [o["seconds"] for o in ops if o["kind"] == "read"]
        by_round = {v["round"]: v["rows"] for v in res["versions"]}
        batch_s = [o["seconds"] for o in batches]
        rows_per_s = sum(by_round[o["round"]] for o in batches) / sum(batch_s)
    else:
        # a suite pass is its batch; its reads are the queries
        reads = [o["seconds"] for o in ops]
        batch_s = list(rounds.values())
        rows_per_s = rows_in * len(rounds) / sum(batch_s)
    values = {"setup_s": setup_s,
              "work_s": sum(rounds.values()) / len(rounds),
              "rows_per_s": rows_per_s, "batch_p50_s": median(batch_s),
              "read_p50_s": median(reads), "heap_mb": res["heap_mb"],
              "lake_mb": res["lake_mb"]}
    return {k: {"value": values[k], "unit": u} for k, u in E2E.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(NOTES_SHAPES) + ["query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build.build()
    t_setup0 = time.time()
    run_dir = BENCH / "out" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        input_dir = run_dir / "input"
        made = make_inputs(a.workload, a.seed, input_dir)
        gen_s = time.time() - t_setup0
        for d in ["tmp", "scratch"]:
            (run_dir / d).mkdir()
        config = {"workload": a.workload, "seconds": a.seconds,
                  "trace": bool(a.trace), "runDir": str(run_dir),
                  "inputDir": str(input_dir), "setupReps": SETUP_REPS[a.workload],
                  "cpus": len(os.sched_getaffinity(0))}
        (run_dir / "config.json").write_text(json.dumps(config))
        env = dict(os.environ, GRAFT_SCRATCH=str(run_dir / "scratch"),
                   SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
        launch_ms = time.time() * 1000
        with open(run_dir / "jvm.log", "w") as log:
            proc = subprocess.Popen(jvm_command(config), stdout=log,
                                    stderr=subprocess.STDOUT, env=env,
                                    cwd=run_dir)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        if code != 0:
            sys.stderr.write((run_dir / "jvm.log").read_text()[-3000:])
            raise SystemExit(f"harness failed: {code}")
        res = json.loads((run_dir / "result.json").read_text())
        export = run_dir / "export"
        messages = []
        if a.workload in NOTES_SHAPES:
            bad = checks.check_notes(input_dir, export, res, made)
            rows_in = 0
        else:
            bad, messages = checks.check_suite(input_dir, export, res)
            rows_in = made
        for m in messages:
            sys.stderr.write(f"check: {m}\n")
        op_keys = {(o["round"], o["kind"], o["name"]) for o in res["ops"]}
        failed = sum(1 for o in res["ops"] if not o["ok"] or
                     (o["round"], o["kind"], o["name"]) in bad)
        for o in res["ops"]:
            if o["error"]:
                sys.stderr.write(f"op {o['kind']}:{o['name']} round {o['round']}: "
                                 f"{o['error']}\n")
        setup_ok = not (bad - op_keys)
        per_round = {}
        for o in res["ops"]:
            per_round[o["round"]] = per_round.get(o["round"], 0.0) + o["seconds"]
        sys.stderr.write(
            f"work {sum(per_round.values()) / len(per_round):.3f}s; "
            f"set-up {gen_s:.2f}s inputs, "
            f"{(res['session_ready_ms'] - launch_ms) / 1000:.2f}s session, "
            f"reps {' '.join(f'{x:.2f}' for x in res['setup_s'])}, "
            f"warm-up {res.get('warmup_s', 0.0):.2f}s; ops "
            + " ".join(f"{o['kind'][0]}{o['seconds']:.2f}" for o in res["ops"])
            + "\n")
        setup_s = (gen_s + (res["session_ready_ms"] - launch_ms) / 1000 +
                   median(res["setup_s"]) + res.get("warmup_s", 0.0))
        if a.trace:
            layer = res["per_layer"]
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
            traces = BENCH / "out" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copy(run_dir / "trace.json",
                        traces / f"{a.workload}-seed{a.seed}.json")
        else:
            metrics = end_to_end(a.workload, res, rows_in, setup_s)
        print(json.dumps({"correct": setup_ok, "attempted": len(res["ops"]),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
