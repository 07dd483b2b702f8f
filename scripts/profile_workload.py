"""Traced runs of one perfbench workload in one or more checkouts, side
by side, as one JSON file: the layer metrics that explain its
end-to-end numbers, the Python-RDD tasks of every job and, when the
workload builds the warehouse in its set-up, that build's jobs.

    python scripts/profile_workload.py --workload stream_ingest --seed 101 \\
        --out PROFILE_stream_c4.json parent=../parent-checkout change=.
    python scripts/profile_workload.py --workload corpus_curation --seed 101 \\
        --out PROFILE_corpus_c4.json parent=../parent-checkout change=.

Each ``label=checkout`` runs that checkout's own
``perfbench/run.py --workload W --trace 1`` (its package, its
benchmark) in a child process, one after another.  The benchmark
is not edited: the child wraps ``tracing.Tracer.harvest`` from outside
to count, per Spark job, the tasks of its stages whose RDD lineage
holds a ``PythonRDD`` (a Python worker per task: what
``createDataFrame(<python list>)`` costs every job that reads it).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

# Keys kept from the traced run's per-layer metrics.
LAYER_KEYS = re.compile(
    r"^(operators\.(keys|components)\.|plans\.materialize\.s$|process\.(setup_)?jit_cpu_s$"
    r"|sources\.load_table\.calls$|session\.start_s$|functions\.python_udf_"
    r"|plans\.q\.[^.]+\.(build|exec)_s$)"
)
# The set-up span whose jobs are broken out, in workloads that have it.
BUILD_SPAN = "setup:build_warehouse"
# End-to-end lines the run prints (traced, so slower than the benchmark's).
E2E_LINE = re.compile(r"^(setup_s|setup_cpu_s|run_cpu_s) = (\S+) s$")

CHILD = r"""
import json, os, sys
checkout, workload, seed, side = sys.argv[1:5]
os.chdir(checkout)
sys.path.insert(0, os.path.join(checkout, "perfbench"))
import run, tracing

harvest = tracing.Tracer.harvest

def counted(self):
    h = harvest(self)
    graphs = self.sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    store = self.sc._jsc.sc().statusStore()
    py_stages = {
        sid for sid in h["stages"]
        if "PythonRDD" in graphs.makeDotFile(store.operationGraphForStage(sid))
    }
    with open(side, "w") as f:
        json.dump([
            {"job": j["job"], "span": j["span"],
             "python_rdd_tasks": sum(h["stages"][s]["tasks"] for s in j["stages"]
                                     if s in py_stages)}
            for j in h["jobs"]
        ], f)
    return h

tracing.Tracer.harvest = counted
sys.exit(run.main(["--workload", workload, "--seed", seed,
                   "--seconds", "10", "--trace", "1"]))
"""


def profile(checkout: str, workload: str, seed: int) -> dict:
    checkout = os.path.abspath(checkout)
    side = os.path.join(checkout, ".perfbench", f"pyrdd-{workload}-{seed}.json")
    os.makedirs(os.path.dirname(side), exist_ok=True)
    out = subprocess.run(
        [sys.executable, "-c", CHILD, checkout, workload, str(seed), side],
        check=True, capture_output=True, text=True,
    ).stdout.splitlines()
    result = json.loads(out[-1])
    trace_path = os.path.join(checkout, ".perfbench", f"trace-{workload}-{seed}.json")
    with open(trace_path) as f:
        trace = json.load(f)
    with open(side) as f:
        jobs = json.load(f)
    spans = trace["spans"]

    def path(idx: int) -> list[str]:
        names = []
        while idx >= 0:
            names.append(spans[idx]["name"])
            idx = spans[idx]["parent"]
        return names

    doc = {
        "correct": result["correct"],
        "failed": result["failed"],
        "end_to_end_traced": {
            m.group(1): float(m.group(2)) for m in map(E2E_LINE.match, out) if m
        },
    }
    build = next((i for i, s in enumerate(spans) if s["name"] == BUILD_SPAN), None)
    if build is not None:
        build_jobs = [j for j in jobs if j["span"] >= 0 and BUILD_SPAN in path(j["span"])]
        doc[BUILD_SPAN] = {
            "s": spans[build]["end"] - spans[build]["start"],
            "jobs": len(build_jobs),
            "python_rdd_jobs": sum(1 for j in build_jobs if j["python_rdd_tasks"]),
            "python_rdd_tasks": sum(j["python_rdd_tasks"] for j in build_jobs),
        }
    return doc | {
        "metrics": {k: v for k, v in sorted(trace["metrics"].items()) if LAYER_KEYS.match(k)},
        "python_rdd_tasks_total": sum(j["python_rdd_tasks"] for j in jobs),
        "python_rdd_tasks_per_job": [
            {"job": j["job"], "span": spans[j["span"]]["name"] if j["span"] >= 0 else None,
             "tasks": j["python_rdd_tasks"]}
            for j in jobs if j["python_rdd_tasks"]
        ],
        "confs": trace["confs"],
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("runs", nargs="+", help="label=checkout")
    args = p.parse_args(argv)
    doc = {"workload": args.workload, "seed": args.seed, "trace": 1, "runs": {}}
    for spec in args.runs:
        label, checkout = spec.split("=", 1)
        doc["runs"][label] = run = profile(checkout, args.workload, args.seed)
        print(label, json.dumps(run["end_to_end_traced"]), flush=True)
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
