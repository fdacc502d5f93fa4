#!/usr/bin/env python3
"""The benchmark's own checks.

Usage (from the repository root):
    python3 perfbench/test_bench.py            # all checks, a few minutes
    python3 perfbench/test_bench.py reader     # only the trace-reader unit checks

- reader: self time and interval-union arithmetic on a hand-made trace;
- faults: a corrupted expected digest (query workloads), the wrong
  decryption key (enc_io) and a staging root emptied before a warm pass
  (query workloads) each make a run report failed > 0;
- counts: two traced runs of each workload of BENCHMARK.json, with
  different seeds, give identical exact counts (spark.jobs/stages/tasks,
  staging.builds, staging.cold_builds, staging.cold_jobs and every
  op.<key>_jobs), no warm pass builds a stage-once dir, and query_mix's
  cold pass does.
"""
import json
import os
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import trace_report  # noqa: E402

EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "staging.builds", "staging.cold_builds",
         "staging.cold_jobs")


def bench(workload, seed, trace=0, fault=None, seconds=1):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if fault:
        cmd += ["--inject-fault", fault]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    report, result = [json.loads(line) for line in out.strip().splitlines()[-2:]]
    return report, result


def check_reader():
    assert trace_report.covered(0, 10, [(2, 4), (3, 6), (8, 12)]) == 6
    assert trace_report.covered(0, 10, []) == 0
    lines = [
        {"type": "meta", "workload": "t", "seed": 1, "cores": 2, "passes": [
            {"kind": "cold", "traced": True, "wall_s": 1e-5},
            {"kind": "warm", "traced": True, "wall_s": 1e-5},
            {"kind": "warm", "traced": False, "wall_s": 8e-6}]},
        {"type": "span", "id": 1, "parent": 0, "name": "pass0", "kind": "pass", "start": 0,
         "end": 10, "attrs": {"pass_kind": "cold", "staging_new": 2, "staging_bytes": 3e6}},
        {"type": "span", "id": 2, "parent": 1, "name": "a", "kind": "op", "start": 0,
         "end": 10, "attrs": {"ok": True}},
        {"type": "span", "id": 3, "parent": 0, "name": "pass1", "kind": "pass", "start": 20,
         "end": 30, "attrs": {"pass_kind": "warm", "staging_new": 0, "staging_bytes": 3e6}},
        {"type": "span", "id": 4, "parent": 3, "name": "a", "kind": "op", "start": 20,
         "end": 30, "attrs": {"ok": True}},
        {"type": "span", "id": 5, "parent": 4, "name": "a", "kind": "fn", "start": 20,
         "end": 24, "attrs": {}},
    ]
    job = {"type": "job", "stages": 1, "tasks": 2, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
           "max_task_ms": 0, "out_b": 0, "shr_b": 0, "shw_b": 0, "spill_b": 0,
           "peak_mem_b": 0}
    lines += [dict(job, id=0, group="2", start=1, end=9),
              dict(job, id=1, group="2", start=2, end=3),
              dict(job, id=2, group="4", start=22, end=26)]
    with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as fh:
        fh.write("\n".join(json.dumps(x) for x in lines))
    try:
        res = trace_report.summarize(fh.name)
    finally:
        os.unlink(fh.name)
    assert res["spark.jobs"][0] == 1 and res["spark.tasks"][0] == 2
    assert abs(res["spark.driver_s"][0] - 6e-6) < 1e-12      # 10 us wall, 4 us in jobs
    assert abs(res["op.a_s"][0] - 1e-5) < 1e-12
    assert res["staging.cold_jobs"][0] == 1 and res["staging.cold_builds"][0] == 2
    assert abs(res["trace.overhead_frac"][0] - 0.25) < 1e-9
    print("ok reader")


def check_faults():
    for workload, fault in (("analytics", "digest"), ("enc_io", "key"), ("analytics", "restage")):
        _, result = bench(workload, 7, fault=fault)
        assert result["failed"] > 0 and not result["correct"], (workload, fault, result)
        print(f"ok fault {fault} on {workload}: failed {result['failed']}"
              f" of {result['attempted']}")


def check_counts():
    spec = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
    for w in (x["name"] for x in spec["workloads"]):
        runs = []
        for seed in (11, 12):
            report, result = bench(w, seed, trace=1)
            assert result["correct"], (w, report["errors"])
            figs = report["figures"]
            runs.append({k: v["value"] for k, v in figs.items()
                         if k in EXACT or (k.startswith("op.") and k.endswith("_jobs"))})
        diff = {k: (runs[0][k], runs[1].get(k)) for k in runs[0] if runs[0][k] != runs[1].get(k)}
        assert not diff, (w, diff)
        assert runs[0]["staging.builds"] == 0, (w, runs[0])
        if w == "query_mix":
            assert runs[0]["staging.cold_builds"] > 0, (w, runs[0])
        print(f"ok counts {w}: {len(runs[0])} exact counts repeat")


if __name__ == "__main__":
    which = sys.argv[1:] or ["reader", "faults", "counts"]
    for name in which:
        globals()[f"check_{name}"]()
