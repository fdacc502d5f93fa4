#!/usr/bin/env python3
"""Reads a trace written by a `--trace 1` run and derives the per-layer
metrics from it.

Usage:
    python3 perfbench/trace_report.py .bench_build/traces/<workload>-seed<n>.jsonl

The trace holds a `meta` line (with every pass's wall time, traced or
not), spans (pass > op > fn/action) and one record per Spark job, whose
job group is the id of the op span that ran it. A span's self time is its
duration minus the part of it covered by its children; the self time of
an op (or a pass) outside its jobs is its driver time, `spark.driver_s`.
An op's `fn` span is the call into the library, eager driver work such as
staging builds included; the rest of the op is the action that forces and
checks the result.
"""
import json
import statistics
import sys


def load(path):
    meta, spans, jobs = None, [], []
    for line in open(path):
        rec = json.loads(line)
        kind = rec.pop("type")
        if kind == "meta":
            meta = rec
        elif kind == "span":
            spans.append(rec)
        else:
            jobs.append(rec)
    return meta, spans, jobs


def covered(start, end, intervals):
    """Length of [start, end) covered by the union of the intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_totals(jobs):
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "spark.gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "spark.max_task_s": max([j["max_task_ms"] for j in jobs], default=0) / 1e3,
        "spark.output_mb": sum(j["out_b"] for j in jobs) / 1e6,
        "spark.shuffle_read_mb": sum(j["shr_b"] for j in jobs) / 1e6,
        "spark.shuffle_write_mb": sum(j["shw_b"] for j in jobs) / 1e6,
        "spark.spill_mb": sum(j["spill_b"] for j in jobs) / 1e6,
        "spark.peak_exec_mem_mb": max([j["peak_mem_b"] for j in jobs], default=0) / 1e6,
    }


def analyse(meta, spans, jobs):
    """Per traced pass: job totals, driver time and per-op figures."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    jobs_by_group = {}
    for j in jobs:
        jobs_by_group.setdefault(j["group"], []).append(j)
    cores = meta["cores"]
    out = []
    for p in (s for s in spans if s["kind"] == "pass"):
        wall_us = p["end"] - p["start"]
        ops, pass_jobs = {}, []
        for op in by_parent.get(p["id"], []):
            oj = jobs_by_group.get(str(op["id"]), [])
            pass_jobs += oj
            ivs = [(j["start"], j["end"]) for j in oj]
            fn = [c for c in by_parent.get(op["id"], []) if c["kind"] == "fn"]
            ops[op["name"]] = {
                "wall_s": (op["end"] - op["start"]) / 1e6,
                "fn_s": sum(c["end"] - c["start"] for c in fn) / 1e6,
                "jobs": len(oj),
                "driver_s": (op["end"] - op["start"] - covered(op["start"], op["end"], ivs)) / 1e6,
            }
        t = job_totals(pass_jobs)
        t["spark.driver_s"] = (wall_us - covered(
            p["start"], p["end"], [(j["start"], j["end"]) for j in pass_jobs])) / 1e6
        t["spark.slot_util"] = sum(j["run_ms"] for j in pass_jobs) / 1e3 / (wall_us / 1e6 * cores)
        out.append({"kind": p["attrs"]["pass_kind"], "wall_s": wall_us / 1e6,
                    "staging_new": p["attrs"]["staging_new"],
                    "staging_bytes": p["attrs"]["staging_bytes"], "totals": t, "ops": ops})
    return out


def per_layer(meta, spans, jobs):
    """Name -> (value, unit) for every per-layer metric, plus per-op detail."""
    passes = analyse(meta, spans, jobs)
    warm = [p for p in passes if p["kind"] == "warm"]
    cold = [p for p in passes if p["kind"] == "cold"][0]
    units = {"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
             "spark.slot_util": "ratio"}
    res = {}
    for k in warm[0]["totals"]:
        unit = units.get(k, "s" if k.endswith("_s") else "MB")
        res[k] = (statistics.median(p["totals"][k] for p in warm), unit)

    warm_ops = {}
    for p in warm:
        for name, o in p["ops"].items():
            warm_ops.setdefault(name, []).append(o)
    build_s = 0.0
    for name, os_ in warm_ops.items():
        wall = statistics.median(o["wall_s"] for o in os_)
        res[f"op.{name}_s"] = (wall, "s")
        res[f"op.{name}_jobs"] = (statistics.median(o["jobs"] for o in os_), "count")
        res[f"op.{name}_fn_s"] = (statistics.median(o["fn_s"] for o in os_), "s")
        res[f"op.{name}_driver_s"] = (statistics.median(o["driver_s"] for o in os_), "s")
        if name in cold["ops"]:
            build_s += cold["ops"][name]["wall_s"] - wall

    res["staging.builds"] = (sum(p["staging_new"] for p in warm), "count")
    res["staging.cold_builds"] = (cold["staging_new"], "count")
    res["staging.mb"] = (cold["staging_bytes"] / 1e6, "MB")
    res["staging.build_s"] = (build_s, "s")
    res["staging.cold_jobs"] = (cold["totals"]["spark.jobs"] - res["spark.jobs"][0], "count")

    traced = [p["wall_s"] for p in meta["passes"] if p["kind"] == "warm" and p["traced"]]
    untraced = [p["wall_s"] for p in meta["passes"] if p["kind"] == "warm" and not p["traced"]]
    res["trace.pass_s"] = (statistics.median(traced), "s")
    res["trace.untraced_pass_s"] = (statistics.median(untraced), "s")
    res["trace.overhead_frac"] = (statistics.median(traced) / statistics.median(untraced) - 1,
                                  "fraction")
    return res


def summarize(path):
    return per_layer(*load(path))


def main(path):
    meta, spans, jobs = load(path)
    res = per_layer(meta, spans, jobs)
    print(f"workload {meta['workload']}  seed {meta['seed']}  cores {meta['cores']}")
    width = max(len(k) for k in res)
    for k in sorted(res):
        v, u = res[k]
        print(f"  {k:<{width}}  {v:14.4f} {u}")
    print(f"tracing overhead: traced warm pass {res['trace.pass_s'][0]:.3f} s vs untraced "
          f"{res['trace.untraced_pass_s'][0]:.3f} s ({res['trace.overhead_frac'][0]:+.1%})")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
