#!/usr/bin/env python3
"""graft benchmark: one run of one workload, printed as one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload enc_io --seed 1 --seconds 10 --trace 0

Builds the library and the harness from source on first use (sbt, into
.bench_build/), starts one JVM with a local[nproc] session, and runs the
workload: set-up with two untimed warm-up passes, warm passes until
--seconds are used (three at least), then one pass with the staging root
emptied. Every operation's
output is checked. The last stdout line is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it is a report with every figure of the run.

--inject-fault digest|key|restage makes the run wrong on purpose (a
corrupted expected digest, the wrong decryption key for enc_io, or the
staging root emptied before the first warm pass, which must then reuse
what the warm-up staged); the run must then report failed > 0.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
DATA = os.path.join(BENCH, "data", "sf0.1")
SPARK_HOME = os.environ.get("SPARK_HOME") or (
    os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if shutil.which("spark-submit") else "")
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
JVM_TIMEOUT_S = 170
sys.path.insert(0, BENCH)
import trace_report  # noqa: E402

WORKLOADS = json.load(open(os.path.join(BENCH, "workloads.json")))


def workload_ops(name):
    """The query keys of a workload; a workload made of parts runs the
    keys of every part."""
    spec = WORKLOADS[name]
    return [k for part in spec.get("parts", []) for k in workload_ops(part)] + spec.get("ops", [])

# warm passes per run, at the least
MIN_WARM = 3


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile library + harness unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found; run from the repository root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    if os.path.exists(repo_cfg):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Compile/copyResources"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log in {log})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def check_spark():
    if not os.path.isdir(SPARK_JARS):
        fail("no Spark installation found: set SPARK_HOME")


def check_data():
    sums = os.path.join(BENCH, "data", "SHA256SUMS")
    if not os.path.exists(sums):
        fail("input tables missing (perfbench/data)")
    for line in open(sums):
        digest, name = line.split()
        path = os.path.join(DATA, name)
        if not os.path.exists(path):
            fail(f"input table missing: {path}")
        if hashlib.sha256(open(path, "rb").read()).hexdigest() != digest:
            fail(f"input table changed: {path}")


def private_tmp_prefix(tmp_dir):
    """Command prefix that gives the JVM its own /tmp, bound to a dir in
    the checkout, so the library's fixed staging root (/tmp/graft_q)
    belongs to this run alone. Empty when mount namespaces are not
    available; the JVM then refuses a staging root it did not create."""
    probe = ["unshare", "-Urm", "true"]
    try:
        if subprocess.call(probe, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL) != 0:
            return []
    except OSError:
        return []
    return ["unshare", "-Urm", "sh", "-c",
            'mount --bind "$0" /tmp && exec "$@"', tmp_dir]


def java_cmd(run_dir, *main_args):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # The heap cap of the repository's own launchers; the heap grows from
    # G1's default start, so peak RSS follows what the program uses.
    return ["java", *opens, "-Xmx8g",
            f"-Djava.io.tmpdir={run_dir}/jtmp",
            f"-Dspark.local.dir={run_dir}/spark",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{SPARK_JARS}/*", *main_args]


def run_jvm(args, run_dir):
    for d in ("tmp", "jtmp", "spark", "enc"):
        os.makedirs(os.path.join(run_dir, d))
    ops = workload_ops(args.workload)
    expected = json.load(open(os.path.join(BENCH, "expected_digests.json")))
    cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "data": DATA, "inject": args.inject_fault or "",
        "ops": ops, "expected": {k: expected[k] for k in ops if k in expected},
        "scratch": os.path.join(run_dir, "enc"), "min_warm": MIN_WARM,
        "result_out": os.path.join(run_dir, "result.json"),
        "trace_out": os.path.join(run_dir, "trace.jsonl"),
    }
    config_path = os.path.join(run_dir, "config.json")
    cfg["t0_us"] = int(time.time() * 1e6)
    with open(config_path, "w") as fh:
        json.dump(cfg, fh)
    log_path = os.path.join(run_dir, "jvm.log")
    cmd = private_tmp_prefix(os.path.join(run_dir, "tmp")) + java_cmd(run_dir, "perfbench.Main", config_path)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    log_text = open(log_path, errors="replace").read()
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    shutil.copyfile(log_path, os.path.join(BUILD, "logs", f"{args.workload}-seed{args.seed}.log"))
    if rc != 0 or not os.path.exists(cfg["result_out"]):
        sys.stderr.write(log_text[-6000:])
        fail(f"benchmark JVM ended with {rc}")
    result = json.load(open(cfg["result_out"]))
    trace_path = None
    if args.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        trace_path = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        shutil.copyfile(cfg["trace_out"], trace_path)
    return result, trace_path


def host_sample():
    """(1-minute load average, cpu ticks stolen by the hypervisor, all
    cpu ticks) as the host reports them now."""
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return load, (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def host_figures(before, after):
    """The load the box was under during the run: the load average at its
    start (before the benchmark's own JVM) and end, and the share of cpu
    time the hypervisor gave to other guests."""
    total = max(after[2] - before[2], 1)
    return {
        "host.loadavg_start": (before[0], "load"),
        "host.loadavg_end": (after[0], "load"),
        "host.steal_frac": ((after[1] - before[1]) / total, "fraction"),
    }


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(result):
    passes = result["passes"]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    cold = [p for p in passes if p["kind"] == "cold"]
    return {
        "pass_s": (median([p["wall_s"] for p in warm]), "s"),
        "pass_cpu_s": (median([p["cpu_s"] for p in warm]), "s"),
        "cold_pass_s": (cold[0]["wall_s"], "s"),
        "setup_s": (result["setup_s"], "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }


def op_medians(result):
    """Median wall time of each operation over the untraced warm passes."""
    times = {}
    for p in result["passes"]:
        if p["kind"] == "warm" and not p["traced"]:
            for o in p["ops"]:
                times.setdefault(o["name"], []).append(o["wall_s"])
    return {k: median(v) for k, v in times.items()}


def enc_io_figures(result):
    """Throughput and on-disk overhead of the enc_io steps (MB/s of the
    plain parquet bytes of the same frame)."""
    rep = result["report"]
    ops = op_medians(result)
    base_mb = rep["plain_bytes"] / 1e6
    values = rep["encrypted_values"]
    return {
        "enc_write_mb_s": (base_mb / ops["enc_write"], "MB/s"),
        "enc_read_sel_mb_s": (base_mb / ops["enc_read_sel"], "MB/s"),
        "enc_read_all_mb_s": (base_mb / ops["enc_read_all"], "MB/s"),
        "pme_write_mb_s": (base_mb / ops["pme_write"], "MB/s"),
        "pme_read_mb_s": (base_mb / ops["pme_read"], "MB/s"),
        "enc_bytes_ratio": (rep["enc_bytes"] / rep["plain_bytes"], "ratio"),
        "pme_bytes_ratio": (rep["pme_bytes"] / rep["plain_bytes"], "ratio"),
        "plain_mb": (base_mb, "MB"),
        "crypto.enc_write_s": (ops["enc_write"], "s"),
        "crypto.enc_read_sel_s": (ops["enc_read_sel"], "s"),
        "crypto.enc_read_all_s": (ops["enc_read_all"], "s"),
        "crypto.write_ns_per_value": ((ops["enc_write"] - ops["plain_write"]) / values * 1e9, "ns"),
        "crypto.read_ns_per_value": ((ops["enc_read_all"] - ops["plain_read"]) / values * 1e9, "ns"),
        "crypto.manifest_read_s": (ops["manifest_read"] / rep["manifest_reps"], "s"),
        "crypto.kms_unwrap_us": (ops["kms_unwrap"] / (rep["unwrap_reps"] * 3) * 1e6, "us"),
        "crypto.pme_write_s": (ops["pme_write"], "s"),
        "crypto.pme_read_s": (ops["pme_read"], "s"),
        "parquet.plain_write_s": (ops["plain_write"], "s"),
        "parquet.plain_read_s": (ops["plain_read"], "s"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", choices=("digest", "key", "restage"))
    args = ap.parse_args()

    check_spark()
    check_data()
    build()
    run_dir = os.path.join(BUILD, "runs", str(os.getpid()))
    os.makedirs(run_dir)
    host_before = host_sample()
    try:
        result, trace_path = run_jvm(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host = host_figures(host_before, host_sample())

    probes = [p["probe"] for p in result["passes"] if p.get("probe")]
    ops = [o for p in result["passes"] for o in p["ops"]] + probes
    failed = sum(1 for o in ops if o["error"] is not None)
    attempted = len(ops)
    figures = end_to_end(result)
    figures["failed_frac"] = (failed / attempted, "fraction")
    warm = [p for p in result["passes"] if p["kind"] == "warm" and not p["traced"]]
    figures["pass_max_s"] = (max(p["wall_s"] for p in warm), "s")
    figures["warm_passes"] = (len(warm), "count")
    figures["jvm.peak_heap_mb"] = (result["peak_heap_mb"], "MB")
    figures["jvm.jit_s"] = (median([p["jit_s"] for p in warm]), "s")
    figures["jvm.gc_s"] = (median([p["gc_s"] for p in warm]), "s")
    figures["drift.probe_s"] = (median([p["wall_s"] for p in probes]), "s")
    figures.update(host)
    if args.workload == "enc_io" and failed == 0:
        figures.update(enc_io_figures(result))
    if trace_path:
        figures.update(trace_report.summarize(trace_path))
    for name, secs in sorted(op_medians(result).items()):
        figures.setdefault(f"op.{name}_s", (secs, "s"))
    report = {"workload": args.workload, "seed": args.seed,
              "errors": sorted({f'{o["name"]}: {o["error"]}' for o in ops if o["error"]}),
              "figures": {k: {"value": v, "unit": u} for k, (v, u) in figures.items()},
              "detail": result["report"]}
    print(json.dumps(report))

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    wrong = [m["name"] for m in wanted
             if m["name"] not in figures or figures[m["name"]][1] != m["unit"]]
    if wrong:
        fail(f"metrics not measured or in another unit: {wrong}")
    metrics = {m["name"]: {"value": figures[m["name"]][0], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
