#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its metrics.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload surface --seed 1 --seconds 12 --trace 0

Builds graft and the Scala runner from source on first use (sbt, into
the checkout), runs the runner (perfbench/src) in a JVM over graft's
sf0.001 test tables (perfbench/data/sf0.001) with the item order of
every pass permuted by the seed, checks its outputs, and prints every
metric with its unit. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The full record (per-query rows, spans) is written next to the run's
scratch files under .bench_build/. Exits 1 when an output check failed
(after printing the record) and 2 when the run could not be made.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data", "sf0.001")
JVM_TIMEOUT_S = 170


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft + the runner with sbt unless this source is built."""
    stamp_file = os.path.join(BUILD, "stamp")
    launcher = os.path.join(BENCH, "target", "launcher.txt")
    stamp = source_stamp()
    if os.path.exists(launcher) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return launcher
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launcher"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(launcher):
        die(f"build failed (rc={rc}), see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launcher


def table_stats(data):
    """Row count and bytes of every input table."""
    import pyarrow.parquet as pq
    paths = {f[:-len(".parquet")]: os.path.join(data, f) for f in sorted(os.listdir(data))}
    return {t: {"rows": pq.ParquetFile(p).metadata.num_rows, "bytes": os.path.getsize(p)}
            for t, p in paths.items()}


def run_jvm(launcher, args, work, result):
    with open(launcher) as f:
        opts = [line.rstrip("\n") for line in f if line.strip()]
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"] + opts + ["perfbench.Main"]
    for k in ("workload", "seed", "seconds", "trace"):
        cmd += [f"--{k}", str(getattr(args, k))]
    cmd += ["--data", work["data"], "--work", work["dir"], "--result", result]
    log = os.path.join(work["dir"], "jvm.log")
    t0 = time.time()
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"runner timed out after {JVM_TIMEOUT_S}s, see {log}")
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            tail = "".join(f.readlines()[-20:])
        die(f"runner failed (rc={rc}), see {log}; its last lines:\n{tail}")
    return t0


def check_outputs(data, out_dir, items):
    """tools/check.py over the check-pass outputs: (name -> failure text,
    names it gave a verdict for). DuckDB can abort at interpreter exit
    after every verdict is printed; such a run counts when no item is
    missing, else it is retried."""
    for _ in range(3):
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, out_dir],
                           capture_output=True, text=True)
        fails, seen = {}, set()
        for line in p.stdout.splitlines():
            parts = line.split(None, 1)
            if len(parts) < 2:
                continue
            verdict, rest = parts[0], parts[1]
            name = rest.split(":")[0].split(" ")[0]
            seen.add(name)
            if verdict == "FAIL":
                fails[name] = rest[len(name):].strip(": ")[:300]
        if p.returncode in (0, 1) or set(items) <= seen:
            return fails, seen
    die(f"tools/check.py crashed (rc={p.returncode}): {p.stderr[-500:]}")


def quantile(xs, p):
    s = sorted(xs)
    i = p * (len(s) - 1)
    lo, hi = math.floor(i), math.ceil(i)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def tail_percentile(n):
    """Highest 5%-step percentile with at least ten samples beyond it."""
    return max(0.5, math.floor((1 - 10.0 / n) * 20) / 20) if n > 10 else 0.5


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) and
            os.path.isfile(os.path.join(ROOT, "tools", "check.py"))):
        die("run from the root of a graft checkout (build.sbt, src/, tools/ not found)")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")
    units = {kind: {m["name"]: m["unit"] for m in spec[kind]} for kind in ("end_to_end", "per_layer")}

    t_build = time.time()
    launcher = build()
    build_s = time.time() - t_build

    work_dir = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    result_file = os.path.join(work_dir, "result.json")
    popen_t = run_jvm(launcher, args, {"dir": work_dir, "data": DATA}, result_file)
    with open(result_file) as f:
        r = json.load(f)

    # output check, outside the timed passes
    failures = {k: f"threw: {v}" for k, v in r["errors"].items()}
    failures.update({k: f"check: {v}" for k, v in r["checks"].items()})
    for i, e in enumerate(r.get("kernel_errors", [])):
        failures[f"kernel#{i}"] = e
    queries = [q for q in r["items"] if not q.startswith("etl_")]
    fails, seen = check_outputs(DATA, os.path.join(work_dir, "out"), queries)
    for q in queries:
        if q in fails:
            failures.setdefault(q, f"oracle: {fails[q]}")
        elif q not in seen and q not in failures:
            failures[q] = "check: no output"
    attempted = len(r["items"]) + r.get("kernel_checks", 0)
    failed = len(failures)

    launch_s = r["main_start_ms"] / 1000.0 - popen_t
    setup_s = launch_s + statistics.median(r["round_s"]) + r["warm_s"]
    samples = [s for _, s in r["samples"]]
    n_ref = len(r["items"]) * r["min_passes"]
    tail_p = tail_percentile(n_ref)
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(r["pass_s"]),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": quantile(samples, tail_p),
        "ok_frac": 1.0 - failed / attempted,
        "heap_retained_mb": r["heap_retained_mb"],
        "write_amp": r["written_bytes"] / r["input_bytes"],
    }
    if args.trace:
        metrics = {k: {"value": r["per_layer"][k], "unit": u} for k, u in units["per_layer"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units["end_to_end"].items()}

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "build_s": build_s, "launch_s": launch_s,
        "inputs": table_stats(DATA),
        "end_to_end": e2e,
        "failed_frac": failed / attempted,
        "query_tail": {"percentile": tail_p, "n_ref": n_ref, "n": len(samples)},
        "failures": failures,
        "jvm": r,
    }
    rec_path = os.path.join(BUILD, f"record-{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)

    for k, m in metrics.items():
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    if args.trace:
        print(f"{args.workload} tracing overhead = {100 * r['per_layer']['trace.overhead_frac']:.1f}% "
              f"of the untraced pass time")
    else:
        print(f"{args.workload} query_tail_s is p{int(round(tail_p * 100))} over "
              f"{len(samples)} samples (n_ref={n_ref})")
    for k, v in failures.items():
        print(f"{args.workload} FAILED {k}: {v}")
    print(f"record: {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
