#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload em_kernel --seed 1 --seconds 10 --trace 0

Run from the repository root.  Builds graft and the harness from source
when they changed (sbt, offline), generates the workload's corpora from
the seed, runs the harness in one JVM with at most 4 task slots, checks
the outputs, and prints as its last stdout line one JSON object with
`correct`, `attempted`, `failed` and `metrics`.  With --trace 0 the
metrics are BENCHMARK.json's end-to-end metrics, with --trace 1 its
per-layer metrics.  The line before it is the full record of the run
(config, host state, every check), which is also appended to
.bench_build/perfbench/results.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 150
# 3 task slots (fewer on smaller hosts): on a 4-core host one core stays
# free for the driver thread, the JIT compiler and GC, which steadies
# pass times; bigger hosts stay comparable.
CPUS = min(3, os.cpu_count() or 1)
JVM_HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import check  # noqa: E402


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Everything the build reads: graft's build and main sources, and
    the harness's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def build(digest):
    """Compile graft and the harness when the sources changed; return
    the runtime classpath."""
    stamp = os.path.join(OUT, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("digest") == digest:
            return b["classpath"]
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    cps = [line for line in p.stdout.splitlines()
           if not line.startswith("[") and ".jar" in line and os.pathsep in line]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        die(f"build failed (sbt exit {p.returncode})")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cps[-1], "build_s": time.time() - t0}, f)
    return cps[-1]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_harness(args, classpath, work):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--gen", os.path.join(HERE, "gen.py"), "--cpus", str(CPUS)]
    log = open(os.path.join(work, "harness.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        die(f"harness did not finish within {RUN_TIMEOUT_S} s (log: {log.name})")
    finally:
        log.close()
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        die(f"harness exited with {rc}")
    with open(result_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark, one run of one workload")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(bench_json):
        die("graft's sources or BENCHMARK.json are missing; run from a full checkout")
    with open(bench_json) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")

    os.makedirs(OUT, exist_ok=True)
    digest = source_digest()
    classpath = build(digest)
    work = os.path.join(OUT, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    t0 = time.time()
    result = run_harness(args, classpath, work)
    t1 = time.time()
    checks = check.run_checks(result)
    result["phases"].update(jvm_s=t1 - t0, checks_s=time.time() - t1)
    failed_checks = [c for c in checks if not c[1]]
    attempted = result["calls_attempted"] + len(checks)
    failed = result["calls_failed"] + len(failed_checks)

    if args.trace:
        layer = result["layer"]
        unknown = set(layer) - {m["name"] for m in spec["per_layer"]}
        if unknown:
            die(f"harness reported metrics BENCHMARK.json does not list: {sorted(unknown)}")
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        with open(os.path.join(work, "trace.json")) as f:
            trace = json.load(f)
        with open(os.path.join(OUT, "traces", f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(dict(trace, workload=args.workload, seed=args.seed), f)
    else:
        metrics = {m["name"]: {"value": float(result[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    with open(os.path.join(result["check_corpus"], "truth.json")) as f:
        truth = json.load(f)
    tables = truth["tables"]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "metrics": metrics,
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "ops_failed_share": failed / attempted,
        "warmup_passes_s": result["warmup_passes"], "passes_s": result["passes"],
        "calls_s": result["calls"],
        "phases_s": result["phases"], "errors": result["errors"],
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "config": dict(result["host"], files_per_table={t: v["files"] for t, v in tables.items()},
                       rows_per_table={t: v["rows"] for t, v in tables.items()},
                       observations=truth.get("hmm", {}).get("observations"),
                       git_commit=git_commit(), source_digest=digest),
        "retained_heap": {k: result[k] for k in ("heap_start_mb", "heap_end_mb")},
    }
    with open(os.path.join(OUT, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    for n, _, d in failed_checks:
        print(f"perfbench: check failed: {n}: {d}", file=sys.stderr)
    for e in result["errors"]:
        print(f"perfbench: call failed: {e}", file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
