#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <geo_join|geo_ingest|relational|dedup>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. It builds graft and the benchmark
from source (perfbench/build.py), sizes the JVM from the machine (threads
from the CPUs this process may use, heap from MemTotal), makes the inputs
from the seed, runs one JVM with a single closed-loop client, checks every
result, and prints one JSON object as the last line of stdout: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1.

Everything it writes goes under .bench_build/ in the checkout: the build,
the relational tables, per-run scratch (removed afterwards) and the kept
run records in .bench_build/results/.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import reldata  # noqa: E402

WORKLOADS = ("geo_join", "geo_ingest", "relational", "dedup")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def threads():
    try:
        return max(1, len(os.sched_getaffinity(0)))
    except AttributeError:
        return max(1, os.cpu_count() or 1)


def heap_mb():
    """An eighth of MemTotal, between 1 and 3 GiB: the inputs are small and
    the machine may be shared."""
    kb = 4 << 20
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return max(1024, min(3072, kb // 8 // 1024))


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_jvm(cp, args, work, log_path):
    # a fixed, pre-touched heap: growing it mid-run (page faults, a bigger
    # G1 footprint) split runs into a fast and a slow mode
    heap = heap_mb()
    cmd = [build.java(), f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+AlwaysPreTouch", "-Xss4m", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument("--corrupt", action="store_true", help="corrupt one result (self-test)")
    a = ap.parse_args()

    spec = load_spec()
    bdir = os.path.join(ROOT, ".bench_build")
    cp = build.build(os.path.join(bdir, "classes"))
    nthreads = threads()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}{'-toy' if a.toy else ''}"
    work = os.path.join(bdir, "run", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--threads", str(nthreads), "--work", work,
                "--out", os.path.join(work, "result.json")]
        if a.toy:
            args.append("--toy")
        if a.corrupt:
            args.append("--corrupt")
        rel = None
        if a.workload == "relational":
            rel = reldata.ensure(os.path.join(bdir, "data"), toy=a.toy, threads=nthreads)
            args += ["--data", rel["dir"]]
        log_path = os.path.join(work, "jvm.log")
        rc = run_jvm(cp, args, work, log_path)
        if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        if rel is not None:
            res["describe"]["digest"] = rel["digest"]
            reldata.oracle_check(res, rel["dir"], nthreads)
        report(res, spec, a, tag, bdir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(res, spec, a, tag, bdir, work):
    attempted, failed = res["attempted"], res["failed"]
    e2e = res["end_to_end"]
    e2e["failed_frac"] = {"value": failed / max(1, attempted), "unit": "fraction"}
    d = res["describe"]
    print(f"workload {res['workload']}  seed {res['seed']}  threads {res['threads']}  "
          f"heap {res['max_heap_mb']} MB  window {res['window_s']:.1f} s  passes {res['passes']}")
    print(f"phases: generation {res['generation_s']:.2f} s, set-ups {res['setup_runs_s']}, "
          f"checks {res['checks_s']:.2f} s, traced extras {res['traced_extras_s']:.2f} s")
    print(f"input digest {d.get('digest', '-')}")
    print(f"sizes {json.dumps(d.get('sizes', {}), sort_keys=True)}")
    print(f"properties {json.dumps(d.get('properties', {}), sort_keys=True)}")
    print("end-to-end:")
    for k, v in e2e.items():
        print(f"  {k:<16} {v['value']:.6g} {v['unit']}")
    print("queries (cold s / warm p50 s / reps / failed):")
    for k, q in sorted(res["queries"].items()):
        print(f"  {k:<22} {q['cold_s']:.4f} / {q['p50_s']:.4f} / {q['reps']} / {q['failed']}")
    for f in res["failures"]:
        print(f"  FAILED {f}")
    if a.trace:
        print("adaptive gates:")
        for g in res["gates"]:
            print(f"  {g['gate']:<28} {g['query']:<22} -> {g['choice']:<12} ({g['stat']}; threshold {g['threshold']})")
        print("per-layer:")
        for k, v in sorted(res["per_layer"].items()):
            print(f"  {k:<32} {v:.6g}")
    os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
    keep = os.path.join(bdir, "results", tag)
    with open(keep + ".json", "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    if res.get("spans"):
        shutil.copy(res["spans"], keep + ".spans.json")
        print(f"spans: {os.path.relpath(keep + '.spans.json', ROOT)}")

    if a.trace:
        metrics = {m["name"]: {"value": res["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for m in metrics.values():
        if not isinstance(m["value"], (int, float)) or math.isnan(m["value"]):
            m["value"] = 0.0
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
