#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_library|service_read|service_mixed \
        --seed N --seconds S --trace 0|1

The first run builds graft and the harness with sbt (perfbench/build.sbt)
and caches the classpath under perfbench/target; later runs reuse it
until a source file changes. Every run writes its generated inputs to a
fresh directory under .perfbench_work/, and the benchmark process keeps
Spark scratch, the warehouse and the server roots in a directory of its
own under graft's scratch tier (graft.Scratch.localDir: tmpfs when there
is one); both are removed at the end.

Output: a `report {...}` line with the workload's named metrics, a
`host {...}` line (nproc, heap, Spark version, seed, CPU steal share),
and last the result object
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
With --trace 1 the metrics are the per-layer ones and the spans are
kept in .perfbench_work/spans-<workload>-<seed>.jsonl.
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
STAMP = os.path.join(HERE, "target", "perfbench-build.json")
WORKLOADS = ("query_library", "service_read", "service_mixed")
# the run's own deadline: the process must end within 180 s of starting
RUN_LIMIT_S = 170
# Spark 4 on JDK 17 needs these when started outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "build.sbt", "perfbench/build.sbt", "project/build.properties"):
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def ensure_build():
    """Compile graft plus the harness once; return the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    print("perfbench: building with sbt ...", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 3)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def check_manifest(result, traced):
    """Fail unless the result holds exactly the metrics BENCHMARK.json
    declares for this mode (per-layer when traced), each in its unit."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer" if traced else "end_to_end"]}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != declared:
        diff = sorted(set(got.items()) ^ set(declared.items()))
        fail(f"result metrics do not match BENCHMARK.json: {diff}", 6)


def heap_arg():
    """A quarter of physical memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        gb = max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"-Xmx{gb}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", choices=("mix", "all"), default="mix",
                    help="query_library: the measured mix, or all declared queries (one pass)")
    ap.add_argument("--record", help="query_library: write the expected-results file here")
    a = ap.parse_args()
    if a.workload == "all":
        return run_all(a)
    t_start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"graft sources not found under {ROOT}/src; run from a graft checkout")
    classpath = ensure_build()

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        if a.workload == "query_library":
            # the tables are fixed (data seed 42) so results can be checked
            # against the expected file; --seed sets the query order
            subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), data, "--seed", "42"],
                           check=True, timeout=60)
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work", work, "--data", data,
                    "--expected", os.path.join(HERE, "expected", "query_library.tsv")]
        if a.queries == "all":
            jvm_args += ["--queries", "all"]
        if a.record:
            jvm_args += ["--record", os.path.abspath(a.record)]
        cmd = ["java", heap_arg(), f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", classpath,
               "graft.perfbench.Main", *jvm_args]
        limit = None if (a.queries == "all" or a.record) else max(30.0, RUN_LIMIT_S - (time.monotonic() - t_start))
        try:
            proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, text=True, timeout=limit)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {limit:.0f} s", 4)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stdout[-4000:])
            fail(f"benchmark process exited with {proc.returncode}", 5)
        result = json.loads(lines[-1])
        check_manifest(result, a.trace)
        report = next(json.loads(l[len("report "):]) for l in lines if l.startswith("report "))
        host = {k: report[k] for k in ("nproc", "heap_max_mb", "spark_version", "seed", "workload", "traced",
                                       "steal_frac")}
        host["wall_s"] = round(time.monotonic() - t_start, 3)
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            spans = os.path.join(ROOT, ".perfbench_work", f"spans-{a.workload}-{a.seed}.jsonl")
            shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
            host["spans_file"] = spans
        print("report " + json.dumps(report["metrics"]))
        print("host " + json.dumps(host))
        print(json.dumps(result))
    finally:
        scratch_note = os.path.join(work, "scratch_dir")
        if os.path.exists(scratch_note):
            with open(scratch_note) as f:
                scratch = f.read().strip()
            if os.path.basename(scratch).startswith("perfbench-"):
                shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)


def run_all(a):
    """Run the three workloads in turn and print every named metric."""
    reports, results = {}, {}
    for w in WORKLOADS:
        proc = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", str(a.trace)],
                              stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            fail(f"workload {w} failed", proc.returncode or 5)
        reports[w] = json.loads(next(l for l in lines if l.startswith("report "))[len("report "):])
        results[w] = json.loads(lines[-1])
        print(f"{w}: " + ", ".join(f"{k} {v['value']:.6g} {v['unit']}" for k, v in reports[w].items()))
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {w: rep for w, rep in reports.items()}}))


if __name__ == "__main__":
    main()
