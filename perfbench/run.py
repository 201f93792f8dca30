"""Benchmark entry point: builds the program, makes the seed's inputs, runs
one workload in a fresh JVM, checks the results against the DuckDB oracle,
and prints the metrics as one JSON line (the last line of stdout).

    python3 perfbench/run.py --workload sql_batch --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. --trace 0 prints the end-to-end metrics
of BENCHMARK.json; --trace 1 makes a separate traced run and prints the
per-layer metrics. A line before the result records the environment, the
input sizes and the sample counts.
"""
import argparse
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
# a run after the build, set-up and oracle check included, ends within this
RUN_DEADLINE_S = 170

# java.base packages Spark reflects into on JDK 17 (as in build.sbt)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def heap_size():
    """Half of MemTotal, clamped to 2..8 GiB (the tier-1 test formula)."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        g = kb // 2097152
    except (OSError, AttributeError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def load_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return spec, bench


def workload_queries(w):
    """(all queries, write-role set, scan-role set) of a workload entry."""
    write, scan = w.get("write", []), w.get("scan", [])
    return w.get("queries", []) + write + scan, set(write), set(scan)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classes, run_dir, queries_file, data, out, seconds, trace, cores, heap, timeout):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{heap}", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=1g",
            "-Dspark.sql.codegen.cache.maxEntries=5000", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", build.classpath(classes), "perfbench.Harness",
              f"data={data}", f"queries={queries_file}", f"out={out}",
              f"seconds={seconds}", f"trace={trace}",
              f"master=local[{cores}]", f"scratch={run_dir}/scratch"])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            lines = [l for l in f if "[perfbench]" in l or "Exception" in l]
        sys.stderr.write("".join(lines[-40:]))
        raise SystemExit(f"perfbench: harness JVM failed ({code})")


def verify(data, dump, timeout):
    """Runs tools/verify_local.py; returns (passed names, failed names)."""
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "verify_local.py"),
                           data, dump], capture_output=True, text=True, timeout=timeout)
    passed = re.findall(r"^PASS (\S+)", proc.stdout, re.M)
    failed = re.findall(r"^FAIL (\S+?):", proc.stdout, re.M)
    for line in proc.stdout.splitlines():
        if line.startswith("FAIL"):
            sys.stderr.write(f"perfbench: oracle {line[:300]}\n")
    return passed, failed


def unstable_hashes(warmups, passes):
    """Queries whose result hash differs from the one of the pass before
    (the set-ups' warm-up passes, the first of which also wrote the checked
    dump, head the chain); failed executions are skipped."""
    chain = list(warmups) + [{q["name"]: q["hash"] for q in p["queries"] if q["ok"]}
                        for p in passes]
    return sorted({n for a, b in zip(chain, chain[1:]) for n in a
                   if a[n] and b.get(n) and a[n] != b[n]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec, bench = load_spec()
    if args.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    names, write, scan = workload_queries(spec["workloads"][args.workload])
    classes = build.build()
    deadline = time.time() + RUN_DEADLINE_S

    run_dir = os.path.join(build.build_dir(), "runs",
                           f"{args.workload}_s{args.seed}_p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        for d in ("tmp", "scratch", "out"):
            os.makedirs(os.path.join(run_dir, d))
        data = os.path.join(run_dir, "data")
        t0 = time.time()
        rows = gen.generate(data, args.seed, spec["fractions"])
        gen_s = time.time() - t0
        order = list(names)
        random.Random(args.seed).shuffle(order)
        queries_file = os.path.join(run_dir, "queries.txt")
        with open(queries_file, "w") as f:
            f.write("\n".join(order) + "\n")
        cores = len(os.sched_getaffinity(0))
        heap = heap_size()
        out = os.path.join(run_dir, "out")
        run_jvm(classes, run_dir, queries_file, data, out, args.seconds, args.trace,
                cores, heap, timeout=deadline - 20 - time.time())
        with open(os.path.join(out, "result.json")) as f:
            result = json.load(f)
        passed, failed_oracle = verify(data, os.path.join(out, "dump"),
                                       timeout=max(5.0, deadline - time.time()))

        timed = result["passes"]
        plain = [p for p in timed if not p["traced"]]
        # executions: every timed pass plus the oracle dump
        attempted = sum(len(p["queries"]) for p in timed) + len(names)
        failed = sum(1 for p in timed for q in p["queries"] if not q["ok"]) \
            + len(result["dump_errors"])
        unstable = unstable_hashes(result["warmup_hashes"], timed)
        wrong = sorted(set(failed_oracle) | set(unstable)
                       | (set(names) - set(passed) - set(failed_oracle)))
        for n in unstable:
            sys.stderr.write(f"perfbench: {n} result hash changed between passes\n")

        if args.trace:
            with open(os.path.join(out, "trace.json")) as f:
                trace = json.load(f)
            values = metrics.per_layer(result, trace)
            values.update(metrics.workload_io(plain, write, scan))
            declared = bench["per_layer"]
        else:
            values = metrics.end_to_end(result, plain)
            declared = bench["end_to_end"]
        units = {m["name"]: m["unit"] for m in declared}
        if set(values) != set(units):
            raise SystemExit("perfbench: metrics differ from BENCHMARK.json: "
                             f"{sorted(set(values) ^ set(units))}")
        info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "cores": result["cores"], "heap": heap,
                "max_heap_mb": result["max_heap_bytes"] / metrics.MB,
                "spark": result["spark_version"], "commit": git_commit(),
                "input_rows": rows, "gen_s": gen_s, "queries": order,
                "timed_passes": len(plain), "traced_passes": len(timed) - len(plain),
                "setups": result["setup_s"], "wrong_results": wrong,
                "query_s": metrics.query_medians(plain),
                "jobs_per_pass": [p["jobs"] for p in plain],
                "failed_queries": sorted({q["name"] for p in timed for q in p["queries"]
                                          if not q["ok"]}),
                "dump_errors": result["dump_errors"]}
        print("# perfbench " + json.dumps(info, sort_keys=True))
        print(json.dumps({
            "correct": not wrong and failed == 0,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in sorted(values)},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
