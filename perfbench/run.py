#!/usr/bin/env python3
"""graft's benchmark: submits registry entries as jobs through
GraftEngine.jobs.runJob and times them end to end, checking every job's
full result against an expected digest.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 5 --trace 0

Run it from the root of a graft checkout. The first run builds graft and the
harness (perfbench/build.py). The last stdout line is the result object;
the lines before it name every metric with its unit, the failed operations,
and the host-contamination record. --trace 1 prints the per-layer metrics
and writes the spans file. --selftest checks that a perturbed expected digest
is reported as a failure. See perfbench/BENCHMARK.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "sf0.01.tsv")
WORKLOADS = ("llm_pipeline", "glue_jobs")
CPUS = 4
JVM_TIMEOUT_S = 170
RUNS = os.path.join(".bench_build", "perfbench", "runs")
HISTORY = os.path.join(".bench_build", "perfbench", "history.jsonl")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def other_graft_jvms():
    """Live JVMs running graft code (graft.Bench, graft.Verify, the CLI, a
    test fork, another benchmark run): they would contend for the cores,
    and graft's spool exit hook deletes the shared spool root."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if not argv or not os.path.basename(argv[0]).startswith(b"java"):
            continue
        if any(a.startswith(b"graft.") or b"graft_spool" in a or b"gluettalaxspark" in a
               for a in argv):
            found.append(int(pid))
    return found


def run_jvm(classes, args, run_dir, timeout=JVM_TIMEOUT_S):
    jars = build.spark_jars()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file under /tmp; everything the run
    # writes stays in its run directory
    cmd += ["-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", classes + ":" + os.path.join(jars, "*"), "graft.perfbench.Main"] + args
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log.close()
        fail(f"JVM did not finish within {timeout}s (log: {run_dir}/jvm.log)")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    log.close()
    return proc.returncode, out


def history(workload):
    if not os.path.exists(HISTORY):
        return []
    with open(HISTORY) as f:
        rows = [json.loads(l) for l in f if l.strip()]
    return [r for r in rows if r["workload"] == workload]


def metric_line(name, m):
    return f"{name:<44} {m['value']:.6g} {m['unit']}"


def selftest(classes):
    """Runs three entries: one with only its expected digest perturbed, one
    with only its expected row count perturbed, and one left as it is. Passes
    if exactly the first two are reported, each for its own reason."""
    run_dir = os.path.join(RUNS, "selftest")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    want = {"q5_any_column_match": "digest ", "q263_tpch_q4": "rows "}
    clean = "q31_discover_partitions"
    code, _ = run_jvm(classes, [
        "--workload", "glue_jobs", "--seed", "1", "--seconds", "0", "--trace", "0",
        "--fixtures", FIXTURES, "--expected", EXPECTED, "--run-dir", os.path.abspath(run_dir),
        "--only", ",".join(list(want) + [clean]),
        "--perturb", "q5_any_column_match=hash,q263_tpch_q4=rows"], run_dir)
    if code != 0:
        fail(f"self-test run failed (exit {code}, log: {run_dir}/jvm.log)")
    with open(os.path.join(run_dir, "result.json")) as f:
        r = json.load(f)
    got = {x["op"]: x["reason"] for x in r["failures"]}
    ok = (r["correct"] is False and r["mismatched"] == 2 and sorted(got) == sorted(want)
          and all(got[n].startswith(why) for n, why in want.items()))
    for n, why in want.items():
        print(f"self-test: expected {why.strip()} of {n} perturbed -> {got.get(n, 'not reported')}")
    print(f"self-test: {clean} unperturbed -> {got.get(clean, 'passed')}")
    print(f"self-test: mismatched {r['mismatched']}, correct {r['correct']}: {'PASS' if ok else 'FAIL'}")
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    for path in (FIXTURES, EXPECTED):
        if not os.path.exists(path):
            fail(f"{path} not found")
    if not os.path.exists("BENCHMARK.json"):
        fail("BENCHMARK.json not found: run from the root of a graft checkout")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    others = other_graft_jvms()
    if others:
        fail(f"another graft JVM is running (pids {others}); refusing to start", 3)
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    if a.selftest:
        sys.exit(selftest(classes))

    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    code, _ = run_jvm(classes, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--fixtures", FIXTURES, "--expected", EXPECTED,
        "--run-dir", os.path.abspath(run_dir), "--cpus", str(CPUS)], run_dir)
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail(f"run failed (exit {code}); log: {run_dir}/jvm.log")
    with open(result_path) as f:
        r = json.load(f)
    metrics = r["metrics"]

    c = r["counts"]
    print(f"# workload {a.workload} seed {a.seed} trace {a.trace}: {c['job_list']} entries, "
          f"{c['passes']} passes, {c['jobs']} jobs, {c['artifacts']} artifacts, "
          f"{c['catalog_ops']} catalog ops, {c['micro_batches']} micro-batches")
    for name, m in metrics.items():
        print(metric_line(name, m))
    print(f"# attempted {r['attempted']} failed {r['failed']} mismatched {r['mismatched']}")
    for x in r["failures"]:
        print(f"FAILED {x['op']}: {x['reason']}")
    h = r["host"]
    print(f"# host: foreign {h['foreign_core_s']:.2f} core-s over {h['measured_s']:.1f} s "
          f"({h['foreign_cores']:.2f} cores) -> {'DIRTY' if h['dirty'] else 'clean'}")
    if r["spool_root"] == "graft default":
        print("# warning: graft's spool root could not be redirected; graft's default root was used")
    else:
        print(f"# spool root: {os.path.relpath(r['spool_root'])}")

    build_id = os.path.basename(classes)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "run_id": r["run_id"],
              "time": time.time(), "build": build_id, "dirty": h["dirty"], "host": h,
              "correct": r["correct"],
              "metrics": {k: v["value"] for k, v in metrics.items()}}
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if a.trace:
        # only clean untraced runs of the same build are comparable
        untraced = [x["metrics"]["pass_s"] for x in history(a.workload)
                    if x["trace"] == 0 and x.get("build") == build_id and x.get("dirty") is False]
        if h["dirty"]:
            print("tracing_overhead_s n/a (this traced run is DIRTY)")
        elif untraced:
            over = metrics["pass_s"]["value"] - statistics.median(untraced)
            print(f"tracing_overhead_s {over:.4f} s (traced pass_s minus the median of "
                  f"{len(untraced)} clean untraced runs of this build)")
            record["tracing_overhead_s"] = over
        else:
            print("tracing_overhead_s n/a (no clean untraced run of this workload and build "
                  "in this checkout)")
        spans = os.path.join(RUNS, f"{a.workload}-{a.seed}-spans.jsonl")
        shutil.copyfile(os.path.join(run_dir, "spans.jsonl"), spans)
        print(f"# spans: {spans}")
    os.makedirs(os.path.dirname(HISTORY), exist_ok=True)
    with open(HISTORY, "a") as f:
        f.write(json.dumps(record) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)

    missing = [n for n in wanted if n not in metrics]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    print(json.dumps({
        "correct": bool(r["correct"]), "attempted": int(r["attempted"]), "failed": int(r["failed"]),
        "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]} for n in wanted},
    }))


if __name__ == "__main__":
    main()
