#!/usr/bin/env python3
"""Regenerates perfbench/expected/sf0.01.tsv, the expected digest of every
job the benchmark runs. Run it from the root of a graft checkout when the
job lists, the fixtures or an entry's intended output change:

    python3 perfbench/capture.py

For each workload it runs the job list in three orders (registry order,
reversed, and seeded with the workload's client count). An entry whose
digest agrees across the three is checked exactly; one whose digest varies
is checked by row count. The same entries are then dumped with graft.Verify
and compared against the DuckDB oracle by tools/self_check.py; that summary
heads the file, and a FAIL there stops the capture.
"""
import os
import subprocess
import sys
import tempfile

import build
import run

OUT = run.EXPECTED


def capture(classes, workload, tmp):
    run_dir = os.path.join(tmp, workload)
    os.makedirs(run_dir)
    code, out = run.run_jvm(classes, [
        "--workload", workload, "--seed", "1", "--mode", "capture", "--fixtures", run.FIXTURES,
        "--expected", os.devnull, "--run-dir", run_dir, "--cpus", str(run.CPUS)], run_dir, timeout=900)
    if code != 0:
        sys.exit(f"capture of {workload} failed (exit {code}); log: {run_dir}/jvm.log")
    seen = {}
    for line in out.splitlines():
        if line.startswith("capture "):
            _, name, order, rows, digest = line.split()
            seen.setdefault(name, {})[order] = (rows, digest)
    return seen


def verify(classes, names, tmp):
    out_dir = os.path.join(tmp, "verify")
    jars = build.spark_jars()
    cmd = ["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", classes + ":" + os.path.join(jars, "*"), "graft.Verify",
            run.FIXTURES, out_dir] + names
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                   env=dict(os.environ, SPARK_GRAFT_CPUS=str(run.CPUS)))
    r = subprocess.run([sys.executable, os.path.join("tools", "self_check.py"), run.FIXTURES,
                        out_dir] + names, stdout=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.split(" ", 1)[0] in ("PASS", "FAIL", "SKIP")]
    return lines, r.returncode


def main():
    classes = build.build()
    rows = []
    with tempfile.TemporaryDirectory(dir=".bench_build") as tmp:
        for w in run.WORKLOADS:
            for name, orders in sorted(capture(classes, w, tmp).items()):
                values = set(orders.values())
                if len(orders) != 3 or any(r == "FAILED" for r, _ in values):
                    sys.exit(f"{name} failed during capture: {orders}")
                counts = {r for r, _ in values}
                if len(counts) != 1:
                    sys.exit(f"{name}: row count differs between orders {orders}")
                kind = "exact" if len(values) == 1 else "rows"
                rows.append((name, kind, counts.pop(), orders["forward"][1]))
        checked, code = verify(classes, [r[0] for r in rows], tmp)
    if code != 0:
        sys.exit("tools/self_check.py reports FAIL:\n" + "\n".join(checked))
    with open(OUT, "w") as f:
        f.write("# expected digests: name, exact|rows, row count, digest "
                "(perfbench/capture.py; fixtures perfbench/fixtures/sf0.01)\n")
        f.write("# graft.Verify + tools/self_check.py on the same entries:\n")
        for l in checked:
            f.write(f"#   {l[:160]}\n")
        for r in rows:
            f.write("\t".join(r) + "\n")
    print(f"wrote {OUT}: {len(rows)} entries, {sum(r[1] == 'rows' for r in rows)} checked by row count")


if __name__ == "__main__":
    main()
