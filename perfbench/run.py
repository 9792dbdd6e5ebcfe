"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --record     # re-record perfbench/expected.tsv

Run from the root of a checkout.  Builds the program from source on first
use (``build.py``), generates the workload's inputs from the seed
(``gen.py``), runs one JVM with Spark ``local[N]`` (``src/perfbench``) and
prints ``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Everything it writes goes under ``.bench_build/`` (``$CARGO_TARGET_DIR`` when
set) and the per-run directory is removed at the end.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("replicate", "graph_loops")
JVM_TIMEOUT_S = 170
def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the graph_loops fingerprints into perfbench/expected.tsv")
    a = ap.parse_args()
    if not a.record and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources not found: run from the root of a full checkout")

    import build
    import gen

    out_root = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    base = os.path.join(out_root, "data", "base")
    gen.gen_base(base)
    jar, cds = build.build(out_root, base)
    if a.record or a.workload == "graph_loops":
        base = os.path.join(out_root, "data", "graph")
        gen.gen_base(base, gen.SF_GRAPH)
    if a.record:
        tmp = os.path.join(out_root, "record-tmp")
        os.makedirs(tmp, exist_ok=True)
        subprocess.run(build.java_cmd(jar, cds=cds) +
                       [f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.localDir={tmp}", "perfbench.Main",
                        "--record", os.path.join(HERE, "expected.tsv"), "--base", base], check=True)
        shutil.rmtree(tmp, ignore_errors=True)
        return

    run_dir = os.path.join(out_root, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    results = os.path.join(out_root, "results")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work, tmp = (os.path.join(run_dir, d) for d in ("inputs", "work", "tmp"))
    for d in (inputs, work, tmp, results):
        os.makedirs(d, exist_ok=True)
    if a.workload == "replicate":
        gen.gen_replicate(a.seed, base, inputs)
    else:
        gen.gen_graph_loops(inputs)
    # Write back the build's and the generator's files before measuring, so
    # that page-cache writeback does not run during the window.
    os.sync()

    out = os.path.join(results, f"{a.workload}-{a.seed}-{a.trace}.json")
    log = os.path.join(results, f"{a.workload}-{a.seed}-{a.trace}.log")
    cmd = (build.java_cmd(jar, cds=cds) +
           [f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.localDir={tmp}",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--base", base,
            "--inputs", inputs, "--work", work, "--out", out,
            "--expected", os.path.join(HERE, "expected.tsv")])
    try:
        with open(log, "w") as err:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"the JVM did not finish within {JVM_TIMEOUT_S} s; see {log}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"the JVM exited with code {p.returncode} and no result; see {log}")
    result = json.loads(lines[-1])
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
