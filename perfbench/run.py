"""rdfind benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <tpch-cind|hub-cind>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py) if needed, generates
the workload's inputs from the seed (perfbench/gen.py) and their expected
results from the DuckDB oracle (perfbench/oracle.py), both cached per seed
outside every timed region, then runs the JVM harness
(graft.perfbench.Harness) at local[CORES] with -Xmx XMX. The last stdout
line is the result JSON: with --trace 0 every end-to-end metric, with
--trace 1 every per-layer metric of BENCHMARK.json. The full samples and
the trace go to .bench_out/<workload>-s<seed>-t<trace>.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
CORES = 4
XMX = "3g"
SETUPS = 2
HARNESS_TIMEOUT_S = 170
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Input sizes: lineitem rows for the TPC-H shape, triples for the hub shape.
SCALE = {"tpch-cind": ("tpch", 30000),
         "hub-cind": ("hub", 30000)}
TINY = {"tpch": 10000, "hub": 3000}


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def make_inputs(shape, seed, scale, program):
    """Generate (once per seed and size) and self-check one input set."""
    d = os.path.join(ROOT, ".bench_data", f"{shape}-s{seed}-n{scale}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if shape == "tpch":
            gen.write_tpch(tmp, seed, scale, program["schemas"])
        else:
            gen.write_hub(tmp, seed, scale)
        os.rename(tmp, d)
    if shape == "tpch":
        gen.check_tpch(d, program["schemas"])
    return d


def expect_file(workload, program, data_dir, corrupt):
    """Oracle digests for the inputs, cached beside them per oracle SQL."""
    key = hashlib.sha256(json.dumps(program["oracle"], sort_keys=True).encode()).hexdigest()[:12]
    path = os.path.join(data_dir, f"expect-{workload}-{key}.tsv")
    if not os.path.exists(path):
        hub = sorted(os.path.join(data_dir, f) for f in os.listdir(data_dir)
                     if f.endswith(".nt"))
        temp = os.path.join(ROOT, ".bench_build", "tmp", "duckdb")
        oracle.write_expect(path + ".tmp",
                            oracle.expected(workload, program, data_dir, hub, temp))
        os.rename(path + ".tmp", path)
    if not corrupt:
        return path
    # self-test: a deliberately wrong digest must be counted as a failure
    bad = path + ".corrupt"
    with open(path) as f, open(bad, "w") as g:
        for line in f:
            name, cols, n, a, b = line.rstrip("\n").split("\t")
            g.write(f"{name}\t{cols}\t{n}\t{int(a) + 1}\t{b}\n")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int, help="override the input size")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="self-test: check against a wrong digest")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        sys.exit(f"unknown workload {a.workload}")
    declared = bench["per_layer" if a.trace else "end_to_end"]

    build_dir = os.path.join(ROOT, ".bench_build")
    program = json.load(open(build.build(build_dir)))
    shape, scale = SCALE[a.workload]
    scale = a.scale or scale
    data = make_inputs(shape, a.seed, scale, program)
    tiny = make_inputs(shape, 0, TINY[shape], program)
    expect = expect_file(a.workload, program, data, a.corrupt_oracle)

    out_dir = os.path.join(ROOT, ".bench_out")
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out = os.path.join(out_dir, tag + ".result.json")
    sidecar = os.path.join(out_dir, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    local = os.path.join(build_dir, "tmp", "spark")
    cmd = build.java_cmd(build_dir, XMX) + [
        "graft.perfbench.Harness", "run", "--workload", a.workload,
        "--data", data, "--tiny", tiny, "--expect", expect, "--out", out,
        "--sidecar", sidecar, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--setups", str(1 if a.trace else SETUPS), "--cores", str(CORES),
        "--local-dir", local]
    # SIGTERM unwinds through the finally below, so the JVM never outlives us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both inside
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=ROOT,
                            env=dict(os.environ, SPARK_LOCAL_DIRS=local))
    try:
        rc = proc.wait(timeout=HARNESS_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("harness timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"harness failed with exit code {rc}")
    res = json.load(open(out))

    names = [m["name"] for m in declared]
    got = res["metrics"]
    bad = [n for n in got if not NAME_RE.match(n) or n not in names]
    missing = [n for n in names if n not in got]
    if bad or missing:
        sys.exit(f"metrics not as declared: undeclared {bad}, missing {missing}")
    units = {m["name"]: m["unit"] for m in declared}
    wrong_unit = [n for n in names if got[n]["unit"] != units[n]]
    if wrong_unit:
        sys.exit(f"metric units differ from BENCHMARK.json: {wrong_unit}")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    for n in names:
        log(f"{n} = {got[n]['value']} {got[n]['unit']}")
    print(json.dumps({
        "correct": attempted >= 1 and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": got[n]["value"], "unit": got[n]["unit"]} for n in names},
    }))


if __name__ == "__main__":
    main()
