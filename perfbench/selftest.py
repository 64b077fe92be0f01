"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/selftest.py          # all checks, about five minutes

Checks:
  1. the same seed gives byte-identical inputs and identical oracle digests;
  2. another seed gives different inputs;
  3. BENCHMARK.json is well-formed, and every metric a run emits, traced or
     not, on every workload, matches [A-Za-z0-9_.-]+ and is declared there;
  4. a deliberately wrong expected digest is counted as a failed operation.
"""
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_out", "selftest")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
SMALL = {"tpch-cind": 3000, "hub-cind": 3000}
failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def same_tree(a, b):
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and \
        filecmp.cmpfiles(a, b, names, shallow=False)[0] == names


def inputs(program):
    tmp = os.path.join(WORK, "duckdb")
    for shape in ("tpch", "hub"):
        dirs = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(WORK, f"{shape}-{tag}")
            if shape == "tpch":
                gen.write_tpch(d, seed, 3000, program["schemas"])
                gen.check_tpch(d, program["schemas"])
            else:
                gen.write_hub(d, seed, 3000)
            dirs[tag] = d
        check(same_tree(dirs["a"], dirs["b"]), f"{shape}: same seed, byte-identical inputs")
        check(not same_tree(dirs["a"], dirs["c"]), f"{shape}: another seed, other inputs")
        workload = "tpch-cind" if shape == "tpch" else "hub-cind"
        dig = []
        for tag in ("a", "b"):
            hub = sorted(os.path.join(dirs[tag], f) for f in os.listdir(dirs[tag])
                         if f.endswith(".nt"))
            dig.append(oracle.expected(workload, program, dirs[tag], hub, tmp))
        check(dig[0] == dig[1] and dig[0]["cind_minimal"][1] > 0,
              f"{shape}: same seed, identical non-empty oracle digests")


def declared():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    check(all(NAME_RE.match(n) for n in names) and len(names) == len(set(names)),
          "BENCHMARK.json: metric names valid and unique")
    check(len(bench["per_layer"]) <= 128 and 1 <= len(bench["end_to_end"]) <= 16,
          "BENCHMARK.json: metric counts within limits")
    check(all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"]),
          "BENCHMARK.json: workload reasons are one line of at most 200 characters")
    return bench


def run(workload, trace, extra=()):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", str(SMALL[workload])] + list(extra),
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def emitted(bench):
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = run(w, trace)
            want = [m["name"] for m in bench[key]]
            ok = rc == 0 and res is not None and res["correct"] and \
                sorted(res["metrics"]) == sorted(want) and \
                all(NAME_RE.match(n) for n in res["metrics"])
            check(ok, f"{w} --trace {trace}: correct, emits exactly the declared metrics")


def wrong_digest():
    rc, res = run("tpch-cind", 0, ["--corrupt-oracle"])
    check(rc == 0 and res is not None and not res["correct"]
          and res["failed"] == res["attempted"] >= 1,
          "a wrong expected digest is counted as a failed operation")


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    program = json.load(open(build.build(os.path.join(ROOT, ".bench_build"))))
    inputs(program)
    bench = declared()
    emitted(bench)
    wrong_digest()
    shutil.rmtree(WORK, ignore_errors=True)
    print("ALL OK" if not failures else f"{len(failures)} FAILED")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
