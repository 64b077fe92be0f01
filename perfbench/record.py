"""Records one point of the bench trajectory: for every workload and seed,
one untraced and one traced run, each result line and its sidecar trace
kept under perfbench/results/<label>/.

    python3 perfbench/record.py <label> [seed ...]     # default seeds 42 7
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(label, seeds):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    dest = os.path.join(HERE, "results", label)
    os.makedirs(dest, exist_ok=True)
    for w in (x["name"] for x in bench["workloads"]):
        for seed in seeds:
            for trace in (0, 1):
                tag = f"{w}-s{seed}-t{trace}"
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                     "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                     "--trace", str(trace)],
                    cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                    text=True, check=True)
                with open(os.path.join(dest, tag + ".result.json"), "w") as f:
                    f.write(p.stdout.strip().splitlines()[-1] + "\n")
                shutil.copy(os.path.join(ROOT, ".bench_out", tag + ".json"),
                            os.path.join(dest, tag + ".trace.json"))
                print(tag, "recorded", flush=True)


if __name__ == "__main__":
    main(sys.argv[1], [int(s) for s in sys.argv[2:]] or [42, 7])
