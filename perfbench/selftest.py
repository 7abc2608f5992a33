#!/usr/bin/env python3
"""Self-test of the benchmark, with a one-second run.

    python3 perfbench/selftest.py      # from the repository root, ~3 min

Checks that
- every metric BENCHMARK.json names is printed, with its unit, by an
  untraced (end-to-end) and a traced (per-layer) run, and both pass;
- the passes ran on the processors run.py sets aside for them;
- a corrupted expected result makes the run fail after printing metrics;
- the same seed gives the same query order, and another seed another;
- unknown or empty workload names, and a checkout holding only
  BENCHMARK.json and the benchmark's files, exit non-zero with no result.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def bench(args, cwd="."):
    r = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return r.returncode, r.stdout, result


def metrics_match(result, specs, label):
    got = result["metrics"] if result else {}
    want = {m["name"]: m["unit"] for m in specs}
    check(set(got) == set(want), f"{label}: metric names are exactly BENCHMARK.json's")
    check(all(got.get(k, {}).get("unit") == u for k, u in want.items()),
          f"{label}: every metric carries its unit")
    check(all(isinstance(got.get(k, {}).get("value"), (int, float)) for k in want),
          f"{label}: every metric has a numeric value")


def cpu_list(text):
    """The processor set of a Cpus_allowed_list such as '2-3' or '0,2'."""
    cpus = set()
    for part in filter(None, text.split(",")):
        lo, _, hi = part.partition("-")
        if not lo.isdigit() or not (hi or lo).isdigit():
            return None
        cpus.update(range(int(lo), int(hi or lo) + 1))
    return cpus


def orders(seed, workload):
    classes = build.ensure_built(".")
    r = subprocess.run(run.java(classes, os.path.abspath(run.RUN_DIR))
                       + ["order", workload, str(seed), "0", "0", "-", "-", "0"],
                       capture_output=True, text=True, timeout=120)
    return r.stdout.split("\n")[:3]


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    # the cheapest workload keeps the self-test short
    w = "graph_fixpoint" if "graph_fixpoint" in names else names[0]
    base = ["--workload", w, "--seed", "7", "--seconds", "1"]

    rc, out, res = bench(base + ["--trace", "0"])
    check(rc == 0 and res is not None and res["correct"] and res["failed"] == 0,
          f"untraced {w} run passes (rc {rc})")
    metrics_match(res, spec["end_to_end"], "untraced")
    check(res is not None and res["attempted"] >= 1, "attempted is at least 1")
    pass0 = next((ln.split(": ", 1)[1] for ln in out.splitlines()
                  if ln.startswith("order of pass 0: ")), "")
    ran_on = next((ln.rsplit(" ", 1)[1] for ln in out.splitlines()
                   if ln.startswith("passes ran on processors ")), "")
    check(cpu_list(ran_on) == run.measured_cpus(),
          f"the passes ran on the measured processors ({ran_on})")

    rc, out, res = bench(base + ["--trace", "1"])
    check(rc == 0 and res is not None and res["correct"], f"traced {w} run passes (rc {rc})")
    metrics_match(res, spec["per_layer"], "traced")
    check("tracing overhead" in out, "traced run prints the tracing overhead")

    with open(os.path.join(run.RUN_DIR, "out", f"{w}_s7_t0", "result.json")) as f:
        victim = json.load(f)["verify"][0]["name"]
    rc, out, res = bench(base + ["--trace", "0", "--corrupt", victim])
    check(rc != 0, f"a corrupted expected result of {victim} fails the run (rc {rc})")
    check(res is not None and not res["correct"] and res["failed"] >= 1,
          "the failing run still prints its metrics, with correct=false")
    check(f"MISMATCH {victim}" in out, "the mismatch is named")

    a, b, c = orders(7, w), orders(7, w), orders(8, w)
    check(a == b and all(a), "the same seed gives the same query orders")
    check(a != c, "another seed gives other query orders")
    check(a[0] == pass0, "the run used the order the seed defines")
    check(len(set(a)) > 1, "each pass gets its own order")

    for bad in ("no_such_workload", ""):
        rc, out, res = bench(["--workload", bad, "--seed", "1", "--seconds", "1", "--trace", "0"])
        check(rc != 0 and res is None, f"workload name {bad!r} is refused (rc {rc})")
    classes = build.ensure_built(".")
    r = subprocess.run(run.java(classes, os.path.abspath(run.RUN_DIR))
                       + ["run", "no_such_workload", "1", "1", "0", "-", "-", "0"],
                       capture_output=True, text=True, timeout=120)
    check(r.returncode != 0, "the harness refuses an unknown workload too")

    bare = os.path.join(run.RUN_DIR, "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("perfbench", os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out, res = bench(["--workload", w, "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=bare)
    check(rc != 0 and res is None, f"a checkout without the engine exits non-zero (rc {rc})")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"selftest: {len(failures)} failed" if failures else "selftest: all checks passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
