"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py            # from the root of a checkout

1. Every output check rejects a deliberately corrupted output (a dropped
   truth pair, a split or merged cluster, a missing top-k row, ...).
2. Each workload runs once untraced and once traced; the last stdout line
   has exactly the result keys, and the metric names and units are the
   ones BENCHMARK.json declares.
3. In a directory holding only BENCHMARK.json and the benchmark's files
   the command exits non-zero without printing a result.

Exits 0 when everything passed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

FAILURES: list[str] = []


def expect(name: str, got: bool, want: bool) -> None:
    status = "ok" if got == want else "FAIL"
    if got != want:
        FAILURES.append(name)
    print(f"[{status}] {name}: check returned {got}, expected {want}")


def check_corruptions() -> None:
    # planted groups: g0 = {1, 2, 3}, flood g1 = {4, 5}; 6 and 7 background
    groups = {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: -7, 7: -8}
    good = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    expect("groups: intact", W.check_groups(good, groups), True)
    expect("groups: member split off", W.check_groups({**good, 3: 3}, groups), False)
    expect("groups: member dropped",
           W.check_groups({k: v for k, v in good.items() if k != 2}, groups), False)
    expect("groups: two groups merged",
           W.check_groups({**good, 4: 1, 5: 1}, groups), False)
    expect("groups: background doc joined a group",
           W.check_groups({**good, 6: 1}, groups), False)

    twins = [(0, 3)]
    rows = [(0, 3, 1), (0, 1, 2), (1, 2, 1), (1, 0, 2),
            (2, 1, 1), (2, 3, 2), (3, 0, 1), (3, 2, 2)]
    expect("topk: intact", W.check_topk(rows, 2, 4, twins), True)
    expect("topk: row dropped", W.check_topk(rows[1:], 2, 4, twins), False)
    no_twin = [(0, 2, 1), *rows[1:]]
    expect("topk: twin missed", W.check_topk(no_twin, 2, 4, twins), False)

    d = (10, 12345)
    expect("simhash: intact", W.check_simhash(d, 3, d), True)
    expect("simhash: pair past the gate", W.check_simhash(d, 7, d), False)
    expect("simhash: pair set changed", W.check_simhash((10, 999), 3, d), False)
    expect("simhash: no pairs", W.check_simhash((0, 0), 0, (0, 0)), False)

    sys.path.insert(0, ROOT)
    import proc

    proc.confine(os.path.join(ROOT, ".bench_work", "selftest"))
    from customer_er_spark.plans.pipeline import recall_vs_truth
    from customer_er_spark.session import get_spark

    spark = get_spark("perfbench-selftest", master="local[1]", shuffle_partitions=1)
    try:
        truth = spark.createDataFrame(
            [("a", "b", 0), ("a", "c", 0), ("b", "c", 0), ("d", "e", 1)],
            "id_l string, id_r string, group_id long")
        members = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f"}

        def rp(m: dict) -> dict:
            df = spark.createDataFrame(list(m.items()), "image_id string, cluster_id string")
            return recall_vs_truth(spark, df, truth)

        expect("recall: intact", W.check_recall(rp(members)), True)
        expect("recall: truth pair dropped", W.check_recall(rp({**members, "c": "c"})), False)
        expect("recall: false merge", W.check_recall(rp({**members, "f": "d"})), False)
        fresh = {"resumed": False}
        full = rp(members)
        expect("increment: intact",
               W.check_increment(fresh, {"incoming": 5}, 5, full), True)
        expect("increment: replayed link",
               W.check_increment({"resumed": True}, {"incoming": 5}, 5, full), False)
        expect("increment: record not merged",
               W.check_increment(fresh, {"incoming": 4}, 5, full), False)
        expect("increment: truth pair dropped",
               W.check_increment(fresh, {"incoming": 5}, 5,
                                 rp({**members, "e": "e"})), False)
    finally:
        proc.stop_spark(spark)
        shutil.rmtree(os.path.join(ROOT, ".bench_work", "selftest"), ignore_errors=True)


def run_bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            name = f"run {wl} --trace {trace}"
            p = run_bench(ROOT, "--workload", wl, "--seed", "3", "--seconds", "1",
                          "--trace", str(trace), "--size", "tiny")
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                FAILURES.append(name)
                print(f"[FAIL] {name}: exit {p.returncode}, no result\n{p.stderr[-2000:]}")
                continue
            units = {k: v["unit"] for k, v in res["metrics"].items()}
            problems = []
            if p.returncode != 0:
                problems.append(f"exit {p.returncode}")
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"keys {sorted(res)}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append("an operation failed")
            if units != declared[trace]:
                problems.append(f"metrics differ from BENCHMARK.json: "
                                f"{set(units) ^ set(declared[trace])}")
            if not all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                problems.append("non-numeric value")
            if problems:
                FAILURES.append(name)
            print(f"[{'FAIL' if problems else 'ok'}] {name}: "
                  f"{'; '.join(problems) or f'{len(units)} metrics'}")


def check_bare_checkout() -> None:
    name = "bare checkout exits non-zero without a result"
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run_bench(d, "--workload", "near_dup_library", "--seed", "1",
                      "--seconds", "1", "--trace", "0")
    bad = p.returncode == 0 or '"metrics"' in p.stdout
    if bad:
        FAILURES.append(name)
    print(f"[{'FAIL' if bad else 'ok'}] {name}: exit {p.returncode}")


def main() -> int:
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    check_corruptions()
    check_bare_checkout()
    check_runs()
    print(f"{len(FAILURES)} failure(s)" + (f": {FAILURES}" if FAILURES else ""))
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
