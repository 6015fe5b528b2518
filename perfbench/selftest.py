"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

For each workload: an untraced run must print every end-to-end metric
of BENCHMARK.json with its unit and report error_rate 0; a traced run
with one injected wrong answer must print every per-layer metric with
its unit and report error_rate > 0. Finally the benchmark must exit
non-zero, printing no result, in a directory holding only
BENCHMARK.json and the benchmark itself.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--turns", "2000", "--seconds", "1"]


def run(root: str, *args: str) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return p.returncode, p.stdout.splitlines()


def printed(lines: list[str]) -> dict[str, tuple[float, str]]:
    out = {}
    for line in lines:
        parts = line.split()
        if len(parts) == 4 and parts[0] == "metric":
            out[parts[1]] = (float(parts[2]), parts[3])
    return out


def check_run(lines: list[str], spec: list[dict]) -> dict:
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    shown = printed(lines)
    for m in spec:
        assert m["name"] in shown, f"{m['name']} not printed"
        assert shown[m["name"]][1] == m["unit"], (m["name"], shown[m["name"]])
        assert res["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    assert set(res["metrics"]) == {m["name"] for m in spec}, sorted(res["metrics"])
    res["error_rate"] = shown["error_rate"][0]
    return res


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (w["name"] for w in bench["workloads"]):
        code, lines = run(ROOT, "--workload", w, "--seed", "1", "--trace", "0", *TINY)
        assert code == 0, (w, code)
        res = check_run(lines, bench["end_to_end"])
        assert res["correct"] and res["failed"] == 0 and res["error_rate"] == 0, (w, res)
        print(f"ok {w} untraced: {res['attempted']} checked, every end-to-end metric printed")

        code, lines = run(
            ROOT, "--workload", w, "--seed", "2", "--trace", "1", "--inject-wrong", "1", *TINY
        )
        assert code == 0, (w, code)
        res = check_run(lines, bench["per_layer"])
        assert not res["correct"] and res["failed"] == 1 and res["error_rate"] > 0, (w, res)
        print(f"ok {w} traced: every per-layer metric printed; injected error -> error_rate {res['error_rate']:.3f}")

    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns(".work", "__pycache__"))
        code, lines = run(bare, "--workload", "batch_build", "--seed", "1", "--trace", "0", *TINY)
        assert code != 0 and not any(line.startswith("{") for line in lines), (code, lines)
        print(f"ok without the program: exit {code}, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
