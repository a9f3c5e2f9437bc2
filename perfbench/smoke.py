"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload of ``run.py`` once at ``--size tiny --trace 1`` (a few seconds of
measurement each; Spark start-up and warm-up dominate) and asserts that:

- the run exits 0 and its last line is the result object with exactly the
  keys ``correct``, ``attempted``, ``failed``, ``metrics``;
- every correctness gate passed (``correct``, ``failed == 0``);
- every per-layer metric of ``BENCHMARK.json`` is in the result with its
  unit, every end-to-end metric is printed with its unit, and so is each of
  the workload's own named metrics listed in ``metrics.json``;
- the span file exists and every span has name, start, end, parent, run id.

It also checks that in a directory holding only ``BENCHMARK.json`` and the
benchmark's files the command fails fast without printing a result.
Exits 1 on the first failed assertion.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(ROOT))

from perfbench.run import WORKLOAD_NAMES  # noqa: E402


def fail(msg: str) -> None:
    print(f"SMOKE FAIL: {msg}")
    sys.exit(1)


def check_workload(name: str, bench: dict, spec: dict) -> None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", name, "--seed", "3",
           "--seconds", "2", "--trace", "1", "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        fail(f"{name}: exit {p.returncode}\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().split("\n")
    out = json.loads(lines[-1])
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{name}: result keys {sorted(out)}")
    if not out["correct"] or out["failed"] != 0 or out["attempted"] < 1:
        fail(f"{name}: gates failed\n" + "\n".join(l for l in lines if "FAILED" in l))
    for m in bench["per_layer"]:
        got = out["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            fail(f"{name}: per-layer metric {m['name']} missing or wrong unit: {got}")
    printed = {}
    for line in lines[:-1]:
        mt = re.match(r"^\s+([\w.\-]+) = (\S+) (\S+)$", line)
        if mt:
            printed[mt.group(1)] = mt.group(3)
    wanted = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    wanted.update(spec["workloads"][name]["named"])
    wanted.update(spec["workloads"][name]["layers"])
    for metric, unit in wanted.items():
        if printed.get(metric) != unit:
            fail(f"{name}: printed metric {metric} [{unit}] missing (got {printed.get(metric)})")
    span_line = next((l for l in lines if l.strip().startswith("spans: ")), None)
    if span_line is None:
        fail(f"{name}: no span file reported")
    spans = [json.loads(s) for s in (ROOT / span_line.split("spans: ", 1)[1]).read_text().splitlines()]
    if not spans or not all({"name", "start", "end", "parent", "run_id"} <= set(s) for s in spans):
        fail(f"{name}: malformed spans")
    print(f"smoke ok: {name} ({out['attempted']} checks, {len(spans)} spans)")


def check_without_program(bench: dict) -> None:
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench_work") as tmp:
        shutil.copy(ROOT / "BENCHMARK.json", tmp)
        for path in bench["paths"]:
            shutil.copytree(ROOT / path, Path(tmp) / path,
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            bench["command"] + ["--workload", bench["workloads"][0]["name"], "--seed", "1",
                                "--seconds", "1", "--trace", "0"],
            cwd=tmp, capture_output=True, text=True, timeout=180,
        )
        if p.returncode == 0 or p.stdout.strip():
            fail(f"without the program: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
    print("smoke ok: fails fast without the program")


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec = json.loads((HERE / "metrics.json").read_text())
    (ROOT / ".perfbench_work").mkdir(exist_ok=True)
    check_without_program(bench)
    # every workload run.py knows, including any kept out of BENCHMARK.json
    names = sys.argv[1:] or list(WORKLOAD_NAMES)
    for name in names:
        check_workload(name, bench, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
