"""Self-test of the benchmark on small inputs.

    python3 perfbench/selftest.py            # from the repository root

For every workload it makes two short runs on a small seed: a traced
run, which must report every ``per_layer`` metric of ``BENCHMARK.json``
with its unit, pass its correctness checks and its trace self-check
(``trace.check_trace``: root spans cover the timed wall time, spans
nest, every joined job ran inside its action and has a stage); and an
untraced run with one expected result deliberately corrupted, which
must report every ``end_to_end`` metric with its unit and count the
mismatch as failed instead of crashing. It also checks that the command
fails without printing a result in a directory that holds only
``BENCHMARK.json`` and the benchmark.

The inputs are sf0.01: at sf0.001 the lake table's key range is smaller
than one 400-row merge batch draws from.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALL_SF = "0.01"


def run(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--sf", SMALL_SF, *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
    return proc.returncode, result, json.dumps(detail) if detail else proc.stderr[-2000:]


def expect(ok: bool, what: str, problems: list[str]) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        problems.append(what)


def check_metrics(result: dict, spec: list[dict], what: str, problems: list[str]) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in spec}
    expect(set(got) == set(want), f"{what}: every metric emitted", problems)
    expect(all(got[k]["unit"] == u for k, u in want.items() if k in got),
           f"{what}: every unit as declared", problems)
    expect(all(isinstance(v["value"], (int, float)) for v in got.values()),
           f"{what}: numeric values", problems)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems: list[str] = []

    for wl in [w["name"] for w in bench["workloads"]]:
        code, res, info = run(wl, "--trace", "1")
        expect(code == 0 and res is not None, f"{wl} traced run completes", problems)
        if res is None:
            print(info)
            continue
        check_metrics(res, bench["per_layer"], f"{wl} traced", problems)
        expect(res["correct"] and res["failed"] == 0,
               f"{wl} traced run correct and self-consistent", problems)
        if not res["correct"]:
            print(info)

        code, res, info = run(wl, "--trace", "0", "--corrupt-expected")
        expect(code == 0 and res is not None, f"{wl} corrupted run completes", problems)
        if res is None:
            print(info)
            continue
        check_metrics(res, bench["end_to_end"], f"{wl} untraced", problems)
        expect(not res["correct"] and 1 <= res["failed"] <= res["attempted"],
               f"{wl} corrupted expectation counted as failed", problems)

    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _ = run("interactive", "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and res is None, "fails without the engine, printing no result", problems)

    print(f"\n{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
