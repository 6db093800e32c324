"""The benchmark's self-test, at tiny size (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Checks that:
- the same seed generates byte-identical inputs twice, and another seed
  other inputs, for every workload;
- an untraced run prints every end-to-end metric of ``BENCHMARK.json``
  by name with its unit, plus ``error_rate``, and reports no failure;
- a run whose output lost one edge (``--corrupt``) reports the job as
  failed and ``error_rate`` > 0;
- a traced run prints every per-layer metric of ``BENCHMARK.json`` with
  its unit, and its span record holds a span for every layer;
- on ``resume_delta`` the sharding metrics record zero work and
  ``checkpoint.hit_ratio`` is the generator's base + re-delivered share.

Exits 0 if every check passes, 1 otherwise.
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

import gen  # noqa: E402
from run import workloads  # noqa: E402

LAYERS = (
    "pipeline",
    "operators.fused",
    "operators.sharding",
    "operators.checkpoint",
    "operators.materialize",
    "operators.canonicalize",
    "sources.sinks",
    "templates",
    "model",
    "functions.response_parsers",
    "kb",
)

failures = []


def expect(ok: bool, what: str) -> None:
    print(("ok    " if ok else "FAIL  ") + what, flush=True)
    if not ok:
        failures.append(what)


def check_generator(work: str) -> None:
    for name, wl in workloads().items():
        a = gen.generate(name, wl.tiny, 5, os.path.join(work, name, "a"), 4)
        b = gen.generate(name, wl.tiny, 5, os.path.join(work, name, "b"), 4)
        c = gen.generate(name, wl.tiny, 6, os.path.join(work, name, "c"), 4)
        expect(a.digest == b.digest, f"{name}: same seed, byte-identical inputs")
        expect(a.digest != c.digest, f"{name}: another seed, other inputs")


def run(workload: str, trace: int, *extra: str):
    """(exit code, stdout lines, last-line result or None)."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
    return proc.returncode, lines, result


def summary(lines) -> dict:
    """``name=value unit`` pairs of the summary line (before the result)."""
    out = {}
    for item in lines[-2].split("  "):
        key, rest = item.split("=", 1)
        value, unit = rest.split(" ", 1)
        out[key] = (float(value), unit)
    return out


def metrics_match(result: dict, declared) -> bool:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    return got == {m["name"]: m["unit"] for m in declared}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        check_generator(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    code, lines, result = run("cold_build", 0)
    expect(code == 0 and result is not None, "untraced run exits 0 with a result")
    if result is not None:
        expect(
            set(result) == {"correct", "attempted", "failed", "metrics"},
            "result has exactly correct, attempted, failed, metrics",
        )
        expect(metrics_match(result, bench["end_to_end"]), "every end-to-end metric, with its unit")
        printed = summary(lines)
        expect(
            all(printed.get(m["name"], (0, ""))[1] == m["unit"] for m in bench["end_to_end"])
            and "error_rate" in printed,
            "summary line names every end-to-end metric with its unit, and error_rate",
        )
        expect(result["correct"] and result["failed"] == 0, "untraced run is correct")

    code, lines, result = run("cold_build", 0, "--corrupt")
    expect(code == 0 and result is not None, "corrupted run exits 0 with a result")
    if result is not None:
        expect(not result["correct"] and result["failed"] >= 1, "dropped edge fails the job")
        expect(summary(lines)["error_rate"][0] > 0, "dropped edge gives error_rate > 0")

    for workload in ("long_files", "resume_delta"):
        code, lines, result = run(workload, 1)
        expect(code == 0 and result is not None, f"{workload}: traced run exits 0 with a result")
        if result is None:
            continue
        expect(result["correct"], f"{workload}: traced run is correct")
        expect(metrics_match(result, bench["per_layer"]), f"{workload}: every per-layer metric")
        records = next(json.loads(l)["records"] for l in lines if '"records"' in l)
        with open(os.path.join(records, "spans.json")) as f:
            names = {s["name"] for s in json.load(f)}
        if workload == "long_files":
            missing = sorted(set(LAYERS) - names)
            expect(not missing, f"long_files: a span for every layer (missing: {missing})")
        else:
            m = {k: v["value"] for k, v in result["metrics"].items()}
            expect(
                all(m[k] == 0 for k in m if k.startswith("sharding.")),
                "resume_delta: sharding records zero work",
            )
            with open(os.path.join(records, "result.json")) as f:
                counts = json.load(f)["inputs"]
            share = (counts["base_rows"] + counts["redelivered_rows"]) / counts["rows"]
            expect(m["checkpoint.hit_ratio"] == share, "resume_delta: hit_ratio is the cached share")

    print(f"{len(failures)} failed" if failures else "all passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
