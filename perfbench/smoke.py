"""Smoke self-check of the benchmark at sf0.001.

    python3 perfbench/smoke.py

Runs every workload twice at the smoke fixture scale, untraced and traced,
with one timed pass, and checks that:

- the run's outputs pass the oracle gate (``correct`` is true);
- every metric BENCHMARK.json names prints, by name and with its unit, both
  as a ``name = value unit`` line and in the final JSON line;
- every trace span's parent exists and encloses it;
- each query span's self time plus its children's time equals its duration;
- the span check itself fails on a job span that lies outside its phase.

Exits 1 and lists the problems if any check fails.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from layers import Tracer, check_spans
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent


def _check_run(workload: str, trace: int, spec: dict) -> list[str]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        capture_output=True, text=True, timeout=600,
    )
    where = f"{workload} trace={trace}"
    if out.returncode != 0:
        return [f"{where}: exit {out.returncode}: {out.stderr[-2000:]}"]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    problems = []
    if not result["correct"]:
        problems.append(f"{where}: correct is false: "
                        + "; ".join(ln for ln in lines if ln.startswith("FAIL")))
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    if set(result["metrics"]) != {m["name"] for m in wanted}:
        problems.append(f"{where}: metrics {sorted(result['metrics'])} differ from BENCHMARK.json")
    for m in wanted:
        got = result["metrics"].get(m["name"], {})
        if got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            problems.append(f"{where}: {m['name']} has {got}, want unit {m['unit']}")
        if not any(ln.startswith(f"{m['name']} = ") and f" {m['unit']}" in ln for ln in lines):
            problems.append(f"{where}: no '{m['name']} = <value> {m['unit']}' line")
    if trace:
        path = next(ln.split()[1] for ln in lines if ln.startswith("trace: "))
        tracer = Tracer()
        tracer.spans = json.load(open(path))["spans"]
        problems += [f"{where}: {p}" for p in check_spans(tracer)]
        if not any(s["name"] == "job" for s in tracer.spans):
            problems.append(f"{where}: no Spark job spans in the trace")
    return problems


def _span_check_can_fail() -> list[str]:
    """A job 5 ms past the end of its phase, and one still running, must
    be reported; one that ends within the JVM's 1 ms resolution must not."""
    tracer = Tracer()
    with tracer.span("query"):
        with tracer.span("consume") as phase:
            pass
    tracer.add(phase, "job", phase["start"], phase["end"] + 0.0005, job=0)
    clean = check_spans(tracer)
    tracer.add(phase, "job", phase["start"], phase["end"] + 0.005, job=1)
    tracer.add(phase, "job", phase["start"], None, job=2)
    found = check_spans(tracer)
    if clean or len(found) != 2:
        return [f"span check: {clean} for a job within 1 ms, {found} for two bad jobs"]
    return []


def main() -> int:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    problems = _span_check_can_fail()
    for workload in WORKLOADS:
        for trace in (0, 1):
            found = _check_run(workload, trace, spec)
            print(f"{workload} trace={trace}: {'ok' if not found else 'FAILED'}", flush=True)
            problems += found
    for p in problems:
        print(f"FAIL {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
