"""Self-tests of the benchmark (not of the engine).

    python3 perfbench/selftest.py

Runs ``run.py`` as a user would, about five minutes in all, and checks:

1. one untraced pass of each workload prints every end-to-end metric
   with its unit and passes the correctness gate;
2. in traced runs, spans nest, every self time is >= 0 and the layers'
   self times cover each query span to within ``COVER_TOL``; over two
   traced dashboard passes, ``exec.jobs`` and ``build.jobs`` repeat
   exactly;
3. the traced runs match the structural predictions of the interaction
   table in README.md.

Exit code 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from run import ROOT, WORKLOADS  # noqa: E402

SEED = 7
EPS = 0.005  # s: the JVM reports micro-batch times in whole milliseconds
COVER_TOL = 0.05  # share of a query span its layers may leave uncovered


def run(out: str, workload: str, trace: int, passes: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--passes", str(passes), "--out", out]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(out, f"{workload}-seed{SEED}-trace{trace}.json")) as fh:
        return result, json.load(fh)


def check(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        failures.append(what)


def check_spans(workload: str, detail: dict, failures: list[str]) -> None:
    spans = [tracing.Span(**s) for s in detail["spans"]]
    by_id = {s.id: s for s in spans}
    bad = [s for s in spans if s.parent is not None and not (
        by_id[s.parent].start - EPS <= s.start <= s.end <= by_id[s.parent].end + EPS)]
    check(not bad, f"{workload}: every span lies inside its parent ({len(spans)} spans)",
          failures)
    self_t = tracing.self_times(spans)
    check(min(self_t.values()) >= -EPS, f"{workload}: every self time is >= 0", failures)
    worst = 0.0
    for q in (s for s in spans if s.name == "query"):
        worst = max(worst, self_t[q.id] / q.dur)
    check(worst <= COVER_TOL,
          f"{workload}: layer self times cover each query span within {COVER_TOL:.0%} "
          f"(worst gap {worst:.2%})",
          failures)


def main() -> int:
    failures: list[str] = []
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        e2e_units = {m["name"]: m["unit"] for m in json.load(fh)["end_to_end"]}
    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(prefix="selftest-", dir=scratch) as out:
        for w in WORKLOADS:
            res, _ = run(out, w, 0, 1)
            m = res["metrics"]
            check(all(m.get(k, {}).get("unit") == u for k, u in e2e_units.items()),
                  f"{w}: one pass prints every end-to-end metric with its unit", failures)
            check(res["correct"] and res["failed"] == 0, f"{w}: outputs pass the gate", failures)

        layers = {}
        for w in WORKLOADS:
            passes = 4 if w == "dashboard" else 2  # traced passes are the even ones
            res, detail = run(out, w, 1, passes)
            layers[w] = {k: v["value"] for k, v in res["metrics"].items()}
            check_spans(w, detail, failures)
            if w == "dashboard":
                a, b = detail["layer_passes"]
                for k in ("exec.jobs", "build.jobs"):
                    check(a[k] == b[k], f"dashboard: {k} repeats across traced passes "
                          f"({a[k]} vs {b[k]})", failures)

    d, p = layers["dashboard"], layers["pipeline"]
    check(d["tables.jobs"] > 0, "dashboard: tables.jobs > 0", failures)
    nonzero = [k for k in d if k.startswith(("stream.", "ml.")) and d[k] != 0]
    check(not nonzero, f"dashboard: every stream.* and ml.* metric is 0 {nonzero}", failures)
    check(d["py.worker_cpu_s"] <= 0.1 * p["py.worker_cpu_s"],
          f"py.worker_cpu_s: dashboard {d['py.worker_cpu_s']:.2f} s is at most a tenth "
          f"of pipeline {p['py.worker_cpu_s']:.2f} s", failures)
    check(p["stream.batches"] > 0 and p["ml.jobs"] > 0,
          "pipeline: stream.batches > 0 and ml.jobs > 0", failures)
    print(f"{len(failures)} failed" if failures else "all passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
