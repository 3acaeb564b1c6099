"""The engine's benchmark: one closed-loop client, one local Spark session.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 6 --trace 0

Run from the repository root. One client thread runs the workload's
queries one after another, each as its registered function followed by
a ``noop`` write, and starts the next query when the last completes.
After set-up (session start, seeded input tables and two warm-up passes,
the first of which collects every result), it repeats passes over the
query mix, each in a seed-shuffled order, until ``--seconds`` have
elapsed and at least five passes ran. The collected results are then
checked against the queries' DuckDB oracles.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on the
Spark event log and the layer wrappers of ``tracing.py``, alternates
untraced and traced passes, and reports per-layer metrics per traced
pass. The last line of standard output is the result as JSON; a detail
file with every pass, query and span goes to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procfs  # noqa: E402
import tracing  # noqa: E402

WORKLOADS: dict[str, list[str]] = {
    # the reference's dashboard and prediction API, plus TPC-H joins
    "dashboard": [
        "q_predict_dow_hour", "q_predict_decision", "q_pattern_matrix",
        "q_camera_thresholds", "q_asof_config_join",
        "q_tpch_q1", "q_tpch_q5", "q_tpch_q6",
    ],
    # curation, streaming ingest and training on a fresh input copy each pass:
    # a contested lazy checkpoint, a Python-stateful drain, an eager MLlib fit
    "pipeline": ["q_dedup_minhash_lsh", "q_stream_congestion_episodes", "q_ml_forecast"],
}
# Workloads whose every pass reads a freshly written, permuted input copy:
# the engine memoizes staged streams and fitted models per input path.
FRESH_INPUT = {"pipeline"}
WARMUP_PASSES = 2  # the first also collects every result for the correctness gate
MIN_TIMED_PASSES = 5

def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pass_order(names: list[str], seed: int, idx: int) -> list[str]:
    order = list(names)
    random.Random(f"{seed}:{idx}").shuffle(order)
    return order


class Run:
    """One benchmark run: session, inputs, passes and their records."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.names = WORKLOADS[args.workload]
        self.tables = None
        self.attempted = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []
        self.tracer = None
        self.spark = None

    # -- set-up -------------------------------------------------------------

    def input_dir(self, idx: int) -> str:
        """The input directory pass ``idx`` reads (0 is the warm-up)."""
        if self.args.workload not in FRESH_INPUT:
            path = os.path.join(self.work, "input")
            if not os.path.isdir(path):
                datagen.write_tables(self.tables, path)
            return path
        return datagen.write_tables(self.tables, os.path.join(self.work, f"input{idx}"),
                                    permute_seed=self.args.seed * 1000 + idx)

    def start_session(self):
        from big_data_traffict_prediction_spark.session import get_spark

        conf = None
        if self.args.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir)
            conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}",
                    "spark.eventLog.compress": "false"}
        self.cores = len(os.sched_getaffinity(0))
        self.spark = get_spark(app_name="perfbench", cpus=self.cores, extra_conf=conf)
        self.jvm = self.spark.sparkContext._gateway.proc

    def warm_up(self) -> dict:
        """The first warm-up pass: collects every result for the correctness
        gate, with the input directory it read."""
        from big_data_traffict_prediction_spark import registry

        self.queries = registry.all_queries()
        sf_dir = self.input_dir(0)
        results = {}
        for name in pass_order(self.names, self.args.seed, 0):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                results[name] = self.queries[name](self.spark, sf_dir).toPandas()
            except Exception:
                self.fail(name, "warm-up raised\n" + traceback.format_exc(limit=3))
            log(f"warm-up {name}: {time.perf_counter() - t0:.2f} s")
        return {"sf_dir": sf_dir, "results": results}

    def fail(self, name: str, why: str) -> None:
        self.failures.append(f"{name}: {why}")
        log(f"FAILED {name}: {why}")

    # -- passes -------------------------------------------------------------

    def run_query(self, name: str, sf_dir: str, traced: bool) -> float | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if traced:
                self.traced_query(name, sf_dir)
            else:
                self.queries[name](self.spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            self.fail(name, "raised\n" + traceback.format_exc(limit=3))
            return None
        return time.perf_counter() - t0

    def traced_query(self, name: str, sf_dir: str) -> None:
        tr = self.tracer
        with tr.span("query", query=name):
            with tr.span("build"):
                df = self.queries[name](self.spark, sf_dir)
            with tr.span("catalyst") as cat:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                it = qe.tracker().phases().iterator()
                while it.hasNext():
                    kv = it.next()
                    cat.attrs[kv._1()] = kv._2().durationMs()
            with tr.span("exec"):
                df.write.format("noop").mode("overwrite").save()

    def one_pass(self, idx: int, traced: bool = False) -> dict:
        sf_dir = self.input_dir(idx)
        order = pass_order(self.names, self.args.seed, idx)
        cpu0, jit0, py0 = self.cpu_reading()
        lat = {}
        t0 = time.perf_counter()
        if traced:
            self.tracer.enabled = True
            with self.tracer.span("pass", index=idx) as span:
                for name in order:
                    lat[name] = self.run_query(name, sf_dir, True)
            self.tracer.enabled = False
        else:
            span = None
            for name in order:
                lat[name] = self.run_query(name, sf_dir, False)
        wall = time.perf_counter() - t0
        cpu1, jit1, py1 = self.cpu_reading()
        jit = procfs.jit_delta(jit0, jit1)
        log(f"pass {idx}{' traced' if traced else ''}: {wall:.2f} s")
        return {
            "index": idx, "traced": traced, "wall_s": wall,
            "cpu_s": cpu1 - cpu0 - jit, "jit_cpu_s": jit,
            "py_cpu_s": py1 - py0, "latency_s": lat, "span": span.id if span else None,
        }

    @staticmethod
    def cpu_reading() -> tuple[float, dict, float]:
        """CPU seconds so far of the process tree, of each JIT compiler
        thread, and of the Python workers."""
        pids = procfs.tree()
        return (procfs.cpu_seconds(pids), procfs.jit_threads(pids),
                procfs.cpu_seconds(procfs.worker_pids(pids)))

    def timed_passes(self) -> None:
        """Whole passes until ``--seconds`` have elapsed and at least
        ``MIN_TIMED_PASSES`` ran; with tracing, every other pass is traced."""
        idx, t0 = WARMUP_PASSES, time.perf_counter()
        while True:
            n = idx - WARMUP_PASSES
            self.passes.append(self.one_pass(idx, traced=bool(self.args.trace) and n % 2 == 1))
            idx += 1
            if self.args.passes:
                if n + 1 >= self.args.passes:
                    return
            elif n + 1 >= MIN_TIMED_PASSES and time.perf_counter() - t0 >= self.args.seconds:
                return

    # -- shut-down --------------------------------------------------------

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        kids = [p for p in procfs.tree() if p != os.getpid()]
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait(timeout=10)
        deadline = time.time() + 10
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
            time.sleep(0.1)
        for p in kids:  # a worker that outlived its JVM
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def check_results(run: Run, warm: dict) -> None:
    """Each warm-up result against its DuckDB oracle on the same input, by
    the engine's own rule (tests/compare_util.py): same columns, same row
    count, exactly equal values in any order. No oracle: at least one row."""
    import duckdb
    from compare_util import assert_frames_match

    from big_data_traffict_prediction_spark import registry
    from big_data_traffict_prediction_spark.schemas import TABLE_NAMES

    oracles = registry.all_oracles()
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{warm['sf_dir']}/{t}.parquet'")
        for name, got in warm["results"].items():
            if not oracles.get(name):
                if len(got) == 0:
                    run.fail(name, "correctness: no rows")
                continue
            try:
                assert_frames_match(got, con.execute(oracles[name]).fetchdf(), name)
            except AssertionError as e:
                run.fail(name, f"correctness: {e}")
    finally:
        con.close()


def e2e_metrics(run: Run, setup_s: float) -> dict[str, float]:
    """Per-pass figures are the timed passes' minimum: passes still speed
    up after warm-up while the JVM compiles, and the most-warmed pass
    repeats across runs where the median of three does not."""
    timed = [p for p in run.passes if not p["traced"]]
    lat = [v for p in timed for v in p["latency_s"].values() if v is not None]
    if len(lat) < 2:
        raise RuntimeError("fewer than two query samples")
    return {
        "setup_s": setup_s,
        "pass_s": min(p["wall_s"] for p in timed),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1],
        "cpu_s": min(p["cpu_s"] for p in timed),
    }


def layer_metric_table(run: Run) -> dict[str, float]:
    tr = run.tracer
    tracing.batch_spans(tr)
    jobs, stages = tracing.read_event_log(os.path.join(run.work, "eventlog"))
    by_id = {s.id: s for s in tr.spans}
    per_pass = [
        tracing.layer_metrics(tr, jobs, stages, by_id[p["span"]], run.cores, p["py_cpu_s"])
        for p in run.passes if p["traced"]
    ]
    run.layer_passes = per_pass
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    plain = min(p["wall_s"] for p in run.passes if not p["traced"])
    traced = min(p["wall_s"] for p in run.passes if p["traced"])
    out["trace.overhead_frac"] = traced / plain - 1.0
    return out


def per_query_layers(run: Run) -> dict[str, dict[str, float]]:
    """Median self time per layer for each query over the traced passes."""
    tr = run.tracer
    self_t = tracing.self_times(tr.spans)
    by_q: dict[str, list[dict[str, float]]] = {}
    for q in (s for s in tr.spans if s.name == "query"):
        row = {"query": q.dur}
        for s in tr.spans:
            if s.qid == q.id and s.name != "query":
                row[s.name] = row.get(s.name, 0.0) + self_t[s.id]
        by_q.setdefault(q.attrs["query"], []).append(row)
    return {n: {k: statistics.median(r.get(k, 0.0) for r in rows) for k in rows[0]}
            for n, rows in by_q.items()}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--passes", type=int, default=0,
                    help="run exactly this many timed passes instead of --seconds")
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "results"),
                    help="directory for the detail file")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, tracing.PKG)):
        log(f"no engine package {tracing.PKG}/ next to {os.path.basename(HERE)}/; "
            "run from a full checkout")
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    import bench  # the repo's host-speed probes

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = tempfile.mkdtemp(prefix="work-", dir=_mkdir(os.path.join(ROOT, ".perfbench")))
    # keep every temporary file of Python, Spark and the JVM inside the run's directory
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={work}", "-XX:-UsePerfData"]))
    tempfile.tempdir = work
    run = Run(args, work)
    try:
        host = {"host.calib_s": bench._calibration_probe(),
                "host.steal_pct": bench._steal_probe(1.0) or 0.0}
        rss = procfs.PeakRss().start()
        t0 = time.perf_counter()
        run.start_session()
        run.tables = datagen.make_tables(args.seed)
        warm = run.warm_up()
        for idx in range(1, WARMUP_PASSES):
            run.one_pass(idx)
        setup_s = time.perf_counter() - t0
        log(f"set-up {setup_s:.2f} s")
        if args.trace:
            run.tracer = tracing.Tracer(run.spark)
            run.tracer.install()
        run.timed_passes()
        if args.trace:
            run.tracer.wait_for_listener()
            run.tracer.uninstall()
        peak = rss.stop()
        run.stop_session()
        check_results(run, warm)
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "seconds": args.seconds, "passes": run.passes, "failures": run.failures}
        if args.trace:
            metrics = {**run_layers(run, detail), **host}
            wanted = spec["per_layer"]
        else:
            metrics = e2e_metrics(run, setup_s)
            wanted = spec["end_to_end"]
        units = {m["name"]: m["unit"] for m in wanted}
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(units)}")
        n_lat = sum(1 for p in run.passes if not p["traced"] for v in p["latency_s"].values()
                    if v is not None)
        detail["metrics"] = metrics
        failed = len(run.failures)
        context = {**host, "peak_rss_mb": peak / (1 << 20),
                   "failed_frac": failed / run.attempted, "query_samples": n_lat}
        detail["context"] = context
        os.makedirs(args.out, exist_ok=True)
        with open(os.path.join(args.out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as fh:
            json.dump(detail, fh, indent=1, default=str)
        print(f"workload={args.workload} seed={args.seed} timed_passes={len(run.passes)} "
              + " ".join(f"{k}={v:.6g}" for k, v in context.items()))
        for k, v in metrics.items():
            print(f"  {k:28s} {v:14.6g} {units[k]}")
        print(json.dumps({
            "correct": failed == 0, "attempted": run.attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        run.stop_session()
        shutil.rmtree(work, ignore_errors=True)


def run_layers(run: Run, detail: dict) -> dict[str, float]:
    metrics = layer_metric_table(run)
    detail["layer_passes"] = run.layer_passes
    detail["per_query"] = per_query_layers(run)
    detail["spans"] = [vars(s) for s in run.tracer.spans]
    return metrics


def _mkdir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path


if __name__ == "__main__":
    sys.exit(main())
