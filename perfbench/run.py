"""Benchmark entry point: one seeded workload in a fresh process.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of this repository and imports the engine
from there. The session is ``local[<cores>]`` with one closed-loop client.
After generating its inputs, the run sets up (engine import, get_spark,
warm-up ops), then times ops for ``--seconds`` seconds (at least the
workload's ``min_timed`` of them) and checks every op's outputs. The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, the end-to-end metrics with ``--trace 0``
and the per-layer metrics with ``--trace 1``. A full per-run record is
written under ``.perfbench_out/``. Exits 1 when any output was wrong, 2
when the engine is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
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

from procs import PeakRss, host_probe, tree, tree_cpu_s  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MIN_ROUNDS = 2   # timed ops in a traced run, each with its census and layer cuts
RECORDS = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "input_rows_per_s": "1/s",
    "cpu_s_per_op": "s",
}
SPARK_LAYER = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "stage_busy_s": "s", "driver_gap_s": "s",
    "executor_run_s": "s", "executor_cpu_s": "s",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "shuffle_fetch_wait_s": "s", "spill_bytes": "bytes",
    "peak_exec_mem_mb": "MB", "persisted_rdds_after_op": "count",
}
PER_LAYER = {
    "session.start_s": "s",
    **{f"{c}.self_s": "s" for c in (
        "dump_reader", "parse_entities", "transform_entities", "build_tables", "write_tables")},
    "dump_reader.lines": "count",
    "parse_entities.dropped_lines": "count",
    "build_tables.claims_out": "count",
    "write_tables.bytes_written": "bytes",
    "write_tables.files": "count",
    "write_tables.out_bytes_per_in_byte": "ratio",
    "surql.parse_ms": "ms",
    "surql.run_ms": "ms",
    "surql.jobs": "count",
    **{f"surql.{s}.wall_ms": "ms" for s in ("episodes", "parts", "count_p31", "filter")},
    **{f"catalog.{q}.wall_s": "s" for q in (
        "stream_sessionize_stateful", "dedup_minhash_lsh", "sim_pq_search", "er_resolve")},
    **{f"spark.{k}": u for k, u in SPARK_LAYER.items()},
    "memory.peak_rss_mb": "MB",
    "trace.op_p50_ms": "ms",
    "trace.census_ms": "ms",
    "trace.overhead_pct": "%",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def untraced_reference(workload: str, seed: int, scale: float) -> dict | None:
    """The latest correct ``--trace 0`` record of ``workload`` at ``scale``
    in RECORDS, preferring one of the same seed; None if there is none."""
    found = []
    for name in os.listdir(RECORDS) if os.path.isdir(RECORDS) else ():
        try:
            with open(os.path.join(RECORDS, name)) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if (rec.get("workload") == workload and rec.get("trace") == 0
                and rec.get("input_scale") == scale and rec.get("error_rate") == 0):
            found.append((rec.get("seed") == seed, rec.get("finished", 0), name, rec))
    if not found:
        return None
    _same_seed, _t, name, rec = max(found, key=lambda x: x[:3])
    return {"record": name, "seed": rec["seed"], "op_p50_ms": rec["end_to_end"]["op_p50_ms"]}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_engine(spark) -> None:
    """Stop Spark, the JVM it runs in and every process it started, and
    wait until each has ended."""
    from pyspark import SparkContext

    started = tree()[1:]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        left = [p for p in started if _alive(p)]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.05)


class Run:
    def __init__(self, args, work: str, cores: int):
        self.args, self.work, self.cores = args, work, cores
        self.wl = WORKLOADS[args.workload](args.seed, work, args.input_scale, args.wrong_answer)
        self.ops: list[dict] = []
        self.peak = PeakRss()

    def _op(self, phase: str) -> dict:
        i = len(self.ops)
        t0 = time.perf_counter()
        try:
            result = self.wl.op(i)
            wall = time.perf_counter() - t0
            error = self.wl.check(result, i)
        except Exception:  # an op that raises counts as failed; the run goes on
            wall, result = time.perf_counter() - t0, None
            error = traceback.format_exc(limit=3)
        rec = {"i": i, "phase": phase, "wall_s": wall, "error": error}
        if result is not None:
            rec["layers"] = self.wl.op_layers(result)
        self.ops.append(rec)
        self.peak.sample()
        if error:
            print(f"op {i} failed: {error}", file=sys.stderr)
        return rec

    def execute(self) -> dict:
        args, wl = self.args, self.wl
        probe0 = host_probe(self.cores)
        t = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t

        t_setup0 = time.perf_counter()
        sys.path.insert(0, ROOT)
        from census import TRACE_CONF, Census
        from wikidata_to_surrealdb_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if args.trace:
            conf.update(TRACE_CONF)
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        try:
            wl.spark = spark
            for _ in range(wl.warmup_ops):
                self._op("warmup")
            t_first = time.perf_counter()
            setup_s = t_first - t_setup0
            cpu0 = tree_cpu_s(tree())
            census = Census(spark) if args.trace else None
            cuts: dict[str, list[float]] = {c: [] for c in wl.layer_cuts}
            deadline = t_first + args.seconds
            while True:
                rec = self._op("timed")
                if census is not None:
                    t = time.perf_counter()
                    rec["census"] = census.take(rec["wall_s"])
                    rec["census_ms"] = (time.perf_counter() - t) * 1e3
                    for c in wl.layer_cuts:
                        t = time.perf_counter()
                        wl.cut(c)
                        cuts[c].append(time.perf_counter() - t)
                        census.take(0.0)
                timed = [o for o in self.ops if o["phase"] == "timed"]
                enough = len(timed) >= (MIN_ROUNDS if census else wl.min_timed)
                if enough and time.perf_counter() >= deadline:
                    break
                if sum(1 for o in timed if o["error"]) >= 3:
                    break
            t_end = time.perf_counter()
            cpu_s = tree_cpu_s(tree()) - cpu0
            if census is not None:
                for rec in wl.trace_extras(census):
                    self.ops.append({"i": len(self.ops), **rec})
            for i in wl.finish():
                self.ops[i]["error"] = self.ops[i]["error"] or "wrong answer (checked at end of run)"
        finally:
            self.peak.sample()
            _stop_engine(spark)
        probe1 = host_probe(self.cores)

        timed = [o for o in self.ops if o["phase"] == "timed"]
        walls = [o["wall_s"] for o in timed]
        med = _median(walls)
        metrics = {
            "setup_s": setup_s,
            "op_p50_ms": med * 1e3,
            "input_rows_per_s": wl.input_rows / med if med else 0.0,
            "cpu_s_per_op": cpu_s / len(timed),
        }
        layers = {k: 0.0 for k in PER_LAYER}
        layers["session.start_s"] = session_s
        layers["memory.peak_rss_mb"] = self.peak.mb
        layers.update(wl.layers)
        measured = [o for o in self.ops if o["phase"] in ("timed", "surql")]
        for k in {k for o in measured for k in o.get("layers", {})}:
            layers[k] = _median([o["layers"][k] for o in measured if k in o.get("layers", {})])
        reference = None
        if args.trace:
            for k in SPARK_LAYER:
                layers[f"spark.{k}"] = _median([o["census"][k] for o in timed])
            if cuts:
                prev = 0.0
                for c in wl.layer_cuts:
                    layers[f"{c}.self_s"] = _median(cuts[c]) - prev
                    prev = _median(cuts[c])
                layers["write_tables.self_s"] = med - prev
            layers["trace.op_p50_ms"] = med * 1e3
            layers["trace.census_ms"] = _median([o["census_ms"] for o in timed])
            # tracing's cost is session-wide (UI server, status store and
            # listeners), so the reference is a separate untraced run
            reference = untraced_reference(wl.name, args.seed, args.input_scale)
            if reference:
                layers["trace.overhead_pct"] = (med * 1e3 / reference["op_p50_ms"] - 1) * 100

        failed = sum(1 for o in self.ops if o["error"])
        shown = layers if args.trace else metrics
        units = PER_LAYER if args.trace else END_TO_END
        return {
            "result": {
                "correct": failed == 0,
                "attempted": len(self.ops),
                "failed": failed,
                "metrics": {k: {"value": float(shown[k]), "unit": units[k]} for k in units},
            },
            "record": {
                "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "cores": self.cores, "input_scale": args.input_scale,
                "input_rows": wl.input_rows, "input_bytes": wl.input_bytes,
                "generate_s": gen_s, "session_s": session_s, "setup_s": setup_s,
                "timed_window_s": t_end - t_first, "timed_ops": len(timed),
                "error_rate": failed / len(self.ops),
                "host_probe": [probe0, probe1], "finished": time.time(),
                "untraced_reference": reference,
                "ops": self.ops, "layer_cuts_s": cuts,
                "peak_rss_by_process_mb": self.peak.by_process(),
                "end_to_end": metrics, "per_layer": layers,
            },
        }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--input-scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a tiny one)")
    ap.add_argument("--wrong-answer", action="store_true",
                    help="perturb the expected answers, so the checks must fail")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "wikidata_to_surrealdb_spark", "session.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every file the engine, its JVM and its workers write stays in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    try:
        out = Run(args, work, cores).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(RECORDS, exist_ok=True)
    rec_path = os.path.join(
        RECORDS, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as f:
        json.dump(out["record"], f, indent=1, default=str)
    print(f"run record: {rec_path}", file=sys.stderr)
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
