"""Layer-attributed benchmark for the PySpark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One Python process drives the engine on
``local[<cores>]`` as a single closed-loop client: operations run one after
another, each timed in two phases, build (the query function builds the
DataFrame, firing any eager jobs) and exec (the sink write). Each phase runs
under its own Spark job group.

A run: generate the workload's inputs from the seed; set up the session and
scan every input (three times, restarting the session, median reported);
one cold pass in the declared order; timed passes until ``--seconds`` have
passed (at least the workload's minimum), each in a seed-permuted order;
then an output check of every operation outside the timed passes. A wrong
output prints ``"correct": false`` and exits 1.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
traced and untraced passes, prints the per-layer metrics (spans around the
engine's public entry points, job/stage/task counts and stage metrics from
Spark's status store, streaming progress from a listener) and the tracing
overhead. The full record (per-operation timings, the ledger, spans, host
load) is written to ``.perfbench_work/records/``. Everything a run writes
stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "tp1_distribuidos_mapreduce_spark"
WORK = ROOT / ".perfbench_work"
SETUP_REPEATS = 3
SCAN_REPEATS = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_wall_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.load_table_s": "s",
    "sources.load_table_calls": "count",
    "sources.scan_s": "s",
    "sources.read_text_corpus_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_stages": "count",
    "registry.build_tasks": "count",
    "registry.build_job_s": "s",
    "registry.build_driver_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "operators.mapreduce.self_s": "s",
    "operators.mapreduce.jobs": "count",
    "operators.mapreduce.tasks": "count",
    "operators.mapreduce.shuffle_write_mb": "MB",
    "sinks.textkv.self_s": "s",
    "sinks.textkv.bytes_written": "bytes",
    "sinks.textkv.files": "count",
    "sinks.textkv.bytes_per_input_byte": "ratio",
    "streaming.batches": "count",
    "streaming.jobs": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.latest_offset_s": "s",
    "tasks.failed": "count",
    "tasks.failed_ratio": "ratio",
    "ops.failed_ratio": "ratio",
    "trace.overhead_s": "s",
    "host.loadavg_start": "load",
    "host.loadavg_end": "load",
    "host.other_spark_jvms": "count",
    "host.steal_pct": "%",
    "host.canary_ms": "ms",
    "memory.peak_rss_mb": "MB",
}

# Engine entry points wrapped with span recorders in traced passes:
# (module, function, span name).
TRACED_ENTRY_POINTS = (
    ("sources.tables", "load_table", "sources.load_table"),
    ("sources.text", "read_text_corpus", "sources.read_text_corpus"),
    ("operators.mapreduce", "run_mapreduce", "operators.mapreduce"),
    ("sinks.textkv", "write_sorted_kv_text", "sinks.textkv"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run directory, and size the session to this machine."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # the launcher JVM that spark-submit starts first, then the driver JVM
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{os.environ.get('SPARK_LAUNCHER_OPTS', '')} {jvm_opts}".strip()
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {jvm_opts} -Dspark.ui.showConsoleProgress=false".strip()
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = None


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it:
    (value, percentile, sample count). With fewer than 20 samples that
    percentile would sit at or below the median, so the maximum is
    reported instead."""
    xs = sorted(samples)
    n = len(xs)
    i = n - 11 if n >= 20 else n - 1
    return xs[i], 100.0 * (i + 1) / n, n


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args, run_dir: Path):
        from perfbench import gen, trace, workloads

        self.args = args
        self.trace = trace
        self.spec = workloads.SPECS[args.workload]
        data_dir = run_dir / "data"
        gen.tables(str(data_dir), args.seed, self.spec.sf, self.spec.tables)
        corpus_dir = None
        if self.spec.text:
            corpus_dir = str(run_dir / "corpus")
            gen.text_corpus(corpus_dir, args.seed, **self.spec.text)
        self.ctx = workloads.Context(self.spec, str(data_dir), str(run_dir / "work"), corpus_dir)
        self.tracer = trace.Tracer()
        self.rng = random.Random(args.seed)
        self.record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        self.listener = None
        # each operation's DataFrame from its latest successful run; the
        # check collects these, so eager build work is not repeated
        self.last_df: dict = {}

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        from tp1_distribuidos_mapreduce_spark import session

        runs = []
        for i in range(SETUP_REPEATS):
            if i:
                self.ctx.spark.stop()
            t0 = time.perf_counter()
            spark = session.get_spark("perfbench")
            t1 = time.perf_counter()
            spark.sparkContext.setLogLevel("ERROR")
            self.ctx.spark = spark
            for _, df in self.ctx.input_frames():
                self.ctx.noop(df)
            runs.append({"total_s": time.perf_counter() - t0, "get_spark_s": t1 - t0})
        self.record["setup"] = runs
        self.sc = self.ctx.spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        self.ctx.prepare()
        self.ops = self.ctx.operations()
        self.ledger = self.trace.Ledger(self.ctx.spark)
        if self.args.trace:
            self.listener = self.trace.make_stream_listener()
            self.ctx.spark.streams.addListener(self.listener)
            self.entry_points = self._entry_point_sites()

    def _entry_point_sites(self):
        import importlib

        targets = []
        for mod, attr, span in TRACED_ENTRY_POINTS:
            fn = getattr(importlib.import_module(f"{PACKAGE}.{mod}"), attr)
            targets += [(m, a, span) for m, a in self.trace.engine_import_sites(fn)]
        return targets

    # -- passes -----------------------------------------------------------------

    def run_op(self, tag: str, op, traced: bool) -> dict:
        sc, tracer = self.sc, self.tracer
        rec = {"op": op.name, "kind": op.kind, "ok": False}
        group = f"{tag}:{op.name}"
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=op.name):
                sc.setJobGroup(f"{group}:build", op.name)
                with tracer.span("build", op=op.name):
                    df = op.build()
                t1 = time.perf_counter()
                sc.setJobGroup(f"{group}:exec", op.name)
                with tracer.span("exec", op=op.name):
                    if traced and op.kind == "mapreduce":
                        # Checkpoint the operator's output under its own
                        # group first, so the sink then writes from the
                        # checkpoint and the two layers' costs separate.
                        sc.setJobGroup(f"{group}:operator", op.name)
                        m0 = time.perf_counter()
                        df = df.localCheckpoint()
                        rec["operator_s"] = time.perf_counter() - m0
                        sc.setJobGroup(f"{group}:exec", op.name)
                        w0 = time.perf_counter()
                        op.exec(df)
                        rec["sink_s"] = time.perf_counter() - w0
                    else:
                        op.exec(df)
            t2 = time.perf_counter()
            rec.update(ok=True, build_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0)
        except Exception as ex:  # noqa: BLE001 - a failing operation is counted, not fatal
            rec["error"] = _describe(ex)
        finally:
            sc.setJobGroup(f"{tag}:idle", "idle")
        if rec["ok"]:
            self.last_df[op.name] = df
        if traced:
            self.ledger.flush()
            for phase in ("build", "exec", "operator"):
                rec[f"ledger_{phase}"] = self.ledger.group(f"{group}:{phase}")
            runs, batches = self.listener.take()
            rec["stream_batches"] = batches
            rec["ledger_stream"] = [self.ledger.group(r) for r in runs]
            if op.kind == "mapreduce":
                files = [f for f in os.listdir(op.out_dir) if f.startswith("part-")]
                rec["sink_files"] = len(files)
                rec["sink_bytes"] = sum(os.path.getsize(os.path.join(op.out_dir, f)) for f in files)
                rec["input_bytes"] = op.input_bytes
        return rec

    def run_pass(self, index: int, traced: bool) -> dict:
        order = [op for op in self.ops if not op.probe]
        # The cold pass keeps the declared order: whichever operation runs
        # first pays the session's first-use costs, so a fixed first
        # operation keeps cold_wall_s comparable between seeds.
        if index:
            self.rng.shuffle(order)
        self.tracer.enabled = traced
        if traced:
            # drop streaming progress left over from an untraced pass
            self.ledger.flush()
            self.listener.take()
        patch = self.tracer.patched(self.entry_points) if traced else nullcontext()
        first_span = len(self.tracer.spans)
        t0 = time.perf_counter()
        with self.tracer.span("pass", index=index), patch:
            ops = [self.run_op(f"p{index}", op, traced) for op in order]
        wall = time.perf_counter() - t0
        self.tracer.enabled = False
        rec = {"index": index, "traced": traced, "wall_s": wall, "ops": ops}
        if traced:
            rec["layers"] = self.layer_values(rec, first_span)
        return rec

    def passes(self) -> None:
        cold = self.run_pass(0, traced=False)
        warm = []
        start = time.perf_counter()
        # a traced run needs at least one traced and one untraced pass
        min_passes = self.spec.min_passes + self.args.trace
        while len(warm) < min_passes or time.perf_counter() - start < self.args.seconds:
            traced = bool(self.args.trace) and len(warm) % 2 == 0
            warm.append(self.run_pass(len(warm) + 1, traced))
        self.record["passes"] = [cold] + warm
        # before the check, whose collects and DuckDB queries are not the
        # engine's work
        self.record["peak_rss_mb"] = (
            self.trace.vm_hwm_mb(self.jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        if self.args.trace:
            self.record["scans"] = self.scan_inputs()

    def scan_inputs(self) -> dict:
        """Each input scanned on its own through the noop sink: the source
        layer's cost without the operators above it (median of repeats)."""
        times: dict[str, list[float]] = {}
        for _ in range(SCAN_REPEATS):
            for name, df in self.ctx.input_frames():
                t0 = time.perf_counter()
                self.ctx.noop(df)
                times.setdefault(name, []).append(time.perf_counter() - t0)
        return {name: median(ts) for name, ts in times.items()}

    # -- per-layer values of one traced pass -------------------------------

    def layer_values(self, rec: dict, first_span: int) -> dict:
        spans = self.tracer.spans[first_span:]
        ops = rec["ops"]

        def span_sum(name):
            return sum(s.end - s.start for s in spans if s.name == name)

        def ledger_sum(phase, key, kinds=None):
            return sum(
                o.get(f"ledger_{phase}", {}).get(key, 0) for o in ops if kinds is None or o["kind"] in kinds
            )

        not_mr = ("query", "drain")
        build_s = sum(o.get("build_s", 0.0) for o in ops if o["kind"] in not_mr)
        build_job_s = ledger_sum("build", "job_s", not_mr)
        stream = [g for o in ops for g in o.get("ledger_stream", [])]
        batches = [b for o in ops for b in o.get("stream_batches", [])]
        groups = [o.get(f"ledger_{p}", {}) for o in ops for p in ("build", "exec", "operator")] + stream
        failed = sum(g.get("failed_tasks", 0) for g in groups)
        attempts = sum(g.get("task_attempts", 0) for g in groups)
        mr = [o for o in ops if "operator_s" in o]
        input_bytes = sum(o["input_bytes"] for o in mr)

        def batch_s(key):
            return sum(b["duration_ms"].get(key, 0) for b in batches) / 1e3

        return {
            "sources.load_table_s": span_sum("sources.load_table"),
            "sources.load_table_calls": sum(1 for s in spans if s.name == "sources.load_table"),
            "sources.read_text_corpus_s": span_sum("sources.read_text_corpus"),
            "registry.build_s": build_s,
            "registry.build_jobs": ledger_sum("build", "jobs", not_mr),
            "registry.build_stages": ledger_sum("build", "stages", not_mr),
            "registry.build_tasks": ledger_sum("build", "tasks", not_mr),
            "registry.build_job_s": build_job_s,
            "registry.build_driver_s": build_s - build_job_s,
            "exec.s": sum(o.get("exec_s", 0.0) for o in ops),
            "exec.jobs": ledger_sum("exec", "jobs"),
            "exec.stages": ledger_sum("exec", "stages"),
            "exec.tasks": ledger_sum("exec", "tasks"),
            "exec.shuffle_write_mb": ledger_sum("exec", "shuffle_write_mb"),
            "exec.shuffle_read_mb": ledger_sum("exec", "shuffle_read_mb"),
            "exec.spill_mb": ledger_sum("exec", "spill_mb"),
            "exec.executor_run_s": ledger_sum("exec", "executor_run_s"),
            "exec.executor_cpu_s": ledger_sum("exec", "executor_cpu_s"),
            "exec.gc_s": ledger_sum("exec", "gc_s"),
            "operators.mapreduce.self_s": span_sum("operators.mapreduce") + sum(o["operator_s"] for o in mr),
            "operators.mapreduce.jobs": ledger_sum("operator", "jobs"),
            "operators.mapreduce.tasks": ledger_sum("operator", "tasks"),
            "operators.mapreduce.shuffle_write_mb": ledger_sum("operator", "shuffle_write_mb"),
            "sinks.textkv.self_s": sum(o["sink_s"] for o in mr),
            "sinks.textkv.bytes_written": sum(o.get("sink_bytes", 0) for o in mr),
            "sinks.textkv.files": sum(o.get("sink_files", 0) for o in mr),
            "sinks.textkv.bytes_per_input_byte": (
                sum(o.get("sink_bytes", 0) for o in mr) / input_bytes if input_bytes else 0.0
            ),
            "streaming.batches": len(batches),
            "streaming.jobs": sum(g["jobs"] for g in stream),
            "streaming.trigger_s": batch_s("triggerExecution"),
            "streaming.add_batch_s": batch_s("addBatch"),
            "streaming.query_planning_s": batch_s("queryPlanning"),
            "streaming.wal_commit_s": batch_s("walCommit"),
            "streaming.latest_offset_s": batch_s("latestOffset"),
            "tasks.failed": failed,
            "tasks.failed_ratio": failed / attempts if attempts else 0.0,
        }

    # -- output check ---------------------------------------------------------

    def check(self) -> tuple[bool, list[dict]]:
        results = []
        for op in self.ops:
            rec = {"op": op.name, "probe": op.probe}
            try:
                err = op.check(self.last_df.get(op.name))
                rec["ok"] = err is None
                if err:
                    rec["mismatch"] = err
            except Exception as ex:  # noqa: BLE001 - raised, not wrong: counted in failed_ratio
                rec["ok"] = None
                rec["error"] = _describe(ex)
            results.append(rec)
        self.ctx.close()
        return all(r["ok"] is not False for r in results), results

    # -- results ------------------------------------------------------------------

    def metrics(self, host_start: dict, host_end: dict) -> tuple[dict, dict]:
        passes = self.record["passes"]
        cold, warm = passes[0], passes[1:]
        untraced = [p for p in warm if not p["traced"]]
        latencies = [o["latency_s"] for p in untraced for o in p["ops"] if o["ok"]]
        tail, pct, n = tail_percentile(latencies)
        e2e = {
            "setup_s": median([s["total_s"] for s in self.record["setup"]]),
            "cold_wall_s": cold["wall_s"],
            "wall_s": median([p["wall_s"] for p in untraced]),
            "query_p50_s": median(latencies),
            "query_tail_s": tail,
        }
        self.record["query_tail"] = {"percentile": pct, "samples": n}
        traced = [p for p in warm if p["traced"]]
        layers = {}
        if traced:
            for key in traced[0]["layers"]:
                layers[key] = median([p["layers"][key] for p in traced])
            layers["session.start_s"] = median([s["get_spark_s"] for s in self.record["setup"]])
            layers["sources.scan_s"] = sum(self.record["scans"].values())
            layers["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - e2e["wall_s"]
            layers["host.loadavg_start"] = host_start["loadavg_1m"]
            layers["host.loadavg_end"] = host_end["loadavg_1m"]
            layers["host.other_spark_jvms"] = max(host_start["other_spark_jvms"], host_end["other_spark_jvms"])
            layers["host.steal_pct"] = self.trace.steal_pct(host_start, host_end)
            layers["host.canary_ms"] = max(host_start["canary_ms"], host_end["canary_ms"])
            layers["memory.peak_rss_mb"] = self.record["peak_rss_mb"]
        return e2e, layers

    def stop(self) -> None:
        """Stop the session, then the JVM gateway and its Python workers,
        and wait for each to exit."""
        from pyspark import SparkContext

        spark = self.ctx.spark
        gateway = SparkContext._gateway
        children = _child_pids(self.jvm_pid)
        spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.terminate()
            proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while children and time.time() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)


def _describe(ex: Exception) -> str:
    first = str(ex).splitlines()[0][:300] if str(ex) else ""
    return f"{type(ex).__name__}: {first}"


def _child_pids(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, IndexError, ValueError):
                continue
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import SPECS

    if args.workload not in SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(SPECS)}", file=sys.stderr)
        return 2
    run_dir = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir)
    from perfbench import trace

    host_start = trace.host_snapshot(None)
    clock = [("start", time.perf_counter())]
    bench = Bench(args, run_dir)
    clock.append(("inputs", time.perf_counter()))
    try:
        bench.setup()
        clock.append(("setup", time.perf_counter()))
        bench.passes()
        clock.append(("passes", time.perf_counter()))
        correct, checked = bench.check()
        clock.append(("check", time.perf_counter()))
        host_end = trace.host_snapshot(bench.jvm_pid)
        e2e, layers = bench.metrics(host_start, host_end)
    finally:
        if bench.ctx.spark is not None:
            bench.stop()
    clock.append(("stop", time.perf_counter()))
    bench.record["phase_s"] = {b[0]: b[1] - a[1] for a, b in zip(clock, clock[1:])}

    passes = bench.record["passes"]
    timed_ops = [o for p in passes for o in p["ops"]]
    failed = sum(not o["ok"] for o in timed_ops)
    check_raised = sum(r["ok"] is None for r in checked)
    attempted_all = len(timed_ops) + len(checked)
    failed_ratio = (failed + check_raised) / attempted_all
    layers_out = {**layers, "ops.failed_ratio": failed_ratio} if args.trace else {}

    bench.record.update(
        host={"start": host_start, "end": host_end},
        checks=checked,
        failed_ratio=failed_ratio,
        end_to_end=e2e,
        per_layer=layers_out,
        spans=bench.tracer.dump(),
    )
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    with open(records / f"{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as fh:
        json.dump(bench.record, fh, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    tail = bench.record["query_tail"]
    for r in checked:
        if r["ok"] is not True:
            print(f"check {r['op']}: {r.get('mismatch') or r.get('error')}")
    print(
        f"{args.workload} seed={args.seed}: {len(passes)} passes, {len(timed_ops)} ops, "
        f"failed_ratio={failed_ratio:.4f} ({failed + check_raised}/{attempted_all}, "
        f"check-phase exceptions {check_raised}), query_tail = p{tail['percentile']:.1f} of "
        f"{tail['samples']} samples, loadavg {host_start['loadavg_1m']:.2f}->{host_end['loadavg_1m']:.2f}, "
        f"other Spark JVMs {max(host_start['other_spark_jvms'], host_end['other_spark_jvms'])}, "
        f"steal {trace.steal_pct(host_start, host_end):.1f}%, "
        f"canary {host_start['canary_ms']:.1f}->{host_end['canary_ms']:.1f} ms, "
        f"peak RSS {bench.record['peak_rss_mb']:.0f} MB"
    )
    print("phases: " + ", ".join(f"{k} {v:.1f}s" for k, v in bench.record["phase_s"].items()))
    shown = layers_out if args.trace else e2e
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    for name, value in shown.items():
        print(f"  {name:40s} {value:14.6f} {units[name]}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": len(timed_ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
