"""The benchmark's workloads: the operations each one runs, and how each
operation's output is checked.

An operation has a build phase (construct the DataFrame; iterative and
streaming operations fire their eager jobs here) and an exec phase (the
sink write that runs the final plan). Every call goes through the engine's
public functions; this module adds no query logic of its own.
"""

from __future__ import annotations

import functools
import itertools
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

from . import checks

# Each workload's operations are a subset of the engine's queries, sized so
# one warm pass takes 3-6 s on 4 cores and a whole run (set-up, cold pass,
# timed passes, check) stays near 35 s.
TPCH_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q9_product_type_profit",
    "q21_waiting_suppliers",
)
ITERATIVE_QUERIES = ("pagerank_copurchase", "kcore_members")

# Run once per benchmark run, in the check phase, and never in the timed
# passes: an operation that raises would make the passes time less work,
# and fixing it would then read as a slowdown. Its outcome is reported in
# failed_ratio.
ITERATIVE_PROBES = ("theil_sen_revenue_trend",)

# The availableNow drain of the registry's stream_ivm_user_totals: events
# land as DRAIN_SOURCE_FILES files and are read DRAIN_FILES_PER_TRIGGER per
# micro-batch.
DRAIN_FILES_PER_TRIGGER = 2
DRAIN_SOURCE_FILES = 4


@dataclass
class Spec:
    name: str
    tables: tuple[str, ...]
    sf: float
    text: dict | None = None
    # Fewest timed passes per run. The MapReduce passes are short and the
    # Python workers' speed follows the host's, which varies by tens of
    # percent from second to second, so that workload averages three.
    min_passes: int = 1


SPECS = {
    "tpch_exec": Spec(
        "tpch_exec", ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"), 0.02
    ),
    "iterative_build": Spec("iterative_build", ("lineitem", "orders", "events"), 0.005),
    "mapreduce_text": Spec(
        "mapreduce_text", (), 0.0, text={"n_files": 32, "words_per_file": 100}, min_passes=3
    ),
}


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    exec: Callable[[Any], None]
    # check(df): df is the operation's DataFrame from the last timed pass,
    # or None to build it afresh; returns None when the output is right.
    check: Callable[[Any], str | None]
    # operations that are attempted once in the check phase only
    probe: bool = False
    kind: str = "query"
    # MapReduce operations: the sink's output directory and the corpus size
    out_dir: str | None = None
    input_bytes: int = 0


class Context:
    """State one workload's operations share: the session, the input
    paths, the engine modules and a lazily opened DuckDB connection."""

    def __init__(self, spec: Spec, data_dir: str, work_dir: str, corpus_dir: str | None):
        from tp1_distribuidos_mapreduce_spark import registry
        from tp1_distribuidos_mapreduce_spark.operators import mapreduce
        from tp1_distribuidos_mapreduce_spark.sinks import textkv
        from tp1_distribuidos_mapreduce_spark.sources import tables, text

        self.spec = spec
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.corpus_dir = corpus_dir
        self.registry = registry
        self.mapreduce = mapreduce
        self.textkv = textkv
        self.tables = tables
        self.text = text
        self.spark = None
        self._con = None
        self._seq = itertools.count()

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    @property
    def con(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for name in sorted(os.listdir(self.data_dir)):
                if name.endswith(".parquet"):
                    path = os.path.join(self.data_dir, name)
                    self._con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'")
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None

    # -- per-run preparation (untimed) --------------------------------------

    def prepare(self) -> None:
        """Derived inputs some operations read, written with pyarrow: an ORC
        copy of lineitem, and the events split into a multi-file landing
        directory for the streaming file source."""
        import pyarrow.parquet as pq

        read = lambda t: pq.read_table(os.path.join(self.data_dir, f"{t}.parquet"))  # noqa: E731
        if self.spec.name == "tpch_exec":
            from pyarrow import orc

            self.orc_dir = os.path.join(self.work_dir, "lineitem_orc")
            os.makedirs(self.orc_dir, exist_ok=True)
            orc.write_table(read("lineitem"), os.path.join(self.orc_dir, "part-00000.orc"))
        if "events" in self.spec.tables:
            events = read("events")
            self.landing = os.path.join(self.work_dir, "landing_events")
            os.makedirs(self.landing, exist_ok=True)
            step = -(-events.num_rows // DRAIN_SOURCE_FILES)
            for i in range(DRAIN_SOURCE_FILES):
                pq.write_table(events.slice(i * step, step), os.path.join(self.landing, f"part-{i:05d}.parquet"))

    # -- operation factories ------------------------------------------------

    def result_check(self, name: str, build: Callable[[], Any]):
        """Compare an operation's rows with its reference: a sequential
        implementation where the query has one here, else DuckDB running
        the query's oracle_sql() over the same parquet files."""
        references = {
            # 6-decimal ranks: the tolerance absorbs a last-digit rounding flip
            "pagerank_copurchase": (checks.pagerank_reference, 1.5e-6),
            "kcore_members": (checks.kcore_reference, 0.0),
        }

        def check(df) -> str | None:
            got = checks.spark_rows(df if df is not None else build())
            if name in references:
                reference, abs_tol = references[name]
                return checks.compare_rows(*got, *reference(self.con), abs_tol=abs_tol)
            return checks.compare_rows(*got, *checks.duckdb_rows(self.con, self.registry.oracle_sql()[name]))

        return check

    def registry_op(self, name: str, probe: bool = False) -> Op:
        fn = self.registry.queries()[name]
        build = lambda: fn(self.spark, self.data_dir)  # noqa: E731
        return Op(name, build, self.noop, self.result_check(name, build), probe=probe)

    def orc_op(self) -> Op:
        from tp1_distribuidos_mapreduce_spark.plans import relational

        build = lambda: relational.q1_pricing_summary(self.spark.read.orc(self.orc_dir))  # noqa: E731
        return Op("q1_from_orc", build, self.noop, self.result_check("q1_from_orc", build))

    def drain_op(self) -> Op:
        """stream_ivm_user_totals as the registry runs it (stream_events ->
        write_stream_ivm -> read_ivm_state), with its landing, state and
        checkpoint directories under the run directory."""
        from tp1_distribuidos_mapreduce_spark.streaming import sinks

        name = "stream_ivm_user_totals"
        dirs: list[str] = []

        def build():
            # The returned DataFrame reads the state directory lazily, so
            # the previous invocation's directory goes only now.
            while dirs:
                shutil.rmtree(dirs.pop(), ignore_errors=True)
            work = os.path.join(self.work_dir, "ops", f"{name}-{next(self._seq)}")
            dirs.append(work)
            events = self.tables.stream_events(self.spark, self.landing, max_files_per_trigger=DRAIN_FILES_PER_TRIGGER)
            sinks.write_stream_ivm(events, f"{work}/state", f"{work}/ckpt")
            return sinks.read_ivm_state(self.spark, f"{work}/state")

        return Op(name, build, self.noop, self.result_check(name, build), kind="drain")

    def mapreduce_ops(self) -> list[Op]:
        """wc and ii over the whole corpus: read_text_corpus -> run_mapreduce
        -> write_sorted_kv_text, the reference's run_mr.sh lifecycle."""
        files = sorted(os.path.join(self.corpus_dir, f) for f in os.listdir(self.corpus_dir))
        expected = functools.cache(lambda: checks.sequential_mapreduce(files))
        ops = []
        for plugin, job in (("wc", self.mapreduce.WC_JOB), ("ii", self.mapreduce.II_JOB)):
            out = os.path.join(self.work_dir, "kv", plugin)

            def build(job=job):
                corpus = self.text.read_text_corpus(self.spark, os.path.join(self.corpus_dir, "pg-*.txt"))
                return self.mapreduce.run_mapreduce(corpus, job)

            def write(df, out=out):
                self.textkv.write_sorted_kv_text(df, out)

            def check(df, plugin=plugin, out=out):
                wc, ii = expected()
                return checks.check_kv(out, wc if plugin == "wc" else ii)

            size = sum(os.path.getsize(p) for p in files)
            ops.append(Op(plugin, build, write, check, kind="mapreduce", out_dir=out, input_bytes=size))
        return ops

    def operations(self) -> list[Op]:
        name = self.spec.name
        if name == "tpch_exec":
            return [self.registry_op(q) for q in TPCH_QUERIES] + [self.orc_op()]
        if name == "iterative_build":
            return (
                [self.registry_op(q) for q in ITERATIVE_QUERIES]
                + [self.drain_op()]
                + [self.registry_op(q, probe=True) for q in ITERATIVE_PROBES]
            )
        if name == "mapreduce_text":
            return self.mapreduce_ops()
        raise KeyError(name)

    # -- inputs, as the set-up phase scans them -----------------------------

    def input_frames(self) -> list[tuple[str, Any]]:
        frames = [(t, self.tables.load_table(self.spark, self.data_dir, t)) for t in self.spec.tables]
        if self.corpus_dir:
            frames.append(("corpus", self.text.read_text_corpus(self.spark, os.path.join(self.corpus_dir, "pg-*.txt"))))
        return frames
