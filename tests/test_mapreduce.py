"""Generic MapReduce plugin API (O12) + KV text sink (O3/O4) tests."""

from __future__ import annotations

import dataclasses
import glob
import os
import re
from collections import Counter

from tp1_distribuidos_mapreduce_spark.operators.mapreduce import (
    II_JOB,
    WC_JOB,
    MapReduceJob,
    resolve_num_partitions,
    run_mapreduce,
)
from tp1_distribuidos_mapreduce_spark.operators.wordcount import word_count
from tp1_distribuidos_mapreduce_spark.sinks import read_kv_text, write_sorted_kv_text


def corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, value string")


ROWS = [
    ("pg-1", "HOla don pepito,, y don JOSE!"),
    ("pg-2", "hola don jose"),
    ("pg-3", "chau chau chau"),
]


def test_mr_wc_matches_native_wordcount(spark):
    df = corpus(spark, ROWS)
    mr = {r.key: int(r.value) for r in run_mapreduce(df, WC_JOB).collect()}
    native = {r.word: r.cnt for r in word_count(df).collect()}
    assert mr == native


def test_mr_ii_sorted_distinct(spark):
    df = corpus(spark, ROWS)
    got = {r.key: r.value for r in run_mapreduce(df, II_JOB).collect()}
    assert got["don"] == "pg-1,pg-2"
    assert got["hola"] == "pg-1,pg-2"
    assert got["chau"] == "pg-3"
    assert got["jose"] == "pg-1,pg-2"


def test_mr_combiner_equivalence(spark):
    df = corpus(spark, ROWS)
    no_comb = MapReduceJob(map_fn=WC_JOB.map_fn, reduce_fn=WC_JOB.reduce_fn)
    a = sorted(map(tuple, run_mapreduce(df, WC_JOB).collect()))
    b = sorted(map(tuple, run_mapreduce(df, no_comb).collect()))
    assert a == b


def test_mr_partitions_default_matches_reference_r2(spark):
    # num_partitions=None (default) resolves to the session's shuffle
    # parallelism; results must be identical to the reference's R=2
    # (common/config.go:7) — partitioning is a physical choice only.
    df = corpus(spark, ROWS)
    r2 = dataclasses.replace(WC_JOB, num_partitions=2)
    assert run_mapreduce(df, WC_JOB).collect() == run_mapreduce(df, r2).collect()


def test_mr_output_sorted_by_key(spark):
    df = corpus(spark, ROWS)
    keys = [r.key for r in run_mapreduce(df, WC_JOB).collect()]
    assert keys == sorted(keys)


def test_custom_plugin(spark):
    # a user-defined job: per-doc letter histogram key=letter value=count
    job = MapReduceJob(
        map_fn=lambda doc, text: [(ch, "1") for ch in text if ch.isalpha()],
        reduce_fn=lambda k, vs: str(sum(int(v) for v in vs)),
    )
    df = corpus(spark, [("d1", "aab"), ("d2", "ba")])
    got = {r.key: r.value for r in run_mapreduce(df, job).collect()}
    assert got == {"a": "3", "b": "2"}


def test_kv_text_sink_roundtrip(spark, tmp_path):
    df = corpus(spark, ROWS)
    out = run_mapreduce(df, WC_JOB)
    path = os.path.join(str(tmp_path), "mr-out")
    write_sorted_kv_text(out, path, num_partitions=2)

    files = sorted(glob.glob(os.path.join(path, "part-*")))
    assert len(files) == 2  # R=2, reference common/config.go:7
    for f in files:  # each file sorted by key (worker.go:208-210)
        keys = [ln.split(" ", 1)[0] for ln in open(f) if ln.strip()]
        assert keys == sorted(keys)

    back = {r.key: r.value for r in read_kv_text(spark, path).collect()}
    assert back == {r.key: r.value for r in out.collect()}


NULL_ROWS = [("d1", "a b"), ("d2", "b c")]


def null_job(combine_fn=None):
    """A plugin whose map emits a null key (for "c") and null values (for
    "b"), and whose reducer reports exactly which values it was handed.
    Built in a function so the workers unpickle the callables by value."""

    def map_fn(doc, text):
        return [(None if w == "c" else w, None if w == "b" else "x") for w in text.split()]

    def reduce_fn(key, values):
        return repr(sorted(values, key=repr))

    return MapReduceJob(map_fn=map_fn, reduce_fn=reduce_fn, combine_fn=combine_fn)


def test_mr_null_keys_and_values_reach_the_reducer(spark):
    out = run_mapreduce(corpus(spark, NULL_ROWS), null_job())
    got = sorted(map(tuple, out.collect()), key=repr)
    assert got == [("a", "['x']"), ("b", "[None, None]"), (None, "['x']")]


def test_mr_null_keys_and_values_survive_the_combiner(spark):
    # The combiner returns a null value for the all-null "b" group; both
    # documents sit in one partition, so it sees each key exactly once.
    job = null_job(lambda k, vs: None if all(v is None for v in vs) else ",".join(vs))
    out = run_mapreduce(corpus(spark, NULL_ROWS).coalesce(1), job)
    got = sorted(map(tuple, out.collect()), key=repr)
    assert got == [("a", "['x']"), ("b", "[None]"), (None, "['x']")]


# 40 documents over 5 words, each repeated many times: long runs of equal
# keys on both sides of the shuffle.
WORDS = ["alpha", "beta", "gamma", "delta", "eps"]
BATCH_ROWS = [
    (f"doc-{i:02d}", " ".join(WORDS[(i * j) % 5] for j in range(1, 2 + i % 7)))
    for i in range(40)
]


def test_mr_results_do_not_depend_on_arrow_batch_size(spark):
    """With 3-record Arrow batches the map-side combine sees partial
    batches and the reduce side's runs of equal keys span batches, so
    the open run must carry over from one batch into the next."""
    df = corpus(spark, BATCH_ROWS)
    jobs = {}
    for name, job in (("wc", WC_JOB), ("ii", II_JOB)):
        jobs[name] = job
        jobs[f"{name} without combiner"] = dataclasses.replace(job, combine_fn=None)
        jobs[f"{name} on one partition"] = dataclasses.replace(job, num_partitions=1)

    def run_all():
        return {name: run_mapreduce(df, job).collect() for name, job in jobs.items()}

    default = run_all()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        small = run_all()
    finally:
        spark.conf.set(conf, old)
    assert small == default

    counts = Counter(w for _, text in BATCH_ROWS for w in text.split())
    postings = {w: sorted(d for d, text in BATCH_ROWS if w in text.split()) for w in counts}
    for name, rows in default.items():
        want = (
            {w: str(n) for w, n in counts.items()}
            if name.startswith("wc")
            else {w: ",".join(ds) for w, ds in postings.items()}
        )
        assert {r.key: r.value for r in rows} == want, name


def _executed_write_plan(spark, path: str) -> str:
    """The final physical plan of the most recent SQL execution that
    wrote ``path``, as the SQL status store recorded it. The store is
    fed by the asynchronous listener bus, so drain the bus first."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in reversed(range(execs.size())):
        plan = execs.apply(i).physicalPlanDescription()
        if path in plan:
            return plan
    raise AssertionError(f"no recorded execution wrote {path}")


def test_mr_plan_is_one_python_pass_per_shuffle_side(spark, tmp_path):
    """One mapInPandas on each side of the key shuffle (a second map-side
    runner or a per-group UDF is a regression), and under the sink's
    write exactly the reduce shuffle plus the sink's own: the final
    orderBy's range exchange is elided."""
    out = run_mapreduce(corpus(spark, ROWS), WC_JOB)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2
    assert "FlatMapGroupsInPandas" not in plan

    path = os.path.join(str(tmp_path), "mr-out")
    write_sorted_kv_text(out, path, num_partitions=2)
    desc = _executed_write_plan(spark, path)
    final = desc.split("== Initial Plan ==")[0]  # AQE prints the executed tree first
    assert final.count("MapInPandas") == 2
    assert "FlatMapGroupsInPandas" not in final

    def partitioning(node: str) -> str:
        # "(7) Exchange\nInput ...\nArguments: hashpartitioning(key#6, 2), ..."
        m = re.search(rf"^\({node}\) Exchange\n.*\nArguments: (\w+\([^)]*\))", desc, re.M)
        return re.sub(r"#\d+", "", m.group(1))

    exchanges = sorted(partitioning(n) for n in re.findall(r"Exchange \((\d+)\)", final))
    R = resolve_num_partitions(spark, WC_JOB)
    assert exchanges == sorted([f"hashpartitioning(key, {R})", "hashpartitioning(key, 2)"])
