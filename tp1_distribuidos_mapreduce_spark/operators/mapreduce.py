"""Generic MapReduce plugin contract (reference O12), Spark-first.

The reference's user surface is a pair of Go functions loaded from a .so
(type defs seq/sequential.go:14-15, loader cmd/worker/worker.go:256-282):

    Map(filename, contents string) []KeyValue     // UDTF: 1 → N records
    Reduce(key string, values []string) string    // UDAF: group → 1 value

Here the same contract is a pair of Python callables executed with Arrow
batching; everything between them — shuffle, grouping, barriers, retries,
the whole of the reference's cmd/ tree — is Spark.

Execution shape (the reference's exact 2-stage plan, §3.4):

    mapInPandas(map)  →  repartition(R, key)  →  applyInPandas(reduce)

Scale notes:
- Map runs per Arrow batch, never whole-file-in-memory like worker.go:42-47.
- ``applyInPandas`` materializes one group per executor — the same limit as
  the reference's map[string][]string (worker.go:194-198). That is inherent
  to the holistic ``Reduce(key, values)`` contract; jobs whose reduce is
  algebraic should use the DataFrame API directly and get partial
  aggregation for free (see operators/wordcount.py).
- When ``combine_fn`` is provided (an associative pre-reduce), we run it
  map-side via applyInPandas on the *input* partitioning before the
  shuffle — the combiner the reference lacks (SURVEY.md §4.2) — so shuffle
  volume drops from O(records) to O(distinct keys per partition).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import shuffle_parallelism

KV_SCHEMA = "key string, value string"

MapFunc = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceFunc = Callable[[str, list[str]], str]


@dataclass(frozen=True)
class MapReduceJob:
    """A reference-style plugin: Map + Reduce (+ optional combiner)."""

    map_fn: MapFunc
    reduce_fn: ReduceFunc
    combine_fn: ReduceFunc | None = None
    # None → the session's spark.sql.shuffle.partitions at run time. The
    # reference hard-codes R=2 (common/config.go:7) — a scale foot-gun as a
    # default, so parity with it is opt-in: pass num_partitions=2 (the
    # sink-layout parity test does; reduce OUTPUT is identical either way
    # since the final orderBy is a fresh range exchange).
    num_partitions: int | None = None


def resolve_num_partitions(spark, job: "MapReduceJob") -> int:
    """The job's R, defaulting to the session's shuffle parallelism — ONE
    definition shared by run_mapreduce and the CLI ('auto'-safe: managed
    platforms set spark.sql.shuffle.partitions to a non-integer)."""
    if job.num_partitions is not None:
        return job.num_partitions
    n = shuffle_parallelism(spark)
    return n if n is not None else spark.sparkContext.defaultParallelism


def run_mapreduce(
    corpus: DataFrame,
    job: MapReduceJob,
    doc_col: str = "doc_id",
    text_col: str = "value",
) -> DataFrame:
    """Run a plugin over (doc_id, value) rows → sorted (key, value) rows.

    Output ordering matches the reference's final sort by key
    (cmd/worker/worker.go:208-210, seq/sequential.go:44-46).
    """
    map_fn, reduce_fn, combine_fn = job.map_fn, job.reduce_fn, job.combine_fn

    def run_map(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            keys: list[str] = []
            vals: list[str] = []
            for doc, text in zip(pdf[doc_col], pdf[text_col]):
                for k, v in map_fn(doc, text):
                    keys.append(k)
                    vals.append(v)
            yield pd.DataFrame({"key": keys, "value": vals})

    def make_reducer(fn: ReduceFunc) -> Callable[[pd.DataFrame], pd.DataFrame]:
        def run_reduce(pdf: pd.DataFrame) -> pd.DataFrame:
            key = pdf["key"].iloc[0]
            return pd.DataFrame({"key": [key], "value": [fn(key, list(pdf["value"]))]})

        return run_reduce

    kv = corpus.select(doc_col, text_col).mapInPandas(run_map, schema=KV_SCHEMA)

    if combine_fn is not None:
        # Map-side combine, genuinely narrow: pandas-groupby inside each
        # Arrow batch via mapInPandas. (A groupBy(partition_id, key).
        # applyInPandas formulation still hash-exchanges on the group key —
        # an extra full shuffle of the uncombined stream, the exact cost a
        # combiner exists to avoid.)
        def run_combine(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
            for pdf in batches:
                rows = [
                    (k, combine_fn(k, list(vs)))
                    # dropna=False: pandas' default silently discards
                    # null keys, which Spark's reduce-side groupBy keeps —
                    # an optimization-only combiner must not change the
                    # result set.
                    for k, vs in pdf.groupby("key", sort=False, dropna=False)[
                        "value"
                    ]
                ]
                yield pd.DataFrame(rows, columns=["key", "value"])

        kv = kv.mapInPandas(run_combine, schema=KV_SCHEMA)

    R = resolve_num_partitions(corpus.sparkSession, job)
    reduced = (
        kv.repartition(R, "key")
        .groupBy("key")
        .applyInPandas(make_reducer(reduce_fn), schema=KV_SCHEMA)
    )
    return reduced.orderBy("key")


# --------------------------------------------------------------------------
# The reference's two shipped plugins, re-expressed on the generic contract
# (proof the plugin surface is sufficient — SURVEY.md §7.2 M1).
# --------------------------------------------------------------------------

import re

# Python re lacks \p{L}; [^\W\d_] == "word char minus digits/underscore"
# == Unicode letters, matching Go's unicode.IsLetter tokenization.
_LETTER_RUN = re.compile(r"[^\W\d_]+", re.UNICODE)


def _wc_map(doc_id: str, contents: str) -> Iterable[tuple[str, str]]:
    # plugins/wc/wc.go:11-21 — emit (word, "1") per token
    return ((w, "1") for w in _LETTER_RUN.findall(contents.lower()))


def _wc_reduce(key: str, values: list[str]) -> str:
    # plugins/wc/wc.go:24-26 — len(values); with the combiner on, partial
    # counts arrive as numbers, so sum them instead of counting.
    return str(sum(int(v) for v in values))


def _ii_map(doc_id: str, contents: str) -> Iterable[tuple[str, str]]:
    # plugins/ii/ii.go:12-23 — emit (word, doc_id) per token
    return ((w, str(doc_id)) for w in _LETTER_RUN.findall(contents.lower()))


# Internal combiner-partial delimiter: the final output comma-joins per
# the reference contract (ii.go:40), but re-SPLITTING on ',' to merge
# partials would shred a doc_id that itself contains a comma ('a,b.txt'
# → bogus docs 'a' and 'b.txt'). US (unit separator) never appears in
# real filenames.
_II_SEP = "\x1f"


def _ii_combine(key: str, values: list[str]) -> str:
    # partials are _II_SEP-joined; raw map output is single doc_ids
    # (which split(_II_SEP) passes through unchanged).
    return _II_SEP.join(sorted({d for v in values for d in v.split(_II_SEP)}))


def _ii_reduce(key: str, values: list[str]) -> str:
    # plugins/ii/ii.go:26-41 — distinct + ascending sort + comma-join.
    docs = sorted({d for v in values for d in v.split(_II_SEP)})
    return ",".join(docs)


WC_JOB = MapReduceJob(map_fn=_wc_map, reduce_fn=_wc_reduce, combine_fn=_wc_reduce)
II_JOB = MapReduceJob(map_fn=_ii_map, reduce_fn=_ii_reduce, combine_fn=_ii_combine)
