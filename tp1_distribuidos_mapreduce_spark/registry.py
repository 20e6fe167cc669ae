"""Query registry: every implemented operator as a named (spark, sf_dir) →
DataFrame callable, with a DuckDB oracle SQL string where the semantics are
ANSI-SQL-expressible (SURVEY.md §5 oracle discipline; driver contract in
__spark_entry__.py).

Column-name discipline: every computed column is aliased identically in the
Spark plan and the oracle SQL — the driver sorts columns by name before
value-hashing, so names must line up exactly.
"""

from __future__ import annotations

import itertools
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Tokenizer regex shared verbatim by Spark (Java regex) and DuckDB (RE2):
# both support the Unicode letter class \p{L}. Imported, not re-declared:
# the Spark-side plans tokenize via this same constant, so an edit to the
# token class can never silently desynchronize the reference-parity
# oracles from the plans.
from .functions.tokenize import TOKEN_SPLIT_REGEX as _TOK
from .operators import decontam as DC
from .operators import dedup as D
from .operators import graph as GR
from .operators import lm as LM
from .operators import multimodal as MM
from .operators import pipeline as P
from .operators import ranking as RK
from .operators import similarity as S
from .operators import textclean as TC
from .operators import textstats as T
from .operators import udtf_ops as U
from .operators import urls as UR
from .operators import vectors as VC
from .operators import vocab as VB
from .operators.mapreduce import II_JOB, WC_JOB, run_mapreduce
from .operators.skew import salted_collect_set
from .operators.wordcount import inverted_index, word_count
from .plans import approx as AX
from .plans import behavior as BH
from .plans import bloom as B
from .plans import ivm as IV
from .plans import merge as MG
from .plans import profile as PF
from .plans import relational as R
from .plans import relational_ext as RX
from .plans import retail as RT
from .plans import robust as RB
from .plans import sql_surface as SQ
from .plans import stats as STT
from .plans import tpch_more as TM
from .sinks import bucketed as BK
from .sinks import manifest as MF
from .sinks import partitioned as PT
from .sources import formats as FM
from .sources import pydatasource as PDS
from .sources.artifacts import build_once
from .sources.tables import (
    fixture_cache_tag,
    load_table,
    stream_documents,
    stream_events,
    stream_parquet,
)
from .sources.text import read_documents_as_corpus
from .streaming import dedup as SD
from .streaming import joins as SJ
from .streaming import sinks as SK
from .streaming import stateful as ST
from .streaming import windows as W

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# The correctness harness checks only the FIRST 50 names of ``queries()``,
# so iteration order is part of the registry contract. ``_WINDOW`` fixes
# those 50 slots: the five reference-parity queries first, then
# oracle-bearing queries picked for a harness correctness row. Every other
# query follows in registration order, oracle-bearing before rows-only,
# and stays covered by tests/test_relational.py's full oracle
# differential. freshness.py audits how the window is composed (size,
# registration, oracles, parity pins, and coverage across the recorded
# correctness artifacts).
_WINDOW: list[str] = [
    # reference parity
    "wc",
    "wc_textfiles",
    "ii",
    "mr_wc",
    "mr_ii",
    # oracle-bearing queries rotated through the correctness window
    "q12_shipmode_priority",
    "bpe_pair_counts",
    "event_transition_matrix",
    "events_json_stats",
    "hard_negative_mining",
    "incremental_dedup_bloom",
    "market_basket_pairs",
    "props_variant_census",
    "purchase_asof_last_click",
    "sequence_packing",
    "top_event_paths",
    "triangle_count",
    "trigram_topk",
    "url_domain_stats",
    "views_before_purchase",
    "weekday_order_stats",
    "weighted_token_sample",
    "anova_price_by_priority",
    "bm25_top_terms",
    "brand_stats_having",
    "dedup_jaccard_prefix",
    "dedup_ngram_jaccard",
    "disjunctive_brand_revenue",
    "event_type_entropy",
    "event_weekday_chi2",
    "event_weekday_mutual_info",
    "kaplan_meier_repurchase",
    "ks_returned_price",
    "mannwhitney_quantity",
    "merge_upsert_orders",
    "nation_revenue_trend",
    "nation_trend_significance",
    "partitioned_pruned_daily",
    "parts_above_brand_avg",
    "promo_revenue_by_month",
    "published_events_census",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "stream_static_enrichment",
    "text_quality",
    "tfidf_top_terms",
    "value_outliers",
    "weekday_seasonality_index",
    "welch_price_ttest",
    "zorder_pruned_scan",
]


def register(
    name: str, fn: Callable[..., DataFrame], *tables: str, oracle: str | None = None
) -> None:
    """Register query ``name``, optionally with its DuckDB ``oracle`` SQL.

    With ``tables``, ``fn`` is a plan function over those fixture tables:
    the query loads them in the order given and calls ``fn`` on them.
    Without, ``fn`` is stored as-is and must take ``(spark, sf_dir)``."""
    if tables:

        def query(spark: SparkSession, sf_dir: str) -> DataFrame:
            # load_table is looked up as a module global at call time, so a
            # tracer that patches it here sees every load.
            return fn(*(load_table(spark, sf_dir, t) for t in tables))

    else:
        query = fn
    _QUERIES[name] = query
    if oracle is not None:
        _ORACLES[name] = oracle


def _ordered_names() -> list[str]:
    in_window = [n for n in _WINDOW if n in _QUERIES]
    win = set(in_window)
    rest = [n for n in _QUERIES if n not in win]
    # After the window: remaining oracle-bearing queries (still driver-
    # checkable if the cap ever rises), rows-only sketch/media queries last.
    return (
        in_window
        + [n for n in rest if n in _ORACLES]
        + [n for n in rest if n not in _ORACLES]
    )


def queries() -> dict[str, QueryFn]:
    return {n: _QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {n: _ORACLES[n] for n in _ordered_names() if n in _ORACLES}


# --------------------------------------------------------------------------
# Reference-parity queries (SURVEY.md §2): wc + ii over documents.text
# --------------------------------------------------------------------------


_WC_ORACLE = f"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(regexp_split_to_array(lower(text), '{_TOK}')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY word
    """


def q_wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count (reference plugins/wc/wc.go) over documents.text."""
    return word_count(read_documents_as_corpus(spark, sf_dir))


register("wc", q_wc, oracle=_WC_ORACLE)


def q_wc_textfiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count over RAW TEXT FILES — the reference's true entry path
    (filesystem .txt intake, one-file-one-task at
    cmd/coordinator/coordinator.go:312) driven end-to-end: the fixture is
    materialized to .txt once under /tmp, re-read via read_text_corpus
    (spark.read.text + input_file_name), and must reproduce the exact
    parquet-path word counts."""
    from .sources.text import documents_as_text_files, read_text_corpus

    return word_count(read_text_corpus(spark, documents_as_text_files(spark, sf_dir)))


register("wc_textfiles", q_wc_textfiles, oracle=_WC_ORACLE)


def q_ii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (reference plugins/ii/ii.go) over documents."""
    return inverted_index(read_documents_as_corpus(spark, sf_dir)).select("word", "docs")


register(
    "ii", q_ii,
    oracle=f"""
    SELECT word,
           array_to_string(list_sort(array_agg(DISTINCT CAST(doc_id AS VARCHAR))), ',') AS docs
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '{_TOK}')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY word
    """,
)


def q_mr_wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wc via the generic MapReduce plugin API (reference O12 contract,
    seq/sequential.go:14-15) — proves the plugin surface reproduces the
    native-DataFrame result."""
    return run_mapreduce(read_documents_as_corpus(spark, sf_dir), WC_JOB)


register(
    "mr_wc", q_mr_wc,
    oracle=f"""
    SELECT word AS key, CAST(count(*) AS VARCHAR) AS value
    FROM (SELECT unnest(regexp_split_to_array(lower(text), '{_TOK}')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY key
    """,
)


def q_mr_ii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ii via the generic MapReduce plugin API (reference O12 contract)."""
    return run_mapreduce(read_documents_as_corpus(spark, sf_dir), II_JOB)


register(
    "mr_ii", q_mr_ii,
    oracle=f"""
    SELECT word AS key,
           array_to_string(list_sort(array_agg(DISTINCT CAST(doc_id AS VARCHAR))), ',') AS value
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '{_TOK}')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY key
    """,
)


# --------------------------------------------------------------------------
# Relational suite (plans/relational.py) — additive surface beyond the
# reference (SURVEY.md §2 negative space): joins, windows, set ops, pivot,
# having, top-k, sessionization, JSON, as-of.
# --------------------------------------------------------------------------


register("q1_pricing_summary", R.q1_pricing_summary, "lineitem", oracle=R.Q1_ORACLE)
register(
    "q3_shipping_priority", R.q3_shipping_priority,
    "customer", "orders", "lineitem", oracle=R.Q3_ORACLE,
)
register(
    "q5_revenue_by_nation", R.q5_revenue_by_nation,
    "customer", "orders", "lineitem", "supplier", "nation", "region",
    oracle=R.Q5_ORACLE,
)
register(
    "monthly_order_stats", R.monthly_order_stats,
    "orders", oracle=R.MONTHLY_ORACLE,
)
register(
    "brand_stats_having", R.brand_stats_having,
    "part", oracle=R.BRAND_HAVING_ORACLE,
)
register(
    "top_customers_per_nation", R.top_customers_per_nation,
    "customer", "orders", "nation", oracle=R.TOP_CUSTOMERS_ORACLE,
)
register(
    "order_priority_pivot", R.order_priority_pivot,
    "orders", oracle=R.PIVOT_ORACLE,
)
register(
    "customer_set_ops", R.customer_set_ops,
    "customer", "orders", oracle=R.SET_OPS_ORACLE,
)
register(
    "top_parts_by_revenue", R.top_parts_by_revenue,
    "lineitem", "part", oracle=R.TOP_PARTS_ORACLE,
)
register("sessionize_events", R.sessionize_events, "events", oracle=R.SESSIONIZE_ORACLE)
register(
    "events_json_stats", R.events_json_stats,
    "events", oracle=R.EVENTS_JSON_ORACLE,
)
register(
    "purchase_asof_last_click", R.purchase_asof_last_click,
    "events", oracle=R.ASOF_ORACLE,
)


# --------------------------------------------------------------------------
# Relational extension (plans/relational_ext.py): rollup/cube, semi/anti,
# percentiles, window frames, EXISTS, array + date functions.
# --------------------------------------------------------------------------


register(
    "rollup_lineitem_flags", RX.rollup_lineitem_flags,
    "lineitem", oracle=RX.ROLLUP_ORACLE,
)
register(
    "cube_order_status_priority", RX.cube_order_status_priority,
    "orders", oracle=RX.CUBE_ORACLE,
)
register(
    "supplier_activity", RX.supplier_activity,
    "supplier", "lineitem", oracle=RX.SUPPLIER_ACTIVITY_ORACLE,
)
register(
    "order_price_quantiles", RX.order_price_quantiles,
    "orders", oracle=RX.QUANTILES_ORACLE,
)
register(
    "daily_revenue_moving_avg", RX.daily_revenue_moving_avg,
    "lineitem", oracle=RX.MOVING_AVG_ORACLE,
)
register(
    "priorities_with_big_items", RX.priorities_with_big_items,
    "orders", "lineitem", oracle=RX.EXISTS_ORACLE,
)
register(
    "brand_type_vocabulary", RX.brand_type_vocabulary,
    "part", oracle=RX.BRAND_VOCAB_ORACLE,
)
register(
    "weekday_order_stats", RX.weekday_order_stats,
    "orders", oracle=RX.WEEKDAY_ORACLE,
)
register(
    "returned_item_revenue", RX.returned_item_revenue,
    "customer", "orders", "lineitem", "nation", oracle=RX.Q10_ORACLE,
)
register(
    "parts_above_brand_avg", RX.parts_above_brand_avg,
    "part", oracle=RX.ABOVE_AVG_ORACLE,
)
register(
    "customer_order_gaps", RX.customer_order_gaps,
    "orders", oracle=RX.ORDER_GAPS_ORACLE,
)
register(
    "promo_revenue_by_month", RX.promo_revenue_by_month,
    "lineitem", "part", oracle=RX.PROMO_REVENUE_ORACLE,
)
register(
    "supplier_part_variety", RX.supplier_part_variety,
    "lineitem", "part", "supplier", oracle=RX.SUPPLIER_VARIETY_ORACLE,
)
register(
    "large_quantity_orders", RX.large_quantity_orders,
    "customer", "orders", "lineitem", oracle=RX.LARGE_ORDERS_ORACLE,
)
register(
    "disjunctive_brand_revenue", RX.disjunctive_brand_revenue,
    "lineitem", "part", oracle=RX.DISJUNCTIVE_ORACLE,
)
register(
    "order_value_deciles", RX.order_value_deciles,
    "orders", oracle=RX.DECILES_ORACLE,
)
register(
    "latest_event_per_user", RX.latest_event_per_user,
    "events", oracle=RX.LATEST_EVENT_ORACLE,
)
register(
    "hourly_event_gapfill", RX.hourly_event_gapfill,
    "events", oracle=RX.GAPFILL_ORACLE,
)
register(
    "event_gap_detection", RX.event_gap_detection,
    "events", oracle=RX.EVENT_GAP_ORACLE,
)
register("value_outliers", RX.value_outliers, "events", oracle=RX.VALUE_OUTLIERS_ORACLE)
register(
    "bloom_pruned_join", B.bloom_pruned_join,
    "orders", "lineitem", oracle=B.BLOOM_PRUNED_JOIN_ORACLE,
)
register(
    "funnel_conversion", BH.funnel_conversion,
    "events", oracle=BH.FUNNEL_CONVERSION_ORACLE,
)
register(
    "cohort_retention", BH.cohort_retention,
    "events", oracle=BH.COHORT_RETENTION_ORACLE,
)
register(
    "time_weighted_value", BH.time_weighted_value,
    "events", oracle=BH.TIME_WEIGHTED_VALUE_ORACLE,
)
register(
    "subtree_rollup", RX.subtree_rollup,
    "documents", oracle=RX.SUBTREE_ROLLUP_ORACLE,
)
register(
    "top_event_paths", BH.top_event_paths,
    "events", oracle=BH.TOP_EVENT_PATHS_ORACLE,
)
register(
    "merge_upsert_orders", MG.merge_upsert_orders,
    "orders", oracle=MG.MERGE_UPSERT_ORDERS_ORACLE,
)
register(
    "partitioned_pruned_daily", PT.partitioned_daily_activity,
    oracle=PT.PARTITIONED_DAILY_ACTIVITY_ORACLE,
)
register(
    "bucketed_colocated_join", BK.bucketed_revenue_by_priority,
    oracle=BK.BUCKETED_REVENUE_ORACLE,
)
register(
    "published_events_census", MF.published_events_census,
    oracle=MF.PUBLISHED_EVENTS_CENSUS_ORACLE,
)


_ZORDER_PRUNED_ORACLE = """
WITH b AS (SELECT min(user_id) AS lo, max(user_id) AS hi FROM events)
SELECT event_type,
       count(*) AS n_events,
       ((sum(CAST(round(value * 1000) AS BIGINT)) + 5) // 10) / 100.0
         AS sum_value
FROM events e, b
WHERE e.user_id BETWEEN b.lo + ((b.hi - b.lo) * 2) // 5
                    AND b.lo + ((b.hi - b.lo) * 3) // 5
GROUP BY event_type
ORDER BY event_type
"""


def q_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range scan over a Z-ORDERED copy of events (Morton curve over
    (ts, user_id), sinks/zorder.py): a mid-domain user_id slab — the
    NON-lead dimension of the classic time-sorted layout — aggregated by
    event_type. Z-order is pure physical layout, so the oracle runs the
    identical filter over the PLAIN parquet: any row difference means the
    layout lost or duplicated data. The scan benefit is pinned
    deterministically in tests/test_zorder.py via parquet row-group
    min/max stats (measured on events sf0.001, 10% slab on the second
    dimension: linear-by-lead-column reads 15/15 row groups, z-order
    reads 6/32). Bounds arithmetic is integer-only (`div`/`//`) so Spark
    and DuckDB agree bit-exactly."""
    from .sinks.zorder import ensure_zordered_fixture

    path = ensure_zordered_fixture(
        spark, sf_dir, "events", ("ts", "user_id"), num_files=32
    )
    ev = spark.read.parquet(path)
    # bounded collect: one row of two scalars (bucket-bound class, same as
    # the sketch grids in plans/approx.py)
    b = ev.agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi")).collect()[0]
    lo = b.lo + ((b.hi - b.lo) * 2) // 5
    hi = b.lo + ((b.hi - b.lo) * 3) // 5
    return (
        ev.filter(F.col("user_id").between(lo, hi))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact 1e-3-scaled BIGINT sum, half-up integer round to 2dp.
            (
                F.expr("(sum(cast(round(value * 1000) as bigint)) + 5) div 10")
                / 100.0
            ).alias("sum_value"),
        )
        .orderBy("event_type")
    )


register("zorder_pruned_scan", q_zorder_pruned_scan, oracle=_ZORDER_PRUNED_ORACLE)
register(
    "waiting_suppliers", RX.waiting_suppliers,
    "supplier", "lineitem", "orders", "nation", oracle=RX.WAITING_SUPPLIERS_ORACLE,
)
register(
    "idle_customers_opportunity", RX.idle_customers_opportunity,
    "customer", "orders", oracle=RX.IDLE_CUSTOMERS_ORACLE,
)


# --------------------------------------------------------------------------
# SQL front-end surface (plans/sql_surface.py): the SQL text runs verbatim
# on Spark AND serves as its own DuckDB oracle — one text, two engines.
# --------------------------------------------------------------------------


def q_sql_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SQ.run_sql(spark, sf_dir, SQ.REVENUE_BY_REGION_SQL)


register("sql_revenue_by_region", q_sql_revenue, oracle=SQ.REVENUE_BY_REGION_SQL)


def q_sql_top_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SQ.run_sql(spark, sf_dir, SQ.TOP_BALANCES_SQL)


register("sql_top_balances_per_nation", q_sql_top_balances, oracle=SQ.TOP_BALANCES_SQL)


def q_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SQ.run_sql(spark, sf_dir, SQ.GROUPING_SETS_SQL)


register("sql_grouping_sets", q_sql_grouping_sets, oracle=SQ.GROUPING_SETS_SQL)


# Sketch aggregates (plans/approx.py): engine-specific estimates → rows-only
# driver check; accuracy pinned vs exact aggregates in tests/test_approx.py.


register("approx_user_counts", AX.approx_user_counts, "events")
register(
    "cms_heavy_hitters", AX.cms_heavy_hitters,
    "documents", oracle=AX.CMS_HEAVY_HITTERS_ORACLE,
)
register(
    "cms_heavy_hitters_by_source", AX.cms_heavy_hitters_by_source,
    "documents", oracle=AX.CMS_HEAVY_HITTERS_BY_SOURCE_ORACLE,
)


# Monotonic per-process generation counter for the sketch drains' work dirs.
_STREAM_Q_SEQ = itertools.count()


def _landed_stream_source(
    spark: SparkSession, sf_dir: str, table: str
) -> tuple[str, str]:
    """The streaming file source reads a DIRECTORY, but each fixture table
    is one parquet file: land ``table`` once (content-addressed) as a
    multi-file directory, so a drain also spans more than one source file.
    Returns (directory, fixture tag)."""
    tag = fixture_cache_tag(sf_dir, table, "stream-src-v1")
    src = f"/tmp/tp1_spark_stream_{table}_{tag}"
    build_once(
        src,
        lambda: load_table(spark, sf_dir, table)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(src),
    )
    return src, tag


def _fresh_sketch_work_dir(prefix: str, tag: str) -> str:
    """A new state + checkpoint root per invocation. The sketch drains
    return LAZY DataFrames over their state dir, so a re-invocation must
    never rmtree a dir an earlier, still-unmaterialized result reads from.
    Dirs hold a few KB of sketch state; generations are bounded by
    invocations per process."""
    work = f"/tmp/tp1_spark_{prefix}_{tag}_{os.getpid()}_g{next(_STREAM_Q_SEQ)}"
    shutil.rmtree(work, ignore_errors=True)
    return work


def q_stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min-at-ingest end-to-end (streaming/sinks.py
    write_stream_cms_cells): an availableNow drain folds each
    micro-batch of documents' (d, pos) cell counts into a persisted
    sketch table (versioned dirs + atomic pointer + batch-id fence — the
    fence is LOAD-BEARING here: cell-count addition is not idempotent,
    the DD fold's contrast to the HLL/KMV max-merges), and the returned
    heavy hitters — candidate-pruned by
    the PERSISTED grid through the identical probe kernel as the batch
    query — equal the one-shot batch cms_heavy_hitters EXACTLY (pinned
    across a multi-batch replay in tests/test_streaming.py; the
    differential's independent reference is the exact DuckDB heavy-
    hitter count at sf0.1). Rows-only (streaming drain; the batch twin
    cms_heavy_hitters carries the DuckDB oracle)."""
    src, tag = _landed_stream_source(spark, sf_dir, "documents")
    work = _fresh_sketch_work_dir("cms_q", tag)
    SK.write_stream_cms_cells(
        stream_documents(spark, src, max_files_per_trigger=2),
        f"{work}/state",
        f"{work}/ckpt",
    )
    return SK.read_cms_heavy_hitters(
        spark, f"{work}/state", load_table(spark, sf_dir, "documents")
    )


register("stream_cms_heavy_hitters", q_stream_cms_heavy_hitters)


def q_stream_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming membership-sketch-at-ingest end-to-end (streaming/
    sinks.py write_stream_bloom_words): an availableNow drain folds each
    micro-batch of urgent-order keys into a persisted sparse Bloom word
    table (versioned dirs + atomic pointer + batch-id fence — NOT
    load-bearing here: bit OR is idempotent like the HLL/KMV merges,
    pinned by a forced re-fold in tests/test_streaming.py), and the
    returned revenue — lineitem
    pruned by the PERSISTED filter through the identical probe kernel,
    false positives removed by the exact semi-join — equals the
    one-shot batch bloom_pruned_join EXACTLY. Rows-only (streaming
    drain; the batch twin bloom_pruned_join carries the DuckDB oracle,
    and the differential's independent reference replays that oracle at
    sf0.1)."""
    src, tag = _landed_stream_source(spark, sf_dir, "orders")
    work = _fresh_sketch_work_dir("bloom_q", tag)
    urgent_keys = (
        stream_parquet(spark, src, max_files_per_trigger=2)
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    SK.write_stream_bloom_words(
        urgent_keys, "o_orderkey", f"{work}/state", f"{work}/ckpt"
    )
    return SK.read_bloom_pruned_revenue(
        spark,
        f"{work}/state",
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


register("stream_bloom_pruned_join", q_stream_bloom_pruned_join)
register(
    "bitmap_distinct_users", AX.bitmap_distinct_users,
    "events", oracle=AX.BITMAP_DISTINCT_ORACLE,
)
register("approx_price_quantiles", AX.approx_price_quantiles, "orders")


# Skew path end-to-end: salted two-phase collect_set on a maximally skewed
# key (5 event types over the whole table), oracle-checked for equality
# with the direct aggregation.


def q_skewed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The driver canonicalizer hashes scalar cells only (pandas sort_values
    # chokes on list cells), so the sorted distinct array is comma-joined
    # to a string on BOTH sides, mirroring how ii.docs passes. Numeric sort
    # happens before the cast on both engines, so the strings agree.
    out = salted_collect_set(
        load_table(spark, sf_dir, "events"), "event_type", "user_id"
    )
    return out.select(
        "event_type",
        F.array_join(
            F.transform("values", lambda v: v.cast("string")), ","
        ).alias("values"),
    ).orderBy("event_type")


register(
    "skewed_distinct_users", q_skewed_distinct,
    oracle="""
    SELECT event_type,
           array_to_string(list_sort(list_distinct(list(user_id))), ',') AS values
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)


# --------------------------------------------------------------------------
# LLM-data-pipeline operators (BASELINE.md): dedup, similarity search,
# text analysis. Sketch-based ops (minhash/simhash/LSH/fingerprint) use
# engine-specific hashes → rows-only driver check; properties are pinned
# by pytest against the exact variants.
# --------------------------------------------------------------------------


register("dedup_exact", D.dedup_exact, "documents", oracle=D.DEDUP_EXACT_ORACLE)
register(
    "incremental_dedup_bloom", D.incremental_dedup,
    "documents", oracle=D.INCREMENTAL_DEDUP_ORACLE,
)
register(
    "shared_span_pairs", D.shared_span_pairs,
    "documents", oracle=D.SHARED_SPAN_PAIRS_ORACLE,
)


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Registered with the hot-shingle df-cut ON (the scale path — a shingle
    # shared by d docs emits d² join rows without it); the oracle applies
    # the identical cut, so the comparison stays exact given the cut.
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        max_shingle_df=D.DEFAULT_MAX_SHINGLE_DF,
    )


register("dedup_ngram_jaccard", q_dedup_jaccard, oracle=D.NGRAM_JACCARD_ORACLE)
register("dedup_minhash_lsh", D.minhash_lsh_pairs, "documents")
register("dedup_simhash", D.simhash_pairs, "documents")
register(
    "dedup_embedding_cosine", D.embedding_near_dup_pairs,
    "embeddings", oracle=D.EMBEDDING_NEAR_DUP_ORACLE,
)
register("dedup_embedding_ivf", D.embedding_near_dup_pairs_ivf, "embeddings")
register(
    "knn_bruteforce", S.knn_bruteforce,
    "embeddings", oracle=S.KNN_BRUTEFORCE_ORACLE,
)
register("knn_lsh", S.knn_lsh, "embeddings")
register("knn_ivf_persisted", S.knn_ivf_persisted)
register("knn_ivf", S.knn_ivf, "embeddings")
register("knn_ivf_pq_persisted", S.knn_ivf_pq_persisted)
register("knn_ivf_pq", S.knn_ivf_pq, "embeddings")
register(
    "dedup_clusters", D.near_dup_clusters,
    "documents", oracle=D.NEAR_DUP_CLUSTERS_ORACLE,
)
register(
    "train_val_test_split", P.train_val_test_split,
    "documents", oracle=P.TRAIN_VAL_TEST_ORACLE,
)
register(
    "chunk_documents", P.chunk_documents,
    "documents", oracle=P.CHUNK_DOCUMENTS_ORACLE,
)
register(
    "corpus_curation", P.corpus_curation,
    "documents", oracle=P.CORPUS_CURATION_ORACLE,
)
register(
    "stratified_sample", P.stratified_sample,
    "documents", oracle=P.STRATIFIED_SAMPLE_ORACLE,
)
register(
    "language_rebalance", P.language_rebalance,
    "documents", oracle=P.LANGUAGE_REBALANCE_ORACLE,
)
register(
    "sentence_stats", U.sentence_stats,
    "documents", oracle=U.SENTENCE_STATS_ORACLE,
)
register("text_quality", T.text_quality, "documents", oracle=T.TEXT_QUALITY_ORACLE)
register("language_id", T.language_id, "documents", oracle=T.LANGUAGE_ID_ORACLE)
register("token_stats", T.token_stats, "documents", oracle=T.TOKEN_STATS_ORACLE)
register(
    "tfidf_top_terms", RK.tfidf_top_terms,
    "documents", oracle=RK.TFIDF_TOP_TERMS_ORACLE,
)
register(
    "positional_index", RK.positional_index,
    "documents", oracle=RK.POSITIONAL_INDEX_ORACLE,
)
register(
    "bm25_top_terms", RK.bm25_top_terms,
    "documents", oracle=RK.BM25_TOP_TERMS_ORACLE,
)
register("phrase_search", RK.phrase_search, "documents", oracle=RK.PHRASE_SEARCH_ORACLE)
register("pii_scrub", TC.pii_scrub, "documents", oracle=TC.PII_SCRUB_ORACLE)
register(
    "repetition_stats", TC.repetition_stats,
    "documents", oracle=TC.REPETITION_STATS_ORACLE,
)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.doc_fingerprint(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_fingerprints", "min_fingerprint"
    )


register("doc_fingerprint", q_doc_fingerprint)
register(
    "benchmark_contamination", DC.benchmark_contamination,
    "documents", oracle=DC.BENCHMARK_CONTAMINATION_ORACLE,
)
register("corpus_card", VB.corpus_card, "documents", oracle=VB.CORPUS_CARD_ORACLE)
register(
    "bpe_pair_counts", VB.bpe_pair_counts,
    "documents", oracle=VB.BPE_PAIR_COUNTS_ORACLE,
)
register(
    "event_transition_matrix", BH.event_transition_matrix,
    "events", oracle=BH.EVENT_TRANSITION_ORACLE,
)
register(
    "rfm_segmentation", RT.rfm_segmentation,
    "orders", oracle=RT.RFM_SEGMENTATION_ORACLE,
)
register(
    "market_basket_pairs", RT.market_basket_pairs,
    "lineitem", oracle=RT.MARKET_BASKET_ORACLE,
)
register(
    "open_orders_by_month", RT.open_orders_by_month,
    "orders", "lineitem", oracle=RT.OPEN_ORDERS_BY_MONTH_ORACLE,
)
register(
    "weighted_median_price", RT.weighted_median_price,
    "lineitem", oracle=RT.WEIGHTED_MEDIAN_ORACLE,
)
register(
    "sequence_packing", VB.sequence_packing,
    "documents", oracle=VB.SEQUENCE_PACKING_ORACLE,
)
register("trigram_topk", VB.trigram_topk, "documents", oracle=VB.TRIGRAM_TOPK_ORACLE)
register(
    "rolling_7d_active_users", BH.rolling_active_users,
    "events", oracle=BH.ROLLING_ACTIVE_USERS_ORACLE,
)
register(
    "orders_yoy_growth", RT.orders_yoy_growth,
    "orders", oracle=RT.ORDERS_YOY_GROWTH_ORACLE,
)
register("table_profile", PF.table_profile, "lineitem", oracle=PF.TABLE_PROFILE_ORACLE)
register(
    "data_quality_checks", PF.data_quality_checks,
    "orders", "lineitem", "events", oracle=PF.DATA_QUALITY_CHECKS_ORACLE,
)
register(
    "numeric_histogram", PF.numeric_histogram,
    "lineitem", oracle=PF.NUMERIC_HISTOGRAM_ORACLE,
)
register(
    "user_state_islands", BH.user_state_islands,
    "events", oracle=BH.USER_STATE_ISLANDS_ORACLE,
)
register(
    "source_vocab_overlap", VB.source_vocab_overlap,
    "documents", oracle=VB.SOURCE_VOCAB_OVERLAP_ORACLE,
)
register(
    "daily_revenue_anomalies", RX.daily_revenue_anomalies,
    "orders", oracle=RX.DAILY_REVENUE_ANOMALIES_ORACLE,
)
register("pagerank_copurchase", GR.pagerank_copurchase, "lineitem")


register(
    "label_centroid_cosine", VC.label_centroid_cosine,
    "embeddings", oracle=VC.LABEL_CENTROID_COSINE_ORACLE,
)
register("embedding_pca", VC.embedding_pca, "embeddings")
register("kmeans_clusters", VC.kmeans_clusters, "embeddings")


# --------------------------------------------------------------------------
# Multimodal surface (operators/multimodal.py) — binary media columns with
# decode/feature/resize/frame-sample via mapInPandas. Blob synthesis is
# numpy-seeded (not SQL-expressible) → rows-only driver checks; values are
# pinned against numpy ground truth in tests/test_multimodal.py.
# --------------------------------------------------------------------------


def q_media_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.media_summary(MM.synthesize_media(load_table(spark, sf_dir, "documents")))


register("media_summary", q_media_summary)


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.image_stats(
        MM.synthesize_media(load_table(spark, sf_dir, "documents"))
    ).select("media_id", "height", "width", "mean", "std")


register("image_stats", q_image_stats)


def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.audio_stats(MM.synthesize_media(load_table(spark, sf_dir, "documents")))


register("audio_stats", q_audio_stats)


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        MM.sample_frames(MM.synthesize_media(load_table(spark, sf_dir, "documents")))
        .groupBy("media_id")
        .agg(F.count("*").alias("n_sampled"))
        .orderBy("media_id")
    )


register("video_frame_sample", q_video_frames)


# --------------------------------------------------------------------------
# Streaming surface (streaming/) — registered in BATCH mode (Structured
# Streaming's unified model: same plan, same results on bounded input);
# tests/test_streaming.py replays them as real streams and pins agreement.
# --------------------------------------------------------------------------


register(
    "tumbling_event_counts", W.tumbling_event_counts,
    "events", oracle=W.TUMBLING_ORACLE,
)
register(
    "sliding_event_stats", W.sliding_event_stats,
    "events", oracle=W.SLIDING_ORACLE,
)
register(
    "session_window_stats", W.session_window_stats,
    "events", oracle=W.SESSION_ORACLE,
)
register(
    "user_event_totals", ST.user_event_totals,
    "events", oracle=ST.USER_TOTALS_ORACLE,
)
register(
    "click_purchase_attribution", SJ.click_purchase_attribution,
    "events", oracle=SJ.ATTRIBUTION_ORACLE,
)
register(
    "stream_static_enrichment", SJ.stream_static_enrichment,
    "events", "customer", "nation", oracle=SJ.STREAM_STATIC_ENRICHMENT_ORACLE,
)


STREAM_DEDUP_ORACLE = """
SELECT event_type, count(*) AS n_events
FROM (
  SELECT DISTINCT event_id, event_type
  FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
)
GROUP BY event_type
ORDER BY event_type
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Doubled input models at-least-once delivery; dedup must collapse it.
    ev = load_table(spark, sf_dir, "events")
    return SD.deduped_event_type_counts(ev.unionAll(ev))


register("stream_dedup_counts", q_stream_dedup, oracle=STREAM_DEDUP_ORACLE)


# Web-corpus domain census, mixing weights, novelty scoring, range-join
# attribution, rank windows, and wide→long reshape.


register(
    "url_domain_stats", UR.url_domain_stats,
    "documents", oracle=UR.URL_DOMAIN_STATS_ORACLE,
)
register(
    "source_mix_weights", VB.source_mix_weights,
    "documents", oracle=VB.SOURCE_MIX_WEIGHTS_ORACLE,
)
register(
    "trigram_novelty", VB.trigram_novelty,
    "documents", oracle=VB.TRIGRAM_NOVELTY_ORACLE,
)
register(
    "views_before_purchase", BH.views_before_purchase,
    "events", oracle=BH.VIEWS_BEFORE_PURCHASE_ORACLE,
)
register(
    "supplier_balance_percentiles", RX.supplier_balance_percentiles,
    "supplier", oracle=RX.BALANCE_PERCENTILES_ORACLE,
)
register(
    "monthly_metrics_unpivot", RX.monthly_metrics_unpivot,
    "orders", oracle=RX.MONTHLY_UNPIVOT_ORACLE,
)
register("mad_outliers", PF.mad_outliers, "events", oracle=PF.MAD_OUTLIERS_ORACLE)
register(
    "customer_ltv_pareto", RT.customer_ltv_pareto,
    "orders", oracle=RT.CUSTOMER_LTV_PARETO_ORACLE,
)
register(
    "prefix_duplicates", D.prefix_duplicates,
    "documents", oracle=D.PREFIX_DUPLICATES_ORACLE,
)
register(
    "nation_trade_flows", RX.nation_trade_flows,
    "lineitem", "orders", "customer", "supplier", "nation",
    oracle=RX.NATION_TRADE_FLOWS_ORACLE,
)


def q_image_phash_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup (operators/multimodal.py): Arrow-
    batched decode→ahash, 16-char-key census — rows-only (DuckDB cannot
    decode FIMG); groups pinned against the numpy reference in
    tests/test_multimodal.py. Input replays every 5th image under a
    negative mirror id so duplicate groups exist at every SF."""
    return MM.image_phash_dupes(
        MM.media_with_replayed_images(load_table(spark, sf_dir, "documents"))
    )


register("image_phash_dupes", q_image_phash_dupes)
register(
    "language_confusion", T.language_confusion,
    "documents", oracle=T.LANGUAGE_CONFUSION_ORACLE,
)
register(
    "copurchase_jaccard", GR.copurchase_jaccard,
    "lineitem", oracle=GR.COPURCHASE_JACCARD_ORACLE,
)
register(
    "source_quality_gates", TC.source_quality_gates,
    "documents", oracle=TC.SOURCE_QUALITY_GATES_ORACLE,
)


# --------------------------------------------------------------------------
# TPC-H classics, graph triangle/degree, ER fuzzy match, sweep-line
# concurrency, weighted systematic sampling
# --------------------------------------------------------------------------


register(
    "q4_order_priority", TM.q4_order_priority,
    "orders", "lineitem", oracle=TM.Q4_ORACLE,
)
register(
    "q13_custdist", TM.q13_customer_distribution,
    "customer", "orders", oracle=TM.Q13_ORACLE,
)
register(
    "q17_small_qty_revenue", TM.q17_small_quantity_revenue,
    "lineitem", "part", oracle=TM.Q17_ORACLE,
)
register(
    "q8_market_share", TM.q8_market_share,
    "lineitem", "orders", "customer", "supplier", "nation", "region",
    oracle=TM.Q8_ORACLE,
)
register("fuzzy_part_match", TM.fuzzy_part_match, "part", oracle=TM.FUZZY_PART_ORACLE)
register(
    "max_concurrent_sessions", TM.max_concurrent_sessions,
    "events", oracle=TM.MAX_CONCURRENT_ORACLE,
)
register(
    "degree_distribution", GR.degree_distribution,
    "lineitem", oracle=GR.DEGREE_DISTRIBUTION_ORACLE,
)
register(
    "triangle_count", GR.triangle_count,
    "lineitem", oracle=GR.TRIANGLE_COUNT_ORACLE,
)
register(
    "weighted_token_sample", P.weighted_systematic_sample,
    "documents", oracle=P.WEIGHTED_SYSTEMATIC_SAMPLE_ORACLE,
)


# --------------------------------------------------------------------------
# LM-based curation, iterative graph/BPE, robust stats, provenance matrix
# --------------------------------------------------------------------------


register(
    "bigram_perplexity", LM.bigram_perplexity_by_source,
    "documents", oracle=LM.BIGRAM_PERPLEXITY_ORACLE,
)
register("bpe_train_merges", LM.bpe_train_merges, "documents")
register("bpe_encode_stats", LM.bpe_encode_stats, "documents")
register("bfs_distances", GR.bfs_distances, "lineitem", oracle=GR.BFS_DISTANCES_ORACLE)
register(
    "trimmed_mean_price", RB.trimmed_mean_price,
    "part", oracle=RB.TRIMMED_MEAN_ORACLE,
)
register("source_gini", RB.source_gini, "documents", oracle=RB.SOURCE_GINI_ORACLE)
register(
    "cross_source_span_matrix", D.cross_source_span_matrix,
    "documents", oracle=D.CROSS_SOURCE_SPAN_ORACLE,
)


# --------------------------------------------------------------------------
# Format breadth, schema evolution, association rules, incremental view
# maintenance, table reconciliation
# --------------------------------------------------------------------------


def q_q1_from_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 over an ORC materialization of lineitem (sources/
    formats.py): the ORC scan path end-to-end under the same oracle as
    the parquet twin — any value/type drift between format paths fails
    the differential."""
    return R.q1_pricing_summary(FM.read_lineitem_orc(spark, sf_dir))


register("q1_from_orc", q_q1_from_orc, oracle=R.Q1_ORACLE)
register(
    "schema_evolution_census", FM.schema_evolution_census,
    oracle=FM.SCHEMA_EVOLUTION_ORACLE,
)
register(
    "type_widening_census", FM.type_widening_census,
    oracle=FM.TYPE_WIDENING_ORACLE,
)
register(
    "association_rules", RT.association_rules,
    "lineitem", oracle=RT.ASSOCIATION_RULES_ORACLE,
)
register(
    "incremental_agg_merge", IV.incremental_agg_merge,
    oracle=IV.INCREMENTAL_AGG_ORACLE,
)
register("table_diff", IV.table_diff, "orders", oracle=IV.TABLE_DIFF_ORACLE)


# --------------------------------------------------------------------------
# Skyline, nucleus coverage cut, RANGE-frame window
# --------------------------------------------------------------------------


register(
    "pareto_frontier_parts", RB.pareto_frontier_parts,
    "part", oracle=RB.PARETO_FRONTIER_ORACLE,
)
register(
    "nucleus_token_cut", RB.nucleus_token_cut,
    "documents", oracle=RB.NUCLEUS_CUT_ORACLE,
)
register(
    "trailing_30d_revenue", RX.trailing_30d_revenue,
    "orders", oracle=RX.TRAILING_30D_ORACLE,
)


# --------------------------------------------------------------------------
# CSV and JSONL connector parity under the oracle gate
# --------------------------------------------------------------------------


def q_weekday_orders_from_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday order stats over a CSV round-trip of orders (sources/
    formats.py → files.py read_csv): the schema-enforced line-oriented
    CSV connector end-to-end under the same oracle as the parquet twin —
    null discipline, header removal, and timestamp round-trip all score
    on the differential."""
    return RX.weekday_order_stats(FM.read_orders_csv(spark, sf_dir))


register("weekday_orders_from_csv", q_weekday_orders_from_csv, oracle=RX.WEEKDAY_ORACLE)


def q_latest_event_from_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-event-per-user over a gzip JSONL round-trip of events
    (sources/formats.py → files.py read_jsonl): the quarantining JSONL
    connector end-to-end under the parquet oracle — ISO-8601 UTC
    timestamps and double round-trips must be lossless to pass."""
    return RX.latest_event_per_user(FM.read_events_jsonl(spark, sf_dir))


register(
    "latest_event_from_jsonl", q_latest_event_from_jsonl,
    oracle=RX.LATEST_EVENT_ORACLE,
)


# --------------------------------------------------------------------------
# Streaming incremental view maintenance
# --------------------------------------------------------------------------

STREAM_IVM_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def q_stream_ivm_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental view maintenance end-to-end (streaming/
    sinks.py write_stream_ivm): an availableNow drain folds per-user
    (count, value-cents) deltas into a persisted state table via
    foreachBatch full-outer combines; the returned final state must
    equal the one-shot batch aggregate exactly — integer cents make the
    fold exact across any micro-batch boundaries (multi-batch replay
    and restart no-op pinned in tests/test_streaming.py). Fresh
    state/checkpoint dirs per invocation keep the query idempotent."""
    src, tag = _landed_stream_source(spark, sf_dir, "events")
    # One work root per fixture and process, wiped before each run: a
    # fresh mkdtemp per invocation leaked a state dir + checkpoint every
    # replay (bench loops run this hundreds of times), and wiping keeps
    # the query's from-scratch replay semantics. PER-PROCESS because a
    # shared dir would let a concurrent session's wipe destroy this one's
    # live state mid-fold (two drivers running the same query).
    work = f"/tmp/tp1_spark_ivm_q_{tag}_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    SK.write_stream_ivm(
        stream_events(spark, src, max_files_per_trigger=2),
        f"{work}/state",
        f"{work}/ckpt",
    )
    return SK.read_ivm_state(spark, f"{work}/state")


register("stream_ivm_user_totals", q_stream_ivm_user_totals, oracle=STREAM_IVM_ORACLE)


# --------------------------------------------------------------------------
# The remaining TPC-H classics (plans/tpch_more.py). The fixture has no
# partsupp table, so Q2/Q9/Q11/Q16/Q20 derive one, and no l_shipmode/
# l_commitdate/l_receiptdate, so Q12/Q21 use documented proxies.
# --------------------------------------------------------------------------


register("q6_forecast_revenue", TM.q6_forecast_revenue, "lineitem", oracle=TM.Q6_ORACLE)
register(
    "q7_volume_shipping", TM.q7_volume_shipping,
    "supplier", "lineitem", "orders", "customer", "nation", oracle=TM.Q7_ORACLE,
)
register(
    "q9_product_type_profit", TM.q9_product_type_profit,
    "lineitem", "orders", "part", "supplier", "nation", oracle=TM.Q9_ORACLE,
)
register(
    "q2_min_cost_supplier", TM.q2_min_cost_supplier,
    "part", "supplier", "nation", "region", oracle=TM.Q2_ORACLE,
)
register(
    "q11_important_stock", TM.q11_important_stock,
    "part", "supplier", "nation", oracle=TM.Q11_ORACLE,
)
register(
    "q20_potential_promotion", TM.q20_potential_promotion,
    "part", "supplier", "nation", "lineitem", oracle=TM.Q20_ORACLE,
)
register(
    "q16_supplier_part_counts", TM.q16_supplier_part_counts,
    "part", "supplier", oracle=TM.Q16_ORACLE,
)
register(
    "q21_waiting_suppliers", TM.q21_waiting_suppliers,
    "supplier", "lineitem", "orders", "nation", oracle=TM.Q21_ORACLE,
)
register(
    "q22_global_sales_opportunity", TM.q22_global_sales_opportunity,
    "customer", "orders", oracle=TM.Q22_ORACLE,
)
register(
    "q12_shipmode_priority", TM.q12_shipmode_priority,
    "orders", "lineitem", oracle=TM.Q12_ORACLE,
)
register(
    "q14_promo_effect", TM.q14_promo_effect,
    "lineitem", "part", oracle=TM.Q14_ORACLE,
)
register(
    "q15_top_supplier", TM.q15_top_supplier,
    "supplier", "lineitem", oracle=TM.Q15_ORACLE,
)
register(
    "q18_large_volume_customers", TM.q18_large_volume_customers,
    "customer", "orders", "lineitem", oracle=TM.Q18_ORACLE,
)
register(
    "q19_discounted_revenue", TM.q19_discounted_revenue,
    "lineitem", "part", oracle=TM.Q19_ORACLE,
)
register(
    "linear_attribution", BH.linear_attribution,
    "events", oracle=BH.LINEAR_ATTRIBUTION_ORACLE,
)
register(
    "repeat_purchase_intervals", BH.repeat_purchase_intervals,
    "customer", "orders", oracle=BH.REPEAT_PURCHASE_ORACLE,
)
register(
    "dedup_survivors", D.dedup_survivors,
    "documents", oracle=D.DEDUP_SURVIVORS_ORACLE,
)
register(
    "hard_negative_mining", S.hard_negative_mining,
    "embeddings", oracle=S.HARD_NEGATIVE_ORACLE,
)
register(
    "star_revenue_rollup", RX.star_revenue_rollup,
    "lineitem", "orders", "customer", "nation", oracle=RX.STAR_REVENUE_ROLLUP_ORACLE,
)
register(
    "purchases_by_browsing_state", BH.purchases_by_browsing_state,
    "events", oracle=BH.PURCHASES_BY_STATE_ORACLE,
)
register(
    "time_to_convert_stats", BH.time_to_convert_stats,
    "events", oracle=BH.TIME_TO_CONVERT_ORACLE,
)
register(
    "lang_fertility_stats", T.lang_fertility_stats,
    "documents", oracle=T.LANG_FERTILITY_ORACLE,
)


def q_detgen_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource end-to-end (sources/pydatasource.py):
    Spark 4 connector surface — declared schema, partition planning,
    lazy per-partition generators — feeding a Catalyst aggregate, with
    the deterministic integer generation formula replayed by the DuckDB
    oracle via generate_series."""
    return PDS.detgen_bucket_stats(spark)


register(
    "detgen_bucket_stats", q_detgen_bucket_stats,
    oracle=PDS.DETGEN_BUCKET_STATS_ORACLE,
)
register(
    "rowdir_roundtrip", PDS.rowdir_roundtrip_priority_revenue,
    oracle=PDS.ROWDIR_ROUNDTRIP_ORACLE,
)
register(
    "rowdir_time_travel", PDS.rowdir_time_travel_census,
    oracle=PDS.ROWDIR_TIME_TRAVEL_ORACLE,
)
register(
    "rowdir_pruned_scan", PDS.rowdir_pruned_scan_census,
    oracle=PDS.ROWDIR_PRUNED_SCAN_ORACLE,
)
register("kcore_members", GR.kcore_members, "lineitem")
register(
    "props_variant_census", RX.props_variant_census,
    "events", oracle=RX.PROPS_VARIANT_ORACLE,
)
register(
    "weighted_p90_price", RT.weighted_p90_price,
    "lineitem", oracle=RT.WEIGHTED_P90_ORACLE,
)


def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard (operators/dedup.py):
    rarest-first canonical order, per-doc integer prefix lengths, prefix-
    only candidate join, in-row array_intersect verify. Registered at
    t=0.5 — the regime the technique exists for (each doc indexes ~half
    its shingles; at dedup_ngram_jaccard's t=0.2 the prefix is ~80% of
    the set and the plain inverted-index join is the right plan, which
    is why both stay registered). Equality with the plain join is pinned
    at two thresholds in tests/test_dedup_similarity.py."""
    return D.ngram_jaccard_prefix_pairs(
        load_table(spark, sf_dir, "documents"), t_num=1, t_den=2
    )


register(
    "dedup_jaccard_prefix", q_dedup_jaccard_prefix,
    oracle=D.ngram_jaccard_oracle(threshold=0.5),
)
register("rolling_28d_users_hll", AX.rolling_hll_active_users, "events")


def q_rolling_28d_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 28-day distinct users (plans/behavior.py at the
    HLL sketch's window length): the oracle-checked anchor for
    rolling_28d_users_hll's error envelope, same gap-day / max-day-cut
    convention, so the sketch's accuracy is pinned against a
    oracle-gated exact answer at every sf, not only the 7-day twin's
    different window. Window length and oracle both derive from
    ROLLING_HLL_DAYS — the pair cannot silently diverge."""
    return BH.rolling_active_users(
        load_table(spark, sf_dir, "events"), days=AX.ROLLING_HLL_DAYS
    )


register(
    "rolling_28d_users_exact", q_rolling_28d_users_exact,
    oracle=BH.rolling_active_users_oracle(days=AX.ROLLING_HLL_DAYS),
)
register(
    "nation_revenue_trend", STT.nation_revenue_trend,
    "orders", "customer", "nation", oracle=STT.NATION_REVENUE_TREND_ORACLE,
)
register(
    "event_weekday_chi2", STT.event_weekday_chi2,
    "events", oracle=STT.EVENT_WEEKDAY_CHI2_ORACLE,
)
register(
    "brand_qty_price_corr", STT.brand_qty_price_corr,
    "lineitem", "part", oracle=STT.BRAND_QTY_PRICE_CORR_ORACLE,
)
register(
    "revenue_autocorrelation", STT.revenue_autocorrelation,
    "orders", oracle=STT.REVENUE_AUTOCORRELATION_ORACLE,
)
register(
    "ks_returned_price", STT.ks_returned_price,
    "lineitem", oracle=STT.KS_RETURNED_PRICE_ORACLE,
)
register(
    "event_type_entropy", STT.event_type_entropy,
    "events", oracle=STT.EVENT_TYPE_ENTROPY_ORACLE,
)
register(
    "benford_price_audit", STT.benford_price_audit,
    "orders", oracle=STT.BENFORD_PRICE_AUDIT_ORACLE,
)
register(
    "welch_price_ttest", STT.welch_price_ttest,
    "lineitem", oracle=STT.WELCH_PRICE_TTEST_ORACLE,
)
register(
    "mannwhitney_quantity", STT.mannwhitney_quantity,
    "lineitem", oracle=STT.MANNWHITNEY_QUANTITY_ORACLE,
)
register(
    "anova_price_by_priority", STT.anova_price_by_priority,
    "orders", oracle=STT.ANOVA_PRICE_BY_PRIORITY_ORACLE,
)
register(
    "event_weekday_mutual_info", STT.event_weekday_mutual_info,
    "events", oracle=STT.EVENT_WEEKDAY_MUTUAL_INFO_ORACLE,
)
register(
    "nation_trend_significance", STT.nation_trend_significance,
    "orders", "customer", "nation", oracle=STT.NATION_TREND_SIGNIFICANCE_ORACLE,
)
register(
    "weekday_seasonality_index", STT.weekday_seasonality_index,
    "orders", oracle=STT.WEEKDAY_SEASONALITY_INDEX_ORACLE,
)
register(
    "k_anonymity_census", PF.k_anonymity_census,
    "customer", oracle=PF.K_ANONYMITY_CENSUS_ORACLE,
)
register(
    "quantity_price_spearman", STT.quantity_price_spearman,
    "lineitem", oracle=STT.QUANTITY_PRICE_SPEARMAN_ORACLE,
)
register(
    "theil_sen_revenue_trend", STT.theil_sen_revenue_trend,
    "orders", oracle=STT.THEIL_SEN_REVENUE_TREND_ORACLE,
)
register(
    "kaplan_meier_repurchase", STT.kaplan_meier_repurchase,
    "orders", oracle=STT.KAPLAN_MEIER_REPURCHASE_ORACLE,
)
register(
    "event_user_overlap", AX.event_user_overlap,
    "events", oracle=AX.EVENT_USER_OVERLAP_ORACLE,
)
register("kmv_event_user_overlap", AX.kmv_event_user_overlap, "events")


def q_stream_hll_rolling_28d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch-at-ingest end-to-end (streaming/sinks.py
    write_stream_hll_sketches): an availableNow drain folds each
    micro-batch into a persisted per-day HLL register table (versioned
    dirs + atomic pointer + batch-id fence, the IVM sink's commit), and
    the returned rolling 28-day estimates — read from the SKETCH table,
    never the raw events — equal the one-shot batch
    rolling_28d_users_hll EXACTLY (register max-merge is associative,
    commutative, idempotent; pinned across a 3-batch replay in
    tests/test_streaming.py). Rows-only (sketch); the exact anchor is
    rolling_28d_users_exact's driver row."""
    src, tag = _landed_stream_source(spark, sf_dir, "events")
    work = _fresh_sketch_work_dir("hll_q", tag)
    SK.write_stream_hll_sketches(
        stream_events(spark, src, max_files_per_trigger=2),
        f"{work}/state",
        f"{work}/ckpt",
    )
    return SK.read_hll_rolling(spark, f"{work}/state")


register("stream_hll_rolling_28d", q_stream_hll_rolling_28d)


def q_stream_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bottom-K sketch-at-ingest end-to-end (streaming/
    sinks.py write_stream_kmv_sketches): per-microbatch union-truncate
    folds into a persisted per-type sketch table (versioned dirs +
    pointer + batch-id fence), and the returned overlap estimates —
    read from the SKETCH table — equal the one-shot batch
    kmv_event_user_overlap EXACTLY (bottom-K merge is associative,
    commutative, idempotent; pinned across a multi-batch replay in
    tests/test_streaming.py). Rows-only (sketch); the exact anchor is
    event_user_overlap's driver row."""
    src, tag = _landed_stream_source(spark, sf_dir, "events")
    work = _fresh_sketch_work_dir("kmv_q", tag)
    SK.write_stream_kmv_sketches(
        stream_events(spark, src, max_files_per_trigger=2),
        f"{work}/state",
        f"{work}/ckpt",
    )
    return SK.read_kmv_overlap(spark, f"{work}/state")


register("stream_kmv_overlap", q_stream_kmv_overlap)


# --------------------------------------------------------------------------
# Binomial, effect-size and robust-center statistics (plans/stats.py)
# --------------------------------------------------------------------------


register(
    "wilson_ci_return_rate", STT.wilson_ci_return_rate,
    "lineitem", "orders", "customer", "nation", oracle=STT.WILSON_CI_RETURN_RATE_ORACLE,
)
register(
    "cohens_d_returned_price", STT.cohens_d_returned_price,
    "lineitem", oracle=STT.COHENS_D_RETURNED_PRICE_ORACLE,
)
register(
    "median_order_value_by_nation", STT.median_order_value_by_nation,
    "orders", "customer", "nation", oracle=STT.MEDIAN_ORDER_VALUE_BY_NATION_ORACLE,
)
register(
    "winsorized_mean_price", STT.winsorized_mean_price,
    "lineitem", oracle=STT.WINSORIZED_MEAN_PRICE_ORACLE,
)
register(
    "geomean_price_by_brand", STT.geomean_price_by_brand,
    "lineitem", "part", oracle=STT.GEOMEAN_PRICE_BY_BRAND_ORACLE,
)
register(
    "iqr_price_fences", STT.iqr_price_fences,
    "lineitem", oracle=STT.IQR_PRICE_FENCES_ORACLE,
)
register("ddsketch_event_quantiles", AX.ddsketch_event_quantiles, "events")


def q_stream_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DDSketch-at-ingest end-to-end (streaming/sinks.py
    write_stream_dd_buckets): an availableNow drain folds each
    micro-batch's bucket counts into a persisted sketch table
    (versioned dirs + atomic pointer + batch-id fence — the fence is
    LOAD-BEARING here: count addition is not idempotent), and the
    returned quantiles — read from the sketch table, never the raw
    events — equal the one-shot batch ddsketch_event_quantiles EXACTLY
    (pinned across a multi-batch replay in tests/test_streaming.py).
    Rows-only (sketch)."""
    src, tag = _landed_stream_source(spark, sf_dir, "events")
    work = _fresh_sketch_work_dir("dd_q", tag)
    SK.write_stream_dd_buckets(
        stream_events(spark, src, max_files_per_trigger=2),
        f"{work}/state",
        f"{work}/ckpt",
    )
    return SK.read_dd_quantiles(spark, f"{work}/state")


register("stream_ddsketch_quantiles", q_stream_ddsketch_quantiles)


def q_stream_ddsketch_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED streaming DDSketch-at-ingest end-to-end (streaming/
    sinks.py write_stream_dd_buckets_by_type): an availableNow
    drain folds each micro-batch's (event_type, idx) bucket counts
    into a persisted grouped sketch table (versioned dirs + atomic
    pointer + batch-id fence — load-bearing, addition is not
    idempotent), and the per-type quantiles read from that state equal
    the one-shot batch ddsketch_quantiles_by_type EXACTLY (pinned
    across a multi-batch replay in tests/test_streaming.py).
    Rows-only (sketch)."""
    src, tag = _landed_stream_source(spark, sf_dir, "events")
    work = _fresh_sketch_work_dir("dd_qt", tag)
    SK.write_stream_dd_buckets_by_type(
        stream_events(spark, src, max_files_per_trigger=2),
        f"{work}/state",
        f"{work}/ckpt",
    )
    return SK.read_dd_quantiles_by_type(spark, f"{work}/state")


register("stream_ddsketch_by_type", q_stream_ddsketch_by_type)
register(
    "event_value_quartiles_by_type", AX.event_value_quartiles_by_type,
    "events", oracle=AX.EVENT_VALUE_QUARTILES_BY_TYPE_ORACLE,
)
register("ddsketch_quantiles_by_type", AX.ddsketch_quantiles_by_type, "events")
register("ddsketch_merge_proof", AX.ddsketch_merge_proof, "events")
register("hll_merge_proof", AX.hll_merge_proof, "events")
register("kmv_merge_proof", AX.kmv_merge_proof, "events")
register("cms_merge_proof", AX.cms_merge_proof, "documents")
register("bloom_merge_proof", B.bloom_merge_proof, "events")
