"""Physical-plan quality gates (SURVEY §4): pruning, pushdown, broadcast,
codegen. These are the properties that matter at 100 TB — asserted on the
actual optimized plans so regressions fail loudly."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages_parquet(spark):
    from __spider_spark.sources.pages import generate_pages
    d = tempfile.mkdtemp(prefix="plans_pages_") + "/pages"
    generate_pages(spark, 500, 8).write.parquet(d)
    return d


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_scheduling_never_reads_html(spark, pages_parquet):
    """Column-pruning discipline: frontier scheduling over the page store
    must not deserialize the html payload (SURVEY §7 hard part (d))."""
    pages = spark.read.parquet(pages_parquet)
    sched = pages.select("url", "warc_ts").filter(
        F.col("warc_ts") < "2024-01-02")
    plan = _plan(sched)
    assert "html" not in plan
    assert "ReadSchema" in plan


def test_filter_pushdown_to_scan(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    q = pages.select("lang", "url").filter(F.col("lang") == "zh")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,zh)]" in plan


def test_fetch_join_reads_only_needed_columns(spark, pages_parquet):
    """The fetch join projects (url, html) — text/lang/warc_ts must be
    pruned out of the scan."""
    from __spider_spark.plans.crawl import pages_index
    idx = pages_index(spark.read.parquet(pages_parquet))
    plan = _plan(idx)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "text" not in read_schema[0]
    assert "warc_ts" not in read_schema[0]


def test_dim_join_broadcasts(spark, sf_dir):
    import __spark_entry__ as entrymod
    q06 = entrymod.queries()["q06_broadcast_dim_join"](spark, sf_dir)
    plan = _plan(q06)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anti_join_shape(spark, sf_dir):
    import __spark_entry__ as entrymod
    q07 = entrymod.queries()["q07_seen_anti_join"](spark, sf_dir)
    plan = _plan(q07)
    assert "LeftAnti" in plan


def test_rollup_partial_aggregation(spark, sf_dir):
    """Map-side combine: HashAggregate must appear in partial+final pairs
    (one shuffle of pre-aggregated data, not raw rows)."""
    import __spark_entry__ as entrymod
    q11 = entrymod.queries()["q11_group_rollup"](spark, sf_dir)
    plan = _plan(q11)
    assert plan.count("HashAggregate") >= 2
    # map-side combine proven by partial_* functions before the Exchange
    # (AQE formatted plans don't print WholeStageCodegen pre-execution)
    assert "partial_sum" in plan and "partial_count" in plan


def test_politeness_clip_stays_jvm_side(spark):
    """The budget clip is one window + filters only — no Python UDF stages
    (ArrowEvalPython/BatchEvalPython) in its plan, one exchange on host and
    no salt. A bound up to the group-limit threshold brings a map-side
    WindowGroupLimit before that exchange; one past it does not."""
    from __spider_spark.operators.politeness import clip_wave
    threshold = int(spark.conf.get(
        "spark.sql.optimizer.windowGroupLimitThreshold"))
    df = spark.createDataFrame(
        [("http://a/1", 1, "a", 1.0)],
        "url string, url_hash long, host string, priority double")
    budgets = spark.createDataFrame([("a", 2)], "host string, budget int")
    for bound in (4, threshold, threshold + 1):
        clipped = clip_wave(df, budgets, bound, max_budget=bound)
        plan = _plan(clipped)
        assert "EvalPython" not in plan
        assert "Window" in plan
        executed = clipped._jdf.queryExecution().executedPlan().toString()
        assert executed.count("Exchange hashpartitioning(") == 1
        assert "Exchange hashpartitioning(host#" in executed
        assert "pmod" not in executed
        limited = bound <= threshold
        assert ("WindowGroupLimit" in executed) == limited, executed
        # the partial limit runs map-side, below the exchange
        below = executed.split("Exchange hashpartitioning(")[1]
        assert (f"row_number(), {bound}, Partial" in below) == limited

def test_alias_rewrite_broadcasts(spark):
    """The host-alias dim must reach the frontier as a broadcast hash
    join — a shuffle join on host over a 10^10-row frontier would be a
    full extra shuffle per round."""
    from __spider_spark.operators.aliases import aliases_df, apply_host_aliases
    frontier = spark.createDataFrame(
        [("http://www.a.test/p1", "www.a.test"), ("http://b.test/p2", "b.test")],
        "url string, host string")
    out = apply_host_aliases(
        frontier, aliases_df(spark, {"www.a.test": "a.test"}))
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_detail_fetch_payload_pruned_and_single_python_stage(spark,
                                                            pages_parquet):
    """The detail stage (S6): detail html is read only behind the keyed
    join, and exactly one Arrow/Python eval feeds the enrichment (the
    argmin is Column exprs, not a second UDF)."""
    from __spider_spark.plans.detail import detail_index, fetch_details
    from __spider_spark.sources.pages import generate_detail_pages
    idx = detail_index(generate_detail_pages(spark, 500, 8))
    listing = spark.createDataFrame(
        [(1, "http://host1.test/p1")], "url_hash long, url string")
    plan = _plan(fetch_details(listing, idx))
    import re
    eval_nodes = set(re.findall(r"(?:Arrow|Batch)EvalPython \((\d+)\)", plan))
    # exactly 2 python evals: canonicalize+hash on the idx build, one
    # fused detail extract — the argmin enrichment stays JVM-side
    assert len(eval_nodes) == 2
    assert "BatchEvalPython" not in plan  # Arrow-batched only, never per-row


def test_aqe_skew_join_backstop_engages(spark):
    """The session's AQE skew-join backstop (SCALE.md round-DAG note #2)
    must actually split a hot-host partition: 90% of rows on one host,
    thresholds scaled to test size, final adaptive plan shows skew=true."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 20000).select(
            F.when(F.col("id") % 10 < 9, F.lit("host0.test"))
             .otherwise(F.concat(F.lit("host"),
                                 (F.col("id") % 7 + 1).cast("string"),
                                 F.lit(".test"))).alias("host"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"))
        right = spark.createDataFrame(
            [(f"host{i}.test", i) for i in range(8)],
            "host string, budget int")
        j = left.join(right, "host").select("host", "budget", "payload")
        assert len(j.collect()) == 20000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_curation_sampling_no_shuffle(spark, tmp_path):
    """Scan-stage discipline for the curation filters: stratified
    sampling touches a 10^10-row corpus with ZERO data shuffles (the
    rate dim broadcasts; the hash filter evaluates at the scan), and
    text normalization is a pure projection (no Exchange at all)."""
    from __spider_spark.operators.curation import (
        normalize_text, stratified_sample)
    from pyspark.sql import functions as F
    docs = spark.createDataFrame(
        [(i, "lang%d" % (i % 3), "Some  Text %d" % i) for i in range(100)],
        "doc_id long, lang string, text string")
    p = str(tmp_path / "docs")
    docs.write.parquet(p)
    stored = spark.read.parquet(p)
    plan = _plan(stratified_sample(stored, {"lang0": 0.5, "lang1": 1.0}))
    assert "BroadcastExchange" in plan        # the rate dim
    assert "Exchange hashpartitioning" not in plan  # corpus never shuffles
    norm_plan = _plan(stored.select(
        "doc_id", normalize_text(F.col("text")).alias("t")))
    assert "Exchange" not in norm_plan
    # column pruning: normalization reads only the text column
    assert "ReadSchema" in norm_plan
    read = norm_plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read
