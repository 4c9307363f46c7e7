"""Physical-plan quality gates: the scale properties must be visible in
explain() output, not just hoped for. These tests pin them so a refactor
that silently drops a pushdown or broadcasts the wrong side fails CI.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.spark
def test_pages_scan_prunes_columns(spark, pages_dir):
    """The kernel stage must never read the naive `text` column (it can be
    20 KB/row of dead weight at 100 TB)."""
    from docvision_spark.pipeline.extract_job import extract_pages, read_pages

    plan = plan_of(extract_pages(read_pages(spark, pages_dir)))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    assert "text" not in scan[0], f"naive text column not pruned: {scan[0]}"
    assert "html" in scan[0] and "url" in scan[0]


@pytest.mark.spark
def test_resume_antijoin_prunes_committed_scan(spark, pages_dir, tmp_path):
    """Resume reads only `url` from the committed output (never re-reads
    text/markdown payloads)."""
    from docvision_spark.pipeline import snapshots
    from docvision_spark.pipeline.extract_job import run_extract_job

    out_dir = str(tmp_path / "out")
    run_extract_job(spark, pages_dir, out_dir, partitions=4)
    committed = snapshots.read_table(spark, out_dir).select("url")
    plan = plan_of(committed)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "markdown" not in scan[0] and "text" not in scan[0]


@pytest.mark.spark
def test_filter_pushdown_reaches_parquet(spark):
    df = (spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
          .filter(F.col("l_shipdate") <= "1998-09-02")
          .select("l_returnflag", "l_quantity"))
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1].splitlines()[0]


@pytest.mark.spark
def test_dim_joins_are_broadcast(spark):
    """q03's dim joins must be BroadcastHashJoin, never SortMergeJoin —
    shuffling a fact table against a 25-row dim is the classic scale bug."""
    from docvision_spark.queries import q03_region_rollup

    plan = plan_of(q03_region_rollup(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.spark
def test_partial_aggregation_present(spark):
    """q01 must show map-side partial aggregation (HashAggregate before the
    exchange) so the shuffle carries group partials, not raw rows."""
    from docvision_spark.queries import q01_pricing_summary

    plan = plan_of(q01_pricing_summary(spark, "/root/testdata/sf0.001"))
    assert plan.count("HashAggregate") >= 2, plan


@pytest.mark.spark
def test_extraction_stage_shape(spark, pages_dir):
    """The kernel stage is a single MapInPandas. When the scan already has
    enough splits (row-grouped corpus), scan and kernel FUSE into one
    map-only stage with ZERO exchanges — the payload column never crosses
    a shuffle (round-6: removing the salt exchange measured faster and
    drops the stage barrier). When the input is under-split, the salted
    repartition fallback contributes exactly one exchange."""
    from docvision_spark.pipeline.extract_job import extract_pages, read_pages

    pages = read_pages(spark, pages_dir)
    n_scan = pages.rdd.getNumPartitions()
    dp = spark.sparkContext.defaultParallelism

    # map-only path: ask for a partition count the scan already satisfies
    plan = plan_of(extract_pages(pages, partitions=max(1, n_scan // 2)))
    body = plan.split("== Physical Plan ==", 1)[1].split("\n\n")[0]
    assert body.count("MapInPandas") == 1
    assert body.count("Exchange") == 0, f"expected map-only plan:\n{body}"

    # salted fallback: ask for far more parallelism than the scan has
    plan2 = plan_of(extract_pages(pages, partitions=8 * max(n_scan, dp)))
    body2 = plan2.split("== Physical Plan ==", 1)[1].split("\n\n")[0]
    assert body2.count("MapInPandas") == 1
    assert body2.count("Exchange") == 1, f"expected 1 exchange:\n{body2}"
    # the exchange keys on (host, salt) — details section of the plan
    assert "hashpartitioning(host" in plan2, plan2


@pytest.mark.spark
def test_extraction_honours_explicit_partitions(spark, pages_dir):
    """An explicit `partitions` above the scan's split count is honoured
    with the salted exchange, even when the scan alone already covers the
    default parallelism (no silent undercut to the scan's split count)."""
    from docvision_spark.pipeline.extract_job import extract_pages, read_pages

    pages = read_pages(spark, pages_dir)
    n_scan = pages.rdd.getNumPartitions()
    plan = plan_of(extract_pages(pages, partitions=n_scan + 1))
    body = plan.split("== Physical Plan ==", 1)[1].split("\n\n")[0]
    assert body.count("Exchange") == 1, f"expected 1 exchange:\n{body}"
    assert "REPARTITION_BY_NUM" in plan and f", {n_scan + 1})," in plan, plan


@pytest.mark.spark
def test_bucket_partition_pruning(spark, pages_dir):
    """Filtering on the bucket partition column must prune partitions at
    scan time (visible as PartitionFilters in the scan node)."""
    df = spark.read.parquet(pages_dir).filter(F.col("bucket") == 3)
    plan = plan_of(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "bucket" in pf[0], plan


@pytest.mark.spark
def test_image_dup_join_is_banded_not_cartesian(spark):
    """m02's candidate join must key on (band, bkey) — a CartesianProduct or
    BroadcastNestedLoopJoin here means the all-pairs scale bug crept in."""
    from docvision_spark.functions.multimodal import (
        MEDIA_SCHEMA, extract_media_features, image_dup_pairs,
        make_synthetic_image)

    rows = [(i, "image", make_synthetic_image(i, 32, 24)) for i in range(6)]
    feats = extract_media_features(spark.createDataFrame(rows, MEDIA_SCHEMA))
    plan = plan_of(image_dup_pairs(feats))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "bkey" in plan


@pytest.mark.spark
def test_bpe_tokens_stays_jvm_side(spark):
    """t08 must be expression-only: a BatchEvalPython/ArrowEvalPython node
    would mean the regex fell off codegen into per-row Python."""
    from docvision_spark.queries import t08_bpe_tokens

    plan = plan_of(t08_bpe_tokens(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan, plan
    assert "MapInPandas" not in plan


@pytest.mark.spark
def test_media_synthesis_repartitions_before_decode(spark):
    """The decode stage must not inherit a single-file input split: the
    explicit hash repartition has to sit between the scan and MapInPandas
    (this was a real 5x wall-clock bug at sf0.1)."""
    from docvision_spark.functions.multimodal import synthesize_media

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(synthesize_media(docs))
    tree = plan.split("== Physical Plan ==", 1)[1].split("\n\n")[0]
    assert tree.count("MapInPandas") == 1 and "Exchange" in tree, plan
    # tree prints parent-first, so the exchange must appear BELOW (after)
    # MapInPandas in text == execute BEFORE it
    assert tree.find("MapInPandas") < tree.find("Exchange"), tree


EXPRESSION_ONLY = [
    "t01_token_stats", "t02_quality", "t03_langid", "t04_fingerprint",
    "t08_bpe_tokens", "t09_repetition", "t10_hash_sample", "c01_chunks",
    "u01_url_canonical", "p01_empty_filter", "p05_transcription",
]


@pytest.mark.spark
@pytest.mark.parametrize("name", EXPRESSION_ONLY)
def test_expression_only_queries_stay_jvm_side(spark, name):
    """Every text/url/chunk operator advertised as expression-only must show
    NO Python eval node in its physical plan — a silent fallback to a
    row-at-a-time UDF is the classic 10-100x regression at scale."""
    from docvision_spark import queries as q

    plan = plan_of(q.queries()[name](spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan, f"{name} fell off codegen:\n{plan[:800]}"
    assert "MapInPandas" not in plan or name == "u01_url_canonical", name


@pytest.mark.spark
def test_host_links_scan_pruned_and_pushed(spark):
    """g01's web-graph rollup must stay the 100 TB shape: a 3-column
    pruned parquet scan with the error/links filters PUSHED, expression-
    only href resolution (no python), and a map-side partial aggregate
    before the shuffle."""
    from docvision_spark import queries as q

    plan = plan_of(q.queries()["g01_host_links"](spark,
                                                 "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan
    scan = plan.split("Scan parquet", 1)[1]
    rs = scan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "url" in rs and "links" in rs and "error" in rs
    assert "markdown" not in rs and "text" not in rs, rs
    assert "IsNull(error)" in scan
    assert "partial_count" in plan


@pytest.mark.spark
def test_sequence_packing_has_no_global_window(spark):
    """c03 must never regress to sum().over(Window.orderBy(id)) — that
    plan collapses the whole table onto one partition. The distributed
    prefix sum shows up as a mapInPandas over a checkpointed range
    partitioning, with NO Window node anywhere."""
    from docvision_spark import queries as q

    plan = plan_of(q.queries()["c03_sequence_packing"](
        spark, "/root/testdata/sf0.001"))
    assert "Window" not in plan, plan[:800]
    assert "MapInPandas" in plan


@pytest.mark.spark
def test_robots_gate_no_url_side_shuffle(spark):
    """r01's permission join must keep the url side shuffle-free until its
    own host rollup: exactly ONE Exchange (the final groupBy), with the
    rule table arriving via broadcast."""
    from docvision_spark import queries as q

    plan = plan_of(q.queries()["r01_robots_gate"](spark,
                                                  "/root/testdata/sf0.001"))
    tree = plan.split("== Physical Plan ==", 1)[1].split("\n\n")[0]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the url-side branch (the ':-' lines of the join) must be
    # exchange-free; shuffles on the KB-sized rules side are fine
    url_branch = [ln for ln in tree.splitlines() if ln.lstrip().startswith(":")]
    assert url_branch and not any("Exchange" in ln for ln in url_branch), tree
    # exactly one post-join shuffle: the final host rollup
    post_join = tree.split("BroadcastHashJoin", 1)[0]
    assert post_join.count("Exchange") == 1, tree


@pytest.mark.spark
def test_url_dedup_is_one_shuffle_into_the_kernel(spark, pages_dir):
    """url_dedup reaches the kernel through ONE exchange. Null-url rows
    ride the same plan instead of a Union with the scan, whose splits AQE
    cannot coalesce (every stage downstream would inherit shuffle + scan
    partitions), and no second shuffle sits between the dedup and
    MapInPandas."""
    from docvision_spark.functions.urls import url_dedup
    from docvision_spark.pipeline.extract_job import extract_pages, read_pages

    deduped = url_dedup(read_pages(spark, pages_dir))
    assert "Union" not in plan_of(deduped)

    # at unit scale AQE coalesces the dedup exchange below the core count
    # and the default gate adds its salted fallback exchange; a corpus of a
    # few MB per core keeps the exchange's partitions, so ask for those
    n_dedup = deduped.rdd.getNumPartitions()
    plan = plan_of(extract_pages(deduped, partitions=n_dedup))
    tree = plan.split("== Physical Plan ==", 1)[1].split("\n\n")[0]
    assert tree.count("MapInPandas") == 1
    below = tree.split("MapInPandas", 1)[1]
    assert below.count("Exchange") == 1, tree


@pytest.mark.spark
def test_incremental_exact_dedup_is_one_shuffle_of_the_rows(spark, tmp_path):
    """The within-batch window and the anti-join against the published
    fingerprints share one exchange of the increment's rows; only the
    published keys shuffle to meet it. Pinned before AQE, broadcast off,
    so the shuffle join shape is what shows: 2 exchanges in all, no
    null-row Union, and no lineage cut (a checkpointed frame scans as an
    ExistingRDD; both inputs here are parquet scans)."""
    from docvision_spark.functions.dedup import incremental_exact_dedup

    spark.createDataFrame([(1, "a b"), (2, "a b"), (3, None)],
                          "doc_id long, text string") \
        .write.parquet(str(tmp_path / "new"))
    spark.createDataFrame([("x",)], "fp string") \
        .write.parquet(str(tmp_path / "history"))
    conf = {"spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1"}
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        plan = incremental_exact_dedup(
            spark.read.parquet(str(tmp_path / "new")),
            spark.read.parquet(str(tmp_path / "history")),
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert plan.count("Exchange") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "SortMergeJoin" in plan, plan
    assert "Union" not in plan and "ExistingRDD" not in plan, plan
