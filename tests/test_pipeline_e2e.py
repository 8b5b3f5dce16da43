"""T2/T3: end-to-end correctness gate (pairwise F1 ≥ 0.99), golden-cluster
agreement, determinism, and checkpoint/resume semantics."""

import os

import pyspark.sql.functions as F
import pytest

from entity_resolution_pipeline_spark.plans.evaluation import pairwise_metrics
from entity_resolution_pipeline_spark.plans.pipeline import (
    PipelineConfig, run_pipeline, stage_blocks, stage_extract,
)
from entity_resolution_pipeline_spark.sources.tableio import TableIO

CFG = PipelineConfig(hot_threshold=32, n_salts=4)


@pytest.fixture(scope="module")
def pipeline_run(spark, fixtures, tmp_root):
    io = TableIO(spark, os.path.join(tmp_root, "run1"))
    clusters = run_pipeline(spark, fixtures["pages"], io, CFG)
    return io, clusters


def test_f1_gate(pipeline_run, fixtures):
    _, clusters = pipeline_run
    m = pairwise_metrics(clusters, fixtures["labeled_pairs"])
    assert m.f1 >= 0.99, (m.tp, m.fp, m.fn)


def test_clusters_match_golden_partition(pipeline_run, fixtures):
    """Predicted partition == planted partition (pair-equivalent)."""
    _, clusters = pipeline_run
    golden = fixtures["golden_clusters"]
    j = golden.join(clusters.withColumnRenamed("cluster_id", "pred"), "url")
    # equivalence: same golden cluster => same predicted cluster id and v.v.
    gp = j.groupBy("cluster_id").agg(F.countDistinct("pred").alias("n")).where("n > 1")
    pg = j.groupBy("pred").agg(F.countDistinct("cluster_id").alias("n")).where("n > 1")
    assert gp.count() == 0  # no splits
    assert pg.count() == 0  # no merges


def test_determinism_two_runs(spark, fixtures, tmp_root, pipeline_run):
    io2 = TableIO(spark, os.path.join(tmp_root, "run2"))
    clusters2 = run_pipeline(spark, fixtures["pages"], io2, CFG)
    _, clusters1 = pipeline_run
    assert clusters1.exceptAll(clusters2).count() == 0
    assert clusters2.exceptAll(clusters1).count() == 0


def test_resume_after_partial_run(spark, fixtures, tmp_root, pipeline_run):
    """Commit only the first two stages, then resume: final clusters equal a
    fresh full run, and committed stages are not recomputed."""
    io3 = TableIO(spark, os.path.join(tmp_root, "run3"))
    extracted = stage_extract(fixtures["pages"])
    io3.write("extract", extracted)
    n_docs = io3.read("extract").count()
    io3.write("blocks", stage_blocks(io3.read("extract"), CFG, n_docs=n_docs))
    assert io3.is_committed("blocks") and not io3.is_committed("pairs")
    blocks_mtime = os.path.getmtime(io3.path("blocks"))

    clusters3 = run_pipeline(spark, fixtures["pages"], io3, CFG, resume=True)
    _, clusters1 = pipeline_run
    assert clusters3.exceptAll(clusters1).count() == 0
    assert clusters1.exceptAll(clusters3).count() == 0
    # committed stage untouched by the resumed run
    assert os.path.getmtime(io3.path("blocks")) == blocks_mtime


def test_decisioning_stage_tier_precision(spark, fixtures, tmp_root):
    """Flagship decisioning (M4 + D1-D5): with golden_clusters passed,
    run_pipeline calibrates, tiers, and writes the decisions table + review
    queue; tier-A empirical precision vs the planted labels must be ≥ the
    nominal 0.98 threshold, and the audit carries per-tier counts."""
    io = TableIO(spark, os.path.join(tmp_root, "run_decisions"))
    run_pipeline(spark, fixtures["pages"], io, CFG,
                 golden_clusters=fixtures["golden_clusters"])
    assert io.is_committed("decisions")
    decided = io.read("decisions")

    golden = fixtures["golden_clusters"]
    ga = golden.select(F.col("url").alias("url_a"), F.col("cluster_id").alias("ca"))
    gb = golden.select(F.col("url").alias("url_b"), F.col("cluster_id").alias("cb"))
    j = (decided.join(ga, "url_a").join(gb, "url_b")
         .withColumn("label", (F.col("ca") == F.col("cb")).cast("int")))
    a = j.where("tier = 'A'").agg(
        F.count("*").alias("n"), F.sum("label").alias("tp")).collect()[0]
    assert a["n"] > 0
    assert a["tp"] / a["n"] >= 0.98  # empirical ≥ nominal tier-A precision

    audit = io.read_audit()
    dec = next(r for r in audit if r["stage"] == "decisions")
    assert dec["tier_counts"]
    assert sum(dec["tier_counts"].values()) == decided.count()
    assert os.path.exists(io.path("review_queue"))  # D5 CSV sink


def test_audit_lineage_rows(pipeline_run):
    io, _ = pipeline_run
    audit = io.read_audit()
    stages = {r["stage"] for r in audit}
    assert {"extract", "blocks", "pairs", "scored", "clusters"} <= stages
    blocks_row = next(r for r in audit if r["stage"] == "blocks")
    assert blocks_row["n_keys"] > 0 and len(blocks_row["block_key_range"]) == 2
    scored_row = next(r for r in audit if r["stage"] == "scored")
    assert sum(b["count"] for b in scored_row["score_histogram"]) > 0


def test_audit_counters_match_committed_tables(pipeline_run):
    """The counters each stage's write job observed equal the values
    recomputed from the committed tables."""
    io, _ = pipeline_run
    audit = {r["stage"]: r for r in io.read_audit()}
    assert audit["extract"]["rows"] == io.read("extract").count()
    assert audit["pairs"]["pair_count"] == io.read("pairs").count()
    assert audit["attrs"]["rows"] == io.read("attrs").count()
    bucket = F.least(F.floor(F.col("p_match") * 10), F.lit(9)).alias("bucket")
    hist = io.read("scored").select(bucket).groupBy("bucket").count() \
        .orderBy("bucket").collect()
    assert audit["scored"]["score_histogram"] == [
        {"bucket": int(r["bucket"]), "count": int(r["count"])} for r in hist]
    assert audit["clusters"]["n_clusters"] == \
        io.read("clusters").select("cluster_id").distinct().count()


def test_observed_counters_leave_session_serializable(spark, pipeline_run):
    """After a run's observed writes and CC checkpoints, a task closure that
    captures the session still serializes: a fitted LogisticRegression
    (which holds its training summary, and through it the session) can
    score rows. Spark's Observation API breaks this."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    df = spark.range(40).select(F.col("id").cast("double").alias("x"),
                                (F.col("id") % 2).cast("double").alias("label"))
    data = VectorAssembler(inputCols=["x"], outputCol="v").transform(df)
    model = LogisticRegression(featuresCol="v", maxIter=5).fit(data)
    assert model.transform(data).count() == 40
