"""The staged ER pipeline: extract → block → pairs → score → cluster.

Stage semantics mirror the reference's step DAG
(/root/reference/run_pipeline.py:788-804) re-homed to Spark: each stage is a
lazy-DataFrame function; a stage *commits* by writing its output table via
TableIO plus per-partition lineage rows (blocking-key range, pair count,
score histogram — the north-star audit payload) to the audit log; the runner
resumes from the last committed stage (run_pipeline.py:884-893 semantics).

Audit counters are observed on each stage's write job
(``observe.run_observed``), not counted by re-reading the committed table;
only the blocks stage runs one extra aggregate (distinct keys cannot be
observed). Shuffle budget per full run:
1 (pair self-join on salted key) + 1 (pair group-agg) + 1 (top-N window) +
1 (edge dedup before clustering) + the star rounds' exchanges (none when
the match graph fits the driver finish, see operators/clustering.py) + the
blocks key aggregate. Extraction and blocking-key derivation are narrow.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.blocking import blocking_table, key_stats, salted_blocking_table
from ..operators.clustering import assign_clusters
from ..operators.pairs import candidate_pairs
from ..operators.scoring import (
    compute_features, heuristic_score, match_edges, page_attrs,
    release_persisted, score_pairs_two_phase,
)
from ..functions.normalize import extract_text_udf
from ..observe import run_observed
from ..sources.tableio import TableIO


@dataclass
class PipelineConfig:
    n_bands: int = 12
    prefix_k: int = 8
    hot_threshold: int = 64
    stop_threshold: int = 100_000
    n_salts: int = 8
    top_n: int | None = 300
    threshold: float = 0.45
    stop_frac: float = 0.01  # stop-key ceiling as corpus fraction (skew guard)
    two_phase_scoring: bool = False  # JW pUDF only on the borderline band
    repartition_blocks: int | None = None  # explicit repartition('join_key')
    # CC mid-stage resume: commit the star-iteration frontier every k rounds
    # so a preempted clustering stage restarts from the last frontier, not
    # from the raw edges (SURVEY §7.4 risk 4). 0 = off: at bench scale a
    # frontier write costs more than the whole stage; at 100 TB set 1.
    cc_checkpoint_every: int = 0
    extra: dict = field(default_factory=dict)


STAGES = ["extract", "blocks", "pairs", "attrs", "scored", "clusters"]


def stage_extract(pages: DataFrame) -> DataFrame:
    """html → canonical text (extractor pUDF); narrow, no shuffle."""
    return pages.withColumn("text_norm", extract_text_udf(F.col("html")))


def stage_blocks(extracted: DataFrame, cfg: PipelineConfig,
                 n_docs: int | None = None) -> DataFrame:
    blocks = blocking_table(extracted.select("url", "text_norm"),
                            n_bands=cfg.n_bands, prefix_k=cfg.prefix_k)
    salted = salted_blocking_table(
        blocks, hot_threshold=cfg.hot_threshold,
        stop_threshold=cfg.stop_threshold, n_salts=cfg.n_salts,
        n_docs=n_docs, stop_frac=cfg.stop_frac)
    if cfg.repartition_blocks:
        repartitioned = salted.repartition(cfg.repartition_blocks, "join_key")
        repartitioned._erps_persisted = getattr(salted, "_erps_persisted", None)
        salted = repartitioned
    return salted


def stage_pairs(salted: DataFrame, cfg: PipelineConfig,
                url_dim: DataFrame | None = None) -> DataFrame:
    return candidate_pairs(salted, top_n=cfg.top_n, n_salts=cfg.n_salts,
                           url_dim=url_dim)


def stage_attrs(extracted: DataFrame) -> DataFrame:
    """Per-page scorer attributes (token hashes, fingerprint, domain).

    Materialized as its own stage table: the md5-based token hashing is
    ~dim×tokens work per PAGE, and if left lazy Catalyst defers the
    projection past the pair join, re-evaluating it per PAIR (observed 4×
    scoring slowdown at sf0.1). Writing the 40k-row attrs table costs
    nothing; the scorer's joins then shuffle small precomputed arrays.
    """
    return page_attrs(extracted.select("url", "text_norm"))


def stage_scored(pairs: DataFrame, attrs: DataFrame,
                 cfg: PipelineConfig | None = None) -> DataFrame:
    if cfg is not None and cfg.two_phase_scoring:
        return score_pairs_two_phase(pairs, attrs, threshold=cfg.threshold)
    return heuristic_score(compute_features(pairs, attrs))


def stage_decisions(scored: DataFrame, golden_clusters: DataFrame,
                    cfg: PipelineConfig):
    """Optional decisioning stage (M4 + D1-D5): calibrate on pairs labeled
    from a golden partition → ``p_calibrated`` → tiers → conflict flags →
    review queue.

    Tier thresholds are probability statements, so tiers are assigned on
    the isotonic-calibrated score, not the raw blend (reference:
    CalibratedClassifierCV before tiering, src/modeling.py:565-576 +
    src/decisioning.py:30-91). Returns (decided, review_queue_df).
    NOTE: requires full-feature scores — the two-phase scorer's partial
    ``p_match`` is thresholding-only by contract (operators/scoring.py).
    """
    from pyspark.sql import Window

    from ..operators.modeling import apply_calibration, fit_isotonic
    from ..operators.rerank import review_queue
    from ..operators.scoring import assign_tiers, flag_conflicts
    from .evaluation import mine_labeled_pairs

    labeled = mine_labeled_pairs(
        scored.select("url_a", "url_b", "p_match"), golden_clusters)
    iso = fit_isotonic(labeled)
    tiered = assign_tiers(apply_calibration(scored, iso),
                          score_col="p_calibrated")
    matches = tiered.where(F.col("tier") != "REJECT")
    alt = Window.partitionBy("url_a")
    decided = flag_conflicts(matches).withColumn(
        "n_alternatives", F.count("*").over(alt) - 1)
    return decided, review_queue(decided)


def stage_clusters(scored: DataFrame, extracted: DataFrame, cfg: PipelineConfig,
                   io: TableIO | None = None) -> DataFrame:
    edges = match_edges(scored, threshold=cfg.threshold)
    cc_kwargs = {}
    if io is not None and cfg.cc_checkpoint_every:
        cc_kwargs = {"checkpoint_io": io,
                     "checkpoint_every": cfg.cc_checkpoint_every}
    return assign_clusters(extracted.select("url"), edges, **cc_kwargs)


def _observed_write(io: TableIO, name: str, df: DataFrame,
                    **metrics) -> dict[str, int]:
    """Write + commit ``df`` as stage ``name`` and return the aggregate
    ``metrics`` (name → Column), observed by the write job itself instead
    of re-reading the committed table."""
    _, observed = run_observed(
        df, lambda d: io.write(name, d, meta={"stage": name}), **metrics)
    return {k: int(v or 0) for k, v in observed.items()}


_HIST_BUCKETS = 10


def _score_buckets() -> dict[str, Column]:
    """Ten ``p_match`` decile counts, one aggregate each (observed metrics
    cannot group)."""
    bucket = F.least(F.floor(F.col("p_match") * _HIST_BUCKETS),
                     F.lit(_HIST_BUCKETS - 1))
    return {f"b{b}": F.sum((bucket == b).cast("long"))
            for b in range(_HIST_BUCKETS)}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    io: TableIO,
    cfg: PipelineConfig | None = None,
    resume: bool = True,
    golden_clusters: DataFrame | None = None,
) -> DataFrame:
    """Run (or resume) all stages; returns the clusters DataFrame.

    A committed stage is never recomputed on resume — subsequent stages read
    its table, exactly like the reference's checkpoint-skip.

    With ``golden_clusters(url, cluster_id)`` the optional decisioning stage
    runs after scoring: isotonic calibration on mined labels → tiers →
    conflicts → review-queue CSV, plus an audit row with per-tier counts.
    The clusters output is unchanged (decisions are a side table).
    """
    cfg = cfg or PipelineConfig()

    def committed(name: str) -> bool:
        return resume and io.is_committed(name)

    n_docs = None
    if not committed("extract"):
        n_docs = _observed_write(io, "extract", stage_extract(pages),
                                 rows=F.count(F.lit(1)))["rows"]
        io.append_audit([{"stage": "extract", "rows": n_docs}])
    extracted = io.read("extract")
    if n_docs is None:
        n_docs = extracted.count()

    if not committed("blocks"):
        salted = stage_blocks(extracted, cfg, n_docs=n_docs)
        io.write("blocks", salted, meta={"stage": "blocks"})
        release_persisted(salted)
        stats = key_stats(io.read("blocks").select(F.col("block_key"), "url"))
        summ = stats.agg(
            F.count("*").alias("n_keys"), F.max("block_size").alias("max_block"),
            F.min("block_key").alias("key_min"), F.max("block_key").alias("key_max"),
        ).collect()[0]
        io.append_audit([{
            "stage": "blocks", "n_keys": int(summ["n_keys"]),
            "max_block": int(summ["max_block"]),
            "block_key_range": [summ["key_min"], summ["key_max"]],
        }])
    salted = io.read("blocks")

    if not committed("pairs"):
        pairs = stage_pairs(salted, cfg, url_dim=extracted.select("url"))
        m = _observed_write(io, "pairs", pairs, pair_count=F.count(F.lit(1)))
        io.append_audit([{"stage": "pairs", **m}])
    pairs = io.read("pairs")

    if not committed("attrs"):
        m = _observed_write(io, "attrs", stage_attrs(extracted), rows=F.count(F.lit(1)))
        io.append_audit([{"stage": "attrs", **m}])
    attrs = io.read("attrs")

    if not committed("scored"):
        from ..operators.scoring import scoring_join_prefs
        with scoring_join_prefs(spark):
            scored = stage_scored(pairs, attrs, cfg)
            hist = _observed_write(io, "scored", scored, **_score_buckets())
        release_persisted(scored)
        io.append_audit([{
            "stage": "scored",
            "score_histogram": [
                {"bucket": b, "count": hist[f"b{b}"]}
                for b in range(_HIST_BUCKETS) if hist[f"b{b}"]],
        }])
    scored = io.read("scored")

    if golden_clusters is not None and not committed("decisions"):
        decided, queue = stage_decisions(scored, golden_clusters, cfg)
        io.write("decisions", decided, meta={"stage": "decisions"})
        io.write_csv("review_queue", queue.select(
            "url_a", "url_b", "p_match", "p_calibrated", "tier",
            "conflict", "n_alternatives"))
        tier_counts = {
            r["tier"]: int(r["n"])
            for r in io.read("decisions").groupBy("tier")
            .agg(F.count("*").alias("n")).collect()
        }
        io.append_audit([{"stage": "decisions", "tier_counts": tier_counts}])

    if not committed("clusters"):
        if not resume:
            io.uncommit("cc_frontier")  # never resume a stale frontier
        clusters = stage_clusters(scored, extracted, cfg, io=io)
        # a cluster id is its minimum member, so each cluster has exactly
        # one row with url == cluster_id (observed metrics cannot DISTINCT)
        m = _observed_write(io, "clusters", clusters, n_clusters=F.sum(
            (F.col("url") == F.col("cluster_id")).cast("long")))
        release_persisted(clusters)  # final CC frontier checkpoint
        io.uncommit("cc_frontier")  # stage committed → frontier is stale
        io.append_audit([{"stage": "clusters", **m}])
    return io.read("clusters")
