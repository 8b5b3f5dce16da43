"""The benchmark's workloads: input generation, set-up, the measured loop and
the correctness checks.

Batch workloads run ``plans.pipeline.run_pipeline`` over the generated pages
table, each run into a fresh TableIO root. ``delta_stream`` builds a static
corpus state once and then folds small delta batches into the committed
clusters in a closed loop with one client: batch i+1 is submitted when
batch i has committed.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.operators.clustering import update_clusters
from entity_resolution_pipeline_spark.operators.scoring import match_edges, release_persisted
from entity_resolution_pipeline_spark.plans.pipeline import (
    PipelineConfig, run_pipeline, stage_extract,
)
from entity_resolution_pipeline_spark.streaming.incremental import (
    corpus_er_state, score_delta_pages_batch,
)

import gen

# One program configuration for every workload. top_n is below the largest
# batch_dense family, so the per-url candidate cap saturates on hot families.
CONFIG = PipelineConfig(n_bands=8, two_phase_scoring=True, top_n=48)
N_PARTITIONS = 8      # input splits; equal to the pinned shuffle partition count
F1_FLOOR = 0.99

SHAPES = {
    # many pages, singleton and 2-3 page families, light noise
    "batch_wide": gen.Shape(n_docs=5000, fam_min=2, fam_max=3, single_pct=45,
                            noise_pct=4, drop_pct=3, hard_neg_pct=20, share_pct=35,
                            hot_pct=12),
    # few documents with families of tens of noisy variants
    "batch_dense": gen.Shape(n_docs=16, fam_min=10, fam_max=60, single_pct=0,
                             noise_pct=10, drop_pct=6, hard_neg_pct=70, share_pct=35,
                             hot_pct=12),
    # static corpus for the delta stream: one page per document
    "delta_stream": gen.Shape(n_docs=300, fam_min=1, fam_max=1, single_pct=0,
                              noise_pct=4, drop_pct=3, hard_neg_pct=20, share_pct=35,
                              hot_pct=12),
}
# self-test scale: 1/20 of the documents, drawn from the sf0.001 table
TINY = {name: gen.Shape(**{**sh.__dict__, "n_docs": max(sh.n_docs // 20, 8),
                           "source": "sf0.001"})
        for name, sh in SHAPES.items()}
DELTA_BATCH_PAGES = 32
DELTA_WARMUP_BATCHES = 2  # after one, batch latency still falls ~20% over three
DELTA_MIN_BATCHES = 3   # fixed count per run (see BatchWorkload.min_ops)
DELTA_MAX_BATCHES = 10


class CheckFailed(Exception):
    """An output failed a correctness check."""


def pairwise_f1(clusters: DataFrame, truth: DataFrame) -> dict[str, float]:
    """Pairwise precision/recall/F1 from cluster-intersection sizes: true
    positives are sum C(n_ij, 2) over (predicted, true) cluster cells."""
    j = clusters.join(truth, "url")

    def pairs(*keys: str) -> int:
        n = j.groupBy(*keys).count()
        return int(n.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0] or 0)

    tp, pred, true = pairs("cluster_id", "doc"), pairs("cluster_id"), pairs("doc")
    return {"tp": tp, "pred_pairs": pred, "true_pairs": true,
            "f1": 2 * tp / (pred + true) if pred + true else 1.0}


def clusters_digest(clusters: DataFrame) -> tuple[int, int, int]:
    """(rows, distinct urls, order-free checksum) of a clusters table."""
    r = clusters.agg(
        F.count("*"), F.countDistinct("url"),
        F.sum(F.pmod(F.xxhash64("url", "cluster_id"), F.lit(2 ** 31))),
    ).first()
    return int(r[0]), int(r[1]), int(r[2] or 0)


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


@dataclass
class Op:
    """One measured operation: a pipeline run or a delta batch."""

    latency_s: float
    pages: int
    io: object
    counts: dict = field(default_factory=dict)
    span: object = None   # the operation's root span in a traced run


class Workload:
    def __init__(self, name: str, spark: SparkSession, seed: int, scratch: str,
                 tracer, shape: gen.Shape):
        self.name, self.spark, self.seed = name, spark, seed
        self.scratch, self.tracer, self.shape = scratch, tracer, shape
        self.ops: list[Op] = []
        self.setup_parts: dict[str, float] = {}
        self.truth_path = os.path.join(scratch, "truth")
        self.input_path = os.path.join(scratch, "input")

    # -- set-up -------------------------------------------------------------
    def _build_inputs(self) -> None:
        c = gen.corpus(self.spark, self.seed, self.shape, N_PARTITIONS).persist()
        c.drop("doc").write.parquet(self.input_path)
        c.select("url", "doc").write.parquet(self.truth_path)
        c.unpersist()

    def build_inputs(self) -> None:
        self.setup_parts["build_inputs_s"] = _timed(self._build_inputs)[1]

    def pages(self) -> DataFrame:
        return self.spark.read.parquet(self.input_path)

    def truth(self) -> DataFrame:
        return self.spark.read.parquet(self.truth_path)

    def input_digest(self) -> int:
        return int(self.pages().agg(F.sum(F.pmod(F.xxhash64("url", "html"),
                                                 F.lit(2 ** 31)))).first()[0])

    def prepare(self) -> None:
        raise NotImplementedError

    # -- measured loop ------------------------------------------------------
    def run_op(self, i: int) -> Op:
        raise NotImplementedError

    def measure(self, seconds: float) -> None:
        """Run operations back to back until their summed latency reaches
        ``seconds`` and at least ``min_ops`` have run (delta batches are
        capped at the number generated in set-up)."""
        while len(self.ops) < self.min_ops or sum(o.latency_s for o in self.ops) < seconds:
            if len(self.ops) >= self.max_ops:
                break
            self.ops.append(self.run_op(len(self.ops)))

    min_ops = 1
    max_ops = 1_000_000

    def check(self) -> dict:
        raise NotImplementedError

    def _new_io(self, tag: str):
        return self.tracer.table_io(self.spark, os.path.join(self.scratch, tag))


class BatchWorkload(Workload):
    def prepare(self) -> None:
        self.build_inputs()
        # warm-up: one untimed pipeline pass over the whole input spawns the
        # Python workers and compiles the stage plans' code; over a small
        # slice it costs nearly as much but leaves the first measured run
        # 10-25% slower than the second, as the JIT is still compiling
        io = self._new_io("warmup")
        self.setup_parts["warmup_s"] = _timed(
            run_pipeline, self.spark, self.pages(), io, CONFIG, False)[1]
        shutil.rmtree(io.root)

    # a fixed count, so that every run reports the same statistic; two, so
    # that every run compares two pipeline runs of one seed
    min_ops = 2

    def run_op(self, i: int) -> Op:
        io = self._new_io(f"run{i}")
        pages = self.pages()
        with self.tracer.span("plans.pipeline", "run_pipeline") as span:
            t0 = time.perf_counter()
            run_pipeline(self.spark, pages, io, CONFIG, resume=False)
            dt = time.perf_counter() - t0
        audit = {r["stage"]: r for r in io.read_audit()}
        counts = {"pages": audit["extract"]["rows"],
                  "pairs": audit["pairs"]["pair_count"],
                  "clusters": audit["clusters"]["n_clusters"]}
        return Op(dt, counts["pages"], io, counts, span)

    def check(self) -> dict:
        """Every run must produce the same counts and the same clusters
        table; the clusters must cover every input page once and reach the
        F1 floor against the withheld truth."""
        first = self.ops[0]
        digest0 = clusters_digest(first.io.read("clusters"))
        for op in self.ops[1:]:
            if op.counts != first.counts:
                raise CheckFailed(f"run counts differ: {op.counts} vs {first.counts}")
            if clusters_digest(op.io.read("clusters")) != digest0:
                raise CheckFailed("clusters differ between runs of one seed")
        if digest0[0] != first.pages or digest0[1] != first.pages:
            raise CheckFailed(f"clusters cover {digest0[:2]} rows/urls, input has {first.pages}")
        f1 = pairwise_f1(first.io.read("clusters"), self.truth())
        if f1["f1"] < F1_FLOOR:
            raise CheckFailed(f"pairwise F1 {f1['f1']:.4f} < {F1_FLOOR}")
        return {**f1, **first.counts}


class DeltaWorkload(Workload):
    min_ops = DELTA_MIN_BATCHES
    max_ops = DELTA_MAX_BATCHES

    @property
    def delta_path(self) -> str:
        return os.path.join(self.scratch, "delta")

    def _build_inputs(self) -> None:
        # the first DELTA_WARMUP_BATCHES batches are warm-up batches and are
        # never committed; measured batch i reads batch=i+DELTA_WARMUP_BATCHES
        d = gen.corpus_and_delta(self.spark, self.seed, self.shape,
                                 DELTA_WARMUP_BATCHES + DELTA_MAX_BATCHES,
                                 DELTA_BATCH_PAGES, N_PARTITIONS).persist()
        d.where(F.col("batch") < 0).drop("doc", "batch").write.parquet(self.input_path)
        d.where(F.col("batch") >= 0).drop("doc").write.parquet(self.delta_path)
        d.select("url", "doc", "batch").write.parquet(self.truth_path)
        d.unpersist()

    def prepare(self) -> None:
        self.build_inputs()
        t0 = time.perf_counter()
        # every corpus document has one page, so the committed clusters of
        # the static corpus are singletons (a cluster id is its minimum
        # url) and its state needs only the extracted text
        io = self._new_io("corpus")
        io.write("extract", stage_extract(self.pages()))
        extracted = io.read("extract")
        self.blocks, self.attrs = corpus_er_state(
            extracted, n_bands=CONFIG.n_bands, n_docs=extracted.count())
        self.blocks.count()
        self.attrs.count()
        self.prior = extracted.select("url", F.col("url").alias("cluster_id"))
        self.setup_parts["state_build_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        for b in range(DELTA_WARMUP_BATCHES):
            self._fold(self._batch_pages(b), self._new_io(f"warmup{b}"), self.prior)
        self.setup_parts["warmup_s"] = time.perf_counter() - t0

    @property
    def _folded(self):
        """Rows of the delta batches folded so far."""
        return F.col("batch").between(DELTA_WARMUP_BATCHES,
                                      DELTA_WARMUP_BATCHES + len(self.ops) - 1)

    def _batch_pages(self, b: int) -> DataFrame:
        return self.spark.read.parquet(self.delta_path) \
            .where(F.col("batch") == b).drop("batch")

    def _fold(self, batch: DataFrame, io, prior: DataFrame) -> DataFrame:
        """score_delta_pages_batch -> match_edges -> update_clusters -> write."""
        with self.tracer.span("streaming.incremental", "score_delta_pages_batch"):
            scored = score_delta_pages_batch(batch, self.blocks, self.attrs,
                                             top_n=CONFIG.top_n, n_bands=CONFIG.n_bands)
            io.write("delta_scored", scored)
            release_persisted(scored)
        with self.tracer.span("operators.scoring", "match_edges"):
            edges = match_edges(io.read("delta_scored"), threshold=CONFIG.threshold)
        with self.tracer.span("operators.clustering", "update_clusters"):
            merged = update_clusters(prior, edges, new_nodes=batch.select("url"))
            io.write("clusters", merged)
            release_persisted(merged)
        return io.read("clusters")

    def run_op(self, i: int) -> Op:
        io = self._new_io(f"batch{i}")
        batch = self._batch_pages(DELTA_WARMUP_BATCHES + i)
        with self.tracer.span("streaming.incremental", f"delta_batch:{i}") as span:
            t0 = time.perf_counter()
            self.prior = self._fold(batch, io, self.prior)
            dt = time.perf_counter() - t0
        return Op(dt, DELTA_BATCH_PAGES, io, span=span)

    def truth(self) -> DataFrame:
        return self.spark.read.parquet(self.truth_path) \
            .where((F.col("batch") < 0) | self._folded).drop("batch")

    def check(self) -> dict:
        """The committed clusters must cover corpus + every folded delta page
        exactly once and reach the F1 floor."""
        n_corpus = self.spark.read.parquet(self.input_path).count()
        expect = n_corpus + DELTA_BATCH_PAGES * len(self.ops)
        rows, urls, _ = clusters_digest(self.prior)
        if rows != expect or urls != expect:
            raise CheckFailed(f"clusters cover {rows} rows/{urls} urls, expected {expect}")
        f1 = pairwise_f1(self.prior, self.truth())
        if f1["f1"] < F1_FLOOR:
            raise CheckFailed(f"pairwise F1 {f1['f1']:.4f} < {F1_FLOOR}")
        pairs = sum(o.io.read("delta_scored").count() for o in self.ops)
        clusters = self.prior.select("cluster_id").distinct().count()
        return {**f1, "pages": expect, "pairs": pairs, "clusters": clusters,
                "batches": len(self.ops)}

    def folded_pages(self) -> DataFrame:
        """Corpus pages plus every delta batch folded so far: the input a
        batch run over the same pages would get."""
        delta = self.spark.read.parquet(self.delta_path).where(self._folded).drop("batch")
        return self.pages().unionByName(delta)


WORKLOADS = {"batch_wide": BatchWorkload, "batch_dense": BatchWorkload,
             "delta_stream": DeltaWorkload}
