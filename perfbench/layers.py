"""Per-layer figures of a traced run: span and Spark-job attribution from
:mod:`spans`, plus useful-work counts read from the tables the measured
operations committed. All figures are per operation (one pipeline run or
one delta batch); each ratio is printed next to its base.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_resolution_pipeline_spark.operators.blocking import blocking_table

import spans
from workloads import CONFIG, BatchWorkload

STAGES = ["extract", "blocks", "pairs", "attrs", "scored", "clusters", "delta_scored"]
COUNT_UNITS = {
    "operators.blocking.block_rows": "rows", "operators.blocking.hot_keys": "keys",
    "operators.blocking.stop_keys": "keys", "operators.blocking.max_block": "rows",
    "operators.pairs.pairs_out": "pairs", "operators.pairs.pairs_per_page": "pairs/page",
    "operators.pairs.cap_saturated_frac": "ratio", "operators.pairs.cap_base_urls": "urls",
    "operators.pairs.true_pair_frac": "ratio",
    "operators.scoring.pairs_scored": "pairs", "operators.scoring.pairs_per_busy_s": "pairs/s",
    "operators.scoring.band_frac": "ratio", "operators.scoring.edge_frac": "ratio",
    "operators.clustering.edges_in": "edges", "operators.clustering.clusters_out": "clusters",
    **{f"sources.tableio.bytes_written_mb.{s}": "MB" for s in STAGES},
    "streaming.incremental.jobs_per_batch": "jobs",
    "streaming.incremental.candidates_per_delta_page": "pairs/page",
    "tracing.pages_per_s": "1/s", "tracing.span_check_err_s": "s",
    "tracing.ops": "count",
}
FIELD_UNITS = {"busy_s": "s", "self_s": "s", "wait_s": "s", "jobs": "count",
               "tasks": "count", "failed_tasks": "count", "shuffle_write_mb": "MB",
               "shuffle_read_mb": "MB", "spill_mb": "MB", "gc_s": "s"}
UNITS = {**{f"{layer}.{f}": u for layer in spans.LAYERS for f, u in FIELD_UNITS.items()},
         **COUNT_UNITS}


def _scored_counts(scored) -> tuple[int, int, int]:
    r = scored.agg(
        F.count("*"),
        F.count("jw_fingerprint"),
        F.sum((F.col("p_match") >= CONFIG.threshold).cast("long")),
    ).first()
    return int(r[0]), int(r[1]), int(r[2] or 0)


def useful_work(w) -> dict[str, float]:
    """Counts of what each layer produced, per operation. Runs untraced
    Spark jobs after the measured window."""
    n = len(w.ops)
    out = {k: 0.0 for k in COUNT_UNITS}
    for s in STAGES:
        out[f"sources.tableio.bytes_written_mb.{s}"] = sum(
            o.io.bytes_written.get(s, 0) for o in w.ops) / n / spans.MB
    if isinstance(w, BatchWorkload):
        # every run of one seed commits identical tables (checked): count one
        io = w.ops[0].io
        audit = {r["stage"]: r for r in io.read_audit()}
        blocks = io.read("blocks")
        raw_keys = blocking_table(io.read("extract").select("url", "text_norm"),
                                  n_bands=CONFIG.n_bands, prefix_k=CONFIG.prefix_k) \
            .select("block_key").distinct().count()
        kept_keys = blocks.select("block_key").distinct().count()
        pairs = io.read("pairs")
        per_url = pairs.groupBy("url_a").count()
        urls, saturated = per_url.agg(
            F.count("*"), F.sum((F.col("count") >= CONFIG.top_n).cast("long"))).first()
        truth = w.truth()
        same = (pairs.join(truth.select(F.col("url").alias("url_a"), F.col("doc").alias("da")), "url_a")
                .join(truth.select(F.col("url").alias("url_b"), F.col("doc").alias("db")), "url_b")
                .where(F.col("da") == F.col("db")).count())
        scored, band, edges = _scored_counts(io.read("scored"))
        pages, n_pairs = audit["extract"]["rows"], audit["pairs"]["pair_count"]
        out.update({
            "operators.blocking.block_rows": blocks.count(),
            "operators.blocking.hot_keys": blocks.where(
                F.col("join_key") != F.col("block_key")).select("block_key").distinct().count(),
            "operators.blocking.stop_keys": raw_keys - kept_keys,
            "operators.blocking.max_block": audit["blocks"]["max_block"],
            "operators.pairs.pairs_out": n_pairs,
            "operators.pairs.pairs_per_page": n_pairs / pages,
            "operators.pairs.cap_saturated_frac": (saturated or 0) / urls if urls else 0.0,
            "operators.pairs.cap_base_urls": urls,
            "operators.pairs.true_pair_frac": same / n_pairs if n_pairs else 0.0,
            "operators.clustering.clusters_out": audit["clusters"]["n_clusters"],
        })
    else:
        totals = [_scored_counts(o.io.read("delta_scored")) for o in w.ops]
        scored, band, edges = (sum(t[i] for t in totals) / n for i in range(3))
        out["streaming.incremental.candidates_per_delta_page"] = \
            scored / (sum(o.pages for o in w.ops) / n)
        out["operators.clustering.clusters_out"] = \
            w.prior.select("cluster_id").distinct().count()
    out.update({
        "operators.scoring.pairs_scored": scored,
        "operators.scoring.band_frac": band / scored if scored else 0.0,
        "operators.scoring.edge_frac": edges / scored if scored else 0.0,
        "operators.clustering.edges_in": edges,
    })
    return out


def per_layer(w, tracer, event_log_dir: str, work: dict[str, float],
              pages_per_s: float) -> dict[str, dict[str, float | str]]:
    """Every per-layer metric, ``{name: {value, unit}}``."""
    n = max(len(w.ops), 1)
    vals, err = spans.layer_metrics(tracer.spans, event_log_dir)
    # each operation's root span against the latency the workload clocked
    by_id = {s.id: s for s in tracer.spans}
    err = max([err, *(spans.span_check_error(o.span, by_id, o.latency_s)
                      for o in w.ops if o.span is not None)])
    vals = {k: v / n for k, v in vals.items()}
    vals.update(work or {k: 0.0 for k in COUNT_UNITS})
    busy = vals["operators.scoring.busy_s"]
    vals["operators.scoring.pairs_per_busy_s"] = \
        vals["operators.scoring.pairs_scored"] / busy if busy else 0.0
    if not isinstance(w, BatchWorkload):
        vals["streaming.incremental.jobs_per_batch"] = sum(
            vals[f"{layer}.jobs"] for layer in spans.LAYERS)
    vals.update({"tracing.pages_per_s": pages_per_s,
                 "tracing.span_check_err_s": err, "tracing.ops": len(w.ops)})
    return {k: {"value": vals[k], "unit": u} for k, u in UNITS.items()}
