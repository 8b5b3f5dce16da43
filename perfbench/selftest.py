"""Self-test of the benchmark at a tiny size (the sf0.001 documents table).

    python3 perfbench/selftest.py

For every workload it runs ``run.py --scale tiny`` three times, with the
fewest operations a run makes: seed 1 untraced, seed 2 untraced and seed 1
traced. It checks that

* every run exits 0 and is correct, whatever the seed;
* the untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit, and the traced run every per-layer metric with its unit and a
  ``busy_s`` figure for every layer;
* seed 2 generates other pages than seed 1;
* the two runs of seed 1 see the same pages and produce the same page,
  pair and cluster counts.

It then folds two delta batches into the tiny delta_stream corpus in this
process and checks that the resulting pairwise F1 equals that of
``run_pipeline`` over the corpus and the same delta pages.
Exit code 0 means every check passed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ("pages", "pairs", "clusters")


class SelfTestFailed(Exception):
    """A self-test check failed."""


def _require(ok: bool, message: str) -> None:
    if not ok:
        raise SelfTestFailed(message)


def _bench(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "0.01", "--trace", str(trace),
           "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    _require(p.returncode == 0 and len(lines) >= 2,
             f"{' '.join(cmd[1:])}: exit {p.returncode}\n{p.stderr[-2000:]}")
    result, details = json.loads(lines[-1]), json.loads(lines[-2])["details"]
    _require(result["correct"] and result["failed"] == 0, details["error"])
    return result, details


def _units(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def check_workload(workload: str, spec: dict, layers: list[str]) -> None:
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    r1, d1 = _bench(workload, 1, 0)
    r2, d2 = _bench(workload, 2, 0)
    rt, dt = _bench(workload, 1, 1)
    _require(_units(r1) == e2e, f"{workload}: end-to-end metrics {_units(r1)} != {e2e}")
    traced = _units(rt)
    _require(all(traced.get(k) == u for k, u in per_layer.items()),
             f"{workload}: per-layer metrics missing or with other units")
    missing = [layer for layer in layers if f"{layer}.busy_s" not in traced]
    _require(not missing, f"{workload}: traced run names no {missing}")
    _require(d1["input_digest"] != d2["input_digest"],
             f"{workload}: seed 2 generated the pages of seed 1")
    _require(d1["input_digest"] == dt["input_digest"],
             f"{workload}: two runs of seed 1 generated other pages")
    c1 = {k: d1["verdict"][k] for k in COUNTS}
    ct = {k: dt["verdict"][k] for k in COUNTS}
    _require(c1 == ct, f"{workload}: counts differ between runs of seed 1: {c1} vs {ct}")
    print(f"ok {workload}: seed 1 {c1}, F1 {d1['verdict']['f1']:.4f}; "
          f"seed 2 F1 {d2['verdict']['f1']:.4f}", flush=True)


def check_delta_equals_batch(seed: int, n_batches: int = 2) -> None:
    """F1 after folding delta batches == F1 of a batch run over the same pages."""
    sys.path[:0] = [ROOT, HERE]
    import run

    scratch = os.path.join(ROOT, ".perfbench_scratch", f"selftest-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    run._env(scratch)
    spark = run._session(scratch, trace=False)
    try:
        import spans
        import workloads as wl
        from entity_resolution_pipeline_spark.plans.pipeline import run_pipeline
        from entity_resolution_pipeline_spark.sources.tableio import TableIO

        w = wl.DeltaWorkload("delta_stream", spark, seed, scratch, spans.NullTracer(),
                             wl.TINY["delta_stream"])
        w.prepare()
        for i in range(n_batches):
            w.ops.append(w.run_op(i))
        incremental = w.check()["f1"]
        io = TableIO(spark, os.path.join(scratch, "batch"))
        clusters = run_pipeline(spark, w.folded_pages(), io, wl.CONFIG, resume=False)
        batch = wl.pairwise_f1(clusters, w.truth())["f1"]
    finally:
        run._shutdown(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    _require(incremental == batch,
             f"delta_stream F1 {incremental} != run_pipeline over corpus + delta {batch}")
    print(f"ok delta_stream F1 {incremental:.6f} == run_pipeline F1 {batch:.6f}", flush=True)


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    from spans import LAYERS
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in WORKLOADS:
        check_workload(workload, spec, LAYERS)
    check_delta_equals_batch(seed=1)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
