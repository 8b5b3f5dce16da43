"""Aggregates observed on the job that runs a query, with no second pass.

Spark's ``Observation`` API is not used: on Spark 4.1 it leaves a
non-serializable ``ObservationManager`` on the session, after which any task
closure that captures the session (a fitted ``LogisticRegressionModel``
holding its training summary, for one) fails with "Task not serializable".
A named ``DataFrame.observe`` read back through a QueryExecutionListener
leaves nothing behind on the session.
"""

from __future__ import annotations

import threading
import uuid
from typing import Any, Callable

from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import Column, DataFrame

_WAIT_S = 600.0  # listener events trail the query by milliseconds


class _ObservedQuery:
    """QueryExecutionListener, implemented in Python over the py4j callback
    server, that keeps the metrics named ``name`` from the query that
    reports them."""

    def __init__(self, name: str):
        self.name = name
        self.values: dict[str, Any] = {}
        self.done = threading.Event()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java name)
        metrics = qe.observedMetrics()
        if metrics.contains(self.name):
            row = metrics.get(self.name).get()
            self.values = {f: row.get(i)
                           for i, f in enumerate(row.schema().fieldNames())}
            self.done.set()

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java name)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def run_observed(df: DataFrame, action: Callable[[DataFrame], Any],
                 **metrics: Column) -> tuple[Any, dict[str, Any]]:
    """Run ``action`` on ``df`` with the aggregate ``metrics`` (name →
    Column) attached; returns the action's result and the metric values,
    computed by the job(s) the action itself runs."""
    spark = df.sparkSession
    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = _ObservedQuery(f"observed_{uuid.uuid4().hex}")
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    try:
        out = action(df.observe(listener.name,
                                *(c.alias(k) for k, c in metrics.items())))
        if not listener.done.wait(_WAIT_S):
            raise RuntimeError(f"no observed metrics reported in {_WAIT_S} s")
    finally:
        manager.unregister(listener)
    return out, listener.values
