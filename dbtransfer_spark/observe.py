"""Row counts that ride an action instead of running a job of their own.

``observe_count`` attaches a COUNT(*) ``Observation`` to a frame. Spark
fills the metric when the first action over that frame finishes, so a
write can report how many rows it wrote without a second scan.

Two ways the metric can fail to arrive, both handled by the reader:

- It reaches the driver asynchronously, from a listener event after the
  action has returned, and ``Observation.get`` waits for it without a
  bound. The reader waits on the JVM future with a deadline instead, and
  raises ``TimeoutError`` naming the metric, so a frame whose action
  never ran fails loudly rather than hanging the driver.
- The action can finish without running the observed plan at all: when
  adaptive execution proves a join empty, it drops the join's other
  side, cached frames included. The metric then arrives empty, and the
  reader counts the observed frame with a job of its own; a caller that
  persisted that frame fills its cache with this count.
"""

from __future__ import annotations

from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# The metric usually lands within milliseconds of the action; the bound
# only has to outlast a listener bus that lags behind an event flood.
OBSERVATION_TIMEOUT_S = 120.0


def observe_count(df: DataFrame, metric: str) -> tuple[DataFrame, Callable[[], int]]:
    """``df`` with a row-count Observation attached, and its reader.

    Call the reader after an action over the returned frame: it returns
    the rows that action saw, waiting at most ``OBSERVATION_TIMEOUT_S``
    seconds for the metric to arrive. ``metric`` names the count in the timeout
    error. The action must run in ``df``'s session, where the
    Observation is registered: a plan led by a frame of another session
    (a join onto a frame the caller read itself, inside foreachBatch's
    cloned session) runs there and never delivers the metric."""
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).cast("bigint").alias("n"))

    def read() -> int:
        timeout_s = OBSERVATION_TIMEOUT_S
        future = obs._jo.future()
        if not future.isCompleted():
            jvm = obs._jvm
            # one timed await on the JVM side: returns the moment the
            # metric lands, with no polling step added to the latency
            deadline = jvm.scala.concurrent.duration.FiniteDuration(
                max(1, int(timeout_s * 1000)),
                jvm.java.util.concurrent.TimeUnit.MILLISECONDS,
            )
            try:
                jvm.scala.concurrent.Await.ready(future, deadline)
            except Py4JJavaError as exc:
                name = exc.java_exception.getClass().getName()
                if name != "java.util.concurrent.TimeoutException":
                    raise
                raise TimeoutError(
                    f"observed metric {metric!r} did not arrive within {timeout_s:g} s"
                ) from None
        row = obs._jo.getRow()
        if row.size() == 0:  # the action skipped the observed plan
            # count the returned frame, not ``df``: only its plan matches
            # the cache of a caller that persisted it
            return observed.count()
        return int(row.getLong(0))

    return observed, read
