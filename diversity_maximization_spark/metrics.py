"""Distance-evaluation accounting — parity with the reference's
performance counters (SURVEY.md §2.1 "Distance counting":
PerformanceMetrics [REF-K] -> Spark accumulators / observe()).

Two mechanisms, one per place distances are computed:

- **Kernel-side** (numpy inside the driver or an ``applyInPandas``
  task): a process-local counter the kernels bump. Inside executor
  tasks the count stays in the Python worker and is lost: no kernel
  reports it back, so ``KERNEL_DISTANCE_EVALS`` counts the driver-side
  kernel calls only (the sequential finish and the evaluation, not
  the per-partition MapReduce-coreset kernel). Executor-side counts
  are open work: ROADMAP.md, "Count the paper's costs where they are
  spent".
- **Plan-side** (DataFrame self-join evaluators): ``observe()``
  metrics — Spark counts the pair rows that flow through the
  distance expression during the normal action, no extra job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class DistanceCounter:
    """Process-local count of distance evaluations."""

    __slots__ = ("n",)

    def __init__(self) -> None:
        self.n = 0

    def add(self, k: int) -> None:
        self.n += int(k)

    def reset(self) -> None:
        self.n = 0


#: counter the numpy kernels bump (driver-side, or task-local inside
#: a pandas-UDF worker process)
KERNEL_DISTANCE_EVALS = DistanceCounter()


def observe_distance_evals(
    pairs_df: DataFrame, label: str = "distance_evals"
) -> tuple[DataFrame, Observation]:
    """Attach an observation counting the distance rows of a pairwise
    DataFrame. ``obs.get`` blocks until the first action on the
    returned frame and then yields ``{"n_distance_evals": ...}``."""
    obs = Observation(label)
    return (
        pairs_df.observe(obs, F.count(F.lit(1)).alias("n_distance_evals")),
        obs,
    )
