"""Pipeline observability (SURVEY §2 A2/A4 analogs of camden's progress bar
and MoveStats counters, reference src/progress.rs:3-10, src/operations.rs:9-11).

Spark-side counters ride on ``DataFrame.observe`` (named metrics evaluated
during the action that materializes the frame — no extra job, unlike
``count()``), collected via ``pyspark.sql.Observation``.  Stage row counts and
drop counters land in the checkpoint manifest (plans/checkpoint.py) so a
resumed run can report lineage without recomputation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation


class StageCounters:
    """Attach named row counters to DataFrames; read them after actions."""

    def __init__(self) -> None:
        self._observations: dict[str, Observation] = {}

    def observe_rows(self, df: DataFrame, name: str, where=None) -> DataFrame:
        """Count the rows of ``df`` (matching Column ``where``) as ``name``."""
        obs = Observation(name)
        self._observations[name] = obs
        n = F.count(F.lit(1)) if where is None else F.count_if(where)
        return df.observe(obs, n.alias("rows"))

    def get(self) -> dict[str, int]:
        """Non-blocking: returns only counters whose frame has been acted on.

        (``Observation.get`` BLOCKS until the observed dataset's first action
        — a frame that never ran, e.g. on a checkpoint-resumed path, would
        hang the caller; ``getOrEmpty`` on the JVM object does not.)
        """
        out: dict[str, int] = {}
        for name, obs in self._observations.items():
            try:
                jmap = obs._jo.getOrEmpty()
                if not jmap.isEmpty():
                    out[name] = int(jmap.get("rows").get())
            except Exception:
                pass
        return out
