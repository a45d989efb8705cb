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
        """Non-blocking: returns only counters whose frame has been acted on."""
        out: dict[str, int] = {}
        for name, obs in self._observations.items():
            row = observed(obs)
            if row is not None:
                out[name] = row["rows"]
        return out


def observed(obs: Observation) -> dict | None:
    """The metrics ``obs`` collected, or None while its frame has not run.

    Non-blocking: ``Observation.get`` BLOCKS until the observed frame's
    first action, so a frame that never ran (e.g. on a checkpoint-resumed
    path) would hang the caller.  The JVM's ``getOrEmpty`` does not block,
    but on an attached Observation whose frame has not run it raises (a Java
    NullPointerException in PySpark 4.1) rather than returning an empty map,
    so both read as None, as does an Observation never attached to a frame.
    Once the map is filled, ``get`` returns at once.
    """
    try:
        if obs._jo.getOrEmpty().isEmpty():
            return None
    except Exception:  # noqa: BLE001 - not run yet / never attached
        return None
    return obs.get
