"""Lineage cuts for iterative DataFrame loops (Pregel rounds, frontier
walks, Lloyd iterations).

``localCheckpoint`` stores blocks on executor local storage with NO
lineage fallback — the right call on the single-JVM test target (no HDFS
round-trip), but on a preemptible 100-TB cluster a lost executor loses
its blocks and kills the job.  Every iterative loop in this package, and
every table version a write produces (``Engine._next``), therefore routes
through :func:`cut_lineage`: when the deployment sets a
reliable checkpoint dir (``spark.sparkContext.setCheckpointDir`` on
HDFS/S3/DBFS), every loop transparently upgrades to reliable
``checkpoint()`` with zero per-operator changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``checkpoint()`` when the
    session has a checkpoint dir, else ``localCheckpoint()``.

    Designed for ``DataFrame.transform`` so call sites stay chained::

        frontier = frontier.join(...).transform(cut_lineage)
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def cut_lineage_lazy(df: DataFrame) -> DataFrame:
    """:func:`cut_lineage` with ``eager=False`` — marks the cut without
    forcing materialization (for frames that may never be executed)."""
    return cut_lineage(df, eager=False)
