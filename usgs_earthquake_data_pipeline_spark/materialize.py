"""Scale-safe materialization for multiply-consumed frames.

Every operator/entry that pins a frame so its subtree executes once
funnels through :func:`materialize`. Both mechanisms it can pick
truncate lineage, so long iterative loops stay bounded either way;
they differ only in where the blocks live, which is a property of the
deployment, and Spark already knows the deployment:

- a ``local`` / ``local[...]`` master — ``df.localCheckpoint(eager)``.
  One process: the blocks sit on the driver's own disks, so nothing
  is lost that the job would survive anyway. The plan is a
  ``Scan ExistingRDD`` with no source subtree.
- any other master (``local-cluster`` included) — a reliable
  ``df.checkpoint(eager)``. ``localCheckpoint`` stores blocks
  non-replicated on executor-local storage, so on a cluster losing
  one executor after materialization would fail the job instead of
  recomputing the lost partitions (optimization guide §5). The
  checkpoint goes to ``spark.graft.checkpoint.dir`` (HDFS/S3 on a
  cluster); unset, to a per-process scratch dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

DIR_CONF_KEY = "spark.graft.checkpoint.dir"


def _is_local(sc) -> bool:
    """Spark's own notion of a single-process master
    (``SparkContext.isLocal``): ``local`` or ``local[...]``."""
    return sc.master == "local" or sc.master.startswith("local[")


def _ensure_checkpoint_dir(spark) -> None:
    """A reliable checkpoint needs ``sc.setCheckpointDir`` before the
    first ``df.checkpoint()``. Uses spark.graft.checkpoint.dir, else a
    per-process scratch subdir. A context already pinned to a
    different dir than the configured one is an error, never silently
    kept."""
    sc = spark.sparkContext
    target = spark.conf.get(DIR_CONF_KEY, None)
    current = sc._jsc.sc().getCheckpointDir()
    if current.isDefined():
        if target:
            # setCheckpointDir pins a fresh UUID subdir of the
            # qualified target; compare against that subdir's parent
            hpath = sc._jvm.org.apache.hadoop.fs.Path
            want = hpath(target)
            fs = want.getFileSystem(sc._jsc.hadoopConfiguration())
            want = fs.makeQualified(want).toString()
            have = hpath(current.get()).getParent().toString()
            if have != want:
                raise ValueError(
                    f"{DIR_CONF_KEY}={target!r} differs from the "
                    f"context's existing checkpoint dir {have!r}"
                )
        return
    if not target:
        from .session import _scratch_dir

        target = os.path.join(_scratch_dir(), "reliable-checkpoints")
    sc.setCheckpointDir(target)


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Pin a multiply-consumed DataFrame so its subtree executes once,
    with the mechanism the deployment calls for (module docstring).

    In local mode it IS ``df.localCheckpoint(eager)``, byte-for-byte
    the same plan as a bare call."""
    spark = df.sparkSession
    if _is_local(spark.sparkContext):
        return df.localCheckpoint(eager=eager)
    _ensure_checkpoint_dir(spark)
    return df.checkpoint(eager=eager)


def materialize_lazy(df: DataFrame) -> DataFrame:
    """:func:`materialize` with ``eager=False`` — chainable via
    ``df.transform(materialize_lazy)``."""
    return materialize(df, eager=False)
