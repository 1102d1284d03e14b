"""The scale-safe materialization policy (r13 verdict item 3).

Every multiply-consumed frame in the operators/entries is pinned via
``materialize.materialize``; these tests pin how it picks a mechanism
from the deployment:

- a ``local``/``local[...]`` master IS ``localCheckpoint`` — lineage
  truncated to an RDD scan, identical to the round-13 plans;
- any other master writes a reliable checkpoint into the configured
  dir and truncates lineage the same way (reached here by forcing the
  ``_is_local`` predicate, since the suite runs in local mode);
- results are identical on both branches (the mechanism changes fault
  tolerance, never values);
- a configured checkpoint dir that disagrees with the one the context
  already uses fails loudly instead of being silently ignored.
"""

from __future__ import annotations

import os
import re
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark import materialize as M
from usgs_earthquake_data_pipeline_spark.materialize import materialize


def _checkpoint_dir(spark):
    d = spark.sparkContext._jsc.sc().getCheckpointDir()
    return d.get() if d.isDefined() else None


@pytest.fixture
def reliable(spark, monkeypatch):
    """Force the non-local branch with a context that has no checkpoint
    dir yet; restore the shared session afterwards."""
    monkeypatch.setattr(M, "_is_local", lambda sc: False)
    jsc = spark.sparkContext._jsc.sc()
    jsc.setCheckpointDir(None)
    yield spark
    spark.conf.unset(M.DIR_CONF_KEY)
    jsc.setCheckpointDir(None)


def _df(spark):
    return spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )


def test_default_mode_is_local(spark):
    assert M._is_local(spark.sparkContext)
    for master in ("local", "local[4]", "local[*]", "local[2,3]"):
        assert M._is_local(SimpleNamespace(master=master)), master
    for master in ("local-cluster[2,1,1024]", "spark://h:7077", "yarn"):
        assert not M._is_local(SimpleNamespace(master=master)), master


def test_local_truncates_lineage(spark):
    out = materialize(_df(spark), eager=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "Range" not in plan  # source subtree gone — lineage cut
    assert _checkpoint_dir(spark) is None  # no reliable checkpoint taken


def test_reliable_checkpoints_to_dir(reliable, tmp_path):
    spark = reliable
    target = tmp_path / "ckpt"
    spark.conf.set(M.DIR_CONF_KEY, str(target))
    out = materialize(_df(spark), eager=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "Range" not in plan
    # the context's dir is a fresh subdir of the configured one, and the
    # eager checkpoint wrote its RDD files there
    (sub,) = os.listdir(target)
    assert _checkpoint_dir(spark).endswith(f"{target}/{sub}")
    assert any(n.startswith("rdd-") for n in os.listdir(target / sub))
    assert out.count() == 100


def test_results_identical_across_modes(reliable, monkeypatch):
    spark = reliable
    expected = sorted(r.id for r in _df(spark).collect())
    for local in (True, False):
        monkeypatch.setattr(M, "_is_local", lambda sc, v=local: v)
        out = materialize(_df(spark), eager=False)
        got = sorted(r.id for r in out.collect())
        assert got == expected, local


def test_checkpoint_dir_conflict_fails_loudly(reliable, tmp_path):
    spark = reliable
    first, other = tmp_path / "a", tmp_path / "b"
    spark.conf.set(M.DIR_CONF_KEY, str(first))
    materialize(_df(spark))
    pinned = _checkpoint_dir(spark)
    # the same dir again is fine: the context keeps its subdir
    assert materialize(_df(spark)).count() == 100
    assert _checkpoint_dir(spark) == pinned
    spark.conf.set(M.DIR_CONF_KEY, str(other))
    names_both = re.escape(str(other)) + ".*" + re.escape(str(first))
    with pytest.raises(ValueError, match=names_both):
        materialize(_df(spark))
    assert _checkpoint_dir(spark) == pinned
