"""Materialization-seam tests (VERDICT r14 items 6 and 7):

- every operator materialization point routes through
  ``functions.materialize`` so a cluster deployment can flip ONE switch to
  a reliable checkpoint (localCheckpoint truncates lineage while storing
  blocks only on executors — unrecoverable after executor loss);
- ``sorted_view``'s ``_plan_child`` test seam survives;
- the single-eval ``array_intersect`` pin in dedup_minhash_lsh stays
  pinned (the ``+ 0 * monotonically_increasing_id()`` guard relies on
  undocumented Catalyst behavior: a future optimizer that folds ``x*0``
  for non-deterministic ``x`` would silently restore the 6x
  re-evaluation — this test makes that visible).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cdc_platform_spark.functions import materialize, sorted_view
from cdc_platform_spark.operators import load_all
from cdc_platform_spark.plans.explain import explain_text

from .conftest import SF_SMOKE

REGISTRY = load_all()


def test_materialize_local_default_truncates_lineage(spark):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out = materialize(df, eager=True)
    assert [r["x"] for r in out.orderBy("id").collect()] == [2 * i for i in range(100)]
    # lineage truncated: the plan reads the materialized blocks, not range()
    assert "Scan ExistingRDD" in explain_text(out)


def _ckpt_files(d) -> list[str]:
    return [os.path.join(root, f) for root, _, files in os.walk(d) for f in files]


def test_materialize_reliable_env_switch(spark, tmp_path, monkeypatch):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    df = spark.range(50).withColumn("x", F.col("id") + 1)
    out = materialize(df, eager=True)
    assert sorted(r["x"] for r in out.collect()) == list(range(1, 51))
    # the reliable path writes checkpoint files to the durable dir
    assert _ckpt_files(tmp_path / "ckpt"), "reliable checkpoint wrote nothing to the checkpoint dir"


@pytest.mark.parametrize("value", ["0", "false", "FALSE", "False"])
def test_materialize_env_switch_off_values_stay_local(spark, tmp_path, monkeypatch, value):
    """Every spelling of "off" keeps the local checkpoint: the env value
    is compared case-insensitively."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt_off"))
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", value)
    out = materialize(spark.range(10), eager=True)
    assert out.count() == 10
    assert not _ckpt_files(tmp_path / "ckpt_off"), f"{value!r} engaged the reliable checkpoint"


def test_materialize_reliable_conf_switch(spark, tmp_path):
    """The session conf is read on every call, so flipping it mid-session
    takes effect on the next materialization in both directions."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt2"))
    try:
        spark.conf.set("spark.cdc.reliableCheckpoint", "true")
        out = materialize(spark.range(10), eager=True)
        assert out.count() == 10
        n_files = len(_ckpt_files(tmp_path / "ckpt2"))
        assert n_files, "conf switch did not engage the reliable checkpoint"
        spark.conf.set("spark.cdc.reliableCheckpoint", "false")
        assert materialize(spark.range(10), eager=True).count() == 10
        assert len(_ckpt_files(tmp_path / "ckpt2")) == n_files, (
            "conf switched off mid-session still wrote a reliable checkpoint"
        )
    finally:
        spark.conf.set("spark.cdc.reliableCheckpoint", "false")


def test_sorted_view_plan_child_seam(spark):
    df = spark.range(100).withColumn("g", F.col("id") % 7)
    agg = df.groupBy("g").count()
    out = sorted_view(agg, "g")
    child = getattr(out, "_plan_child", None)
    assert child is not None, "_plan_child seam missing from sorted_view result"
    # the seam exposes the REAL pre-checkpoint subtree (the checkpointed
    # frame itself explains as only `Scan ExistingRDD`); explain_text
    # follows the seam, so the raw (seam-less) explain shows the difference
    import contextlib
    import io

    def raw_explain(frame) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            frame.explain("formatted")
        return buf.getvalue()

    assert "HashAggregate" in explain_text(child)
    assert "HashAggregate" not in raw_explain(out)
    assert "HashAggregate" in explain_text(out)  # seam-following view
    # membership-only contract (ADVICE r14): a transformation on top of the
    # sorted_view result is a NEW DataFrame without the seam — tests that
    # rely on the attribute must read it from sorted_view's direct result
    assert getattr(out.select("g"), "_plan_child", None) is None


def test_no_bare_local_checkpoints_outside_functions():
    """Every materialization point must route through functions.materialize
    so the reliable-checkpoint switch covers all of them (VERDICT r14 #6)."""
    import cdc_platform_spark

    root = os.path.dirname(cdc_platform_spark.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        if "__pycache__" in dirpath:
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root)
            if rel == os.path.join("functions", "__init__.py"):
                continue  # the helper itself
            with open(path) as fh:
                src = fh.read()
            if ".localCheckpoint(" in src:
                offenders.append(rel)
    assert not offenders, f"bare localCheckpoint outside functions.materialize: {offenders}"


def test_minhash_array_intersect_pinned_to_single_eval(spark):
    """The exact-Jaccard intersect must stay a SINGLE aliased projection.

    Written naively the jaccard filter is pushed into the join condition
    and re-derived in the projection — six size(array_intersect(...))
    evaluations per candidate pair (r14 before-plan nodes 25/26). The
    non-deterministic zero guard pins it to one; if Catalyst ever folds
    the guard away, the expression leaks into Filter/Join condition lines
    (not `AS ni#...` projections) and this test goes red."""
    df = REGISTRY["dedup_minhash_lsh"].builder(spark, SF_SMOKE)
    child = getattr(df, "_plan_child", None)
    assert child is not None
    plan = explain_text(child)
    lines = [ln for ln in plan.split("\n") if "array_intersect" in ln]
    assert lines, "array_intersect vanished from the minhash plan"
    for ln in lines:
        assert " AS ni#" in ln, f"array_intersect escaped the pinned projection: {ln[:200]}"
    # one projection node (the formatted explain may repeat the node detail
    # once for the adaptive wrapper — never 6x)
    assert len(lines) <= 2, f"array_intersect duplicated {len(lines)}x"
