"""BucketedJoinViewSink: the materialized facts-⋈-latest-dim view must
converge to the batch join under any micro-batch split, re-enrich on
dimension updates, drop on dimension deletes, and heal its three-table
crash window on replay."""

from __future__ import annotations

import pyspark.sql.functions as F  # noqa: N812
import pytest

from cdc_platform_spark.streaming.pipeline import to_envelope

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def env(spark):
    return to_envelope(
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(400)
    ).localCheckpoint(eager=True)


def _batch_oracle(spark, env):
    from pyspark.sql import Window

    w = Window.partitionBy("pk").orderBy(F.col("offset").desc())
    dim = (
        env.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1 AND op != 'd'")
        .select("pk", F.col("value").alias("dim_value"))
    )
    return env.join(dim, "pk").select(
        "seq", "pk", "event_type", F.col("value").alias("fact_value"), "dim_value"
    )


def _rows(df):
    return sorted(map(tuple, df.select("seq", "pk", "event_type", "fact_value", "dim_value").collect()))


def test_view_converges_under_any_batching(spark, tmp_path, env):
    """The unbucketed form (one bucket per table) against the batch join."""
    from cdc_platform_spark.streaming.join_view import BucketedJoinViewSink

    expected = _rows(_batch_oracle(spark, env))
    assert expected

    sink = BucketedJoinViewSink(str(tmp_path / "jv"), n_buckets=1)
    for k in range(3):
        sink.write(env.filter(F.pmod(F.col("seq"), F.lit(3)) == k))
    assert _rows(sink.view(spark)) == expected


def test_dim_update_reenriches_and_delete_drops(spark, tmp_path, env):
    from cdc_platform_spark.streaming.join_view import BucketedJoinViewSink

    sink = BucketedJoinViewSink(str(tmp_path / "jv"), n_buckets=1)
    sink.write(env)
    some_pk = env.filter("op != 'd'").select("pk").first()["pk"]
    max_off = env.agg(F.max("offset")).first()[0]

    # late dimension UPDATE: every fact row of the key re-enriches
    upd = spark.createDataFrame(
        [(10**9, max_off + 1, some_pk, "u", "update", 123.5)],
        "seq long, offset long, pk long, op string, event_type string, value double",
    )
    sink.write(upd)
    got = sink.view(spark).filter(F.col("pk") == some_pk)
    assert got.count() > 0
    assert {r["dim_value"] for r in got.collect()} == {123.5}

    # late dimension DELETE: the key's rows drop from the inner join
    dele = spark.createDataFrame(
        [(10**9 + 1, max_off + 2, some_pk, "d", "error", None)],
        "seq long, offset long, pk long, op string, event_type string, value double",
    )
    sink.write(dele)
    assert sink.view(spark).filter(F.col("pk") == some_pk).count() == 0


def test_bucketed_view_matches_flat_under_any_batching(spark, tmp_path, env):
    """BucketedJoinViewSink must equal the flat batch join over the final
    states under any micro-batch split; a replayed batch must be a
    no-op."""
    from cdc_platform_spark.streaming.join_view import BucketedJoinViewSink

    expected = _rows(_batch_oracle(spark, env))
    assert expected

    sink = BucketedJoinViewSink(str(tmp_path / "jv"), n_buckets=8)
    batches = [env.filter(F.pmod(F.col("seq"), F.lit(3)) == k) for k in range(3)]
    for b in batches:
        sink.write(b)
    assert _rows(sink.view(spark)) == expected
    sink.write(batches[2])  # at-least-once redelivery
    assert _rows(sink.view(spark)) == expected


def test_bucketed_dim_update_reenriches_and_delete_drops(spark, tmp_path, env):
    from cdc_platform_spark.streaming.join_view import BucketedJoinViewSink

    sink = BucketedJoinViewSink(str(tmp_path / "jv"), n_buckets=8)
    sink.write(env)
    some_pk = env.filter("op != 'd'").select("pk").first()["pk"]
    max_off = env.agg(F.max("offset")).first()[0]

    # dimension update: every fact of the key re-enriches with the new value
    upd = spark.createDataFrame(
        [(10**9, max_off + 1, some_pk, "u", "profile", 42.5)],
        "seq long, offset long, pk long, op string, event_type string, value double",
    )
    sink.write(upd)
    vals = {
        r["dim_value"]
        for r in sink.view(spark).filter(F.col("pk") == some_pk).collect()
    }
    assert vals == {42.5}

    # dimension delete: inner-join semantics drop every fact of the key
    dele = spark.createDataFrame(
        [(10**9 + 1, max_off + 2, some_pk, "d", "gone", None)],
        "seq long, offset long, pk long, op string, event_type string, value double",
    )
    sink.write(dele)
    assert sink.view(spark).filter(F.col("pk") == some_pk).count() == 0


def test_bucketed_view_rewrites_only_touched_buckets_and_prunes(spark, tmp_path, env):
    """A single-key batch must leave every bucket its key does not hash
    into physically identical across facts/, dim/ AND view/, and the
    re-derive read must carry a DPP partition filter."""
    import os

    from cdc_platform_spark.streaming.join_view import BucketedJoinViewSink

    nb = 8
    sink = BucketedJoinViewSink(str(tmp_path / "jv"), n_buckets=nb)
    sink.write(env)

    def listing(path):
        return {
            b: sorted(os.listdir(f"{path}/{b}"))
            for b in os.listdir(path)
            if b.startswith("bucket=")
        }

    before = {p: listing(p) for p in (sink.facts.path, sink.dim.path, sink.view_store.path)}
    assert all(len(v) >= 4 for v in before.values())

    one = env.filter("op = 'u'").orderBy("seq").limit(1).localCheckpoint(eager=True)
    pk = one.first()["pk"]
    touched = one.select(F.pmod(F.hash("pk"), F.lit(nb)).alias("b")).first()["b"]
    sink.write(one.withColumn("offset", F.col("offset") + 10**6))

    for p in (sink.facts.path, sink.dim.path, sink.view_store.path):
        after = listing(p)
        assert after[f"bucket={touched}"] != before[p][f"bucket={touched}"], p
        for b in before[p]:
            if b != f"bucket={touched}":
                assert after[b] == before[p][b], f"{p}/{b} rewritten by unrelated key {pk}"

    # DPP assert on the shared pruned-read recipe over the view store
    one_bucket = spark.createDataFrame([(0,)], "bucket int")
    plan = (
        sink.view_store.read_buckets(spark, one_bucket)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()


def test_bucketed_view_compact_reclaims_and_gc_fences_replay(spark, tmp_path, env):
    """compact() drops the view store's dead markers and GCs facts/dim
    tombstones past the horizon without changing the served view; a
    replayed sub-horizon batch cannot resurrect anything."""
    from cdc_platform_spark.streaming.join_view import BucketedJoinViewSink

    sink = BucketedJoinViewSink(str(tmp_path / "jv"), n_buckets=8)
    sink.write(env.filter("op != 'd'"))
    # dim deletes retract their pk's view rows, leaving dead markers
    sink.write(env.filter("op = 'd'"))
    view_before = _rows(sink.view(spark))

    assert spark.read.parquet(sink.view_store.path).filter("dead").count() > 0
    assert spark.read.parquet(sink.dim.path).filter("op = 'd'").count() > 0

    n_fact_deletes = spark.read.parquet(sink.facts.path).filter("op = 'd'").count()
    horizon = env.agg(F.max("offset")).first()[0] + 1
    sink.compact(spark, tombstone_horizon=horizon)
    assert spark.read.parquet(sink.view_store.path).filter("dead").count() == 0
    assert spark.read.parquet(sink.dim.path).filter("op = 'd'").count() == 0
    # facts keep their op='d' rows: those are real delete EVENTS (facts
    # that join the live dim in the view), not key tombstones
    assert (
        spark.read.parquet(sink.facts.path).filter("op = 'd'").count()
        == n_fact_deletes
    )
    assert _rows(sink.view(spark)) == view_before

    # sub-horizon replay of the whole history is fenced at the merges
    sink.write(env)
    assert _rows(sink.view(spark)) == view_before


def test_bucketed_view_crash_window_heals(spark, tmp_path, env):
    """Crash after the keyed merges but before the view commit (mid-commit
    journal left behind) must roll back and converge on replay."""
    import json
    import os
    import shutil as sh

    from cdc_platform_spark.streaming.join_view import BucketedJoinViewSink

    sink = BucketedJoinViewSink(str(tmp_path / "jv"), n_buckets=8)
    first = env.filter(F.pmod(F.col("seq"), F.lit(2)) == 0)
    second = env.filter(F.pmod(F.col("seq"), F.lit(2)) == 1)
    sink.write(first)
    expected = _rows(sink.view(spark))

    store = sink.view_store
    victim = sorted(b for b in os.listdir(store.path) if b.startswith("bucket="))[0]
    i = int(victim.split("=", 1)[1])
    os.makedirs(store._work, exist_ok=True)
    tmp = f"{store.path}.tmp-deadbeef"
    os.makedirs(f"{tmp}/bucket={i}")
    os.rename(f"{store.path}/{victim}", f"{store._work}/bucket={i}.old-deadbeef")
    with open(store._journal_path("deadbeef"), "w") as fh:
        json.dump({"tmp": tmp, "run_id": "deadbeef", "buckets": [i]}, fh)
    sh.copytree(f"{store._work}/bucket={i}.old-deadbeef", f"{store.path}/{victim}")

    assert _rows(sink.view(spark)) == expected  # read-side rollback
    sink.write(first)  # replay no-op
    assert _rows(sink.view(spark)) == expected
    sink.write(second)
    assert _rows(sink.view(spark)) == _rows(_batch_oracle(spark, env))
