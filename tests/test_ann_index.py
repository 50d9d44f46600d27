"""BucketedIvfIndexSink: incremental inverted-file maintenance must
converge to the batch rebuild under any micro-batch split, tombstone
deletes, and survive the commit crash-window (same protocol as the
upsert sinks)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F  # noqa: N812
import pytest

from cdc_platform_spark.operators.dedup import dot_long

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def trained(spark):
    from cdc_platform_spark.operators.similarity import (
        _fixed_embeddings,
        train_ivf_centroids,
    )

    e = _fixed_embeddings(spark, SF_SMOKE).localCheckpoint(eager=True)
    return e, train_ivf_centroids(e)


def _cdc_rows(e):
    wave0 = e.select(
        "vec_id", F.col("vec_id").alias("offset"), F.lit("c").alias("op"), "a"
    )
    upd = e.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id",
        (F.col("vec_id") + 10**6).alias("offset"),
        F.lit("u").alias("op"),
        F.reverse("a").alias("a"),
    )
    dels = e.filter(F.col("vec_id") % 5 == 1).select(
        "vec_id",
        (F.col("vec_id") + 10**6).alias("offset"),
        F.lit("d").alias("op"),
        F.lit(None).cast("array<long>").alias("a"),
    )
    return wave0.unionByName(upd).unionByName(dels)


def _live_vectors(rows):
    """The post-CDC corpus: latest version of each vector, deletes dropped."""
    return (
        rows.groupBy("vec_id")
        .agg(F.max_by(F.struct("offset", "op", "a"), F.col("offset")).alias("m"))
        .select("vec_id", "m.op", "m.a")
        .filter(F.col("op") != "d")
        .withColumn("norm", dot_long(F.col("a"), F.col("a")))
    )


def _cell_cosines(live, cents):
    return live.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        (dot_long(F.col("a"), F.col("ca")) / (F.sqrt("norm") * F.sqrt("cn"))).alias("c"),
    )


def _batch_cells(live, cents):
    """(vec_id, cell): the from-scratch IVF assignment of the live vectors
    under the frozen centroids — max cosine, lowest cent_id on ties."""
    return _cell_cosines(live, cents).groupBy("vec_id").agg(
        F.max_by("cent_id", F.struct(F.col("c"), (-F.col("cent_id")).alias("t"))).alias("cell")
    )


def _batch_codes(live, codebooks, ranks) -> dict:
    """vec_id -> PQ code string: the batch encode (sim_quantize_pq's
    subvector split, min squared L2 per subspace, lowest cent_id on ties)
    of the live vectors, packed in Python."""
    from cdc_platform_spark.operators.similarity import _l2_long, pq_subvectors

    best = (
        pq_subvectors(live.select("vec_id", "a"))
        .join(F.broadcast(codebooks), "sub")
        .select("vec_id", "sub", "cent_id", _l2_long(F.col("sa"), F.col("ca")).alias("d"))
        .groupBy("vec_id", "sub")
        .agg(F.min_by("cent_id", F.struct("d", "cent_id")).alias("cent_id"))
        .join(ranks, "cent_id")
    )
    per_vec: dict[int, dict[int, int]] = {}
    for r in best.collect():
        per_vec.setdefault(r["vec_id"], {})[r["sub"]] = r["code"]
    return {v: ",".join(str(c[k]) for k in sorted(c)) for v, c in per_vec.items()}


def _expected_index(rows, cents):
    return sorted(map(tuple, _batch_cells(_live_vectors(rows), cents).collect()))


def _expected_pq_index(rows, cents, codebooks, ranks):
    live = _live_vectors(rows)
    codes = _batch_codes(live, codebooks, ranks)
    return sorted(
        (r["vec_id"], r["cell"], codes[r["vec_id"]]) for r in _batch_cells(live, cents).collect()
    )


def test_index_converges_under_any_batching(spark, tmp_path, trained):
    """The unbucketed form (one bucket) converges to the batch assignment
    of the live vectors when the waves are split across micro-batches."""
    from cdc_platform_spark.streaming.ann_index import BucketedIvfIndexSink

    e, cents = trained
    rows = _cdc_rows(e).localCheckpoint(eager=True)
    expected = _expected_index(rows, cents)
    assert expected, "index must be non-empty"

    split = BucketedIvfIndexSink(str(tmp_path / "many"), cents, n_buckets=1)
    for k in range(3):  # deliberately interleaves waves across batches
        split.write(rows.filter(F.pmod(F.col("offset"), F.lit(3)) == k))
    assert sorted(map(tuple, split.state(spark).collect())) == expected


def test_deletes_tombstone_and_updates_reassign(spark, tmp_path, trained):
    from cdc_platform_spark.streaming.ann_index import BucketedIvfIndexSink

    e, cents = trained
    sink = BucketedIvfIndexSink(str(tmp_path / "idx"), cents, n_buckets=1)
    sink.write(_cdc_rows(e))
    state = {r["vec_id"]: r["cell"] for r in sink.state(spark).collect()}
    deleted = [r["vec_id"] for r in e.filter(F.col("vec_id") % 5 == 1).collect()]
    assert deleted and not any(v in state for v in deleted)
    assert all(c is not None for c in state.values())


def test_index_crash_recovery(spark, tmp_path, trained):
    """Crash between a bucket's two renames leaves its snapshot displaced
    into the .work dir; the next read restores it."""
    from cdc_platform_spark.streaming.ann_index import BucketedIvfIndexSink

    e, cents = trained
    sink = BucketedIvfIndexSink(str(tmp_path / "idx"), cents, n_buckets=1)
    sink.write(_cdc_rows(e))
    expected = sorted(map(tuple, sink.state(spark).collect()))
    os.makedirs(sink._work, exist_ok=True)
    os.rename(sink._bucket_dir(0), f"{sink._work}/bucket=0.old-deadbeef")
    assert sorted(map(tuple, sink.state(spark).collect())) == expected


@pytest.fixture(scope="module")
def pq_trained(spark, trained):
    from pyspark.sql import Window

    from cdc_platform_spark.operators.similarity import (
        pq_seeds,
        pq_subvectors,
        train_pq_codebooks,
    )

    e, cents = trained
    seeds = pq_seeds(e)
    codebooks = train_pq_codebooks(pq_subvectors(e.select("vec_id", "a")), seeds)
    ranks = seeds.withColumn(
        "code", (F.row_number().over(Window.orderBy("cent_id")) - 1).cast("long")
    )
    return cents, codebooks, ranks


def test_pq_index_converges_under_any_batching(spark, tmp_path, trained, pq_trained):
    """The unbucketed PQ index converges to the batch (cell, codes) of the
    live vectors under a split delivery."""
    from cdc_platform_spark.streaming.ann_index import BucketedIvfPqIndexSink

    e, _ = trained
    cents, codebooks, ranks = pq_trained
    rows = _cdc_rows(e).localCheckpoint(eager=True)
    expected = _expected_pq_index(rows, cents, codebooks, ranks)
    assert expected and all(r[2].count(",") == 7 for r in expected)  # 8 codes each

    split = BucketedIvfPqIndexSink(str(tmp_path / "many"), cents, codebooks, ranks, n_buckets=1)
    for k in range(3):
        split.write(rows.filter(F.pmod(F.col("offset"), F.lit(3)) == k))
    assert sorted(map(tuple, split.state(spark).collect())) == expected


def test_pq_codes_not_mixed_when_versions_share_a_batch(spark, tmp_path, trained, pq_trained):
    """Regression: insert + update of one vector in the SAME micro-batch
    must encode each version separately — the surviving row's codes are
    the update's codes, not a mix of both versions' subvectors."""
    from cdc_platform_spark.streaming.ann_index import BucketedIvfPqIndexSink

    e, _ = trained
    cents, codebooks, ranks = pq_trained
    one = e.filter(F.col("vec_id") == 0)
    update = one.select(
        "vec_id", F.lit(2).alias("offset"), F.lit("u").alias("op"), F.reverse("a").alias("a")
    )
    both = one.select("vec_id", F.lit(1).alias("offset"), F.lit("c").alias("op"), "a").unionByName(
        update
    )
    mixed = BucketedIvfPqIndexSink(str(tmp_path / "mixed"), cents, codebooks, ranks, n_buckets=1)
    mixed.write(both)
    assert mixed.state(spark).collect()[0]["codes"] == _expected_pq_index(
        update, cents, codebooks, ranks
    )[0][2]


def test_bucketed_pq_index_matches_flat_and_rewrites_only_touched(spark, tmp_path, trained, pq_trained):
    """BucketedIvfPqIndexSink must equal the flat batch (cell, codes)
    encode of the live vectors under any batching, and a single-vector
    batch must leave every bucket its key does not hash into physically
    untouched."""
    from cdc_platform_spark.streaming.ann_index import BucketedIvfPqIndexSink

    e, _ = trained
    cents, codebooks, ranks = pq_trained
    rows = _cdc_rows(e).localCheckpoint(eager=True)
    expected = _expected_pq_index(rows, cents, codebooks, ranks)
    assert expected and all(r[2].count(",") == 7 for r in expected)

    bkt = BucketedIvfPqIndexSink(str(tmp_path / "bkt"), cents, codebooks, ranks, n_buckets=8)
    for k in range(3):
        bkt.write(rows.filter(F.pmod(F.col("offset"), F.lit(3)) == k))
    assert sorted(map(tuple, bkt.state(spark).collect())) == expected

    def listing():
        return {
            b: sorted(os.listdir(f"{bkt.path}/{b}"))
            for b in os.listdir(bkt.path)
            if b.startswith("bucket=")
        }

    before = listing()
    assert len(before) >= 4
    one = rows.filter("op != 'd'").orderBy("vec_id").limit(1)
    touched = one.select(F.pmod(F.hash("vec_id"), F.lit(8)).alias("b")).collect()[0]["b"]
    bkt.write(one.withColumn("offset", F.lit(10**9)))
    after = listing()
    assert after[f"bucket={touched}"] != before[f"bucket={touched}"]
    for b in before:
        if b != f"bucket={touched}":
            assert after[b] == before[b], f"{b} rewritten by an unrelated vector"


def test_flat_index_search_matches_batch_ivf_recipe(spark, tmp_path, trained):
    """Search served FROM the maintained IVF-Flat index must equal the
    batch sim_ann_ivf recipe (same frozen centroids) evaluated over the
    post-CDC corpus — the index answers queries, not just rebuild diffs."""
    from pyspark.sql import Window

    from cdc_platform_spark.operators.similarity import N_PROBE, N_PROBES, TOP_K
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        ivf_search_from_index,
    )

    e, cents = trained
    rows = _cdc_rows(e).localCheckpoint(eager=True)
    sink = BucketedIvfFlatIndexSink(str(tmp_path / "idx"), cents, n_buckets=8)
    for k in range(3):
        sink.write(rows.filter(F.pmod(F.col("offset"), F.lit(3)) == k))

    got = sorted(map(tuple, ivf_search_from_index(sink.state(spark), cents).collect()))

    # batch oracle: the live post-CDC vectors through the same IVF math
    live = _live_vectors(rows)
    vc = _cell_cosines(live, cents)
    assign = _batch_cells(live, cents)
    w_probe = Window.partitionBy("vec_id").orderBy(F.col("c").desc(), F.col("cent_id"))
    probes = (
        vc.filter(F.col("vec_id") < N_PROBES)
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= N_PROBE)
        .select(F.col("vec_id").alias("qid"), F.col("cent_id").alias("cell"))
    )
    cand = (
        probes.join(assign, "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"))
    )
    q = live.select(F.col("vec_id").alias("qid"), F.col("a").alias("qa"), F.col("norm").alias("qn"))
    n = live.select(F.col("vec_id").alias("nid"), F.col("a").alias("na"), F.col("norm").alias("nn"))
    w_rank = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("nid"))
    expected = sorted(
        map(
            tuple,
            cand.join(q, "qid")
            .join(n, "nid")
            .select(
                "qid",
                "nid",
                (dot_long(F.col("qa"), F.col("na")) / (F.sqrt("qn") * F.sqrt("nn"))).alias("c"),
            )
            .withColumn("rank", F.row_number().over(w_rank).cast("long"))
            .filter(F.col("rank") <= TOP_K)
            .select(F.col("qid").alias("query_id"), "rank", F.col("nid").alias("neighbor_id"), F.col("c").alias("cosine"))
            .collect(),
        )
    )
    assert expected, "probe set must be non-empty"
    assert got == expected


def test_bucketed_index_matches_flat_and_rewrites_only_touched(spark, tmp_path, trained):
    """BucketedIvfIndexSink must equal the flat batch assignment of the
    live vectors under any batching, and a single-vector batch must leave
    every bucket its key does not hash into physically untouched."""
    from cdc_platform_spark.streaming.ann_index import BucketedIvfIndexSink

    e, cents = trained
    rows = _cdc_rows(e).localCheckpoint(eager=True)
    expected = _expected_index(rows, cents)

    bkt = BucketedIvfIndexSink(str(tmp_path / "bkt"), cents, n_buckets=8)
    for k in range(3):
        bkt.write(rows.filter(F.pmod(F.col("offset"), F.lit(3)) == k))
    assert sorted(map(tuple, bkt.state(spark).collect())) == expected

    def listing():
        return {
            b: sorted(os.listdir(f"{bkt.path}/{b}"))
            for b in os.listdir(bkt.path)
            if b.startswith("bucket=")
        }

    before = listing()
    assert len(before) >= 4
    one = rows.filter("op != 'd'").orderBy("vec_id").limit(1)
    vid = one.collect()[0]["vec_id"]
    touched = one.select(F.pmod(F.hash("vec_id"), F.lit(8)).alias("b")).collect()[0]["b"]
    bkt.write(one.withColumn("offset", F.lit(10**9)))
    after = listing()
    assert after[f"bucket={touched}"] != before[f"bucket={touched}"], vid
    for b in before:
        if b != f"bucket={touched}":
            assert after[b] == before[b], f"{b} rewritten by an unrelated vector"


def test_cell_projection_search_matches_primary_and_prunes(spark, tmp_path, trained):
    """The cell-partitioned serving projection must return exactly the
    primary-path answer, and its member scan must be DPP-pruned to the
    probed cells."""
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        IvfCellProjection,
        ivf_search_from_index,
    )

    e, cents = trained
    rows = _cdc_rows(e).localCheckpoint(eager=True)
    sink = BucketedIvfFlatIndexSink(str(tmp_path / "idx"), cents, n_buckets=8)
    for k in range(3):
        sink.write(rows.filter(F.pmod(F.col("offset"), F.lit(3)) == k))
    state = sink.state(spark)
    expected = sorted(map(tuple, ivf_search_from_index(state, cents).collect()))

    proj = IvfCellProjection(str(tmp_path / "serving"))
    proj.refresh(state)
    from cdc_platform_spark.operators.similarity import N_PROBES

    pv = state.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("qid"), F.col("a").alias("qa")
    )
    result = proj.search(spark, cents, pv)
    assert sorted(map(tuple, result.collect())) == expected

    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "projection member scan lost its DPP partition filter — a probe "
        "would scan every cell"
    )


def test_cell_projection_delta_refresh_rewrites_only_touched_cells(
    spark, tmp_path, trained
):
    """The incremental refresh contract: after a small CDC batch, a
    journal-driven refresh rewrites ONLY the cells whose membership that
    batch could change — every other cell partition keeps an identical
    file listing — and the refreshed projection equals a from-scratch
    full rebuild."""
    import os

    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        IvfCellProjection,
    )

    e, cents = trained
    rows = _cdc_rows(e).localCheckpoint(eager=True)
    inserts = rows.filter(F.col("op") == "c")
    sink = BucketedIvfFlatIndexSink(str(tmp_path / "idx"), cents, n_buckets=8)
    sink.write(inserts)

    proj = IvfCellProjection(str(tmp_path / "serving"))
    refreshed = proj.refresh_from_primary(spark, sink)  # bootstrap: full build
    assert refreshed, "the insert wave must journal its cells"

    def listing():
        return {
            b: sorted(os.listdir(f"{proj.path}/{b}"))
            for b in os.listdir(proj.path)
            if b.startswith("bucket=")
        }

    before = listing()
    assert len(before) >= 4, "fixture should populate several cells"

    # one update + one delete: touched cells = their old cells + the
    # update's new cell — everything else must stay byte-identical
    delta = rows.filter(F.col("op") != "c").limit(2).localCheckpoint(eager=True)
    assert delta.count() > 0
    sink.write(delta)
    refreshed = proj.refresh_from_primary(spark, sink)
    assert refreshed, "the batch must journal its touched cells"

    after = listing()
    touched_dirs = {f"bucket={c}" for c in refreshed}
    for b in set(before) - touched_dirs:
        assert after.get(b) == before[b], f"{b} rewritten by an unrelated batch"

    # the delta-refreshed replica equals a from-scratch full rebuild
    full = IvfCellProjection(str(tmp_path / "full"))
    full.refresh(sink.state(spark))
    got = sorted(
        map(tuple, spark.read.parquet(proj.path).select("vec_id", "norm", "bucket").collect())
    )
    want = sorted(
        map(tuple, spark.read.parquet(full.path).select("vec_id", "norm", "bucket").collect())
    )
    assert got == want

    # the journal is drained: an immediate re-refresh rewrites nothing
    assert proj.refresh_from_primary(spark, sink) == []
    assert listing() == after


def test_generation_rotation_retrains_quantizer_blue_green(spark, tmp_path, trained):
    """rotate_ivf_generation builds generation N+1 under a retrained
    quantizer from generation N's state: the rotated index equals a
    from-scratch sink fed the same CDC under the new quantizer, the CDC
    stream continues into it (tombstones + offsets carried, replay
    fenced), and the pointer flip is atomic."""
    from cdc_platform_spark.operators.similarity import train_ivf_centroids
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        IndexGenerationPointer,
        rotate_ivf_generation,
    )

    e, cents = trained
    rows = _cdc_rows(e).localCheckpoint(eager=True)
    first = rows.filter(F.pmod(F.col("offset"), F.lit(2)) == 0)
    second = rows.filter(F.pmod(F.col("offset"), F.lit(2)) == 1)

    gen0 = BucketedIvfFlatIndexSink(str(tmp_path / "gen0"), cents, n_buckets=8)
    gen0.write(first)

    # retrain on the CURRENT live corpus (the rotation trigger in prod)
    live = gen0.state(spark).select("vec_id", "a").withColumn(
        "norm", F.aggregate(
            F.zip_with("a", "a", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
    )
    cents2 = train_ivf_centroids(live.localCheckpoint(eager=True))

    gen1 = rotate_ivf_generation(spark, gen0, str(tmp_path / "gen1"), cents2)
    ptr = IndexGenerationPointer(str(tmp_path / "ptr"))
    ptr.flip(gen1.path)
    assert ptr.current() == gen1.path

    # the stream continues into the new generation; a replayed old batch
    # is a no-op (keyed merge idempotence carried across the rotation)
    gen1.write(second)
    gen1.write(first)

    ref = BucketedIvfFlatIndexSink(str(tmp_path / "ref"), cents2, n_buckets=8)
    ref.write(first)
    ref.write(second)
    got = sorted(map(tuple, gen1.state(spark).collect()))
    want = sorted(map(tuple, ref.state(spark).collect()))
    assert got == want and got, "rotated generation diverged from from-scratch"


def test_projection_refresh_crash_before_journal_clear_is_idempotent(
    spark, tmp_path, trained
):
    """Crash window between the delta-refresh commit and the journal
    clear: the next refresh re-drains the same cells and re-rewrites them
    to identical content (idempotent per cell), then clears — a third
    call rewrites nothing and the replica equals a full rebuild."""
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        IvfCellProjection,
    )

    e, cents = trained
    rows = _cdc_rows(e).localCheckpoint(eager=True)
    sink = BucketedIvfFlatIndexSink(str(tmp_path / "idx"), cents, n_buckets=8)
    sink.write(rows.filter(F.col("op") == "c"))
    proj = IvfCellProjection(str(tmp_path / "serving"))
    proj.refresh_from_primary(spark, sink)  # bootstrap

    sink.write(rows.filter(F.col("op") != "c"))

    # crash before the clear: the commit lands, the journal survives
    orig = sink.clear_touched_cells
    sink.clear_touched_cells = lambda files: None
    first = proj.refresh_from_primary(spark, sink)
    assert first
    sink.clear_touched_cells = orig

    second = proj.refresh_from_primary(spark, sink)  # replays the journal
    assert set(second) == set(first)

    # journal drained now; nothing left to rewrite
    assert proj.refresh_from_primary(spark, sink) == []

    full = IvfCellProjection(str(tmp_path / "full"))
    full.refresh(sink.state(spark))
    got = sorted(
        map(tuple, spark.read.parquet(proj.path).select("vec_id", "norm", "bucket").collect())
    )
    want = sorted(
        map(tuple, spark.read.parquet(full.path).select("vec_id", "norm", "bucket").collect())
    )
    assert got == want


def test_pq_generation_rotation_retrains_codebooks_blue_green(
    spark, tmp_path, trained, pq_trained
):
    """rotate_ivf_pq_generation rebuilds the PQ composite index under a
    retrained (centroids, codebooks, ranks) triple from the co-maintained
    Flat sink's stored vectors: the rotated index equals a from-scratch
    sink fed the same CDC under the new quantizers, the CDC stream
    continues into it (offsets carried, replay idempotent), serving reads
    work under the new codebooks, and the GC horizon is inherited."""
    from pyspark.sql import Window

    from cdc_platform_spark.operators.similarity import (
        TOP_K,
        pq_seeds,
        pq_subvectors,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        BucketedIvfPqIndexSink,
        IndexGenerationPointer,
        ivf_pq_search_from_index,
        rotate_ivf_pq_generation,
    )

    e, cents = trained
    cents0, codebooks0, ranks0 = pq_trained
    rows = _cdc_rows(e).localCheckpoint(eager=True)
    first = rows.filter(F.pmod(F.col("offset"), F.lit(2)) == 0)
    second = rows.filter(F.pmod(F.col("offset"), F.lit(2)) == 1)
    # post-rotation traffic: fresh updates at offsets above every prior one
    third = (
        e.filter(F.col("vec_id") % 3 == 0)
        .select(
            "vec_id",
            (F.col("vec_id") + 10**7).alias("offset"),
            F.lit("u").alias("op"),
            F.reverse("a").alias("a"),
        )
        .localCheckpoint(eager=True)
    )

    vec = BucketedIvfFlatIndexSink(str(tmp_path / "vec"), cents, n_buckets=8)
    pq0 = BucketedIvfPqIndexSink(
        str(tmp_path / "pq0"), cents0, codebooks0, ranks0, n_buckets=8
    )
    vec.write(first)
    vec.write(second)
    pq0.write(first)
    pq0.write(second)
    # horizons are valid only once everything below them has been applied
    pq0.compact(spark, tombstone_horizon=3)  # persists a horizon to inherit
    vec.compact(spark, tombstone_horizon=5)

    # retrain the FULL triple on the Flat sink's live vectors — they ARE
    # the training corpus (the PQ sink itself stores only codes)
    live = (
        vec.state(spark)
        .select("vec_id", "a")
        .withColumn(
            "norm",
            F.aggregate(
                F.zip_with("a", "a", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
        .localCheckpoint(eager=True)
    )
    cents2 = train_ivf_centroids(live)
    seeds2 = pq_seeds(live)
    codebooks2 = train_pq_codebooks(pq_subvectors(live.select("vec_id", "a")), seeds2)
    ranks2 = seeds2.withColumn(
        "code", (F.row_number().over(Window.orderBy("cent_id")) - 1).cast("long")
    )

    pq1 = rotate_ivf_pq_generation(
        spark, pq0, vec, str(tmp_path / "pq1"), cents2, codebooks2, ranks2
    )
    assert pq1.gc_horizon() == 5  # max of both sinks' horizons
    ptr = IndexGenerationPointer(str(tmp_path / "ptr"))
    ptr.flip(pq1.path)
    assert ptr.current() == pq1.path

    # the stream continues into the new generation; a replayed old batch
    # is a no-op (keyed merge idempotence carried across the rotation)
    pq1.write(third)
    pq1.write(first)
    vec.write(third)

    ref = BucketedIvfPqIndexSink(
        str(tmp_path / "ref"), cents2, codebooks2, ranks2, n_buckets=8
    )
    ref.write(first)
    ref.write(second)
    ref.write(third)
    got = sorted(map(tuple, pq1.state(spark).collect()))
    want = sorted(map(tuple, ref.state(spark).collect()))
    assert got == want and got, "rotated PQ generation diverged from from-scratch"
    # codes actually re-encoded under the NEW codebooks, not carried over
    gen0_codes = {r["vec_id"]: r["codes"] for r in pq0.state(spark).collect()}
    gen1_codes = {r["vec_id"]: r["codes"] for r in pq1.state(spark).collect()}
    assert any(
        gen1_codes[v] != gen0_codes[v] for v in gen0_codes if v in gen1_codes
    )

    # serving read under the new codebooks: search from the rotated state
    # equals search from the from-scratch state and fills TOP_K per probe
    search = ivf_pq_search_from_index(
        pq1.state(spark), vec.state(spark), cents2, codebooks2, ranks2
    )
    search_ref = ivf_pq_search_from_index(
        ref.state(spark), vec.state(spark), cents2, codebooks2, ranks2
    )
    got_s = sorted(map(tuple, search.collect()))
    assert got_s == sorted(map(tuple, search_ref.collect()))
    per_q = {}
    for q, *_ in got_s:
        per_q[q] = per_q.get(q, 0) + 1
    assert per_q and all(n == TOP_K for n in per_q.values())


def test_drift_report_degrades_under_cdc_and_recovers_after_rotation(spark, tmp_path):
    """The drift monitor's operational story: a frozen quantizer serves a
    moving corpus, the per-cell cosine report degrades as updates land,
    and a generation rotation under RETRAINED centroids restores it —
    the exact trigger/response loop rotate_ivf_generation exists for."""
    from pyspark.sql import functions as F

    from cdc_platform_spark.operators.similarity import (
        _fixed_embeddings,
        train_ivf_centroids,
    )
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        ivf_drift_from_index,
        rotate_ivf_generation,
    )

    e = _fixed_embeddings(spark, SF_SMOKE).localCheckpoint(eager=True)
    cents = train_ivf_centroids(e)
    sink = BucketedIvfFlatIndexSink(str(tmp_path / "g0"), cents, n_buckets=8)
    sink.write(
        e.select("vec_id", F.col("vec_id").alias("offset"), F.lit("c").alias("op"), "a")
    )

    def weighted_mean(df) -> float:
        rows = df.collect()
        return sum(r["mean_cos_micro"] * r["n_vecs"] for r in rows) / sum(
            r["n_vecs"] for r in rows
        )

    healthy = weighted_mean(ivf_drift_from_index(sink.state(spark), cents))

    # corpus moves: half the vectors get reversed (max misalignment with
    # the trained cells) while the quantizer stays frozen
    sink.write(
        e.filter(F.col("vec_id") % 2 == 0).select(
            "vec_id",
            (F.col("vec_id") + 10**6).alias("offset"),
            F.lit("u").alias("op"),
            F.reverse("a").alias("a"),
        )
    )
    drifted = weighted_mean(ivf_drift_from_index(sink.state(spark), cents))
    assert drifted < healthy, f"drift did not register: {drifted} vs {healthy}"

    # blue/green rotation under retrained centroids restores alignment
    post_vecs = sink.state(spark).select(
        "vec_id", "a", dot_long(F.col("a"), F.col("a")).alias("norm")
    ).localCheckpoint(eager=True)
    cents2 = train_ivf_centroids(post_vecs)
    gen1 = rotate_ivf_generation(spark, sink, str(tmp_path / "g1"), cents2)
    recovered = weighted_mean(ivf_drift_from_index(gen1.state(spark), cents2))
    assert recovered > drifted, f"rotation did not recover: {recovered} vs {drifted}"


def test_recon_error_degrades_under_cdc_and_recovers_after_rotation(spark, tmp_path):
    """The codebook-side twin of the drift loop test: frozen PQ codebooks
    serve a moving corpus, per-subspace reconstruction error rises as
    reversal updates land, and rotate_ivf_pq_generation under RETRAINED
    (centroids, codebooks, ranks) restores it — measured through
    pq_recon_from_index over each generation's vector state."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cdc_platform_spark.operators.similarity import (
        _fixed_embeddings,
        pq_seeds,
        pq_subvectors,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        BucketedIvfPqIndexSink,
        pq_recon_from_index,
        rotate_ivf_pq_generation,
    )

    e = _fixed_embeddings(spark, SF_SMOKE).localCheckpoint(eager=True)
    cents = train_ivf_centroids(e)
    seeds = pq_seeds(e)
    cb = train_pq_codebooks(pq_subvectors(e.select("vec_id", "a")), seeds)
    ranks = seeds.withColumn(
        "code", (F.row_number().over(Window.orderBy("cent_id")) - 1).cast("long")
    )
    flat = BucketedIvfFlatIndexSink(str(tmp_path / "flat"), cents, n_buckets=8)
    pq = BucketedIvfPqIndexSink(str(tmp_path / "pq"), cents, cb, ranks, n_buckets=8)
    wave0 = e.select(
        "vec_id", F.col("vec_id").alias("offset"), F.lit("c").alias("op"), "a"
    )
    flat.write(wave0)
    pq.write(wave0)

    def total_mean(df) -> float:
        rows = df.collect()
        return sum(r["mean_err"] * r["n_vecs"] for r in rows) / sum(
            r["n_vecs"] for r in rows
        )

    healthy = total_mean(pq_recon_from_index(flat.state(spark), cb))

    upd = e.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id",
        (F.col("vec_id") + 10**6).alias("offset"),
        F.lit("u").alias("op"),
        F.reverse("a").alias("a"),
    )
    flat.write(upd)
    pq.write(upd)
    degraded = total_mean(pq_recon_from_index(flat.state(spark), cb))
    assert degraded > healthy, f"recon error did not rise: {degraded} vs {healthy}"

    # blue/green rotation: retrain the full triple on the post-CDC vectors
    post = flat.state(spark).select(
        "vec_id", "a", dot_long(F.col("a"), F.col("a")).alias("norm")
    ).localCheckpoint(eager=True)
    cents2 = train_ivf_centroids(post)
    seeds2 = pq_seeds(post)
    cb2 = train_pq_codebooks(pq_subvectors(post.select("vec_id", "a")), seeds2)
    ranks2 = seeds2.withColumn(
        "code", (F.row_number().over(Window.orderBy("cent_id")) - 1).cast("long")
    )
    rotate_ivf_pq_generation(
        spark, pq, flat, str(tmp_path / "pq_g1"), cents2, cb2, ranks2
    )
    recovered = total_mean(pq_recon_from_index(flat.state(spark), cb2))
    assert recovered < degraded, f"rotation did not recover: {recovered} vs {degraded}"
