"""BucketedMinHashIndexSink: the incremental LSH index + pair view must
converge to the batch dedup_minhash_lsh result under any micro-batch
split, and updates/deletes must retract stale pairs."""

from __future__ import annotations

import pyspark.sql.functions as F  # noqa: N812
import pytest

from .conftest import SF_SMOKE, minhash_batch_pairs


@pytest.fixture(scope="module")
def cdc_rows(spark):
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    wave0 = d.select(
        "doc_id", F.col("doc_id").alias("offset"), F.lit("c").alias("op"), "text"
    )
    upd = d.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 11 != 3)).select(
        "doc_id",
        (F.col("doc_id") + 10**6).alias("offset"),
        F.lit("u").alias("op"),
        F.concat(F.col("text"), F.lit(" spark dedup stream spark dedup stream")).alias("text"),
    )
    dels = d.filter(F.col("doc_id") % 11 == 3).select(
        "doc_id",
        (F.col("doc_id") + 10**6).alias("offset"),
        F.lit("d").alias("op"),
        F.lit(None).cast("string").alias("text"),
    )
    return wave0.unionByName(upd).unionByName(dels).localCheckpoint(eager=True)


def _pairs(sink, spark):
    return sorted(map(tuple, sink.pairs(spark).collect()))


def test_pair_view_converges_under_any_batching(spark, tmp_path, cdc_rows):
    """The unbucketed form (one bucket per store) converges to the batch
    operator over the live documents when the waves are split across
    micro-batches."""
    from cdc_platform_spark.streaming.dedup_index import BucketedMinHashIndexSink

    expected = minhash_batch_pairs(spark, cdc_rows, str(tmp_path / "batch"))
    assert expected, "smoke fixture must produce near-dup pairs"

    split = BucketedMinHashIndexSink(str(tmp_path / "many"), n_buckets=1)
    for k in range(3):  # interleaves insert/update/delete waves across batches
        split.write(cdc_rows.filter(F.pmod(F.col("offset"), F.lit(3)) == k))
    assert _pairs(split, spark) == expected


def test_pair_view_matches_batch_operator_without_cdc(spark, tmp_path):
    """Insert-only stream == the registered batch dedup_minhash_lsh query."""
    from cdc_platform_spark.operators import load_all
    from cdc_platform_spark.streaming.dedup_index import BucketedMinHashIndexSink

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    rows = d.select(
        "doc_id", F.col("doc_id").alias("offset"), F.lit("c").alias("op"), "text"
    )
    sink = BucketedMinHashIndexSink(str(tmp_path / "idx"), n_buckets=1)
    for k in range(3):
        sink.write(rows.filter(F.pmod(F.col("doc_id"), F.lit(3)) == k))
    got = sorted(map(tuple, sink.pairs(spark).collect()))
    expected = sorted(
        map(tuple, load_all()["dedup_minhash_lsh"].builder(spark, SF_SMOKE).collect())
    )
    assert got == expected


def test_bucketed_pair_view_matches_batch_operator_under_any_batching(spark, tmp_path, cdc_rows):
    """BucketedMinHashIndexSink must produce the batch operator's exact
    pair view over the live documents under any micro-batch split, and a
    replayed batch must be a no-op (at-least-once delivery)."""
    from cdc_platform_spark.streaming.dedup_index import BucketedMinHashIndexSink

    expected = minhash_batch_pairs(spark, cdc_rows, str(tmp_path / "batch"))
    assert expected, "smoke fixture must produce near-dup pairs"

    bkt = BucketedMinHashIndexSink(str(tmp_path / "bkt"), n_buckets=8)
    batches = [cdc_rows.filter(F.pmod(F.col("offset"), F.lit(3)) == k) for k in range(3)]
    for b in batches:
        bkt.write(b)
    assert _pairs(bkt, spark) == expected
    bkt.write(batches[1])  # replay: retract + re-derive must converge
    assert _pairs(bkt, spark) == expected


def test_bucketed_deletes_and_updates_retract_stale_pairs(spark, tmp_path, cdc_rows):
    from cdc_platform_spark.streaming.dedup_index import BucketedMinHashIndexSink

    sink = BucketedMinHashIndexSink(str(tmp_path / "idx"), n_buckets=8)
    sink.write(cdc_rows.filter(F.col("op") == "c"))
    deleted = {r["doc_id"] for r in cdc_rows.filter(F.col("op") == "d").collect()}
    before = sink.pairs(spark)
    assert before.filter(
        F.col("doc_a").isin(deleted) | F.col("doc_b").isin(deleted)
    ).count() > 0
    sink.write(cdc_rows.filter(F.col("op") != "c"))
    after = sink.pairs(spark)
    assert (
        after.filter(F.col("doc_a").isin(deleted) | F.col("doc_b").isin(deleted)).count()
        == 0
    )


def test_bucketed_probe_is_pruned_and_untouched_buckets_stay(spark, tmp_path, cdc_rows):
    """The 100 TB contract: (a) the candidate probe's band scan carries a
    dynamic-partition-pruning subquery (a micro-batch never explodes the
    full live index), (b) a single-document batch leaves index and pair
    buckets it does not touch physically identical on disk."""
    import os

    from cdc_platform_spark.streaming.dedup_index import BucketedMinHashIndexSink

    nb = 8
    sink = BucketedMinHashIndexSink(str(tmp_path / "idx"), n_buckets=nb)
    sink.write(cdc_rows.filter(F.col("op") == "c"))

    def listing(path):
        return {
            b: sorted(os.listdir(f"{path}/{b}"))
            for b in os.listdir(path)
            if b.startswith("bucket=")
        }

    idx_before = listing(sink.index.path)
    pairs_before = listing(sink.pair_store.path)
    assert len(idx_before) >= 4 and len(pairs_before) >= 2

    # DPP assert on the probe recipe itself
    one_band = spark.createDataFrame([(0,)], "bucket int")
    plan = (
        sink.bands.read_buckets(spark, one_band)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower(), (
        "band probe lost its DPP partition filter — every micro-batch "
        "would rescan the full band table"
    )

    one = cdc_rows.filter((F.col("op") == "c") & (F.col("doc_id") == 0)).withColumn(
        "offset", F.lit(10**9)
    )
    assert one.count() == 1
    sink.write(one)

    idx_after = listing(sink.index.path)
    touched_idx = one.select(F.pmod(F.hash("doc_id"), F.lit(nb)).alias("b")).collect()[0]["b"]
    assert idx_after[f"bucket={touched_idx}"] != idx_before[f"bucket={touched_idx}"]
    for b in idx_before:
        if b != f"bucket={touched_idx}":
            assert idx_after[b] == idx_before[b], f"index {b} rewritten by an unrelated doc"

    # pair buckets beyond hash(touched ∪ partners ∪ fresh) stay identical;
    # with one doc touched there must be at least one untouched bucket
    pairs_after = listing(sink.pair_store.path)
    unchanged = [b for b in pairs_before if pairs_after.get(b) == pairs_before[b]]
    assert unchanged, "a single-doc batch rewrote every pair bucket"


def test_bucketed_crash_window_heals(spark, tmp_path, cdc_rows):
    """A crash mid-commit on any of the three stores (journal left behind)
    must roll back, and the batch replay must converge to the batch
    operator over the live documents."""
    import json
    import os
    import shutil as sh

    from cdc_platform_spark.streaming.dedup_index import BucketedMinHashIndexSink

    sink = BucketedMinHashIndexSink(str(tmp_path / "idx"), n_buckets=8)
    first = cdc_rows.filter(F.pmod(F.col("offset"), F.lit(2)) == 0)
    second = cdc_rows.filter(F.pmod(F.col("offset"), F.lit(2)) == 1)
    sink.write(first)
    expected_pairs = _pairs(sink, spark)

    # simulate an interrupted pair-store commit: displace one live bucket
    # into .work with a journal claiming the commit never reached its point
    store = sink.pair_store
    buckets = [b for b in os.listdir(store.path) if b.startswith("bucket=")]
    victim = sorted(buckets)[0]
    i = int(victim.split("=", 1)[1])
    os.makedirs(store._work, exist_ok=True)
    tmp = f"{store.path}.tmp-deadbeef"
    os.makedirs(f"{tmp}/bucket={i}")
    os.rename(f"{store.path}/{victim}", f"{store._work}/bucket={i}.old-deadbeef")
    with open(store._journal_path("deadbeef"), "w") as fh:
        json.dump({"tmp": tmp, "run_id": "deadbeef", "buckets": [i]}, fh)
    sh.copytree(f"{store._work}/bucket={i}.old-deadbeef", f"{store.path}/{victim}")

    assert _pairs(sink, spark) == expected_pairs  # read-side recovery
    sink.write(first)  # replay is a no-op
    assert _pairs(sink, spark) == expected_pairs
    sink.write(second)
    assert _pairs(sink, spark) == minhash_batch_pairs(spark, cdc_rows, str(tmp_path / "batch"))


def test_compact_drops_stale_band_rows_and_dead_markers(spark, tmp_path, cdc_rows):
    """compact() must reduce the band view to exactly the live current
    rows and drop dead pair markers, without changing the served pair
    view.  A delete-only batch is the guaranteed stale-row generator: it
    rewrites no band bucket (the batch emits no band rows), so the
    deleted doc's 16 rows stay until compaction."""
    from cdc_platform_spark.streaming.dedup_index import BucketedMinHashIndexSink

    sink = BucketedMinHashIndexSink(str(tmp_path / "idx"), n_buckets=8)
    sink.write(cdc_rows.filter(F.col("op") == "c"))
    # delete a doc that participates in a pair so retraction leaves markers
    doc = sink.pairs(spark).first()["doc_a"]
    dele = spark.createDataFrame(
        [(int(doc), 10**9, "d", None)],
        "doc_id long, offset long, op string, text string",
    )
    sink.write(dele)
    pairs_before = _pairs(sink, spark)

    def n_bands():
        return spark.read.parquet(sink.bands.path).count()

    live = spark.read.parquet(sink.index.path).filter(
        (F.col("op") != "d") & (F.size("shingles") > 0)
    )
    n_current = live.select("doc_id", F.posexplode("sig").alias("i", "h")).count()
    assert n_bands() > n_current, "the deleted doc's band rows should be stale"
    assert spark.read.parquet(sink.pair_store.path).filter("dead").count() > 0

    sink.compact(spark)
    assert n_bands() == n_current
    assert spark.read.parquet(sink.pair_store.path).filter("dead").count() == 0
    assert _pairs(sink, spark) == pairs_before

    # and the stream continues correctly after a compaction
    rest = cdc_rows.filter((F.col("op") != "c") & (F.col("doc_id") != int(doc)))
    sink.write(rest)
    log = cdc_rows.filter(F.col("op") == "c").unionByName(dele).unionByName(rest)
    assert _pairs(sink, spark) == minhash_batch_pairs(spark, log, str(tmp_path / "batch"))


def test_curated_unified_drops_embedding_dup_losers(spark, tmp_path, cdc_rows):
    """curated_unified() must additionally drop documents whose best
    embedding neighbor clears UNIFIED_EMB_DUP_THRESHOLD with a LOWER id,
    and keep the canonical lower partner."""
    from cdc_platform_spark.operators.dedup import UNIFIED_EMB_DUP_THRESHOLD
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    sink = CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)
    sink.write(cdc_rows)
    base = sorted(r["doc_id"] for r in sink.curated(spark).collect())
    assert len(base) >= 3
    a, b = base[0], base[1]  # a < b, both text-curated survivors
    t = UNIFIED_EMB_DUP_THRESHOLD
    nv = spark.createDataFrame(
        [
            (b, a, t + 0.01, 0),     # b dups a (lower id): b dropped
            (a, b, t + 0.01, 0),     # a's best has a HIGHER id: a kept
            (base[2], a, t - 0.01, 0),  # below threshold: kept
        ],
        "vec_id long, nn_id long, cosine double, is_dup long",
    )
    got = sorted(r["doc_id"] for r in sink.curated_unified(spark, nv).collect())
    assert b not in got and a in got and base[2] in got
    assert got == [x for x in base if x != b]


def test_index_tombstone_gc_with_horizon(spark, tmp_path, cdc_rows):
    """compact(tombstone_horizon=H) GCs the signature index's op='d' rows
    older than the replay watermark without changing the pair view, and a
    replayed batch older than H cannot resurrect a GC'd document."""
    from cdc_platform_spark.streaming.dedup_index import BucketedMinHashIndexSink

    sink = BucketedMinHashIndexSink(str(tmp_path / "idx"), n_buckets=8)
    sink.write(cdc_rows)
    pairs_before = _pairs(sink, spark)
    deleted = {r["doc_id"] for r in cdc_rows.filter(F.col("op") == "d").collect()}
    assert spark.read.parquet(sink.index.path).filter("op = 'd'").count() == len(deleted)

    sink.compact(spark, tombstone_horizon=10**9)
    assert spark.read.parquet(sink.index.path).filter("op = 'd'").count() == 0
    assert _pairs(sink, spark) == pairs_before

    # replay the whole CDC history (all offsets < 10**9): the sub-horizon
    # fence must keep deleted docs dead and leave the pair view unchanged
    sink.write(cdc_rows)
    assert _pairs(sink, spark) == pairs_before
    live_ids = {
        r["doc_id"] for r in spark.read.parquet(sink.index.path).collect()
    }
    assert not (live_ids & deleted), "GC'd doc resurrected by a replayed batch"


def test_curated_suppression_join_carries_no_broadcast_hint(spark, tmp_path, cdc_rows):
    """The suppressed-id set is corpus-proportional at 100 TB (the near-dup
    share of a web corpus is commonly 30-50% of documents): curated() must
    not FORCE it broadcast — the strategy belongs to AQE, which can still
    choose broadcast at test scale but shuffles when the set is large."""
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    sink = CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)
    sink.write(cdc_rows)
    analyzed = sink.curated(spark)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, (
        "curated() forces a join-strategy hint; the suppressed side is "
        "unbounded and a forced broadcast OOMs at the sink's design scale"
    )


def test_views_serve_empty_before_first_commit(spark, tmp_path):
    """A stream that delivered only empty batches leaves no bucket dirs;
    the derived reads must serve empty views, not raise AnalysisException."""
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink
    from cdc_platform_spark.streaming.neighbor_index import CosineNeighborIndexSink

    corpus = CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)
    assert corpus.curated(spark).count() == 0
    assert corpus.pairs(spark).count() == 0
    assert corpus.decontaminated(spark).count() == 0
    assert corpus.contamination_report(spark).count() == 0
    assert corpus.cluster_representatives(spark).count() == 0
    assert corpus.export_docs(spark).count() == 0
    assert corpus.export_docs(spark, decontaminated=True).count() == 0
    assert corpus.mix_sample(spark).count() == 0
    nn = CosineNeighborIndexSink(str(tmp_path / "n"), n_buckets=8)
    assert nn.view(spark).count() == 0


def test_curated_read_never_scans_text(spark, tmp_path, cdc_rows):
    """The serving contract of the write-time metrics: curated() must
    read only the narrow metric columns — the text column stays out of
    the scan's ReadSchema (at 100 TB the text IS the corpus; re-deriving
    metrics from it per read would dwarf the funnel itself)."""
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    sink = CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)
    sink.write(cdc_rows)
    plan = sink.curated(spark)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    assert "text:string" not in plan, (
        "curated() scans the text column — the write-time metric columns "
        "should serve the funnel without touching the corpus text"
    )


def test_curated_corpus_reacts_to_quality_dedup_and_cdc(spark, tmp_path, cdc_rows):
    """CuratedCorpusSink.curated() must equal the batch funnel over the
    live docs, drop deleted docs, and re-admit a suppressed near-dup when
    its canonical partner is deleted."""
    from cdc_platform_spark.operators.text import curation_survivors
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    sink = CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)
    for k in range(3):
        sink.write(cdc_rows.filter(F.pmod(F.col("offset"), F.lit(3)) == k))

    # batch expectation over the post-CDC live docs
    live = (
        spark.read.parquet(sink.index.path)
        .filter("op != 'd'")
        .select("doc_id", "text")
    )
    surv = curation_survivors(live)
    suppressed = sink.pairs(spark).select(F.col("doc_b").alias("doc_id")).distinct()
    expected = sorted(
        r["doc_id"]
        for r in surv.join(suppressed, "doc_id", "leftanti").select("doc_id").collect()
    )
    got = sorted(r["doc_id"] for r in sink.curated(spark).collect())
    assert got == expected and got, "curated view must match the batch funnel"

    # deleting the canonical (lower) member of a pair re-admits its partner
    pair = sink.pairs(spark).orderBy("doc_a").first()
    a, b = pair["doc_a"], pair["doc_b"]
    assert b not in got
    sink.write(
        spark.createDataFrame(
            [(int(a), 10**10, "d", None)],
            "doc_id long, offset long, op string, text string",
        )
    )
    after = {r["doc_id"] for r in sink.curated(spark).collect()}
    assert a not in after
    # b re-admitted unless it is ALSO doc_b of another surviving pair or
    # fails quality/exact-dedup on its own
    still_suppressed = {
        r["doc_b"] for r in sink.pairs(spark).collect()
    }
    surv_ids = {
        r["doc_id"]
        for r in curation_survivors(
            spark.read.parquet(sink.index.path).filter("op != 'd'").select("doc_id", "text")
        ).collect()
    }
    assert (b in after) == (b in surv_ids and b not in still_suppressed)


def test_decontaminated_drops_bench_and_overlaps_and_retracts_on_bench_delete(
    spark, tmp_path
):
    """decontaminated() = curated() minus the benchmark partition minus
    every doc sharing a word 8-gram with a LIVE benchmark doc; a bench
    doc's CDC delete must retract the contamination it caused."""
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    # 25-word texts (pass the >=20-word quality floor, distinct_ratio 1.0);
    # doc 1 shares bench doc 97's first 8 words (one shared 8-gram), the
    # others share nothing (shingle overlap low -> no near-dup pairs)
    bench_words = [f"bench{i}" for i in range(25)]
    contaminated = bench_words[:8] + [f"alpha{i}" for i in range(17)]
    clean = [f"beta{i}" for i in range(25)]
    rows = spark.createDataFrame(
        [
            (97, 10, "c", " ".join(bench_words)),   # 97 % 97 == 0 -> bench
            (1, 10, "c", " ".join(contaminated)),
            (2, 10, "c", " ".join(clean)),
        ],
        "doc_id long, offset long, op string, text string",
    )
    sink = CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)
    sink.write(rows)
    assert sorted(r["doc_id"] for r in sink.curated(spark).collect()) == [1, 2, 97]
    # bench doc dropped outright; doc 1 dropped for the shared gram
    assert sorted(r["doc_id"] for r in sink.decontaminated(spark).collect()) == [2]

    # the bench doc leaves the corpus -> its grams stop contaminating
    sink.write(
        spark.createDataFrame(
            [(97, 20, "d", None)], "doc_id long, offset long, op string, text string"
        )
    )
    assert sorted(r["doc_id"] for r in sink.decontaminated(spark).collect()) == [1, 2]


def test_decontaminated_converges_under_any_batching(spark, tmp_path, cdc_rows):
    """Streamed decontaminated() is batching-invariant and equals the
    whole-stream result (the driver oracle pins the absolute values vs
    DuckDB; this pins micro-batch convergence)."""
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    whole = CuratedCorpusSink(str(tmp_path / "one"), n_buckets=8)
    whole.write(cdc_rows)
    expected = sorted(map(tuple, whole.decontaminated(spark).collect()))
    assert expected

    split = CuratedCorpusSink(str(tmp_path / "many"), n_buckets=8)
    for k in range(3):
        split.write(cdc_rows.filter(F.pmod(F.col("offset"), F.lit(3)) == k))
    assert sorted(map(tuple, split.decontaminated(spark).collect())) == expected


def test_mix_sample_equals_batch_resample_over_curated(spark, tmp_path):
    """mix_sample() == temperature_resample (ONE shared definition)
    applied to the live curated corpus with its stored domains."""
    from cdc_platform_spark.operators.curation import temperature_resample
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "source", "text"
    )
    rows = (
        d.select(
            "doc_id", F.col("doc_id").alias("offset"), F.lit("c").alias("op"),
            "text", "lang", "source",
        )
        .unionByName(
            d.filter(F.col("doc_id") % 11 == 3).select(
                "doc_id",
                (F.col("doc_id") + 10**6).alias("offset"),
                F.lit("d").alias("op"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("lang"),
                F.lit(None).cast("string").alias("source"),
            )
        )
        .localCheckpoint(eager=True)
    )
    sink = CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)
    for k in range(2):
        sink.write(rows.filter(F.pmod(F.col("offset"), F.lit(2)) == k))

    got = sorted(map(tuple, sink.mix_sample(spark).collect()))
    doms = d.select("doc_id", "lang", "source")
    expected = sorted(
        map(
            tuple,
            temperature_resample(
                sink.curated(spark).select("doc_id").join(doms, "doc_id")
                .select("lang", "source", "doc_id")
            ).collect(),
        )
    )
    assert got == expected and got

    # the decontaminated composition: same body over the decontaminated set
    got_d = sorted(map(tuple, sink.mix_sample(spark, decontaminated=True).collect()))
    expected_d = sorted(
        map(
            tuple,
            temperature_resample(
                sink.decontaminated(spark).select("doc_id").join(doms, "doc_id")
                .select("lang", "source", "doc_id")
            ).collect(),
        )
    )
    assert got_d == expected_d and got_d


def test_decontaminated_read_never_scans_text(spark, tmp_path, cdc_rows):
    """Like curated(): the decontamination stage must serve from the
    write-time columns (curation metrics + decon gram hashes) — the text
    column stays out of every scan in the plan (at 100 TB the text IS
    the corpus; re-tokenizing it per read would dwarf the funnel)."""
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    sink = CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)
    sink.write(cdc_rows)
    plan = sink.decontaminated(spark)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    assert "text:string" not in plan, (
        "decontaminated() scans the text column — the stored gram hashes "
        "should serve the overlap rule without touching the corpus text"
    )


def test_decontaminated_read_serves_maintained_hits_without_explode(
    spark, tmp_path, cdc_rows
):
    """The round-9 scale fix: the contaminated-id set is MAINTAINED at
    write time (_maintain_decon_hits), so the serving read is curated()
    minus one anti-join against the hit view — no gram explode, no
    O(corpus-tokens) scan per read.  Pinned on the plan: the round-8
    per-read derive exploded decon_grams; the maintained read must not."""
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    sink = CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)
    sink.write(cdc_rows)
    df = sink.decontaminated(spark)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "explode" not in plan, (
        "decontaminated() re-derives the hit set per read — it must serve "
        "the maintained decon_hits view instead"
    )
    # the anti-join build side is the hit view: a pruned two-column scan
    # (doc_id, dead) with the dead filter pushed down (the path string is
    # elided from some plan renderings, so pin the scan shape instead)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:bigint,dead:boolean>" in executed


def test_decon_hits_maintained_incrementally_on_both_sides(spark, tmp_path):
    """The incremental paths of the maintained hit view:
    - a non-bench doc arriving AFTER the bench set is established is
      scored on its own batch (no bench change -> O(touched) path),
    - an update removing the contaminating gram retracts the hit,
    - a NEW bench doc re-contaminates previously-clean docs (bench
      change -> full recompute path)."""
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    schema = "doc_id long, offset long, op string, text string"
    bench_words = [f"bench{i}" for i in range(25)]
    dirty = bench_words[:8] + [f"alpha{i}" for i in range(17)]
    clean = [f"beta{i}" for i in range(25)]
    sink = CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)
    # batch 1: bench doc only
    sink.write(spark.createDataFrame([(97, 10, "c", " ".join(bench_words))], schema))
    # batch 2: two corpus docs, one contaminated — incremental path
    sink.write(
        spark.createDataFrame(
            [(1, 11, "c", " ".join(dirty)), (2, 11, "c", " ".join(clean))], schema
        )
    )
    assert sorted(r["doc_id"] for r in sink.decontaminated(spark).collect()) == [2]
    # batch 3: doc 1 updated to drop the shared gram — hit retracts
    sink.write(
        spark.createDataFrame(
            [(1, 12, "u", " ".join([f"gamma{i}" for i in range(25)]))], schema
        )
    )
    assert sorted(r["doc_id"] for r in sink.decontaminated(spark).collect()) == [1, 2]
    # batch 4: a new bench doc shares doc 2's first 8 words — full recompute
    sink.write(
        spark.createDataFrame(
            [(194, 13, "c", " ".join(clean[:8] + [f"delta{i}" for i in range(17)]))],
            schema,
        )
    )
    assert sorted(r["doc_id"] for r in sink.decontaminated(spark).collect()) == [1]


def test_served_stop_gram_cap_matches_batch_capped_semantics(spark, tmp_path):
    """contamination_report(stop_gram_cap=N) / decontaminated(
    stop_gram_cap=N) from maintained state == the batch capped operator
    body over the same live docs: a boilerplate gram (shared corpus-wide
    AND with a bench doc) is excluded as evidence, a rare leaked gram is
    kept.  DF per gram is derived from the maintained triples — the view
    holds every carrying corpus doc, so the view count IS the corpus DF."""
    from cdc_platform_spark.operators.text import contamination_report_from_grams
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    schema = "doc_id long, offset long, op string, text string"
    boiler = [f"boiler{i}" for i in range(8)]  # one shared 8-gram
    rare = [f"rare{i}" for i in range(8)]
    bench_text = " ".join(boiler + rare + [f"bench{i}" for i in range(9)])
    rows = [(97, 10, "c", bench_text)]
    # 5 corpus docs carry the boilerplate gram (df=5 > cap=2), exactly one
    # carries the rare gram (df=1 <= cap)
    for i in range(1, 6):
        words = boiler + [f"doc{i}_{j}" for j in range(17)]
        if i == 3:
            words = boiler + rare + [f"doc{i}_{j}" for j in range(9)]
        rows.append((i, 10, "c", " ".join(words)))
    sink = CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)
    sink.write(spark.createDataFrame(rows, schema))

    cap = 2
    g = (
        spark.read.parquet(sink.index.path)
        .filter(F.col("op") != "d")
        .select("doc_id", F.col("decon_grams").alias("grams"))
    )
    for c in (None, cap):
        got = sorted(
            map(tuple, sink.contamination_report(spark, stop_gram_cap=c).collect())
        )
        want = sorted(
            map(tuple, contamination_report_from_grams(g, stop_gram_cap=c).collect())
        )
        assert got == want, f"cap={c}: {got} vs {want}"
    # uncapped: every boilerplate carrier is a hit; capped: only doc 3
    # (the rare-gram carrier) remains contaminated
    assert sorted(
        r["doc_id"] for r in sink.decontaminated(spark).collect()
    ) == []
    assert sorted(
        r["doc_id"] for r in sink.decontaminated(spark, stop_gram_cap=cap).collect()
    ) == [1, 2, 4, 5]


def test_export_to_table_snapshots_are_pinnable(spark, tmp_path, capsys):
    """export_to_table publishes each training export as an immutable
    lakehouse snapshot: a later corpus change + re-export yields a new
    snapshot while the pinned one reads back byte-identical — the
    'what data was model X trained on' audit path.  The corpus state is
    opened read-only by the CLI verb (an export must never perturb the
    pipeline's stores)."""
    import json as _json

    from cdc_platform_spark.cli import main
    from cdc_platform_spark.lakehouse.table import VersionedTable
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    schema = "doc_id long, offset long, op string, text string"
    docs = [
        (i, 10, "c", " ".join(f"w{i}_{j}" for j in range(25))) for i in range(1, 9)
    ]
    root = str(tmp_path / "corpus")
    table_root = str(tmp_path / "table")
    sink = CuratedCorpusSink(root, n_buckets=8)
    sink.write(spark.createDataFrame(docs, schema))

    sid1 = sink.export_to_table(spark, table_root)
    table = VersionedTable(spark, table_root)
    rows1 = sorted(r["doc_id"] for r in table.read(sid1).collect())
    assert rows1 == [d[0] for d in docs]

    # corpus moves: delete one doc, re-export via the CLI verb
    sink.write(spark.createDataFrame([(3, 11, "d", None)], schema))
    rc = main(["export-corpus", root, table_root, "--n-buckets", "8"])
    assert rc == 0
    out = _json.loads(
        [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")][-1]
    )
    sid2 = out["snapshot"]
    assert sid2 and sid2 != sid1
    # the pinned snapshot is unchanged; the head reflects the delete
    assert sorted(r["doc_id"] for r in table.read(sid1).collect()) == rows1
    assert sorted(r["doc_id"] for r in table.read(sid2).collect()) == [
        d for d in rows1 if d != 3
    ]
    assert table.current_snapshot_id() == sid2

    # a typo'd corpus path errors without creating state
    assert main(["export-corpus", str(tmp_path / "nope"), table_root]) == 1
    capsys.readouterr()


def test_shard_manifest_decontaminated_composition(spark, tmp_path, cdc_rows):
    """shard_manifest(decontaminated=True) == the stable-hash manifest
    aggregate over the decontaminated survivor set."""
    from cdc_platform_spark.operators.dedup import md5_60bit
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    sink = CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)
    sink.write(cdc_rows)
    got = sorted(map(tuple, sink.shard_manifest(spark, decontaminated=True).collect()))
    surv = sink.decontaminated(spark)
    shard = F.pmod(md5_60bit(F.col("doc_id").cast("string")), F.lit(sink.N_SHARDS))
    expected = sorted(
        map(
            tuple,
            surv.groupBy(shard.alias("shard_id"))
            .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_words").alias("n_tokens"))
            .collect(),
        )
    )
    assert got == expected and got
    # the default manifest covers MORE docs (bench + contaminated kept)
    n_default = sum(r[1] for r in sink.shard_manifest(spark).collect())
    assert n_default > sum(r[1] for r in got)


def test_decon_reads_survive_pre_mirror_state_dirs(spark, tmp_path):
    """A state directory written BEFORE the maintained decontamination
    views existed (no bench_grams/ mirror, no decon_leaks/ store) must
    not silently degrade: reads fall back to the per-read gram derive,
    and the next write — bench-touching or not — bootstraps the
    maintained views from the index."""
    import shutil

    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    schema = "doc_id long, offset long, op string, text string"
    bench_words = [f"bench{i}" for i in range(25)]
    dirty = bench_words[:8] + [f"alpha{i}" for i in range(17)]
    clean = [f"beta{i}" for i in range(25)]
    rows = spark.createDataFrame(
        [
            (97, 10, "c", " ".join(bench_words)),
            (1, 10, "c", " ".join(dirty)),
            (2, 10, "c", " ".join(clean)),
        ],
        schema,
    )
    sink = CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)
    sink.write(rows)
    expected = sorted(map(tuple, sink.decontaminated(spark).collect()))
    expected_report = sorted(map(tuple, sink.contamination_report(spark).collect()))
    assert [r[0] for r in expected] == [2] and expected_report

    # simulate the pre-round-9 writer: index/bands/pairs present, the
    # maintained decon views never created
    shutil.rmtree(sink.bench_path)
    shutil.rmtree(sink.hit_store.path)
    assert sink._decon_state_is_legacy()
    assert sorted(map(tuple, sink.decontaminated(spark).collect())) == expected
    assert (
        sorted(map(tuple, sink.contamination_report(spark).collect()))
        == expected_report
    )

    # any write bootstraps the maintained form — even one touching no
    # bench doc — after which the views serve without the fallback
    sink.write(
        spark.createDataFrame(
            [(3, 11, "c", " ".join(f"gamma{i}" for i in range(25)))], schema
        )
    )
    assert not sink._decon_state_is_legacy()
    assert sink.hit_store.exists()
    got = sorted(r["doc_id"] for r in sink.decontaminated(spark).collect())
    assert got == [2, 3]
    assert (
        sorted(map(tuple, sink.contamination_report(spark).collect()))
        == expected_report
    )


def test_decon_bootstrap_crash_between_rewrite_and_swap_heals(
    spark, tmp_path, monkeypatch
):
    """Crash injected between the leak-view rewrite and the bench-mirror
    swap during the bootstrap/rebuild branch: the mirror stays unswapped,
    so the replayed batch re-enters the rebuild branch and converges —
    the ordering invariant the round-9 review pinned (swapping the mirror
    first would route the replay down the incremental path with the leak
    view never rebuilt)."""
    import cdc_platform_spark.streaming.dedup_index as dx

    schema = "doc_id long, offset long, op string, text string"
    bench_words = [f"bench{i}" for i in range(25)]
    dirty = bench_words[:8] + [f"alpha{i}" for i in range(17)]
    clean = [f"beta{i}" for i in range(25)]
    rows = spark.createDataFrame(
        [
            (97, 10, "c", " ".join(bench_words)),
            (1, 10, "c", " ".join(dirty)),
            (2, 10, "c", " ".join(clean)),
        ],
        schema,
    )
    sink = dx.CuratedCorpusSink(str(tmp_path / "c"), n_buckets=8)

    real_swap = dx._commit_swap
    calls = {"n": 0}

    def crashing_swap(path, tmp):
        if path == sink.bench_path:
            calls["n"] += 1
            raise RuntimeError("injected crash before mirror swap")
        return real_swap(path, tmp)

    monkeypatch.setattr(dx, "_commit_swap", crashing_swap)
    with pytest.raises(RuntimeError, match="injected crash"):
        sink.write(rows)
    assert calls["n"] == 1
    monkeypatch.setattr(dx, "_commit_swap", real_swap)

    # the mirror never swapped -> reads take the legacy fallback (correct)
    assert sink._decon_state_is_legacy()
    assert sorted(r["doc_id"] for r in sink.decontaminated(spark).collect()) == [2]
    # at-least-once replay of the SAME batch heals everything
    sink.write(rows)
    assert not sink._decon_state_is_legacy()
    assert sorted(r["doc_id"] for r in sink.decontaminated(spark).collect()) == [2]
    assert sorted(
        r["bench_id"] for r in sink.contamination_report(spark).collect()
    ) == [97]

    # same crash window on the OTHER rebuild path: mirror established, a
    # bench-touching batch (delete of doc 97) crashes between the leak-view
    # rewrite and the mirror swap — the replayed batch must re-enter the
    # rebuild branch via bench_touched and converge
    bench_del = spark.createDataFrame([(97, 20, "d", None)], schema)
    monkeypatch.setattr(dx, "_commit_swap", crashing_swap)
    with pytest.raises(RuntimeError, match="injected crash"):
        sink.write(bench_del)
    monkeypatch.setattr(dx, "_commit_swap", real_swap)
    sink.write(bench_del)  # replay
    # bench doc deleted -> its grams stop contaminating; doc 1 readmitted
    assert sorted(r["doc_id"] for r in sink.decontaminated(spark).collect()) == [1, 2]
    assert sink.contamination_report(spark).count() == 0
