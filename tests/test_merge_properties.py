"""Property-based tests (hypothesis) for the core CDC merge semantics.

The reference's test strategy has no property-based tier (SURVEY.md §5
"Not present"); this adds one for the highest-risk semantics: the
latest-per-key merge must converge to the single-delivery batch oracle
under ANY partition of the event log into micro-batches, ANY batch
ordering, and ANY replay duplication (at-least-once delivery).
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cdc_platform_spark.streaming.pipeline import BucketedUpsertSink

from .conftest import minhash_batch_pairs

# events: (offset unique, pk small domain, op in c/u/d)
events_strategy = st.lists(
    st.tuples(st.integers(0, 7), st.sampled_from(["c", "u", "d"]), st.integers(0, 1000)),
    min_size=1,
    max_size=40,
).map(lambda rows: [(off, pk, op, val) for off, (pk, op, val) in enumerate(rows)])


def oracle_state(events: list[tuple[int, int, str, int]]) -> dict[int, tuple[int, int]]:
    """Single-delivery latest-per-key with delete removal (pandas form)."""
    latest: dict[int, tuple[int, str, int]] = {}
    for off, pk, op, val in events:
        if pk not in latest or off > latest[pk][0]:
            latest[pk] = (off, op, val)
    return {pk: (off, val) for pk, (off, op, val) in latest.items() if op != "d"}


@pytest.fixture(scope="module")
def mkdf(spark):
    def make(events):
        return spark.createDataFrame(
            [(off, pk, op, f"t{op}", float(val)) for off, pk, op, val in events],
            "offset long, pk long, op string, event_type string, value double",
        )

    return make


@pytest.mark.parametrize("n_buckets", [1, 4], ids=["one_bucket", "bucketed"])
@given(
    events=events_strategy,
    split_seed=st.integers(0, 2**16),
    n_batches=st.integers(1, 5),
    shuffle_batches=st.booleans(),
    replay_suffix=st.booleans(),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_merge_converges_under_any_batching(
    spark, tmp_path_factory, mkdf, n_buckets, events, split_seed, n_batches, shuffle_batches, replay_suffix
):
    import random

    rng = random.Random(split_seed)
    batches: list[list] = [[] for _ in range(n_batches)]
    for ev in events:
        batches[rng.randrange(n_batches)].append(ev)
    if replay_suffix and events:
        # redeliver a suffix into a random batch (at-least-once)
        batches[rng.randrange(n_batches)].extend(events[-max(1, len(events) // 3):])
    if shuffle_batches:
        rng.shuffle(batches)

    sink = BucketedUpsertSink(str(tmp_path_factory.mktemp("prop") / "state"), n_buckets=n_buckets)
    for batch in batches:
        if batch:
            sink.write(mkdf(batch))

    expected = oracle_state(events)
    got = {
        r["pk"]: (r["offset"], int(r["value"]))
        for r in sink.state(spark).select("pk", "offset", "value").collect()
    }
    assert got == expected, f"merge diverged: got={got} expected={expected}"


@given(
    events=events_strategy,
    split_seed=st.integers(0, 2**16),
    n_batches=st.integers(2, 5),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_merge_with_tombstone_gc_converges(
    spark, tmp_path_factory, mkdf, events, split_seed, n_batches
):
    """Interleaving compaction with a TRUTHFUL horizon (<= min offset of
    any not-yet-delivered event) into any batching, with replays of
    already-delivered batches before AND after GC, still converges to the
    single-delivery oracle: replayed sub-horizon rows are fenced (their
    effects are already in state), undelivered data always applies."""
    import random

    rng = random.Random(split_seed)
    batches: list[list] = [[] for _ in range(n_batches)]
    for ev in events:
        batches[rng.randrange(n_batches)].append(ev)

    sink = BucketedUpsertSink(str(tmp_path_factory.mktemp("gcprop") / "state"), n_buckets=4)
    delivered: list[list] = []
    for k, batch in enumerate(batches):
        if batch:
            sink.write(mkdf(batch))
            delivered.append(batch)
        if delivered and rng.random() < 0.4:  # at-least-once redelivery
            sink.write(mkdf(rng.choice(delivered)))
        if rng.random() < 0.5:
            future = [off for b in batches[k + 1 :] for (off, _, _, _) in b]
            horizon = min(future) if future else len(events)
            sink.compact(spark, tombstone_horizon=horizon)
            if delivered and rng.random() < 0.5:  # replay AFTER the GC
                sink.write(mkdf(rng.choice(delivered)))

    expected = oracle_state(events)
    got = {
        r["pk"]: (r["offset"], int(r["value"]))
        for r in sink.state(spark).select("pk", "offset", "value").collect()
    }
    assert got == expected, f"gc merge diverged: got={got} expected={expected}"


@given(events=events_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_single_batch_equals_oracle(spark, tmp_path_factory, mkdf, events):
    sink = BucketedUpsertSink(str(tmp_path_factory.mktemp("prop1") / "state"), n_buckets=1)
    sink.write(mkdf(events))
    expected = oracle_state(events)
    got = {
        r["pk"]: (r["offset"], int(r["value"]))
        for r in sink.state(spark).select("pk", "offset", "value").collect()
    }
    assert got == expected


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=60,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_connected_components_matches_union_find(spark, edges):
    """Label propagation over arbitrary random graphs equals union-find closure."""
    from cdc_platform_spark.operators.dedup import connected_components

    norm = [(min(a, b), max(a, b)) for a, b in edges]
    df = spark.createDataFrame(norm, "doc_a long, doc_b long")
    got = {r["node"]: r["label"] for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in norm:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}
    assert got == expected


@given(
    cents=st.lists(st.integers(-10**12, 10**12), min_size=1, max_size=300),
    n_groups=st.integers(1, 5),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_decimal_sum_avg_recipe_matches_duckdb(spark, cents, n_groups):
    """The engine's determinism recipe (exact DECIMAL sum -> deterministic
    DOUBLE cast; avg = double(sum)/count) produces bit-identical values in
    Spark and DuckDB for arbitrary 2-dp inputs, including the pathological
    ones float summation would reorder."""
    import duckdb

    from cdc_platform_spark.functions import davg, dsum

    rows = [(i % n_groups, c / 100.0) for i, c in enumerate(cents)]
    df = spark.createDataFrame(rows, "g int, x double")
    got = {
        r["g"]: (r["s"], r["a"])
        for r in df.groupBy("g").agg(dsum("x", "s"), davg("x", "a")).collect()
    }
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame(rows, columns=["g", "x"]))
    exp = {
        g: (s, a)
        for g, s, a in con.sql(
            "SELECT g, CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE),"
            " CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(x) FROM t GROUP BY g"
        ).fetchall()
    }
    assert set(got) == set(exp)
    for g in got:
        assert got[g][0] == exp[g][0], f"sum mismatch group {g}: {got[g][0]} vs {exp[g][0]}"
        assert got[g][1] == exp[g][1], f"avg mismatch group {g}: {got[g][1]} vs {exp[g][1]}"


def test_connected_components_long_path_converges(spark):
    """Regression: one-hop min propagation needs diameter rounds; a 61-node
    path exceeded the 20-round budget and returned silently wrong labels.
    Pointer jumping makes convergence O(log diameter)."""
    from cdc_platform_spark.operators.dedup import connected_components

    df = spark.createDataFrame([(i, i + 1) for i in range(60)], "doc_a long, doc_b long")
    got = {r["node"]: r["label"] for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(61)}


def agg_oracle(events: list[tuple[int, int, str, int]]) -> dict[int, tuple]:
    """Single-delivery per-key aggregate (count, sum, min, max, max_offset)."""
    out: dict[int, list] = {}
    for off, pk, op, val in events:
        v = float(val)
        if pk not in out:
            out[pk] = [0, 0.0, v, v, off]
        acc = out[pk]
        acc[0] += 1
        acc[1] += v
        acc[2] = min(acc[2], v)
        acc[3] = max(acc[3], v)
        acc[4] = max(acc[4], off)
    return {pk: tuple(a) for pk, a in out.items()}


@pytest.fixture(params=[1, 4], ids=["one_bucket", "bucketed"])
def agg_sink_cls(request):
    """One bucket (the whole view behind one fence) and several buckets
    (per-bucket fences under the journaled atomic commit) — identical
    convergence contract."""
    from cdc_platform_spark.streaming.pipeline import BucketedAggregatingSink

    return lambda path: BucketedAggregatingSink(path, n_buckets=request.param)


@given(
    events=events_strategy,
    split_seed=st.integers(0, 2**16),
    n_batches=st.integers(1, 5),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_aggregating_sink_converges_under_any_batching(
    spark, tmp_path_factory, mkdf, events, split_seed, n_batches, agg_sink_cls
):
    """Incremental aggregate maintenance must reach the one-shot batch
    aggregate under ANY split of the log into micro-batches, with the
    just-committed batch optionally redelivered (at-least-once) — the
    per-bucket batch-id fence must make redelivery a no-op."""
    import random

    rng = random.Random(split_seed)
    batches: list[list] = [[] for _ in range(n_batches)]
    for ev in events:
        batches[rng.randrange(n_batches)].append(ev)

    sink = agg_sink_cls(str(tmp_path_factory.mktemp("aggprop") / "view"))
    for bid, batch in enumerate(batches):
        if not batch:
            continue
        sink.write(mkdf(batch), batch_id=bid)
        if rng.random() < 0.5:  # redelivery of the just-committed batch
            sink.write(mkdf(batch), batch_id=bid)

    expected = agg_oracle(events)
    got = {
        r["pk"]: (r["n_events"], r["value_sum"], r["value_min"], r["value_max"], r["last_offset"])
        for r in sink.state(spark).collect()
    }
    assert got == expected, f"aggregate diverged: got={got} expected={expected}"


@given(
    n_docs=st.integers(3, 10),
    word_picks=st.lists(st.integers(0, 4), min_size=30, max_size=60),
    change_ops=st.lists(st.sampled_from(["u", "d", "n"]), min_size=3, max_size=10),
    split_seed=st.integers(0, 2**16),
    n_batches=st.integers(1, 4),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_bucketed_minhash_index_converges_on_random_cdc(
    spark, tmp_path_factory, n_docs, word_picks, change_ops, split_seed, n_batches
):
    """The bucketed near-dup index must equal the batch operator's pair
    set over the live documents for ARBITRARY small corpora (tiny vocab
    forces genuine near-dup collisions), arbitrary update/delete
    patterns, and any batching — the property form of the fixture-based
    equivalence tests."""
    import random

    from cdc_platform_spark.streaming.dedup_index import BucketedMinHashIndexSink

    rng = random.Random(split_seed)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]

    def text(seed):
        r = random.Random(seed)
        n = r.randrange(3, 9)
        return " ".join(vocab[r.choice(word_picks) % len(vocab)] for _ in range(n))

    events = [(d, d, "c", text(d)) for d in range(n_docs)]
    off = n_docs
    for i, op in enumerate(change_ops):
        d = i % n_docs
        if op == "u":
            events.append((d, off, "u", text(1000 + off)))
        elif op == "d":
            events.append((d, off, "d", None))
        off += 1

    rows = spark.createDataFrame(
        events, "doc_id long, offset long, op string, text string"
    ).localCheckpoint(eager=True)

    expected = minhash_batch_pairs(spark, rows, str(tmp_path_factory.mktemp("mh")))

    bkt = BucketedMinHashIndexSink(
        str(tmp_path_factory.mktemp("mh") / "bkt"), n_buckets=4
    )
    batches = [[] for _ in range(n_batches)]
    for ev in events:
        batches[rng.randrange(n_batches)].append(ev)
    schema = "doc_id long, offset long, op string, text string"
    for b in batches:
        if b:
            bkt.write(spark.createDataFrame(b, schema))
    if rng.random() < 0.5 and batches[0]:
        bkt.write(spark.createDataFrame(batches[0], schema))  # redelivery
    got = sorted(map(tuple, bkt.pairs(spark).collect()))
    assert got == expected, f"bucketed pairs diverged: {got} vs {expected}"


@given(
    events=events_strategy,
    split_seed=st.integers(0, 2**16),
    n_batches=st.integers(2, 5),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_feature_store_gc_fence_converges_on_random_cdc(
    spark, tmp_path_factory, events, split_seed, n_batches
):
    """MultimodalFeatureStoreSink inherits tombstone GC via
    BucketedUpsertSink, but the inheritance needs its own proof: for
    ARBITRARY CDC histories with compaction at truthful horizons
    interleaved and delivered batches replayed before AND after GC, a
    sub-horizon replay must never resurrect a deleted asset, and the
    decoded state must converge to the single-delivery oracle."""
    import random

    from cdc_platform_spark.streaming.feature_store import MultimodalFeatureStoreSink

    def mk(batch):
        return spark.createDataFrame(
            [
                (pk, off, op, None if op == "d" else f"asset-{pk}-{val}".encode())
                for off, pk, op, val in batch
            ],
            "doc_id long, offset long, op string, payload binary",
        )

    rng = random.Random(split_seed)
    batches: list[list] = [[] for _ in range(n_batches)]
    for ev in events:
        batches[rng.randrange(n_batches)].append(ev)

    sink = MultimodalFeatureStoreSink(
        str(tmp_path_factory.mktemp("fsprop") / "fs"), n_buckets=4, use_real=False
    )
    delivered: list[list] = []
    for k, batch in enumerate(batches):
        if batch:
            sink.write(mk(batch))
            delivered.append(batch)
        if delivered and rng.random() < 0.4:  # at-least-once redelivery
            sink.write(mk(rng.choice(delivered)))
        if rng.random() < 0.5:
            future = [off for b in batches[k + 1 :] for (off, _, _, _) in b]
            horizon = min(future) if future else len(events)
            sink.compact(spark, tombstone_horizon=horizon)
            if delivered and rng.random() < 0.5:  # replay AFTER the GC
                sink.write(mk(rng.choice(delivered)))

    latest: dict[int, tuple[int, str, int]] = {}
    for off, pk, op, val in events:
        if pk not in latest or off > latest[pk][0]:
            latest[pk] = (off, op, val)
    expected = {
        pk: (off, len(f"asset-{pk}-{val}".encode()))
        for pk, (off, op, val) in latest.items()
        if op != "d"
    }
    got = {
        r["doc_id"]: (r["offset"], r["n_bytes"])
        for r in sink.state(spark).select("doc_id", "offset", "n_bytes").collect()
    }
    assert got == expected, f"feature store diverged: got={got} expected={expected}"


@given(
    n_docs=st.integers(3, 8),
    word_picks=st.lists(st.integers(0, 4), min_size=30, max_size=50),
    change_ops=st.lists(st.sampled_from(["u", "d", "n"]), min_size=3, max_size=8),
    split_seed=st.integers(0, 2**16),
    n_batches=st.integers(2, 4),
)
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_pair_view_gc_fence_on_random_cdc(
    spark, tmp_path_factory, n_docs, word_picks, change_ops, split_seed, n_batches
):
    """The pair view's dead markers + the index's GC fence under random
    CDC: with compaction at truthful horizons interleaved and delivered
    batches replayed after GC, the pair view still equals the batch
    operator over the live documents and no deleted doc resurfaces in the live
    index (the replay-watermark fence must hold for the PAIR store's
    derived content too, not just the keyed upsert)."""
    import random

    from cdc_platform_spark.streaming.dedup_index import BucketedMinHashIndexSink

    rng = random.Random(split_seed)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]

    def text(seed):
        r = random.Random(seed)
        n = r.randrange(3, 9)
        return " ".join(vocab[r.choice(word_picks) % len(vocab)] for _ in range(n))

    events = [(d, d, "c", text(d)) for d in range(n_docs)]
    off = n_docs
    for i, op in enumerate(change_ops):
        d = i % n_docs
        if op == "u":
            events.append((d, off, "u", text(1000 + off)))
        elif op == "d":
            events.append((d, off, "d", None))
        off += 1
    schema = "doc_id long, offset long, op string, text string"

    expected = minhash_batch_pairs(
        spark, spark.createDataFrame(events, schema), str(tmp_path_factory.mktemp("mhgc"))
    )

    bkt = BucketedMinHashIndexSink(
        str(tmp_path_factory.mktemp("mhgc") / "bkt"), n_buckets=4
    )
    batches: list[list] = [[] for _ in range(n_batches)]
    for ev in events:
        batches[rng.randrange(n_batches)].append(ev)
    delivered: list[list] = []
    for k, batch in enumerate(batches):
        if batch:
            bkt.write(spark.createDataFrame(batch, schema))
            delivered.append(batch)
        if rng.random() < 0.5:
            future = [o for b in batches[k + 1 :] for (_, o, _, _) in b]
            horizon = min(future) if future else off
            bkt.compact(spark, tombstone_horizon=horizon)
            if delivered and rng.random() < 0.5:  # replay AFTER the GC
                bkt.write(spark.createDataFrame(rng.choice(delivered), schema))

    got = sorted(map(tuple, bkt.pairs(spark).collect()))
    assert got == expected, f"pairs diverged under GC: {got} vs {expected}"

    latest: dict[int, tuple[int, str]] = {}
    for d, o, op, _ in events:
        if d not in latest or o > latest[d][0]:
            latest[d] = (o, op)
    deleted = {d for d, (_, op) in latest.items() if op == "d"}
    live = {
        r["doc_id"]
        for r in bkt.index.raw_state(spark).filter("op != 'd'").collect()
    }
    assert not (live & deleted), "GC'd doc resurrected by a replayed batch"


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2), st.integers(0, 10**6)),
        min_size=1,
        max_size=120,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_temperature_resample_prefilter_is_exact(spark, rows):
    """The extreme-scale prefilter form (per-domain md5-prefix threshold
    + undershoot fallback) must be bit-identical to the exact full-rank
    form for arbitrary domain shapes — including tiny domains where the
    fallback path fires."""
    from cdc_platform_spark.operators.curation import temperature_resample

    data = [
        (f"l{lang}", f"s{src}", doc_id)
        for lang, src, doc_id in {(a, b, c) for a, b, c in rows}
    ]
    d = spark.createDataFrame(data, "lang string, source string, doc_id long")
    exact = sorted(map(tuple, temperature_resample(d).collect()))
    fast = sorted(map(tuple, temperature_resample(d, prefilter=True).collect()))
    assert fast == exact


def test_temperature_resample_prefilter_zero_survivor_fallback(spark, monkeypatch):
    """With the overshoot forced to 0 the prefilter keeps NOTHING — every
    domain must take the full-rank fallback (including domains absent
    from the survivor counts entirely) and the output must still equal
    the exact form."""
    import cdc_platform_spark.operators.curation as cur

    d = spark.createDataFrame(
        [("l0", "s0", i) for i in range(40)] + [("l1", "s1", i) for i in range(3)],
        "lang string, source string, doc_id long",
    )
    exact = sorted(map(tuple, cur.temperature_resample(d).collect()))
    monkeypatch.setattr(cur, "PREFILTER_OVERSHOOT", 0)
    fast = sorted(map(tuple, cur.temperature_resample(d, prefilter=True).collect()))
    assert fast == exact and fast


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),
            st.integers(0, 2),
            st.integers(0, 10**6),
            st.integers(1, 5_000),
        ),
        min_size=1,
        max_size=120,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_token_budget_prefilter_is_exact(spark, rows):
    """The token-budget prefilter (md5-prefix threshold + TOKEN-SUM
    sufficiency fallback) must be bit-identical to the exact full-rank
    form for arbitrary domain shapes and word-count skews — including
    domains where one giant document carries most of the token mass, the
    case where the survivor token sum is most likely to undershoot and
    the fallback must fire."""
    from cdc_platform_spark.operators.curation import token_budget_sample

    seen: dict[tuple[int, int, int], int] = {}
    for lang, src, doc_id, n_words in rows:
        seen.setdefault((lang, src, doc_id), n_words)
    data = [
        (f"l{lang}", f"s{src}", doc_id, n_words)
        for (lang, src, doc_id), n_words in seen.items()
    ]
    d = spark.createDataFrame(
        data, "lang string, source string, doc_id long, n_words long"
    )
    exact = sorted(map(tuple, token_budget_sample(d).collect()))
    fast = sorted(map(tuple, token_budget_sample(d, prefilter=True).collect()))
    assert fast == exact


def test_token_budget_prefilter_zero_survivor_fallback(spark, monkeypatch):
    """With the overshoot forced to 0 the token prefilter keeps NOTHING —
    every domain must take the full-rank fallback (including domains with
    no group in the survivor-token aggregate) and the output must still
    equal the exact form."""
    import cdc_platform_spark.operators.curation as cur

    d = spark.createDataFrame(
        [("l0", "s0", i, 10 + i % 7) for i in range(40)]
        + [("l1", "s1", i, 3) for i in range(3)],
        "lang string, source string, doc_id long, n_words long",
    )
    exact = sorted(map(tuple, cur.token_budget_sample(d).collect()))
    monkeypatch.setattr(cur, "PREFILTER_OVERSHOOT", 0)
    fast = sorted(map(tuple, cur.token_budget_sample(d, prefilter=True).collect()))
    assert fast == exact and fast


@given(
    prefix_picks=st.lists(st.integers(0, 1), min_size=4, max_size=7),
    change_ops=st.lists(st.sampled_from(["u", "d", "b"]), min_size=2, max_size=6),
    split_seed=st.integers(0, 2**16),
    n_batches=st.integers(2, 4),
)
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_decon_hit_view_gc_fence_on_random_cdc(
    spark, tmp_path_factory, prefix_picks, change_ops, split_seed, n_batches
):
    """The maintained contaminated-id view under random CDC on BOTH
    sides (corpus docs updated/deleted, the BENCH doc itself updated and
    deleted), with compaction at truthful horizons interleaved and
    delivered batches replayed after GC: decontaminated() must equal the
    single-delivery result — the hit view's derived content must honor
    the replay-watermark fence exactly like the pair view's."""
    import random

    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    rng = random.Random(split_seed)

    def text(prefix_variant, seed):
        # 25 words: an 8-word shared-or-not prefix + 17 unique fillers —
        # passes the quality floor, overlaps iff prefixes match
        prefix = [f"p{prefix_variant}w{j}" for j in range(8)]
        return " ".join(prefix + [f"f{seed}x{i}" for i in range(17)])

    n_docs = len(prefix_picks)
    # doc 0 is the bench doc (0 % 97 == 0); its prefix is variant 0, so
    # corpus docs with prefix 0 are contaminated, prefix 1 are clean
    events = [(d, d, "c", text(prefix_picks[d] if d else 0, d)) for d in range(n_docs)]
    off = n_docs
    for i, op in enumerate(change_ops):
        if op == "b":  # mutate the BENCH side: delete then re-create
            events.append((0, off, "d" if i % 2 else "u", None if i % 2 else text(0, 900 + off)))
        else:
            d = 1 + (i % max(1, n_docs - 1))
            if op == "u":
                events.append((d, off, "u", text(rng.randrange(2), 1000 + off)))
            else:
                events.append((d, off, "d", None))
        off += 1
    schema = "doc_id long, offset long, op string, text string"

    whole = CuratedCorpusSink(str(tmp_path_factory.mktemp("dhgc") / "one"), n_buckets=4)
    whole.write(spark.createDataFrame(events, schema))
    expected = sorted(map(tuple, whole.decontaminated(spark).collect()))
    expected_report = sorted(map(tuple, whole.contamination_report(spark).collect()))

    bkt = CuratedCorpusSink(str(tmp_path_factory.mktemp("dhgc") / "bkt"), n_buckets=4)
    batches: list[list] = [[] for _ in range(n_batches)]
    for ev in events:
        batches[rng.randrange(n_batches)].append(ev)
    delivered: list[list] = []
    for k, batch in enumerate(batches):
        if batch:
            bkt.write(spark.createDataFrame(batch, schema))
            delivered.append(batch)
        if rng.random() < 0.5:
            future = [o for b in batches[k + 1 :] for (_, o, _, _) in b]
            horizon = min(future) if future else off
            bkt.compact(spark, tombstone_horizon=horizon)
            if delivered and rng.random() < 0.5:  # replay AFTER the GC
                bkt.write(spark.createDataFrame(rng.choice(delivered), schema))

    got = sorted(map(tuple, bkt.decontaminated(spark).collect()))
    assert got == expected, f"decontaminated diverged under GC: {got} vs {expected}"
    got_report = sorted(map(tuple, bkt.contamination_report(spark).collect()))
    assert got_report == expected_report, (
        f"attribution diverged under GC: {got_report} vs {expected_report}"
    )


# --- gapfill_locf_grid: the shared batch/stream gap-fill tail --------------

hourly_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),   # event_type
        st.integers(0, 10),                 # hour index
        st.integers(1, 50),                 # n
        st.integers(0, 100),                # v (int-valued double: exact)
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda r: (r[0], r[1]),
)


def oracle_locf(rows):
    """Pure-Python gap-fill + LOCF over the dense grid spanning ALL keys
    and the GLOBAL [min, max] hour range."""
    lo = min(h for _, h, _, _ in rows)
    hi = max(h for _, h, _, _ in rows)
    keys = sorted({k for k, _, _, _ in rows})
    have = {(k, h): (n, float(v)) for k, h, n, v in rows}
    out = {}
    for k in keys:
        carry = None
        for h in range(lo, hi + 1):
            n, v = have.get((k, h), (0, None))
            if v is not None:
                carry = v
            out[(k, h * 3600)] = (n, carry)
    return out


@given(rows=hourly_strategy)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_gapfill_locf_grid_matches_pure_oracle(spark, rows):
    """The shared grid+LOCF tail (batch w_gapfill_locf AND the
    sq_gapfill_locf_stream serve view) must equal the pure-Python
    dense-grid oracle for ANY sparse hourly aggregate: absent hours get
    n=0 and the value carried forward; hours before a key's first
    observation stay NULL."""
    from cdc_platform_spark.operators.windows import gapfill_locf_grid

    hourly = spark.createDataFrame(
        [(k, h * 3600, n, float(v)) for k, h, n, v in rows],
        "event_type string, hour_s long, n long, v double",
    )
    got = {
        (r["event_type"], r["hour_start"]): (r["n"], r["v_locf"])
        for r in gapfill_locf_grid(hourly).collect()
    }
    assert got == oracle_locf(rows)
