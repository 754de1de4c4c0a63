"""Golden-file determinism gate (FIXTURES.md §7): a committed 2-round crawl
(schedule ordering, counters, payload text hashes) that every future version
must reproduce byte-for-byte, in the default regime and with the seen and
known sets forced onto the sharded bloom path. Regenerate with
tools/gen_golden.py ONLY on an intentional, documented semantics change."""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pytest

from frontier_engine import frontier, pipeline, synth, urlseen
from frontier_engine.frontier import FrontierEngine

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "crawl_golden.json")
N_SHARDS, BLOOM_BITS = 8, 1 << 16


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def inputs(spark, pages_pdf):
    pages = spark.createDataFrame(pages_pdf)
    seeds = spark.createDataFrame(synth.generate_seeds(pages_pdf, n_seeds=40))
    robots = spark.createDataFrame(synth.generate_robots(pages_pdf))
    prepared = pipeline.dedup_newest(pipeline.canonicalized(pages)).persist()
    return seeds, robots, prepared


def _engine(spark, root) -> FrontierEngine:
    return FrontierEngine(spark, str(root), n_shards=N_SHARDS, bloom_bits=BLOOM_BITS, budget=5)


@pytest.fixture(scope="module")
def crawl(spark, inputs, tmp_path_factory):
    seeds, robots, prepared = inputs
    eng = _engine(spark, tmp_path_factory.mktemp("golden"))
    eng.init(seeds, robots)
    counters = [eng.run_round(prepared) for _ in range(2)]
    return eng, counters


def _schedule(eng):
    return [
        [r.round, r.host, r.seq, r.url_norm, r.idx_id]
        for r in eng.schedule_table().orderBy("round", "host", "seq").collect()
    ]


def _payload_hashes(spark, eng):
    payload = eng.store.read(spark, "payload_docs")
    return sorted(
        [
            r.idx_id,
            hashlib.sha256((r.full_body or "").encode()).hexdigest()[:16],
            hashlib.sha256((r.body or "").encode()).hexdigest()[:16],
            r.lang,
            r.title,
        ]
        for r in payload.collect()
    )


def test_schedule_matches_golden(spark, crawl, golden):
    eng, _ = crawl
    assert _schedule(eng) == golden["schedule"]


def test_counters_match_golden(crawl, golden):
    _, counters = crawl
    assert [dict(c) for c in counters] == golden["counters"]


def test_payload_hashes_match_golden(spark, crawl, golden):
    eng, _ = crawl
    assert _payload_hashes(spark, eng) == [list(x) for x in golden["payload_hashes"]]


# ------------------------------------------------------- sharded regime


@pytest.fixture
def sharded(monkeypatch):
    """Force run_round onto urlseen.filter_unseen for both the seen and the
    known set. Records, per call, the join operator of the exact step and
    how many candidates the filter removed."""
    calls = []
    real = urlseen.filter_unseen

    def spy(candidates, *args):
        out = real(candidates, *args)
        plan = out._jdf.queryExecution().executedPlan().toString()
        semi = next(line for line in plan.splitlines() if "LeftSemi" in line)
        calls.append(
            {"join": semi.lstrip(" :+-").split()[0], "removed": candidates.count() - out.count()}
        )
        return out

    monkeypatch.setattr(frontier, "BROADCAST_SET_ROWS", 0)
    monkeypatch.setattr(urlseen, "filter_unseen", spy)
    return calls


def _assert_golden(spark, eng, counters, golden):
    assert [dict(c) for c in counters] == golden["counters"]
    assert _schedule(eng) == golden["schedule"]
    assert _payload_hashes(spark, eng) == [list(x) for x in golden["payload_hashes"]]


@pytest.mark.parametrize(
    "broadcast_threshold, exact_join",
    [(None, "BroadcastHashJoin"), ("-1", "SortMergeJoin")],
    ids=["broadcast", "shuffle"],
)
def test_sharded_regime_resume_matches_golden(
    spark, inputs, golden, sharded, tmp_path, broadcast_threshold, exact_join
):
    """The sharded bloom path gives the golden crawl byte for byte, with
    the exact step broadcast or shuffled, across a restart after round 0.
    Calls: known in round 0 (seen is still empty), seen and known in 1."""
    seeds, robots, prepared = inputs
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    if broadcast_threshold is not None:
        spark.conf.set(key, broadcast_threshold)
    try:
        eng = _engine(spark, tmp_path)
        eng.init(seeds, robots)
        counters = [eng.run_round(prepared)]
        eng = _engine(spark, tmp_path)  # resume on a fresh instance
        counters.append(eng.run_round(prepared))
    finally:
        spark.conf.set(key, saved)
    assert [c["join"] for c in sharded] == [exact_join] * 3
    _assert_golden(spark, eng, counters, golden)


def _legacy_indices(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """The bit layout stores were written with before bloom rows carried
    ``bit_layout``: h1/h2 straight from the raw hash."""
    h = hashes.astype(np.uint64)
    h2 = (h ^ np.uint64(0x9E3779B97F4A7C15)) * np.uint64(0xBF58476D1CE4E5B9) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((h[None, :] + i * h2[None, :]) % np.uint64(m_bits)).astype(np.int64)


def _rewrite_with_legacy_layout(spark, store, table, keys):
    """Replace ``table`` of the current snapshot, in place, with the
    old-layout, old-schema bloom shards of ``keys``."""
    hashes = np.array([r.url_hash for r in keys.select("url_hash").collect()], dtype=np.int64)
    k = urlseen._k_hashes(0.01)
    rows = []
    for s in range(N_SHARDS):
        mine = hashes[hashes % N_SHARDS == s]
        if len(mine):
            bits = np.zeros(BLOOM_BITS, dtype=bool)
            bits[_legacy_indices(mine, BLOOM_BITS, k).ravel()] = True
            capacity = int(BLOOM_BITS / urlseen.optimal_bits_per_item(0.01))
            rows.append((s, np.packbits(bits).tobytes(), len(mine), capacity, 0.01))
    path = store.snapshot(store.current_snapshot_id())["tables"][table]
    shutil.rmtree(path)
    spark.createDataFrame(
        rows, "shard_id int, filter_bytes binary, n_items long, capacity long, fpr double"
    ).write.parquet(path)


def test_old_layout_store_resumes_to_golden(spark, inputs, golden, sharded, tmp_path):
    """A store whose bloom shards hold the old bit layout resumes in the
    sharded regime with the golden result: the round rebuilds both shard
    tables from the exact seen/known tables and commits the rebuilt ones.
    Testing old-layout bits with the current indices would instead report
    known links as new and re-admit them."""
    seeds, robots, prepared = inputs
    eng = _engine(spark, tmp_path)
    eng.init(seeds, robots)
    counters = [eng.run_round(prepared)]
    store = eng.store
    _rewrite_with_legacy_layout(spark, store, "urlseen_shards", store.read(spark, "seen"))
    _rewrite_with_legacy_layout(spark, store, "known_shards", store.read(spark, "frontier_known"))

    eng = _engine(spark, tmp_path)
    counters.append(eng.run_round(prepared))
    assert len(sharded) == 3
    _assert_golden(spark, eng, counters, golden)
    for table, keys in (("urlseen_shards", "seen"), ("known_shards", "frontier_known")):
        committed = {r.shard_id: r.filter_bytes for r in store.read(spark, table).collect()}
        rebuilt = urlseen.build_shards(store.read(spark, keys), N_SHARDS, BLOOM_BITS)
        assert committed == {r.shard_id: r.filter_bytes for r in rebuilt.collect()}, table


@pytest.fixture(scope="module")
def dense(spark, tmp_path_factory):
    """A corpus whose discovered links do point at already-known URLs (the
    golden crawl's never do), crawled two rounds in the default regime."""
    pdf = synth.generate_pages(n_pages=80, seed=7, n_hosts=4)
    seeds = spark.createDataFrame(synth.generate_seeds(pdf, n_seeds=20))
    robots = spark.createDataFrame(synth.generate_robots(pdf))
    prepared = pipeline.dedup_newest(pipeline.canonicalized(spark.createDataFrame(pdf))).persist()
    eng = _engine(spark, tmp_path_factory.mktemp("dense"))
    eng.init(seeds, robots)
    counters = [eng.run_round(prepared) for _ in range(2)]
    return (seeds, robots, prepared), counters, _schedule(eng)


def test_sharded_regime_removes_what_default_removes(spark, dense, sharded, tmp_path):
    (seeds, robots, prepared), counters, schedule = dense
    eng = _engine(spark, tmp_path)
    eng.init(seeds, robots)
    assert [eng.run_round(prepared) for _ in range(2)] == counters
    assert _schedule(eng) == schedule
    assert sum(c["removed"] for c in sharded) > 0
