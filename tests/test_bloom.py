"""Bloom-filter properties (SURVEY §5.2 item 4): zero false negatives
ever; measured FPR within 2× of design FPR."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from voz_spark import bloom as B

NBITS, K = 1 << 16, 5


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_no_false_negatives(keys):
    bits = B.empty_shard(NBITS)
    h = np.array(keys, dtype=np.uint64)
    B.add_hashes(bits, h, NBITS, K)
    if len(h):
        assert B.maybe_contains(bits, h, NBITS, K).all()


def test_fpr_within_design():
    rng = np.random.default_rng(42)
    n = 4000  # load factor chosen for ~1% design FPR at 2^16 bits, k=5
    inserted = rng.integers(0, 2**63, n, dtype=np.uint64).astype(np.uint64)
    probes = rng.integers(2**63, 2**64, 20000, dtype=np.uint64).astype(np.uint64)
    bits = B.empty_shard(NBITS)
    B.add_hashes(bits, inserted, NBITS, K)
    fp = B.maybe_contains(bits, probes, NBITS, K).mean()
    design = (1 - np.exp(-K * n / NBITS)) ** K
    assert fp <= 2 * design, f"fpr={fp:.4f} design={design:.4f}"


def test_shard_routing_matches_spark_pmod():
    h = np.array([-5, -1, 0, 1, 2**63 - 1], dtype=np.int64).astype(np.uint64)
    shards = B.shard_of(h, 16)
    assert ((shards >= 0) & (shards < 16)).all()
    # pmod semantics: non-negative result for negative hashes
    assert B.shard_of(np.array([np.uint64(2**64 - 5)]), 16)[0] == (-5 % 16)


def test_bloom_broadcast_and_cogroup_paths_agree(spark):
    """The broadcast membership UDF and the shard-aligned cogroup path
    (the 10^10 no-broadcast strategy) must produce identical maybe_seen
    flags for the same candidates and bloom state."""
    import pandas as pd
    from pyspark.sql import functions as F

    from voz_spark import schemas
    from voz_spark.config import CrawlConfig
    from voz_spark.frontier import _bloom_split, _bloom_split_cogroup

    cfg = CrawlConfig(n_bloom_shards=8, bloom_bits_per_shard=1 << 14, bloom_k=5)
    rng = np.random.default_rng(7)
    seen_hashes = rng.integers(0, 2**63, 500, dtype=np.int64)
    blobs = {}
    for sid in range(cfg.n_bloom_shards):
        mask = (seen_hashes % cfg.n_bloom_shards) == sid
        bits = B.empty_shard(cfg.bloom_bits_per_shard)
        B.add_hashes(
            bits,
            seen_hashes[mask].astype(np.uint64),
            cfg.bloom_bits_per_shard,
            cfg.bloom_k,
        )
        blobs[sid] = bits.tobytes()
    bloom_df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"shard_id": sid, "nbits": cfg.bloom_bits_per_shard, "k": cfg.bloom_k, "bits": b}
                for sid, b in blobs.items()
            ]
        ),
        schemas.SEEN_BLOOM,
    )
    # candidates: half seen hashes, half fresh
    cand_hashes = np.concatenate(
        [seen_hashes[:250], rng.integers(0, 2**63, 250, dtype=np.int64)]
    )
    cand = spark.createDataFrame(
        pd.DataFrame({"url_hash": cand_hashes, "canon_url": [f"u{i}" for i in range(500)]})
    )
    bc = {
        r["canon_url"]: r["maybe_seen"]
        for r in _bloom_split(spark, cand, blobs, cfg).collect()
    }
    cg = {
        r["canon_url"]: r["maybe_seen"]
        for r in _bloom_split_cogroup(cand, bloom_df, cfg).collect()
    }
    assert bc == cg
    # all genuinely-seen candidates must be flagged in both paths
    for i in range(250):
        assert bc[f"u{i}"]


def test_incremental_cogroup_update_matches_numpy_build(spark):
    """The engine's one bloom update (the no-collect cogroup rebuild)
    must produce shard blobs bit-identical to ones built directly in
    numpy from the old and new hashes, including untouched
    (pass-through) and brand-new shards."""
    import pandas as pd

    from voz_spark import schemas
    from voz_spark.config import CrawlConfig
    from voz_spark.rounds import updated_bloom_cogroup

    cfg = CrawlConfig(n_bloom_shards=8, bloom_bits_per_shard=1 << 14, bloom_k=5)

    def numpy_blobs(hashes, shards):
        out = {}
        for sid in shards:
            bits = B.empty_shard(cfg.bloom_bits_per_shard)
            sel = hashes[(hashes % cfg.n_bloom_shards) == sid]
            B.add_hashes(bits, sel.astype(np.uint64), cfg.bloom_bits_per_shard, cfg.bloom_k)
            out[sid] = bits.tobytes()
        return out

    rng = np.random.default_rng(11)
    old_hashes = rng.integers(0, 2**63, 300, dtype=np.int64)
    # old state covers only shards 0..3 → shards 4..7 start empty
    old_hashes = old_hashes[(old_hashes % cfg.n_bloom_shards) < 4]
    old_blobs = numpy_blobs(old_hashes, range(4))
    bloom_df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"shard_id": s, "nbits": cfg.bloom_bits_per_shard, "k": cfg.bloom_k, "bits": b}
                for s, b in old_blobs.items()
            ]
        ),
        schemas.SEEN_BLOOM,
    )
    # new hashes touch shards {1, 5} only → 0,2,3 must pass through
    # unchanged and 5 must build from empty
    new_hashes = np.array(
        [h for h in rng.integers(0, 2**63, 400, dtype=np.int64) if h % 8 in (1, 5)]
    )
    new_seen = spark.createDataFrame(pd.DataFrame({"url_hash": new_hashes}))

    expected = numpy_blobs(np.concatenate([old_hashes, new_hashes]), (0, 1, 2, 3, 5))
    cg = {r["shard_id"]: bytes(r["bits"]) for r in updated_bloom_cogroup(new_seen, bloom_df, cfg).collect()}
    assert cg == expected
    assert set(cg) == {0, 1, 2, 3, 5}
    assert cg[0] == old_blobs[0] and cg[2] == old_blobs[2] and cg[3] == old_blobs[3]
    assert cg[1] != old_blobs[1]


def test_crawl_engine_distributed_bloom_path_matches_broadcast(spark):
    """Full engine E2E: a crawl forced onto the no-broadcast bloom path
    (bloom_broadcast_max_bytes=0 → cogroup membership + cogroup
    incremental rebuild) must produce the same crawl schedule, seen set,
    and results as the default broadcast path."""
    import tempfile

    from voz_spark.config import CrawlConfig
    from voz_spark.rounds import CrawlEngine

    def run(cfg):
        eng = CrawlEngine(
            spark, tempfile.mkdtemp(prefix="bloompath-"), n_seeds=5, n_images=150, cfg=cfg
        )
        eng.run()
        seen = sorted(r.canon_url for r in eng.seen().collect())
        results = sorted(
            (r.round_id, r.canon_url, r.status) for r in eng.results().collect()
        )
        return seen, eng.schedule_order(), results

    base = run(CrawlConfig())
    distributed = run(CrawlConfig(bloom_broadcast_max_bytes=0))
    assert base == distributed


def test_bloom_param_change_rebuilds_state(spark):
    """Resuming a crawl under DIFFERENT bloom layout parameters must
    not reinterpret stored blobs with the new shard routing (which
    would yield false 'definitely unseen' and silent re-crawls): the
    engine detects the manifest-recorded parameter mismatch, rebuilds
    the bloom from the authoritative seen table, and the finished
    crawl still matches the sequential simulator exactly."""
    import tempfile

    from pyspark.sql import functions as F

    from voz_spark.config import CrawlConfig
    from voz_spark.oracle_sim import simulate
    from voz_spark.rounds import CrawlEngine

    wd = tempfile.mkdtemp(prefix="bloomparams-")
    eng = CrawlEngine(spark, wd, n_seeds=5, n_images=150)
    eng.bootstrap()
    eng.run_round()
    eng.run_round()

    cfg2 = CrawlConfig(n_bloom_shards=8, bloom_bits_per_shard=1 << 16)
    eng2 = CrawlEngine(spark, wd, n_seeds=5, n_images=150, cfg=cfg2)

    # the rebuilt state has NO false negatives over the committed seen set
    blobs = {r.shard_id: r for r in eng2._validated_bloom_table().collect()}
    assert all(r.nbits == cfg2.bloom_bits_per_shard for r in blobs.values())
    seen_hashes = [r.url_hash for r in eng2.seen().collect()]
    assert seen_hashes
    for h in seen_hashes:
        sid = int(B.shard_of(np.array([h], dtype=np.int64).astype(np.uint64), cfg2.n_bloom_shards)[0])
        row = blobs[sid]
        bits = np.frombuffer(row.bits, dtype=np.uint8)
        assert B.maybe_contains(
            bits, np.array([h], dtype=np.int64).astype(np.uint64), row.nbits, row.k
        )[0]

    eng2.run()
    sim = simulate(n_seeds=5, n_images=150)
    assert eng2.schedule_order() == sim.schedule
    assert {r.canon_url for r in eng2.seen().collect()} == sim.seen
    # new manifests record the new layout
    meta = eng2.cat.manifest()["meta"]
    assert meta["bloom_n_shards"] == cfg2.n_bloom_shards


def _assert_no_false_negatives(eng, bloom_df):
    """Every committed seen URL reads maybe-seen against `bloom_df`."""
    from pyspark.sql import functions as F

    from voz_spark.frontier import _bloom_split_cogroup

    seen = eng.seen().select("url_hash", "canon_url")
    assert seen.count() > 0
    memb = _bloom_split_cogroup(seen, bloom_df, eng.cfg)
    assert memb.where(~F.col("maybe_seen")).count() == 0


def test_resume_of_cuckoo_era_catalog_rebuilds_bloom(spark):
    """A catalog last committed by an engine that kept a cuckoo seen
    filter has `seen` rows but an empty `seen_bloom` file set (and
    stale cuckoo state the engine no longer reads). Resuming it must
    rebuild the bloom from the authoritative seen table — the
    lit(False) empty-state path would skip the anti-join backstop —
    and the finished crawl still matches the sequential simulator.
    The resumed rounds drop the cuckoo files from the manifest, so
    they become orphans once the old snapshots expire."""
    import tempfile

    from voz_spark.oracle_sim import simulate
    from voz_spark.rounds import CrawlEngine

    wd = tempfile.mkdtemp(prefix="cuckooera-")
    eng = CrawlEngine(spark, wd, n_seeds=5, n_images=150)
    eng.bootstrap()
    eng.run_round()
    eng.run_round()
    cat = eng.cat
    man = cat.manifest()
    stale = spark.createDataFrame(
        [(0, 4, 0, b"\x00" * 16)], "shard_id int, n_buckets int, n_keys long, table binary"
    )
    cuckoo_files = cat.write_files(stale, "seen_cuckoo")
    assert cuckoo_files
    cat.commit(
        replaces={"seen_bloom": [], "seen_cuckoo": cuckoo_files},
        meta={**man["meta"], "seen_filter": "cuckoo"},
    )
    man = cat.manifest()
    assert man["tables"]["seen"] and man["tables"]["seen_bloom"] == []

    eng2 = CrawlEngine(spark, wd, n_seeds=5, n_images=150)
    _assert_no_false_negatives(eng2, eng2._validated_bloom_table())

    eng2.run()
    sim = simulate(n_seeds=5, n_images=150)
    assert eng2.schedule_order() == sim.schedule
    assert {r.canon_url for r in eng2.seen().collect()} == sim.seen
    man = eng2.cat.manifest()
    assert man["tables"]["seen_bloom"]
    assert "seen_filter" not in man["meta"]
    # the stale cuckoo state leaves the manifest with the first resumed
    # round, so snapshot expiry makes its files reclaimable
    assert not man["tables"].get("seen_cuckoo")
    cat.expire_snapshots(keep_last=1)
    assert set(cuckoo_files) <= set(cat.orphan_files(min_age_s=0))


def test_engine_reopen_recrawls_urls(spark):
    """Recrawl story end-to-end: reopened URLs leave `seen`, the bloom
    is rebuilt without them (and without false negatives over what
    stays), they re-enter the frontier with their original priority
    fields, and the next run fetches them AGAIN (one extra results row
    each); every other URL stays crawled-once."""
    import tempfile
    from collections import Counter

    from pyspark.sql import functions as F

    from voz_spark import schemas
    from voz_spark.rounds import CrawlEngine

    eng = CrawlEngine(spark, tempfile.mkdtemp(prefix="reopen-"), n_seeds=5, n_images=150)
    eng.run()
    threads = sorted(
        {r.canon_url for r in eng.results().where(F.col("kind") == "thread").collect()}
    )
    targets = threads[:3]
    seen_before = {r.canon_url for r in eng.seen().collect()}
    st = eng.reopen(spark.createDataFrame([(u,) for u in targets], "canon_url string"))
    assert st["n_reopened"] == len(targets)
    seen_mid = {r.canon_url for r in eng.seen().collect()}
    assert seen_mid == seen_before - set(targets)
    _assert_no_false_negatives(eng, eng._read("seen_bloom", schemas.SEEN_BLOOM))

    eng.run()  # fetches exactly the reopened URLs, then drains
    assert {r.canon_url for r in eng.seen().collect()} == seen_before
    counts = Counter(r.canon_url for r in eng.results().collect())
    for u in targets:
        assert counts[u] == 2, (u, counts[u])
    untouched = [u for u in threads if u not in targets]
    assert all(counts[u] == 1 for u in untouched)
