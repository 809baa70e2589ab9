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
    """The engine's one bloom update (the no-collect cogroup fold)
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
    folds) must produce the same crawl schedule, seen set,
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
    engine detects the manifest-recorded parameter mismatch, resets the
    base to empty (all of the authoritative seen table is the exact
    delta, folded by the usual rule), and the finished crawl still
    matches the sequential simulator exactly."""
    import tempfile

    from voz_spark.config import CrawlConfig
    from voz_spark.oracle_sim import simulate
    from voz_spark.rounds import CrawlEngine

    wd = tempfile.mkdtemp(prefix="bloomparams-")
    eng = CrawlEngine(spark, wd, n_seeds=5, n_images=150, cfg=CrawlConfig(**SMALL))
    eng.bootstrap()
    eng.run_round()
    eng.run_round()
    eng.run_round()
    assert eng._base_covers(eng.cat.manifest()) > 0  # a base under the old layout

    cfg2 = CrawlConfig(n_bloom_shards=4, bloom_bits_per_shard=1 << 16)
    eng2 = CrawlEngine(spark, wd, n_seeds=5, n_images=150, cfg=cfg2)
    # the old-layout base is not trusted; the filter has NO false
    # negatives over the committed seen set
    assert eng2._base_covers(eng2.cat.manifest()) == 0
    _assert_filter_covers_seen(eng2)

    eng2.run()
    sim = simulate(n_seeds=5, n_images=150)
    assert eng2.schedule_order() == sim.schedule
    assert {r.canon_url for r in eng2.seen().collect()} == sim.seen
    # new manifests record the new layout and no longer list the
    # old-layout base
    man = eng2.cat.manifest()
    assert man["meta"]["bloom_n_shards"] == cfg2.n_bloom_shards
    assert man["tables"]["seen_bloom"] == []
    _assert_filter_covers_seen(eng2)


def _assert_filter_covers_seen(eng) -> int:
    """No false negatives over the committed seen set: every committed
    seen hash is in the bloom base the engine trusts (numpy
    maybe_contains over the committed `seen_bloom` blobs) OR in the
    exact delta, the seen files after the base's marker. Returns the
    number of seen files the base covers."""
    import pandas as pd

    cfg = eng.cfg
    man = eng.cat.manifest()
    seen = man["tables"]["seen"]
    covers = eng._base_covers(man)
    hashes = (
        pd.concat([pd.read_parquet(f, columns=["url_hash"]) for f in seen])["url_hash"]
        .to_numpy()
        .astype(np.uint64)
    )
    assert len(hashes) > 0
    maybe = B.in_sorted(eng._delta_hashes(seen[covers:]), hashes)
    if covers:
        shards = B.shard_of(hashes, cfg.n_bloom_shards)
        for f in man["tables"]["seen_bloom"]:
            for r in pd.read_parquet(f).itertuples():
                assert (r.nbits, r.k) == (cfg.bloom_bits_per_shard, cfg.bloom_k)
                bits = np.frombuffer(r.bits, dtype=np.uint8)
                on = shards == r.shard_id
                maybe[on] |= B.maybe_contains(bits, hashes[on], r.nbits, r.k)
    assert maybe.all(), f"{(~maybe).sum()} committed seen hashes read unseen"
    return covers


def test_resume_of_cuckoo_era_catalog_rebuilds_bloom(spark):
    """A catalog last committed by an engine that kept a cuckoo seen
    filter has `seen` rows but an empty `seen_bloom` file set (and
    stale cuckoo state the engine no longer reads). Resuming it must
    treat all of the authoritative seen table as the exact delta — the
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
    assert _assert_filter_covers_seen(eng2) == 0

    eng2.run()
    sim = simulate(n_seeds=5, n_images=150)
    assert eng2.schedule_order() == sim.schedule
    assert {r.canon_url for r in eng2.seen().collect()} == sim.seen
    _assert_filter_covers_seen(eng2)
    man = eng2.cat.manifest()
    assert "seen_filter" not in man["meta"]
    # the stale cuckoo state leaves the manifest with the first resumed
    # round, so snapshot expiry makes its files reclaimable
    assert not man["tables"].get("seen_cuckoo")
    cat.expire_snapshots(keep_last=1)
    assert set(cuckoo_files) <= set(cat.orphan_files(min_age_s=0))


def test_engine_reopen_recrawls_urls(spark):
    """Recrawl story end-to-end: reopened URLs leave `seen`, the bloom
    base that holds their bits is dropped (no false negatives over what
    stays: it is all exact delta), they re-enter the frontier with their
    original priority fields, and the next run fetches them AGAIN (one
    extra results row each); every other URL stays crawled-once."""
    import tempfile
    from collections import Counter

    from pyspark.sql import functions as F

    from voz_spark.config import CrawlConfig
    from voz_spark.rounds import CrawlEngine

    eng = CrawlEngine(
        spark, tempfile.mkdtemp(prefix="reopen-"), n_seeds=5, n_images=150, cfg=CrawlConfig(**SMALL)
    )
    eng.run()
    assert eng._base_covers(eng.cat.manifest()) > 0  # the crawl folded a base
    threads = sorted(
        {r.canon_url for r in eng.results().where(F.col("kind") == "thread").collect()}
    )
    targets = threads[:3]
    seen_before = {r.canon_url for r in eng.seen().collect()}
    st = eng.reopen(spark.createDataFrame([(u,) for u in targets], "canon_url string"))
    assert st["n_reopened"] == len(targets)
    seen_mid = {r.canon_url for r in eng.seen().collect()}
    assert seen_mid == seen_before - set(targets)
    assert eng.cat.manifest()["tables"]["seen_bloom"] == []  # reopen builds no bloom
    assert _assert_filter_covers_seen(eng) == 0

    eng.run()  # fetches exactly the reopened URLs, then drains
    assert {r.canon_url for r in eng.seen().collect()} == seen_before
    counts = Counter(r.canon_url for r in eng.results().collect())
    for u in targets:
        assert counts[u] == 2, (u, counts[u])
    untouched = [u for u in threads if u not in targets]
    assert all(counts[u] == 1 for u in untouched)


# -- base + delta seen filter ---------------------------------------------------
#
# The engine's filter is a bloom base (the `seen_bloom` blobs, rewritten
# only at a fold) OR an exact delta: the url_hash values of the committed
# seen files the base does not cover (the manifest marker names them).

# 8 shards x 1024 bits = 1 KiB of state, all of it broadcastable; the
# delta folds once it exceeds 1024 // DELTA_SHARE bytes (16 rows). In the
# 5-seed crawl below rounds 3 and 4 fold and round 5 does not.
SMALL_LAYOUT = dict(n_bloom_shards=8, bloom_bits_per_shard=1 << 10)
SMALL = dict(**SMALL_LAYOUT, bloom_broadcast_max_bytes=1 << 10)


def _numpy_blobs(cfg, hashes):
    hashes = np.asarray(hashes, dtype=np.int64)
    out = {}
    for sid in sorted({int(h % cfg.n_bloom_shards) for h in hashes}):
        bits = B.empty_shard(cfg.bloom_bits_per_shard)
        sel = hashes[(hashes % cfg.n_bloom_shards) == sid].astype(np.uint64)
        B.add_hashes(bits, sel, cfg.bloom_bits_per_shard, cfg.bloom_k)
        out[sid] = bits.tobytes()
    return out


def _bloom_versions(cat):
    """Per committed version: (round_id, seen_bloom files, seen files)."""
    return [
        (m["meta"].get("round_id"), m["tables"].get("seen_bloom", []), m["tables"].get("seen", []))
        for m in (cat.manifest(v) for v in range(1, cat.latest_version() + 1))
    ]


def _assert_matches_simulator(eng, n_seeds=5, n_images=150):
    from voz_spark.oracle_sim import simulate

    sim = simulate(n_seeds=n_seeds, n_images=n_images)
    assert eng.schedule_order() == sim.schedule
    assert {r.canon_url for r in eng.seen().collect()} == sim.seen


def test_base_plus_delta_membership_matches_numpy(spark):
    """Both membership strategies flag a candidate iff the numpy bloom
    over the base hashes may contain it OR it is in the exact delta; no
    base or delta hash is ever flagged unseen."""
    import pandas as pd

    from voz_spark import schemas
    from voz_spark.config import CrawlConfig
    from voz_spark.frontier import _bloom_split

    cfg = CrawlConfig(n_bloom_shards=8, bloom_bits_per_shard=1 << 12, bloom_k=5)
    rng = np.random.default_rng(3)
    base_h = rng.integers(-(2**63), 2**63 - 1, 400, dtype=np.int64)
    delta_h = rng.integers(-(2**63), 2**63 - 1, 150, dtype=np.int64)
    fresh_h = rng.integers(-(2**63), 2**63 - 1, 600, dtype=np.int64)
    blobs = _numpy_blobs(cfg, base_h)
    bloom_df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"shard_id": s, "nbits": cfg.bloom_bits_per_shard, "k": cfg.bloom_k, "bits": b}
                for s, b in blobs.items()
            ]
        ),
        schemas.SEEN_BLOOM,
    )
    delta = np.unique(delta_h.astype(np.uint64))
    cand_h = np.concatenate([base_h, delta_h, fresh_h])
    cand = spark.createDataFrame(
        pd.DataFrame({"url_hash": cand_h, "canon_url": [f"u{i}" for i in range(len(cand_h))]})
    )

    u = cand_h.astype(np.uint64)
    shards = B.shard_of(u, cfg.n_bloom_shards)
    want = np.isin(u, delta)
    for i, sid in enumerate(shards):
        bits = np.frombuffer(blobs[int(sid)], dtype=np.uint8)
        want[i] |= B.maybe_contains(bits, u[i : i + 1], cfg.bloom_bits_per_shard, cfg.bloom_k)[0]
    want = {f"u{i}": bool(w) for i, w in enumerate(want)}

    broadcasts = []
    for got_df in (
        _bloom_split(spark, cand, blobs, cfg, broadcasts=broadcasts, delta=delta),
        _bloom_split(spark, cand, bloom_df, cfg, broadcasts=broadcasts, delta=delta),
    ):
        got = {r["canon_url"]: r["maybe_seen"] for r in got_df.collect()}
        assert got == want
        assert all(got[f"u{i}"] for i in range(len(base_h) + len(delta_h)))
    assert len(broadcasts) == 2  # the cogroup path broadcasts the delta alone
    for bc in broadcasts:
        bc.destroy()
    # the delta is exact: a delta-only filter flags exactly the delta
    only = _bloom_split(spark, cand, {}, cfg, broadcasts=broadcasts, delta=delta).collect()
    assert {r["canon_url"] for r in only if r["maybe_seen"]} == {
        f"u{i}" for i in range(len(base_h), len(base_h) + len(delta_h))
    }
    broadcasts[-1].destroy()


def test_crawl_that_folds_often_matches_simulator(spark):
    """A bloom sized so small that the delta folds into the base every
    few rounds: the crawl matches the sequential simulator, some rounds
    fold and some run on base + delta, and the committed base is
    bit-identical to `updated_bloom_cogroup` over the hashes of exactly
    the seen files its marker says it covers."""
    import tempfile

    import pandas as pd

    from voz_spark import schemas
    from voz_spark.config import CrawlConfig
    from voz_spark.rounds import CrawlEngine, updated_bloom_cogroup

    cfg = CrawlConfig(**SMALL)
    eng = CrawlEngine(spark, tempfile.mkdtemp(prefix="bloomfold-"), n_seeds=5, n_images=150, cfg=cfg)
    eng.run()
    _assert_matches_simulator(eng)

    versions = _bloom_versions(eng.cat)
    folds = [cur[0] for prev, cur in zip(versions, versions[1:]) if cur[1] != prev[1]]
    deltas = [cur[0] for prev, cur in zip(versions, versions[1:]) if cur[1] == prev[1] and prev[2]]
    assert len(folds) >= 2 and deltas, (folds, deltas)

    man = eng.cat.manifest()
    covers = man["meta"]["bloom_base_covers"]
    assert man["meta"]["bloom_base_last"] == man["tables"]["seen"][covers - 1]
    covered = pd.concat(
        [pd.read_parquet(f, columns=["url_hash"]) for f in man["tables"]["seen"][:covers]]
    )
    empty = spark.createDataFrame([], "shard_id int, nbits long, k int, bits binary")
    want = {
        r["shard_id"]: bytes(r["bits"])
        for r in updated_bloom_cogroup(spark.createDataFrame(covered), empty, cfg).collect()
    }
    got = {r.shard_id: bytes(r.bits) for r in eng._read("seen_bloom", schemas.SEEN_BLOOM).collect()}
    assert got == want == _numpy_blobs(cfg, covered["url_hash"].to_numpy())
    assert _assert_filter_covers_seen(eng) == covers


def test_resume_after_delta_commit_and_across_a_fold(spark):
    """Kill → resume twice in one crawl: once after a round that
    committed new seen rows as the delta (the next round folds them),
    and once inside that fold (its new base written, the commit never
    made). Each resumed engine reads only the committed catalog, the
    delta from its parquet files; the finished crawl matches the
    simulator."""
    import tempfile

    import pytest

    from voz_spark.config import CrawlConfig
    from voz_spark.rounds import CrawlEngine

    cfg = CrawlConfig(**SMALL)
    wd = tempfile.mkdtemp(prefix="bloomkill-")

    def engine():
        return CrawlEngine(spark, wd, n_seeds=5, n_images=150, cfg=cfg)

    engine().run(max_rounds=3)  # round 3 folds rounds 1-2; round 3's rows are the delta
    man = engine().cat.manifest()
    covers = man["meta"]["bloom_base_covers"]
    assert man["tables"]["seen_bloom"] and len(man["tables"]["seen"]) > covers  # a delta

    eng = engine()  # kill 1: between the delta commit and its fold
    real_commit = eng.cat.commit

    def commit_unless_fold(replaces=None, **kw):
        if replaces and "seen_bloom" in replaces:
            raise RuntimeError("killed inside a fold")
        return real_commit(replaces=replaces, **kw)

    eng.cat.commit = commit_unless_fold
    with pytest.raises(RuntimeError, match="inside a fold"):
        eng.run()
    assert eng.last_round() == 3 and eng.cat.manifest() == man
    orphaned = set(eng.cat.orphan_files(min_age_s=0))
    assert any("/seen_bloom/" in f for f in orphaned)  # the fold's unpublished base

    eng = engine()  # kill 2: across the fold
    eng.run()
    _assert_matches_simulator(eng)
    assert not orphaned & eng.cat.referenced_files()


def test_compact_seen_resets_bloom_base(spark):
    """`compact("seen")` replaces seen's files, so the marker's prefix is
    gone: the base resets to empty (covers 0), all of seen is the delta,
    the next round folds it into a new base whose marker covers every
    compacted file, and the crawl still matches."""
    import tempfile

    from voz_spark import schemas
    from voz_spark.config import CrawlConfig
    from voz_spark.rounds import CrawlEngine

    eng = CrawlEngine(
        spark, tempfile.mkdtemp(prefix="bloomcompact-"), n_seeds=5, n_images=150,
        cfg=CrawlConfig(**SMALL),
    )
    eng.run(max_rounds=3)
    man = eng.cat.manifest()
    assert eng._base_covers(man) > 0
    # a rewrite into as many files as before still breaks the marker
    renamed = [f"{f}.rewritten" for f in man["tables"]["seen"]]
    assert eng._base_covers({**man, "tables": {**man["tables"], "seen": renamed}}) == 0
    eng.cat.compact(spark, "seen", schemas.SEEN, target_files=2)
    compacted = eng.cat.manifest()["tables"]["seen"]
    assert eng._base_covers(eng.cat.manifest()) == 0
    _assert_filter_covers_seen(eng)
    v = eng.cat.latest_version()
    eng.run()
    _assert_matches_simulator(eng)
    man = eng.cat.manifest(v + 1)
    assert man["tables"]["seen_bloom"] != eng.cat.manifest(v)["tables"]["seen_bloom"]
    assert man["meta"]["bloom_base_covers"] == len(compacted)
    assert man["meta"]["bloom_base_last"] == compacted[-1]


def _engine_on_a_base(spark, prefix):
    """An engine whose committed base exists and whose next round will
    not fold: rounds 1-2 run at a zero budget (round 2 folds round 1's
    rows), then the crawl resumes under the default budget. The budget
    is not part of the base's layout, so the resumed engine keeps the
    base; its 64 MiB budget folds no delta of this crawl."""
    import tempfile

    from voz_spark.config import CrawlConfig
    from voz_spark.rounds import CrawlEngine

    wd = tempfile.mkdtemp(prefix=prefix)
    folding = CrawlConfig(**SMALL_LAYOUT, bloom_broadcast_max_bytes=0)
    CrawlEngine(spark, wd, n_seeds=5, n_images=150, cfg=folding).run(max_rounds=2)
    eng = CrawlEngine(spark, wd, n_seeds=5, n_images=150, cfg=CrawlConfig(**SMALL_LAYOUT))
    assert eng.last_round() == 2 and eng._base_covers(eng.cat.manifest()) > 0
    return eng


def test_outside_seen_append_is_caught_by_delta(spark):
    """Rows appended to `seen` by another writer after the base exists
    stay covered: the base marker is still valid, the appended file is
    part of the delta, and none of its URLs is scheduled — though the
    simulator, which never saw the append, schedules them that round."""
    from pyspark.sql import functions as F

    from voz_spark.canon import url_key
    from voz_spark.oracle_sim import simulate

    eng = _engine_on_a_base(spark, "bloomappend-")
    cat = eng.cat
    assert cat.manifest()["tables"]["seen_bloom"]  # the base exists
    nxt = eng.last_round() + 1
    targets = [u for r, u in simulate(n_seeds=5, n_images=150).schedule if r == nxt][:5]
    assert targets
    rows = spark.createDataFrame([(u,) for u in targets], "canon_url string").select(
        url_key(F.col("canon_url")).alias("url_hash"), "canon_url", F.lit(0).alias("first_round")
    )
    appended = cat.write_files(rows, "seen")
    cat.commit(appends={"seen": appended}, meta=cat.manifest()["meta"])
    man = cat.manifest()
    covers = _assert_filter_covers_seen(eng)
    assert covers > 0 and set(appended) <= set(man["tables"]["seen"][covers:])

    eng.run_round()
    assert cat.manifest()["tables"]["seen_bloom"] == man["tables"]["seen_bloom"]  # no fold
    fetched = {r.canon_url for r in eng.results().where(F.col("round_id") == nxt).collect()}
    assert fetched and not fetched & set(targets)


def test_non_fold_round_writes_no_bloom(spark):
    """Once the base exists, a round whose delta stays small writes no
    `seen_bloom` file and leaves the manifest's `seen_bloom` list as it
    was; lineage and checkpoint rows are written from the driver."""
    eng = _engine_on_a_base(spark, "bloomnofold-")
    cat = eng.cat
    bloom_before = cat.manifest()["tables"]["seen_bloom"]
    assert bloom_before
    calls = []
    for name in ("write_files", "write_rows"):
        real = getattr(cat, name)

        def record(*args, _name=name, _real=real):
            calls.append((_name, args[-1]))
            return _real(*args)

        setattr(cat, name, record)
    eng.run_round()
    assert not [c for c in calls if c[1] == "seen_bloom"], calls
    assert ("write_rows", "lineage") in calls and ("write_rows", "checkpoints") in calls
    assert cat.manifest()["tables"]["seen_bloom"] == bloom_before
