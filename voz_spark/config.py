"""Engine configuration (mirrors reference src/config.py knobs).

Reference values cited per field; scale-dependent knobs are sized for
the sandbox but parameterized for the 10^10-URL design point.

The seen store of the exact anti-join is not a knob: the engine always
reads seen through the bucketed index (voz_spark/seen_index.py, whose
N_BUCKETS sizes the layout).
"""

from __future__ import annotations

from dataclasses import dataclass

# Width of the attempt field packed into the low bits of the in-batch
# dedup key (frontier._dedup_in_batch): the pack is what keeps that
# dedup a primitive-buffer HashAggregate (map-side combine, zero
# sorts) instead of a SortAggregate over the whole frontier. Bound
# math: _pri <= 2^59-1 (generator asserts), so _pri·2^4 + attempt
# <= 2^63-1 — exactly the signed-long range.
ATTEMPT_BITS = 4


@dataclass(frozen=True)
class CrawlConfig:
    # politeness: reference REQUEST_DELAY=2s (src/config.py:33) →
    # per-host fetches per round; one round ≈ one politeness interval
    # across the cluster, so budget == parallel fetch slots per host.
    # Known hosts derive their budget from min_interval_ms via
    # synth.budget_from_interval; this is the fallback for hosts with
    # no politeness row (≈ round_window_ms / 1000 ms default interval).
    default_host_budget: int = 64
    # wall-clock span one crawl round models (B4 pacing): a host with
    # min_interval_ms admits round_window_ms // min_interval_ms
    # fetches per round.
    round_window_ms: int = 64_000
    # reference MAX_RETRIES (src/config.py:38): total fetch attempts
    # per URL; a failed fetch re-enters the frontier with attempt+1
    # until attempt+1 == max_retries, then lands in fetch_failures.
    max_retries: int = 3
    # reference min image size 100px (src/config.py:41-42); fixtures use
    # small synthetic images so the gate is scaled down with them.
    min_image_dim: int = 32
    # PSNR floor for lossy formats (BASELINE.json input_hint)
    psnr_min_db: float = 40.0
    # salting factor for the dominant-host skew (SURVEY §2.B B5);
    # at 10^10 scale this is ~2×cores-per-executor × executors.
    n_salts: int = 64
    # bloom: shards aligned to pmod(url_hash, n_shards); bits sized for
    # the expected seen-set. 2^20 bits/shard for tests; the 10^10 design
    # point is 2^27 bits × 4096 shards ≈ 64 GiB total, ~1% FPR with k=7
    # (never broadcast whole — membership is tested shard-aligned).
    # The engine's only URL-seen filter (why not cuckoo: bloom.py header).
    n_bloom_shards: int = 64
    bloom_bits_per_shard: int = 1 << 20
    bloom_k: int = 5
    # bloom state at or below this total size is broadcast to the
    # membership UDF (no shuffle); above it, membership runs shard-
    # aligned via cogroup against the bloom table (no broadcast) — the
    # only viable strategy at the 10^10 design point's ~64 GiB state.
    # It also bounds the filter's exact delta (always broadcast, 8 B per
    # seen row not yet in the bloom base): once the delta would exceed
    # 1/rounds.DELTA_SHARE of this, a round folds it into the base. A
    # base the engine cannot trust counts as empty (all of seen is the
    # delta) and is folded by the same rule. At 0 every round with seen
    # rows folds (and membership always cogroups).
    bloom_broadcast_max_bytes: int = 64 << 20

    def __post_init__(self) -> None:
        # frontier._dedup_in_batch packs attempt into the low
        # ATTEMPT_BITS of its hash-aggregable dedup key; attempt <
        # max_retries, so the config must keep the attempt domain
        # inside those bits
        if self.max_retries > (1 << ATTEMPT_BITS):
            raise ValueError(
                f"max_retries={self.max_retries} exceeds the dedup key's "
                f"attempt field (2^{ATTEMPT_BITS}); widen ATTEMPT_BITS "
                "in config.py if more retries are ever needed"
            )


DEFAULT = CrawlConfig()
