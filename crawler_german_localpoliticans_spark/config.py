"""Crawl configuration, mirroring the reference's worker_config.toml.

reference: worker_config.toml (max_depth=2 :17, politeness_delay_ms=2000 :21,
concurrent_tasks=4 :24, keywords :28-35), src/main.rs:47 (user agent),
:615-617 (SAVE_ALL_HTML override).

Scale knobs (bloom sizing, partition counts, per-wave slice budget) are ours:
they parameterize the same code paths from the sandbox's sf fixtures up to the
10^10-URL posture demanded by BASELINE.json.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .functions.keywords import DEFAULT_KEYWORDS
from .functions.robots import DEFAULT_USER_AGENT


@dataclass(frozen=True)
class CrawlConfig:
    # reference semantics
    max_depth: int = 2
    politeness_delay_ms: int = 2000
    keywords: tuple[str, ...] = DEFAULT_KEYWORDS
    user_agent: str = DEFAULT_USER_AGENT
    save_all_html: bool = False

    # engine/scale knobs
    shuffle_partitions: int = 32
    # partitions of the url_seen table / bloom sidecar; at 1e10 URLs raise to
    # O(10k) so each partition's filter (~1.2 GB total at 1% FPR) stays small
    seen_partitions: int = 32
    bloom_capacity_per_partition: int = 1 << 17
    bloom_fpp: float = 0.01
    # politeness wave-slicing: when >0, each BFS depth wave is fetched in
    # slices capped at ceil(slice_budget_ms / effective_delay_ms) pages per
    # host per slice; expansion is committed only once the whole wave is
    # fetched, so (depth, seq) parity with the reference is preserved
    slice_budget_ms: int = 0
    # per-host hard cap per slice as a skew guard (0 = unlimited)
    max_pages_per_host_per_slice: int = 0
    # execute each wave slice-by-slice (sequential fetch materialization in
    # politeness order) instead of as one batch; results are identical
    # either way (expansion is depth-synchronized) — this mode makes the
    # crawl-delay budget operationally gate the fetch work
    execute_by_slice: bool = False
    # hot-host skew salting for the politeness window (plans/politeness.py):
    # 1 = exact single-window schedule (reference-faithful slot order);
    # >1 = salted two-phase slots for hosts with massive waves — crawl
    # RESULTS are identical either way (slots are scheduling artifacts),
    # only the wave's task balance changes; raise at 10^10 scale
    salt_buckets: int = 1

    def effective_keywords(self) -> list[str]:
        from .functions.keywords import effective_keywords

        return effective_keywords(list(self.keywords))


DEFAULT_CONFIG = CrawlConfig()
