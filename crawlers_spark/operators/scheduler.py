"""Politeness-aware per-host priority scheduler: configuration.

Reproduces the reference's pacing semantics — per-site page caps
(/root/reference/nft/opensea/opensea_api.py:9-14), 1–6 s sleeps
(/root/reference/looksrare/get_look_srare.py:133,
/root/reference/nft/get_opensea_v1.1.py:277-293) and robots-like gates
(token/key budget checks, /root/reference/youtube/get_youtube_v1.2.py:53-63)
— as a *computed schedule* instead of wall-clock serialization. The
schedule itself runs inside the fused frontier step
(operators/fused_schedule.py), per host:

1. look up the host's robots row (crawl_delay_ms, budget, disallow
   prefixes), falling back to the defaults below;
2. drop disallowed paths (any disallow prefix starts the URL path);
3. keep the top-``budget`` rows by priority (two-phase exact top-k under
   salting, for mega-hosts);
4. stamp ``fetch_offset_ms = (rank-1) · crawl_delay_ms`` — the politeness
   delay as data, enforceable by any executor without coordination.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class SchedulerConfig:
    default_budget: int = 20
    default_delay_ms: int = 1000
