"""Pandas oracle for the synthetic web's messy seed URLs
(crawlers_spark/sources/synthweb.py).

``seed_urls_pd`` builds the five spelling variants with pandas ``.str``
operations on the canonical URL (regex split into host and path, then
masks), where ``seed_urls_arr`` joins Arrow components directly. It
shares only the page selection (``_seed_idx``) and the canonical URL
(``page_urls``). tests/test_kernels.py checks both package functions
against it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from crawlers_spark.sources.synthweb import SynthWebConfig, _seed_idx, page_urls


def seed_urls_pd(cfg: SynthWebConfig, rank: np.ndarray) -> pd.DataFrame:
    """``seed_urls_pdf`` in pandas ``.str`` operations: (url, seed_rank)."""
    rank = np.asarray(rank, np.int64)
    host_idx, page_idx = _seed_idx(cfg, rank)
    variant = rank % 5
    canon = pd.Series(page_urls(cfg, host_idx, page_idx), dtype=object)
    hostpart = canon.str.extract(r"^http://([^/]+)(/.*)$")
    host, path = hostpart[0], hostpart[1]
    messy = canon.copy()
    messy = messy.mask(variant == 1, "HTTP://WWW." + host.str.upper() + ":80" + path)
    messy = messy.mask(variant == 2, canon + "#section-2")
    messy = messy.mask(variant == 3, canon + "?utm_source=feed&utm_medium=x&utm_campaign=1")
    messy = messy.mask(variant == 4, "http://" + host + "/x/../" + path.str.lstrip("/"))
    return pd.DataFrame({"url": messy, "seed_rank": rank})
