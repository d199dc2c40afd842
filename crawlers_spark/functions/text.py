"""Shared text-analysis constants for the training-data queries.

The kernels themselves are built-in Spark expressions in queries.py
(language-ID by stopword-marker hits, quality scoring, BPE-ish token
counts); this module holds the two constants they and their DuckDB
oracles must agree on.
"""

from __future__ import annotations

# tiny per-language stopword marker sets (synthetic corpus scale)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "que", "de", "los"),
}

# BPE-ish token: alpha runs + digit runs + single punctuation
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
