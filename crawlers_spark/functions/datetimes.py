"""Column-level datetime kernels for reference scalar ops F5 and F13.

All built-in expressions (JVM-side, codegen); no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def parse_iso_duration(col: Column | str) -> Column:
    """ISO-8601 duration ``PT3H33M6S`` → ``"3:33:6"`` (H:M:S string).

    Re-expresses the reference's 8-branch regex parser
    (/root/reference/youtube/get_youtube_v1.2.py:65-115) as three
    regexp_extracts + concat_ws; missing components default to 0 like the
    reference's fallthrough branches.
    """
    c = F.col(col) if isinstance(col, str) else col
    h = F.coalesce(F.nullif(F.regexp_extract(c, r"(\d+)H", 1), F.lit("")), F.lit("0"))
    m = F.coalesce(F.nullif(F.regexp_extract(c, r"(\d+)M", 1), F.lit("")), F.lit("0"))
    s = F.coalesce(F.nullif(F.regexp_extract(c, r"(\d+)S", 1), F.lit("")), F.lit("0"))
    return F.concat_ws(":", h.cast("int"), m.cast("int"), s.cast("int"))


def parse_month_name_date(col: Column | str) -> Column:
    """``"March 5, 2023"`` → date.

    Reference analog: ``list(calendar.month_name).index(...)`` lookup
    (/root/reference/news/get_nftgators.py:25-30) — here a single
    ``to_date`` with a month-name pattern.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.to_date(F.regexp_replace(c, ",", ""), "MMMM d yyyy")

