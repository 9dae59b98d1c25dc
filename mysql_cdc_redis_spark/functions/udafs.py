"""Pandas-UDAF surface (SURVEY.md §2.9).

The reference's extensibility hook is the per-chunk Python callback of
dump_r/dump_t (rcache.py:57-72, 83-106).  The Spark analogs are:
grouped-map (applyInPandas) and grouped-aggregate Pandas UDFs
(Arrow-batched UDAFs).  This module provides a real UDAF for when the aggregate truly
isn't expressible with built-ins; anything expressible stays JVM-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf("double")
def gini_udaf(v: pd.Series) -> float:
    """Gini coefficient of a non-negative series — the classic
    concentration measure (not available as a Spark built-in).
    Arrow ships the group's values in one batch; numpy does the sort
    and the O(n) weighted sum."""
    x = np.sort(v.to_numpy(dtype="float64"))
    n = x.size
    if n == 0:
        return None
    s = x.sum()
    if s == 0.0:
        return 0.0
    i = np.arange(1, n + 1, dtype="float64")
    return float((2.0 * (i * x).sum()) / (n * s) - (n + 1.0) / n)
