"""Vectorized (Arrow) pandas UDFs for scalar math Catalyst can't express.

These are the engine's *only* Python scalar UDFs, and they are
Series->Series pandas_udfs (Arrow batch transfer) — never row-at-a-time
Python.  Everything SQL-expressible stays in pyspark.sql.functions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf("double")
def char_entropy(texts: pd.Series) -> pd.Series:
    """Shannon entropy (bits) of each string's character distribution.

    A quality-filter signal (low entropy = repetitive/boilerplate text)
    with no closed-form SQL: needs a per-row histogram over an unbounded
    alphabet.  Vectorized per Arrow batch via numpy unique counts.
    """

    def one(s: str) -> float:
        if not s:
            return 0.0
        codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
        _, counts = np.unique(codes, return_counts=True)
        p = counts / counts.sum()
        return float(-(p * np.log2(p)).sum())

    return texts.map(one)
