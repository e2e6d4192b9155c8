"""Evaluation metrics beyond MetricF1 (output.py): char-bag F1 (O7)."""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def char_f1(pred: str, gold: str) -> float:
    """O7 char-bag F1 (reference utils.py:24-36): lowercase character
    multiset overlap with spaces stripped."""
    p = Counter(pred.lower().replace(" ", ""))
    g = Counter(gold.lower().replace(" ", ""))
    overlap = sum((p & g).values())
    if overlap == 0:
        return 0.0
    precision = overlap / max(sum(p.values()), 1)
    recall = overlap / max(sum(g.values()), 1)
    return 2 * precision * recall / (precision + recall)


@F.pandas_udf(T.DoubleType())
def char_f1_udf(pred: pd.Series, gold: pd.Series) -> pd.Series:
    return pd.Series([char_f1(p, g) for p, g in zip(pred, gold)])
