"""UDF/UDAF/UDTF surface (SURVEY.md §2.J).

Engine stance: built-in Columns always win; when Python is genuinely
needed, Arrow-batched pandas UDFs only (10-100× over row-at-a-time). These
examples are the *patterns* users extend; each is deterministic so the
scalar/agg ones are oracle-checkable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


@F.pandas_udf("double")
def poly_score(x: pd.Series) -> pd.Series:
    """Scalar pandas UDF: IEEE-deterministic polynomial (2x + 1)."""
    return x * 2.0 + 1.0


@F.pandas_udf("long")
def quantized_sum(x: pd.Series) -> int:
    """Grouped-agg pandas UDF: exact integer sum of floor(x*100)."""
    return int(np.floor(x.to_numpy() * 100).astype(np.int64).sum())


def zscore_by_group(df: DataFrame, group: str, value: str) -> DataFrame:
    """Grouped-map applyInPandas: per-group z-score (rows-only check —
    float std is order-sensitive, so no SQL oracle; pytest covers it)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    # build a NEW StructType — StructType.add mutates the receiver, which
    # would corrupt df's cached schema object
    schema = StructType(list(df.schema.fields) + [StructField("zscore", DoubleType())])

    def _z(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value]
        sd = v.std(ddof=0)
        pdf = pdf.copy()
        pdf["zscore"] = (v - v.mean()) / sd if sd > 0 else 0.0
        return pdf

    return df.groupBy(group).applyInPandas(_z, schema=schema)
