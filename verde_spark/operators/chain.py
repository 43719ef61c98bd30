"""Chain — sequential filter pipeline with additive prediction.

verde chain.py:17-138: ``fit`` runs each step's ``filter`` on the previous
step's output (gridders' filter = fit + residuals,
base/base_classes.py:273-316); ``predict`` sums the predictions of every
step that can predict (BlockReduce-style decimators are skipped).

Spark form: the chain is driver-side composition of lazy DataFrame
transformations — each ``filter`` extends one logical plan, so Catalyst
sees the whole pipeline at once; the additive predict is a sum of columns.
Step boundaries are natural places to ``persist``/checkpoint for
resumability (each step's residual table is a small decimated DataFrame).
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import BaseGridder


class Chain(BaseGridder):
    """steps = [(name, operator)]; operators expose ``filter(df, ...)`` and
    (for gridders) ``predict(df, output_col, ...)``.

    grid/scatter/profile/score come from :class:`verde_spark.base.BaseGridder`
    (the reference Chain inherits BaseGridder the same way, chain.py:20-40).
    """

    def __init__(self, steps: Sequence[Tuple[str, object]]):
        self.steps = list(steps)
        self.region_ = None

    def fit(
        self,
        df: DataFrame,
        data_col: str = "scalars",
        weight_col: Optional[str] = None,
        easting: str = "easting",
        northing: str = "northing",
        persist_steps: bool = True,
    ) -> "Chain":
        from ..geometry import get_region

        self.region_ = get_region(df, easting, northing)
        current = df
        for name, step in self.steps:
            current = step.filter(
                current, data_col=data_col, weight_col=weight_col,
                easting=easting, northing=northing,
            )
            # decimators emit fresh weights named weight_<data_col>
            if f"weight_{data_col}" in current.columns and weight_col != f"weight_{data_col}":
                weight_col = f"weight_{data_col}"
            if persist_steps:
                current = current.persist()
        return self

    def predict(
        self,
        df: DataFrame,
        output_col: str = "prediction",
        easting: str = "easting",
        northing: str = "northing",
    ) -> DataFrame:
        parts: List[str] = []
        out = df
        for i, (name, step) in enumerate(self.steps):
            if not hasattr(step, "predict"):
                continue  # e.g. BlockReduce: no predict (chain.py:127-138)
            col = f"__pred_{i}"
            out = step.predict(out, col, easting=easting, northing=northing)
            parts.append(col)
        if not parts:
            raise RuntimeError("No step in the chain can predict.")
        total = F.col(parts[0])
        for c in parts[1:]:
            total = total + F.col(c)
        return out.withColumn(output_col, total).drop(*parts)


