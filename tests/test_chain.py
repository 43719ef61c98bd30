"""Chain step protocol: every step's ``filter`` gets the full keyword set."""

import pandas as pd
import pytest

from verde_spark import Chain


class _RaisingStep:
    """Stub step whose ``filter`` raises TypeError and counts its calls."""

    def __init__(self):
        self.calls = []

    def filter(self, df, **kwargs):
        self.calls.append(kwargs)
        raise TypeError("bad step")


def test_chain_step_type_error_propagates_after_one_call(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"e": [0.0, 1.0], "n": [0.0, 1.0], "z": [1.0, 2.0]})
    )
    step = _RaisingStep()
    with pytest.raises(TypeError, match="bad step"):
        Chain([("bad", step)]).fit(df, data_col="z", easting="e", northing="n")
    assert step.calls == [
        {"data_col": "z", "weight_col": None, "easting": "e", "northing": "n"}
    ]
