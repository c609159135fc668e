import datetime as dt

import pandas as pd

import oracle


def test_equal_results_in_any_order_and_case():
    a = pd.DataFrame({"K": [2, 1], "v": [0.1 + 0.2, 1.0], "d": [dt.date(2024, 1, 2)] * 2})
    b = pd.DataFrame({"k": [1, 2], "V": [1.0, 0.3],
                      "d": [pd.Timestamp("2024-01-02")] * 2})
    assert oracle.mismatch(a, b) is None


def test_reports_the_first_difference():
    a = pd.DataFrame({"k": [1, 2]})
    assert "row count" in oracle.mismatch(a, a.iloc[:1])
    assert "columns" in oracle.mismatch(a, a.rename(columns={"k": "j"}))
    assert "value mismatch in k" in oracle.mismatch(a, pd.DataFrame({"k": [1, 3]}))
    assert oracle.mismatch(pd.DataFrame({"x": [None]}), pd.DataFrame({"x": [float("nan")]})) is None
