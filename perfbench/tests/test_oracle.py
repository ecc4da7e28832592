"""The value-hash rule the benchmark applies to the engine's results
and to the oracle's."""

import pandas as pd

from oracle import frame_digest


def test_digest_ignores_row_and_column_order_but_not_values():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    b = pd.DataFrame({"v": ["z", "x", "y"], "k": [3, 1, 2]})
    assert frame_digest(a) == frame_digest(b) == (3, frame_digest(a)[1])
    assert frame_digest(a) != frame_digest(a.assign(v=["x", "y", "w"]))
    assert frame_digest(a) != frame_digest(a.rename(columns={"v": "w"}))
