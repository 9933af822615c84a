"""W8/W9 — sequence window shaping: end-padding compaction + fixed-length pad.

Reference:
- ``pytorch/predict.py:173-215`` (end_padding): stably move all non-zero
  timesteps to the front, zero the padding positions;
- ``pytorch/train.py:300-302`` + ``class_main_2_train.py:69``: pad ragged
  sequences to the fixed cap (years*366) with pad value 0.

Pure array expressions — no UDF, no shuffle (row-local).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def compact_nonzero(tokens: Column, pad_value: int = 0) -> Column:
    """W8: non-pad tokens moved stably to the front, pads appended."""
    keep = F.filter(tokens, lambda x: x != F.lit(pad_value))
    n_pad = F.size(tokens) - F.size(keep)
    return F.concat(keep, F.array_repeat(F.lit(pad_value), n_pad))


def pad_to_length(tokens: Column, length: int, pad_value: int = 0) -> Column:
    """W9: pad (or truncate) to exactly `length` tokens."""
    padded = F.concat(
        tokens,
        F.array_repeat(
            F.lit(pad_value),
            F.greatest(F.lit(0), F.lit(length) - F.size(tokens)),
        ),
    )
    return F.slice(padded, 1, length)

