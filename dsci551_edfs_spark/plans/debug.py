"""Plan inspection & the reference's `debug` explanation channel.

The reference's `debug=true` attaches per-partition {Partition, Input,
Output} traces (`combined_flask.py:712-717`, `:771-772`); the shell
serves them per EDFS partition from the table's PMR partials
(`operators.aggregates.partition_debug`). What is left here is plan
inspection: `explain_str(df)` is the formatted physical plan (check for
PushedFilters / PartitionFilters / ReadSchema / WholeStageCodegen spans).
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame

__all__ = ["explain_str"]


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()
