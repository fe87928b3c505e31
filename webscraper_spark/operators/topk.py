"""Skew-safe per-group top-k (W1/W3/O3 budget filtering).

A naive ``row_number().over(Window.partitionBy(host))`` would serialize
each host into one task — a hot host (Zipf head) becomes the round's
straggler at 10^10 scale. On Spark 3.5+/4.x Catalyst already solves this:
a ``row_number() <= k`` filter plants ``WindowGroupLimit Partial`` BEFORE
the shuffle, so every input partition forwards at most k rows per group
and the post-shuffle sort per host is tiny — verified in this repo's
plans (``WindowGroupLimit ... Partial`` under the Exchange) and measured
flat across 50%→93% hot-host skew at 15M rows.

So this is the plain declarative rank-filter: it is the skew-mitigated
plan *and* has one fewer shuffle than manual salting. The map-side limit
only helps when ``k`` is small next to a group's size; an unbudgeted
window over a hot group still ranks it in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Deterministic top-k per group (skew-safe via WindowGroupLimit; see
    module docstring). ``order_cols`` must be a total order within each
    group (include a unique tie-breaker like ``url_hash``) or ranks are
    nondeterministic.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )
