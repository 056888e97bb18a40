"""Selection queries: projection, ORDER BY, LIMIT with offset pagination.

Reference operators: SelectionOnlyOperator.java:45 (early termination at
LIMIT — :76-87), SelectionOrderByOperator.java:43 (bounded priority queue of
size offset+limit per segment), EmptySelectionOperator.java:38 (LIMIT 0 →
schema only), broker-side merge with pagination
(core/query/selection/SelectionOperatorService.java:70-109,
BrokerReduceService.java:284-313). Defaults offset=0 size=10
(request.thrift:130-131).

Spark equivalents are all built-in physical strategies:
``df.limit(n)`` → CollectLimitExec (early termination),
``df.orderBy(...).limit(k)`` → TakeOrderedAndProjectExec (the same
per-partition bounded top-k then merge the reference implements by hand),
``df.offset(o)`` (Spark ≥ 3.4) for pagination.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_LIMIT = 10  # request.thrift:130-131


def select_order_by(df: DataFrame, columns: Sequence[Column | str],
                    order_by: Sequence[Column], where: Column | None = None,
                    limit: int = DEFAULT_LIMIT, offset: int = 0) -> DataFrame:
    """SELECT cols FROM t [WHERE ...] ORDER BY ... LIMIT offset, n.

    Catalyst plans orderBy+limit as TakeOrderedAndProject — a per-partition
    bounded top-(offset+limit) then a single merge, exactly the reference's
    PriorityQueue scheme (SelectionOperatorService.java:76-109) but
    distributed.
    """
    if where is not None:
        df = df.where(where)
    out = df.select(*columns).orderBy(*order_by)
    if offset:
        out = out.offset(offset)
    return out.limit(limit)
