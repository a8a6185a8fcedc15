"""Size routing for driver-sized operators: one bounded fetch per router.

Rule: materialize the input once (the relation the distributed route
reads) and :func:`bounded_fetch` it with the router's cap. The rows are
the driver route's input; ``None`` sends the caller to its distributed
route. Over the cap the fetch moves at most ``cap + 1`` rows to the
driver and discards them, no more than the driver route holds at the cap.

Caps, read at call time so a test that patches one forces its route:
:data:`DRIVER_EDGE_ROWS` (``dedup.connected_components``,
``closure.transitive_closure``), ``closure.FCA_LOCAL_ROWS``
(``closure.first_common_ancestor``) and ``bpe.MAX_DRIVER_VOCAB_CELLS``
(``bpe.bpe_train``: a row cap on the fetch, then a cell check). The
similarity ``max_queries`` guards stay counts: a fetch over their cap
would pull the D-wide vectors they keep off the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

#: Edge/hop tables at or under this row count resolve on the driver
#: (union-find, semi-naive BFS). Two longs per row: a few MB at the cap.
DRIVER_EDGE_ROWS = 250_000


def bounded_fetch(df: DataFrame, cap: int) -> list[Row] | None:
    """The rows of ``df`` when there are at most ``cap``, else ``None``.
    One job at any partition count: one task reads the ``coalesce(1)``
    partitions in order and stops after ``cap + 1`` rows (a bare
    ``limit().collect()`` scans 1, 4, 16, ... partitions in successive
    jobs). That task runs ``df``'s last stage serially, so fetch from a
    checkpoint, a shuffle output or a small scan."""
    rows = df.coalesce(1).limit(cap + 1).collect()
    return rows if len(rows) <= cap else None
