"""Query registry shared by ``__spark_entry__``, ``bench.py`` and tests.

Each entry pairs a Spark DataFrame plan with an equivalent ANSI-SQL
oracle (run by DuckDB over the same parquet tables). Column names are
aliased identically on both sides — the driver's comparator sorts
columns by name before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

class Query:
    """Registry entry pairing a Spark plan with its DuckDB oracle.

    ``oracle`` is ANSI SQL for DuckDB (None -> rows-only check) and
    resolves lazily: pass a zero-arg callable to defer SQL construction
    (golden-table VALUES literals, multi-MB JSON parses) to first access
    (cached thereafter), so importing the plans package stays cheap;
    reading ``q.oracle`` always yields ``str | None``."""

    __slots__ = ("name", "fn", "_oracle", "doc", "headline", "time_build")

    def __init__(
        self,
        name: str,
        fn: QueryFn,
        oracle,  # str | None | Callable[[], str]
        doc: str = "",  # SURVEY §2 operator ids this query exercises
        headline: bool = False,  # included in bench.py
        # True when fn() itself runs Spark jobs (driver-loop algorithms
        # like k-means fitting) — bench.py must then time CONSTRUCTION +
        # execution, or the iterations would be dishonestly excluded
        time_build: bool = False,
    ) -> None:
        self.name = name
        self.fn = fn
        self._oracle = oracle
        self.doc = doc
        self.headline = headline
        self.time_build = time_build
        if doc and not fn.__doc__:
            fn.__doc__ = doc

    @property
    def oracle(self) -> str | None:
        if callable(self._oracle):
            self._oracle = self._oracle()
        return self._oracle

    @oracle.setter
    def oracle(self, value) -> None:
        self._oracle = value


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle,  # str | None | Callable[[], str]
    doc: str = "",
    headline: bool = False,
    time_build: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            doc=doc,
            headline=headline,
            time_build=time_build,
        )
        return fn

    return deco
