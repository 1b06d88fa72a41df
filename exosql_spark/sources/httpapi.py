"""HTTP-API-as-table connector — Python DataSource API (Spark 4).

The reference exposes external HTTP services as tables through its
extractor behavior (SURVEY.md §2.1 S5; extractor contract
``execute(config, table, quals, columns)`` with qual pushdown decided
by the planner, ``lib/exosql/planner.ex :: plan/1``). This is the
idiomatic Spark 4 equivalent: a ``pyspark.sql.datasource.DataSource``
whose reader

- declares a schema (``schema()`` — the extractor ``schema/2`` twin),
- splits the URL space into :class:`InputPartition` shards so fetches
  run parallel on executors (never on the driver),
- receives Catalyst's pushable predicates in ``pushFilters`` (the
  reference's quals) and forwards them to the remote API as query
  parameters, keeping residual filters for Spark to re-apply.

The container has no network access, so the transport is injectable:
``transport`` option = ``"module:function"`` dotted path resolved at
plan time on the driver and pickled to executors. The default demo
transport synthesizes deterministic rows; a real deployment points it
at ``requests.get``.

Python-worker overhead: ``pushFilters``/``partitions`` run in a planner
worker and ``read`` in one worker per task, and PySpark starts each of
those calls with ``importlib.invalidate_caches()``.  Before CPython 3.13
that re-parsed ``pyspark.zip`` and the ``spark-core`` jar for every zip
importer on the worker's path (~220 ms per call, against < 1 ms of
actual planning and reading for the demo table).  Unpickling this
module imports the package, whose :mod:`exosql_spark._zipimport_cache`
makes the call re-read only archives whose stat key changed — a gate,
not a lazy re-read, so one method is replaced and a changed archive is
re-read exactly as the stdlib would.
"""

from __future__ import annotations

import importlib
import json
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType


def _resolve(dotted: str) -> Callable:
    mod, _, fn = dotted.partition(":")
    return getattr(importlib.import_module(mod), fn)


def demo_transport(url: str, params: dict[str, str]) -> list[dict]:
    """Deterministic stand-in for ``requests.get(url, params).json()``.

    Emits rows derived from the page number; honors an ``id_min``
    filter param the way a real API would, so pushdown is observable.
    """
    page = int(params.get("page", 0))
    id_min = int(params.get("id_min", -1))
    rows = [
        {"id": page * 10 + i, "page": page, "name": f"item_{page}_{i}"}
        for i in range(10)
    ]
    return [r for r in rows if r["id"] > id_min]


class _HttpPartition(InputPartition):
    def __init__(self, url: str, params: dict[str, str]):
        self.url = url
        self.params = params


class _HttpReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._url = options.get("url", "https://api.example.com/items")
        self._pages = int(options.get("pages", "4"))
        self._transport = _resolve(
            options.get("transport", "exosql_spark.sources.httpapi:demo_transport")
        )
        self._pushed_params: dict[str, str] = {}

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """Qual pushdown (reference planner's where-splitting): simple
        ``col > lit`` quals the remote API understands become request
        params; everything else is yielded back for Spark to apply."""
        from pyspark.sql.datasource import GreaterThan

        residual = []
        for f in filters:
            if isinstance(f, GreaterThan) and f.attribute == ("id",):
                self._pushed_params["id_min"] = str(f.value)
            else:
                residual.append(f)
        return iter(residual)

    def partitions(self) -> Sequence[InputPartition]:
        """One shard per page — fetches parallelize across executors;
        at scale 'pages' is whatever shards the API offers (cursor
        ranges, date slices, tenant ids)."""
        return [
            _HttpPartition(self._url, {"page": str(p), **self._pushed_params})
            for p in range(self._pages)
        ]

    def read(self, partition: _HttpPartition) -> Iterator[tuple]:
        names = [f.name for f in self._schema.fields]
        for row in self._transport(partition.url, partition.params):
            yield tuple(row.get(n) for n in names)


class HttpDataSource(DataSource):
    """``spark.read.format("exosql_http").option("url", …).load()``.

    Options: ``url``, ``pages`` (shard count), ``schema_ddl``
    (column DDL, default matches demo_transport), ``transport``
    (dotted ``module:function``).
    """

    @classmethod
    def name(cls) -> str:
        return "exosql_http"

    def schema(self):
        return self.options.get("schema_ddl", "id bigint, page bigint, name string")

    def reader(self, schema: StructType) -> DataSourceReader:
        return _HttpReader(schema, dict(self.options))


def register(spark) -> None:
    try:  # required for pushFilters; runtime-settable in local mode
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    spark.dataSource.register(HttpDataSource)


def http_table(spark, url: str = "https://api.example.com/items", pages: int = 4, **options):
    register(spark)
    reader = spark.read.format("exosql_http").option("url", url).option("pages", str(pages))
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()
