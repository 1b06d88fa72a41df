"""Connector tests: HTTP Python DataSource (partitioning + qual
pushdown), node source, context integration."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F

from exosql_spark.context import Context
from exosql_spark.sources.httpapi import _HttpReader, http_table


class TestHttpDataSource:
    def test_rows_and_partitions(self, spark):
        df = http_table(spark, pages=3)
        assert df.count() == 30
        assert df.rdd.getNumPartitions() == 3  # one shard per page

    def test_filter_results(self, spark):
        got = sorted(
            r.id for r in http_table(spark, pages=3).filter(F.col("id") > 25).collect()
        )
        assert got == [26, 27, 28, 29]

    def test_qual_pushdown_reaches_transport(self, spark):
        """The reference pushes quals into extractor scans
        (planner.ex where-splitting); our reader must translate
        Catalyst filters into request params."""
        from pyspark.sql.datasource import GreaterThan, IsNotNull

        from pyspark.sql.types import StructType

        schema = StructType.fromDDL("id bigint, page bigint, name string")
        reader = _HttpReader(schema, {})
        residual = list(
            reader.pushFilters([GreaterThan(("id",), 25), IsNotNull(("name",))])
        )
        assert reader._pushed_params == {"id_min": "25"}
        # non-translatable filters are handed back to Spark
        assert len(residual) == 1 and isinstance(residual[0], IsNotNull)

    def test_via_context(self, spark):
        ctx = Context(spark, {"api": {"http": {"pages": 2, "table": "items"}}})
        n = ctx.sql("SELECT count(*) AS n FROM api.items").collect()[0].n
        assert n == 20

    def test_worker_runs_stat_gated_invalidate_caches(self, spark):
        """Python workers pay ``importlib.invalidate_caches()`` on every
        planner call and task; the package's stat-gated zipimporter
        method must be the one they run (stdlib on Python >= 3.13)."""
        import pandas as pd

        ctx = Context(spark, {"api": {"http": {"pages": 2, "table": "items"}}})
        assert ctx.sql("SELECT count(*) AS n FROM api.items").collect()[0].n == 20

        def probe(batches):
            import zipimport

            import exosql_spark  # noqa: F401

            for _ in batches:
                yield pd.DataFrame(
                    {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
                )

        got = spark.range(1).mapInPandas(probe, "m string").collect()[0].m
        expected = (
            "exosql_spark._zipimport_cache"
            if sys.version_info < (3, 13)
            else "zipimport"
        )
        assert got == expected


_OTHER_CWD_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from exosql_spark import Context, get_spark
spark = get_spark(cores=2, extra_conf={"spark.driver.memory": "1g"})
try:
    ctx = Context(spark, {"api": {"http": {"pages": 2, "table": "items"}}})
    print("ROWS", len(ctx.sql("SELECT * FROM api.items").collect()))
finally:
    spark.stop()
"""


def test_http_source_from_any_working_directory(tmp_path):
    """Spark's Python workers start in the driver's working directory
    with the JVM-built PYTHONPATH; get_spark must hand them the package
    so a driver run outside the repository can still unpickle the HTTP
    data source."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", _OTHER_CWD_CHILD, root],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "ROWS 20" in res.stdout, res.stderr[-2000:]


class TestNodeSource:
    def test_tables(self, spark):
        ctx = Context(spark, {"sys": {"node": True}})
        cpu = ctx.sql("SELECT n_cpus FROM sys.cpu").collect()
        assert cpu[0].n_cpus >= 1
        mem = ctx.sql("SELECT count(*) AS n FROM sys.memory").collect()[0].n
        assert mem >= 3
        proc = ctx.sql("SELECT pid FROM sys.process").collect()
        assert proc[0].pid > 0

    def test_pinned_snapshot_injection(self, spark):
        """{"node": {...}} routes a fixed stats provider behind the
        same table surface — deterministic values, same schemas as
        the live tables (the source_node_pinned driver entry's
        mechanism)."""
        snap = {
            "cpu": (8, 0.5, 0.25, 0.125),
            "meminfo": {"MemTotal": 1000, "MemFree": 400, "Ignored": 7},
            "process": (99, 1.0, 2.0, 300),
        }
        ctx = Context(spark, {"sys": {"node": snap}})
        assert ctx.sql("SELECT n_cpus FROM sys.cpu").collect()[0].n_cpus == 8
        mem = {
            r.key: r.kb
            for r in ctx.sql("SELECT key, kb FROM sys.memory").collect()
        }
        assert mem == {"MemTotal": 1000, "MemFree": 400}  # whitelist applies
        assert ctx.sql("SELECT pid FROM sys.process").collect()[0].pid == 99
        # live and pinned expose identical schemas
        live = Context(spark, {"sys": {"node": True}})
        for tbl in ("cpu", "memory", "process"):
            a = ctx.sql(f"SELECT * FROM sys.{tbl}").schema
            b = live.sql(f"SELECT * FROM sys.{tbl}").schema
            assert a == b, tbl


class TestJsonlDir:
    def test_jsonl_tables_and_nested_schema(self, spark, tmp_path):
        import json

        d = tmp_path / "jdb"
        d.mkdir()
        with open(d / "items.jsonl", "w") as fh:
            for i in range(3):
                fh.write(json.dumps({"id": i, "meta": {"rank": i * 2}}) + "\n")
        with open(d / "tags.json", "w") as fh:
            fh.write(json.dumps({"id": 1, "tag": "x"}) + "\n")
        from exosql_spark.sources import jsonl_dir

        tables = jsonl_dir(spark, str(d))
        assert set(tables) == {"items", "tags"}
        rows = {r.id: r.meta.rank for r in tables["items"].collect()}
        assert rows == {0: 0, 1: 2, 2: 4}

    def test_missing_dir_raises_path_not_found(self, spark):
        import pytest as _pt
        from pyspark.errors import AnalysisException

        from exosql_spark.sources import jsonl_dir

        with _pt.raises(AnalysisException, match="PATH_NOT_FOUND"):
            jsonl_dir(spark, "/no/such/dir")


class TestOrcDir:
    def test_orc_tables_and_pushdown(self, spark, tmp_path):
        """Stem = table; a filter on the ORC side must reach the scan
        as a pushed predicate (the native reader's contract — the
        reason this source needs no manual qual handling)."""
        d = tmp_path / "odb"
        d.mkdir()
        spark.range(100).selectExpr("id AS k", "id % 7 AS class").write.orc(
            str(d / "part_class.orc")
        )
        from exosql_spark.sources import orc_dir

        tables = orc_dir(spark, str(d))
        assert set(tables) == {"part_class"}
        df = tables["part_class"].filter("k >= 90")
        assert df.count() == 10
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(k), GreaterThanOrEqual(k,90" in plan, plan

    def test_missing_dir_raises_path_not_found(self, spark):
        import pytest as _pt
        from pyspark.errors import AnalysisException

        from exosql_spark.sources import orc_dir

        with _pt.raises(AnalysisException, match="PATH_NOT_FOUND"):
            orc_dir(spark, "/no/such/dir")
