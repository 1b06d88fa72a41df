"""The benchmark's three workloads.

Each workload is driven by one client thread in a closed loop: the next
operation starts only after the previous one has fully materialised.

- ``dashboard``: seeded small ``$var`` SELECTs through the federation
  API (``Context.prepare(sql).run(vars)`` then ``to_result``) over
  parquet, CSV, all-strings CSV, JSON-lines and HTTP sources.
- ``analytics``: the 21 ``tpch``-tagged catalog entries plus
  ``q1_pricing_summary``, built with ``io.load_table`` and materialised
  with ``write.format("noop")``.
- ``pipeline``: eight LLM data-pipeline catalog entries, with
  ``cache.release_caches`` at every operation boundary and the curation
  output written with ``sinks.write_table`` and read back.

A workload exposes ``setup`` (fixture generation plus source
registration, repeatable), ``warmup_and_check`` (untimed), ``plan``
(the seeded operation list of the timed phase), ``run_op`` and
``check_timed``.  Spans and counters go to the workload's ``tr``
tracer, which is disabled outside the traced pass.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import random
from dataclasses import dataclass, field
from typing import Any

import datagen
import measure

SF = 0.01
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@functools.cache
def _conftest():
    """The repo's oracle comparator (``tests/conftest.py``), loaded by
    path so the benchmark compares exactly as the test suite does."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(ROOT, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck_star(star_dir: str):
    import duckdb
    from exosql_spark.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{star_dir}/{t}.parquet'")
    return con


def fingerprint(pdf) -> str:
    """sha1 of a result in the comparator's canonical form (columns by
    name, rows by rendered value)."""
    canon = _conftest()._canon(pdf)
    h = hashlib.sha1("\x1f".join(canon.columns).encode())
    for row in canon.astype(str).itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest()


@dataclass
class Op:
    idx: int
    kind: str
    params: dict[str, Any] = field(default_factory=dict)
    cold: bool = False


@dataclass
class OpResult:
    ok: bool = True
    error: str = ""
    rows: list | None = None
    n_rows: int = 0
    digest: tuple | None = None  # (row count, row-hash sum) seen by the action


# -- dashboard -----------------------------------------------------------

# exosql-dialect SQL through the federation API, and the same question
# asked of DuckDB over the same fixture files with the same parameters.
DASH_SQL = {
    "point": (
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM tpch.customer "
        "WHERE c_custkey = $ck",
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
        "WHERE c_custkey = $ck",
    ),
    "join_agg": (
        "SELECT n.n_name AS nation, count(*) AS purchases, sum(p.cents) AS cents "
        "FROM crm.purchases p JOIN tpch.customer c ON p.custkey = c.c_custkey "
        "JOIN tpch.nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE p.day BETWEEN $d0 AND $d1 GROUP BY n.n_name",
        "SELECT n.n_name AS nation, count(*) AS purchases, sum(p.cents) AS cents "
        "FROM purchases p JOIN customer c ON p.custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE p.day BETWEEN $d0 AND $d1 GROUP BY n.n_name",
    ),
    "bucket": (
        "SELECT s.device.os AS os, CAST(floor(s.t / 3600.0) AS BIGINT) AS hour, "
        "count(*) AS sessions, sum(s.dur_ms) AS dur_ms FROM logs.sessions s "
        "WHERE s.user_id = $uid GROUP BY s.device.os, CAST(floor(s.t / 3600.0) AS BIGINT)",
        "SELECT s.device.os AS os, CAST(floor(s.t / 3600.0) AS BIGINT) AS hour, "
        "count(*) AS sessions, sum(s.dur_ms) AS dur_ms FROM sessions s "
        "WHERE s.user_id = $uid GROUP BY ALL",
    ),
    "api": (
        "SELECT id, page, name FROM api.items WHERE id > $min",
        "SELECT id, page, name FROM items WHERE id > $min",
    ),
    "coerced": (
        "SELECT name, price * $qty AS cost, stock - $qty AS remaining "
        "FROM shop.products WHERE id = $pid",
        "SELECT name, CAST(price AS DOUBLE) * $qty AS cost, "
        "CAST(stock AS DOUBLE) - $qty AS remaining FROM products "
        "WHERE CAST(id AS BIGINT) = $pid",
    ),
}
DASH_KINDS = tuple(DASH_SQL)
API_PAGES = 4
ROUND = 20  # operations per dashboard round: 4 of each kind, one cold


def safe_run(wl, op: Op) -> OpResult:
    """``wl.run_op(op)``; an exception is a failed operation, not a
    crash of the benchmark."""
    try:
        return wl.run_op(op)
    except Exception as e:  # noqa: BLE001 - a failed operation is a result
        return OpResult(ok=False, error=f"{type(e).__name__}: {str(e).splitlines()[0][:300]}")


def _norm(v):
    return repr(v) if isinstance(v, float) else v


def _canon_rows(rows) -> list:
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


class Dashboard:
    name = "dashboard"
    unit_ops = ROUND
    planned_ops_s = 6.0

    def __init__(self, spark, work_dir: str, seed: int, tracer: measure.Tracer):
        self.spark, self.work, self.seed, self.tr = spark, work_dir, seed, tracer
        self.specs: dict[str, Any] = {}
        self.prepared: dict[str, Any] = {}

    def setup(self, rep: int) -> None:
        from exosql_spark import Context

        star = os.path.join(self.work, f"star-{rep}")
        counts = datagen.star_schema(star, SF)
        dirs = datagen.federation_fixtures(
            os.path.join(self.work, f"fed-{rep}"), self.seed, counts["customer"]
        )
        self.n_cust = counts["customer"]
        self.star = star
        self.dirs = dirs
        self.specs = {
            "tpch": {"parquet": star},
            "crm": {"csv": dirs["crm"]},
            "shop": {"csv": dirs["shop"], "infer_schema": False},
            "logs": {"jsonl": dirs["logs"]},
            "api": {"http": {"table": "items", "pages": API_PAGES}},
        }
        ctx = Context(self.spark, self.specs)
        self.prepared = {}
        for kind in DASH_KINDS:
            with self.tr.span("context.prepare"):
                self.prepared[kind] = ctx.prepare(DASH_SQL[kind][0], coerce=kind == "coerced")

    def _params(self, rng: random.Random, kind: str) -> dict[str, Any]:
        if kind == "point":
            return {"ck": rng.randrange(self.n_cust)}
        if kind == "join_agg":
            d0 = rng.randrange(300)
            return {"d0": d0, "d1": d0 + rng.randrange(7, 61)}
        if kind == "bucket":
            return {"uid": rng.randrange(200)}
        if kind == "api":
            return {"min": rng.randrange(-1, API_PAGES * 10 - 20)}
        return {"pid": rng.randrange(500), "qty": rng.randrange(1, 21)}

    def plan(self, n_units: int, salt: str) -> list[Op]:
        """``n_units`` rounds of 20: each round holds four operations of
        every kind in seeded order, with parameters from the seed.  In
        round r the operation of kind ``r mod 5`` at a seeded position
        opens a fresh Context; fixing the kind keeps the rank of every
        kind in the latency distribution the same for every seed."""
        rng = random.Random(f"{self.seed}/{salt}")
        ops: list[Op] = []
        for r in range(n_units):
            kinds = [k for k in DASH_KINDS for _ in range(ROUND // len(DASH_KINDS))]
            rng.shuffle(kinds)
            cold_kind = DASH_KINDS[r % len(DASH_KINDS)]
            cold_at = rng.choice([j for j, k in enumerate(kinds) if k == cold_kind])
            for j, kind in enumerate(kinds):
                ops.append(Op(len(ops), kind, self._params(rng, kind), cold=j == cold_at))
        return ops

    def run_op(self, op: Op) -> OpResult:
        from exosql_spark import Context, to_result

        tr = self.tr
        if op.cold:
            with tr.span("context.cold_prepare"):
                prep = Context(self.spark, self.specs).prepare(
                    DASH_SQL[op.kind][0], coerce=op.kind == "coerced"
                )
        else:
            prep = self.prepared[op.kind]
        with tr.span("context.run"):
            df = prep.run(op.params)
        if tr.enabled:
            with tr.span("engine.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("engine.action"):
            res = to_result(df)
        return OpResult(rows=res.rows, n_rows=len(res.rows))

    def warmup_and_check(self) -> dict[str, str]:
        """One untimed round; its answers are checked like timed ones."""
        ops = self.plan(1, "warmup")
        results = [safe_run(self, op) for op in ops]
        return {f"warmup-{op.idx}-{op.kind}": why for op, why in self.check_timed(ops, results)}

    def _duck(self):
        import pandas as pd
        from exosql_spark.sources.httpapi import demo_transport

        con = duck_star(self.star)
        con.execute(
            f"CREATE VIEW purchases AS SELECT * FROM "
            f"read_csv_auto('{self.dirs['crm']}/purchases.csv')"
        )
        con.execute(
            f"CREATE VIEW products AS SELECT * FROM "
            f"read_csv('{self.dirs['shop']}/products.csv', header=true, all_varchar=true)"
        )
        con.execute(
            f"CREATE VIEW sessions AS SELECT * FROM "
            f"read_json_auto('{self.dirs['logs']}/sessions.jsonl')"
        )
        items = pd.DataFrame(
            [r for p in range(API_PAGES) for r in demo_transport("", {"page": str(p)})]
        )
        con.register("items", items)
        return con

    def check_timed(self, ops: list[Op], results: list[OpResult]) -> list[tuple[Op, str]]:
        con = self._duck()
        bad = []
        for op, res in zip(ops, results):
            if not res.ok:
                bad.append((op, res.error))
                continue
            want = con.execute(DASH_SQL[op.kind][1], op.params).fetchall()
            if _canon_rows(res.rows) != _canon_rows(want):
                bad.append((op, f"{op.kind} {op.params}: answer differs from DuckDB's "
                                f"({len(res.rows)} vs {len(want)} rows)"))
        con.close()
        return bad


# -- catalog workloads ---------------------------------------------------


ANALYTICS_EXTRA = ("q1_pricing_summary",)
PIPELINE_ENTRIES = (
    "graph_pagerank_star_planted",
    "graph_kcore_planted",
    "text_bpe_merges_planted",
    "dedup_minhash_pairs",
    "dedup_incremental_batch",
    "similarity_topk_ivfpq_rerank",
    "curate_corpus_pipeline",
    "similarity_topk_ivf_lifecycle_planted",
)
WRITE_BACK = "curate_corpus_pipeline"
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")


def observed(df):
    """``df`` with an observation of its row count and an
    order-independent hash of its rows (sum of ``xxhash64`` over all
    columns, reduced mod 2^31 - 1 so the sum cannot overflow), taken as
    the frame is materialised by whatever action runs it."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in df.columns]
    row_hash = F.pmod(F.xxhash64(*cols), F.lit(2**31 - 1)) if cols else F.lit(0)
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(row_hash).alias("h"))
    return df, obs


def digest(obs) -> tuple:
    got = obs.get
    return (got["n"], got["h"])


class _Collected:
    """A collected result in the shape the oracle comparator takes."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 (DataFrame API name)
        return self._pdf


class CatalogWorkload:
    """Shared code of the analytics and pipeline workloads: one
    operation is one catalog entry, built by its ``fn(spark, sf_dir)``
    and materialised in full."""

    release_caches = False

    def __init__(self, spark, work_dir: str, seed: int, tracer: measure.Tracer):
        self.spark, self.work, self.seed, self.tr = spark, work_dir, seed, tracer
        self.bad: dict[str, str] = {}
        self.digests: dict[str, tuple] = {}

    def entries(self) -> list[str]:
        raise NotImplementedError

    @property
    def unit_ops(self) -> int:
        return len(self.entries())

    def setup(self, rep: int) -> None:
        from exosql_spark import catalog
        from exosql_spark.io import TABLES, load_table

        self.star = os.path.join(self.work, f"star-{rep}")
        datagen.star_schema(self.star, SF)
        for t in TABLES:
            load_table(self.spark, self.star, t)
        self.catalog = catalog.all_queries()

    def plan(self, n_units: int, salt: str) -> list[Op]:
        """``n_units`` passes over the entries, each pass in its own
        seeded order."""
        rng = random.Random(f"{self.seed}/{salt}")
        ops: list[Op] = []
        for _ in range(n_units):
            names = list(self.entries())
            rng.shuffle(names)
            ops.extend(Op(len(ops) + i, n) for i, n in enumerate(names))
        return ops

    def build(self, name: str):
        with self.tr.span("queries.build"):
            return self.catalog[name].fn(self.spark, self.star)

    def _write_back(self, df):
        from exosql_spark import sinks

        path = os.path.join(self.work, "sink", "curated")
        with self.tr.span("sinks.write"):
            sinks.write_table(df, path)
        if self.tr.enabled:
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            self.tr.count("sinks.files_written", len(files))
            self.tr.count("sinks.bytes", sum(os.path.getsize(os.path.join(path, f)) for f in files))
            self.tr.count("sinks.rows", self.digests[WRITE_BACK][0])
        return self.spark.read.parquet(path)

    def run_op(self, op: Op) -> OpResult:
        from exosql_spark import cache

        tr = self.tr
        if tr.enabled:
            self.spark.sparkContext.setJobGroup(f"pb-{op.idx}-build", op.kind)
        df = self.build(op.kind)
        if tr.enabled:
            self.spark.sparkContext.setJobGroup(f"pb-{op.idx}-act", op.kind)
            with tr.span("engine.plan"):
                df._jdf.queryExecution().executedPlan()
        if op.kind == WRITE_BACK:
            df = self._write_back(df)
        df, obs = observed(df)
        with tr.span("engine.action"):
            df.write.format("noop").mode("overwrite").save()
        got = digest(obs)
        if self.release_caches:
            if tr.enabled:
                tr.count("cache.live_frames", cache.live_count(self.spark))
                tr.count("cache.storage_mb", measure.storage_mb(self.spark))
            with tr.span("cache.release"):
                tr.count("cache.released", cache.release_caches(self.spark))
        return OpResult(n_rows=got[0], digest=got)

    def _check_entry(self, name: str, duck, cf, prints: dict[str, str]) -> str:
        q = self.catalog[name]
        df = q.fn(self.spark, self.star)
        if name == WRITE_BACK:
            df = self._write_back(df)
        df, obs = observed(df)
        pdf = df.toPandas()
        self.digests[name] = digest(obs)
        if q.oracle is not None:
            try:
                cf.assert_oracle_match(_Collected(pdf), duck, q.oracle, name)
            except AssertionError as e:
                return str(e).splitlines()[0][:300]
            return ""
        got = fingerprint(pdf)
        if prints.get(name) != got:
            return f"{name}: result fingerprint {got} != recorded {prints.get(name)}"
        return ""

    def warmup_and_check(self) -> dict[str, str]:
        """One untimed pass in seeded order: each entry is built,
        collected and compared with its DuckDB oracle, or for rows-only
        entries with the recorded result fingerprint.  Doubles as the
        warm-up.  Each entry's row count and row-hash sum are recorded
        for :meth:`check_timed`.  Entries that fail here count as failed
        in every timed operation."""
        from exosql_spark import cache

        cf = _conftest()
        duck = duck_star(self.star)
        with open(FINGERPRINTS) as fh:
            prints = json.load(fh)["fingerprints"]
        for op in self.plan(1, "warmup"):
            try:
                why = self._check_entry(op.kind, duck, cf, prints)
            except Exception as e:  # noqa: BLE001 - a failing entry is a result
                why = f"{op.kind}: {type(e).__name__}: {str(e).splitlines()[0][:300]}"
            if why:
                self.bad[op.kind] = why
            cache.release_caches(self.spark)
        duck.close()
        return dict(self.bad)

    def check_timed(self, ops: list[Op], results: list[OpResult]) -> list[tuple[Op, str]]:
        """A timed operation is correct when its entry passed the
        warm-up check and the action saw the same row count and
        row-hash sum as the checked warm-up answer."""
        out = []
        for op, res in zip(ops, results):
            if not res.ok:
                out.append((op, res.error))
            elif op.kind in self.bad:
                out.append((op, self.bad[op.kind]))
            elif res.digest != self.digests.get(op.kind):
                out.append((op, f"{op.kind}: (rows, hash) {res.digest} != checked "
                                f"answer's {self.digests.get(op.kind)}"))
        return out


class Analytics(CatalogWorkload):
    name = "analytics"
    planned_ops_s = 2.1

    def entries(self) -> list[str]:
        from exosql_spark import catalog

        qs = catalog.all_queries()
        return [n for n, q in qs.items() if "tpch" in q.tags] + list(ANALYTICS_EXTRA)


class Pipeline(CatalogWorkload):
    name = "pipeline"
    planned_ops_s = 0.45
    release_caches = True

    def entries(self) -> list[str]:
        return list(PIPELINE_ENTRIES)

    def plan(self, n_units: int, salt: str) -> list[Op]:
        """The warm-up pass runs in seeded order, timed passes in
        registration order: the first entries of a timed pass absorb
        residual warm-up (the lifecycle entry ran ~18% slower in the
        first three positions than in the last three), which a seeded
        order turns into run-to-run spread."""
        if salt == "warmup":
            return super().plan(n_units, salt)
        return [Op(i, n) for i, n in enumerate(self.entries() * n_units)]


WORKLOADS = {w.name: w for w in (Dashboard, Analytics, Pipeline)}

