"""One-time records kept beside the benchmark.

    python3 perfbench/record.py fingerprints   # -> perfbench/fingerprints.json
    python3 perfbench/record.py actions        # -> perfbench/materialize_vs_count.json

``fingerprints``: result fingerprints of the rows-only pipeline entries
(no DuckDB oracle) on the benchmark's generated tables, collected in two
fresh sessions; the benchmark's check compares against them.  The
command fails if the two sessions disagree.

``actions``: per analytics and pipeline entry, the wall time of a full
materialisation (``write.format("noop")``) against ``count()``, median
of three after one warm-up run of each, on the benchmark's tables.
``count()`` lets Catalyst prune work that does not change the row count,
so the ratio measures how much of an entry a ``count()``-based timing
leaves out.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

HERE = run.HERE


def _session(tag: str):
    work = os.path.join(run.ROOT, ".perfbench_work", f"record-{tag}-{os.getpid()}")
    run._environment(work)
    import datagen
    import workloads

    spark = run._start_session(work)
    star = os.path.join(work, "star")
    datagen.star_schema(star, workloads.SF)
    return spark, star, workloads


def _close(spark, star: str) -> None:
    run._shutdown(spark)
    shutil.rmtree(os.path.dirname(star), ignore_errors=True)


def _fingerprints_once() -> dict[str, str]:
    spark, star, workloads = _session("fp")
    from exosql_spark import cache, catalog

    try:
        out = {}
        for name in workloads.PIPELINE_ENTRIES:
            q = catalog.all_queries()[name]
            if q.oracle is None:
                out[name] = workloads.fingerprint(q.fn(spark, star).toPandas())
                cache.release_caches(spark)
        return out
    finally:
        _close(spark, star)


def _actions() -> dict:
    spark, star, workloads = _session("actions")
    from exosql_spark import cache, catalog

    qs = catalog.all_queries()
    entries = [("analytics", n) for n in workloads.Analytics(spark, "", 0, None).entries()]
    entries += [("pipeline", n) for n in workloads.PIPELINE_ENTRIES]

    def timed(name, action):
        t = time.perf_counter()
        df = qs[name].fn(spark, star)
        action(df)
        cache.release_caches(spark)
        return time.perf_counter() - t

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    rows = {}
    try:
        for wl, name in entries:
            timed(name, noop)
            timed(name, lambda df: df.count())
            full = statistics.median(timed(name, noop) for _ in range(3))
            count = statistics.median(timed(name, lambda df: df.count()) for _ in range(3))
            rows[name] = {
                "workload": wl, "full_s": round(full, 4), "count_s": round(count, 4),
                "full_over_count": round(full / count, 3),
            }
            print(name, rows[name], file=sys.stderr, flush=True)
    finally:
        _close(spark, star)
    return rows


def main(argv) -> int:
    what = argv[1] if len(argv) > 1 else ""
    if what == "fingerprints-once":
        print(json.dumps(_fingerprints_once()))
        return 0
    if what == "fingerprints":
        runs = [
            json.loads(subprocess.run(
                [sys.executable, __file__, "fingerprints-once"],
                check=True, capture_output=True, text=True,
            ).stdout.strip().splitlines()[-1])
            for _ in range(2)
        ]
        if runs[0] != runs[1]:
            print(f"fingerprints differ between sessions: {runs}", file=sys.stderr)
            return 1
        import workloads

        out = {"sf": workloads.SF, "fingerprints": runs[0]}
        with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
        return 0
    if what == "actions":
        import workloads

        rows = _actions()
        meta = {
            "sf": workloads.SF,
            "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "method": "median of 3 runs after one warm-up run of each action; "
                      "entry build included in both",
        }
        with open(os.path.join(HERE, "materialize_vs_count.json"), "w") as fh:
            json.dump({"meta": meta, "entries": rows}, fh, indent=1)
            fh.write("\n")
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv))
