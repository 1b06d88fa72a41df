"""Scheduling scope for fixed-shape iteration loops.

Several operators run a bounded driver loop of structurally identical
Spark jobs: the graph power iterations (pagerank, hits, kcore), both
connected-components variants and BPE's merge loop.  Two
session-level defaults are wrong for that shape, measured on the
PageRank loop (63 jobs / 121 stages for 10 iterations at sf0.1):

- AQE re-plans and stage-materializes every tiny fixed-shape iteration
  as separate jobs — pure scheduler overhead when the plan shape never
  changes and there is nothing for AQE to adapt (the loops' persisted
  sides are cache-partitioned, so skew splitting cannot reach them;
  the keyed exchanges are unique-key);
- the session's shuffle-partition ceiling schedules a full task wave
  per exchange per iteration even when the loop's frames fit a handful
  of tasks.

:func:`loop_scope` is the one place that policy is decided: it derives
the loop's partition count from the MEASURED per-iteration row bound
(:func:`loop_partitions`; guide §2: scale-adaptive partitioning,
derived from input size, never a constant tuned for local mode or the
cluster), clamped to the session ceiling; runs the loop under AQE-off +
that count (:func:`loop_conf`); re-lays out the loop's persisted inputs
when the derived count is far below their layout; and releases those
inputs and restores the caller's confs however the loop exits.

The loops share the scope, not a driver: they stop in six different
ways (a fixed count, an optional tolerance collect, an observed sum, an
observed changed count, edge-set equality, an empty argmax), so a
generic ``fixpoint(init, step, converged)`` would leave every caller
knowing everything it knows today.
"""

from __future__ import annotations

from contextlib import contextmanager

#: Target rows per shuffle partition inside iteration loops.  The
#: frames those loops exchange are narrow (a few 8-byte columns) and
#: the per-row work is a hash-join probe + sum — compute-light, so
#: partitions sized well under the guide §2.2 shuffle ceiling (1M rows
#: ≈ 25–30 MB) keep mid-size inputs parallel on wide clusters without
#: making tasks small in absolute terms.
LOOP_ROWS_PER_TASK = 1_000_000


def loop_partitions(spark, n_rows: int) -> tuple[int, int]:
    """(derived loop partition count, session default)."""
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    derived = -(-max(int(n_rows), 1) // LOOP_ROWS_PER_TASK)
    # floor of a few tasks keeps adjacent tiny stages overlapping in
    # local runs; at scale ``derived`` dominates and the floor is moot
    p = max(1, min(4, default), min(default, derived))
    return p, default


@contextmanager
def loop_conf(spark, partitions: int):
    """AQE-off + pinned shuffle partitions for the scope's duration;
    always restores the caller's confs (exception path included)."""
    conf = spark.conf
    saved_aqe = conf.get("spark.sql.adaptive.enabled")
    saved_p = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", saved_aqe)
        conf.set("spark.sql.shuffle.partitions", saved_p)


@contextmanager
def loop_scope(spark, n_rows: int, *persisted):
    """Iteration scope for a loop whose frames are bounded by
    ``n_rows`` rows.  ``persisted`` are ``(frame, key)`` pairs: frames
    the caller persisted, hash-partitioned by ``key``, that every
    iteration re-reads.  Yields the list of those frames as the loop
    must use them.

    When the derived partition count is at most half the session
    default, each frame is re-laid out ONCE to that count from its
    cache (a bounded job over an already-small frame — the re-layout
    only triggers when the input is small relative to the ceiling, so
    its cost is self-limiting; big inputs keep their layout and skip
    it); the new frame is materialized before the old cache is
    dropped, so the re-layout never re-reads the raw input.  On exit —
    normal or by exception — every yielded frame is unpersisted and the
    caller's confs are restored."""
    p, default = loop_partitions(spark, n_rows)
    old = [frame for frame, _ in persisted]
    frames = list(old)
    try:
        with loop_conf(spark, p):
            if p * 2 <= default:
                for i, (frame, key) in enumerate(persisted):
                    frames[i] = frame.repartition(p, key).persist()
                    frames[i].count()  # materialize from the old cache
                    frame.unpersist()
            yield frames
    finally:
        # old layouts too: a re-layout that raised left them cached
        for frame in frames + old:
            frame.unpersist()
