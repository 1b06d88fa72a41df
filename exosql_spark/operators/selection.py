"""Corpus-selection operators — the "which documents make the cut"
stage of a training-data pipeline (beyond-reference LLM surface; the
reference has no corpus-curation operators):

- :func:`take_while_budget` — greedy selection under a global weight
  budget ("take the best documents until the token budget is spent"),
  the canonical data-mixture step after quality scoring.
- :func:`capped_per_key` — per-key top-``n`` retention ("at most N
  documents per domain"), the RefinedWeb/C4-style anti-monoculture
  cap.

Scale design — both operators exist because their one-line SQL
equivalents hide a scale-killer, and the whole point here is to keep
the semantics while removing it:

``take_while_budget``'s SQL twin is a cumulative window over a GLOBAL
``ORDER BY`` — which Spark executes as a single-partition window (one
task sorts and scans the entire corpus).  Here the global prefix sum
is distributed, textbook-style: ``repartitionByRange`` on the
selection order gives range-ordered partitions; per-partition weight
totals (one tiny P-row aggregate) prefix-sum on the driver into base
offsets; a broadcast joins the offsets back; each partition then
computes its EXACT global cumulative weight independently — the
window is partitioned by ``spark_partition_id()``, so every task
sorts only its own range.  Partitions whose base offset already
exceeds the budget are dropped BEFORE the window (with non-negative
weights every row in them is over budget), so the late stages touch
only the ~budget-sized prefix, not the corpus.

``capped_per_key``'s SQL twin is ``row_number() OVER (PARTITION BY
key ...)`` — correct until one hot key (a crawl's biggest domain) owns
10⁹ rows and its window partition becomes one giant task.  Here a
partition-local pre-trim (the two-level top-k idiom from
``similarity.cosine_topk``) slices every (scan-partition, key) group
to ``n`` rows first, so the real window sees ≤ n·P rows per key —
bounded regardless of key skew.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from exosql_spark.cache import managed_persist_disk

# Sizing rule for the derived range-partition count: each partition's
# sort+window task sees about this many rows. A few million rows of
# (weight, order-key) columns is comfortably one task's memory; at
# 100 TB / 10^12 rows this derives hundreds of thousands of partitions
# instead of 32 thousand-times-oversized ones.
_TARGET_ROWS_PER_PART = 2_000_000


def derive_n_parts(n_rows: int, floor: int = 32) -> int:
    """Range-partition count for ``n_rows``: ``rows / target`` with a
    small floor so tiny frames still parallelize across a node."""
    return max(floor, -(-int(n_rows) // _TARGET_ROWS_PER_PART))


def take_while_budget(
    df: DataFrame,
    weight_col: str,
    order_by: list[Column],
    budget: float | None = None,
    fraction: float | None = None,
    n_parts: int | None = None,
    cum_col: str = "cum_weight",
) -> DataFrame:
    """Rows of ``df`` in ``order_by`` order while the running total of
    ``weight_col`` stays ≤ the budget, with the exact global running
    total appended as ``cum_col``.

    ``order_by`` must be a TOTAL order (include a unique id as the
    final key) — ties straddling a partition boundary would otherwise
    make the prefix sums order-dependent.  ``weight_col`` must be
    non-negative: the partition-level budget prune below relies on
    per-row cumulative weights never decreasing.

    Exactly one of ``budget`` (absolute) or ``fraction`` (of the
    grand total — resolved from the same per-partition aggregate that
    computes the offsets, no extra pass) must be given.

    ``n_parts=None`` (default) derives the range-partition count from
    a cheap ``df.count()`` as ``rows / _TARGET_ROWS_PER_PART`` (floor
    32) — the semdedup-auto-k lesson: a constant that is right at
    sf0.1 is a single-sort-task time bomb at 100 TB.  Pass it
    explicitly to skip the count (e.g. when the caller already knows
    the cardinality).

    Execution contract: composing this operator runs ONE small Spark
    job at plan-composition time (the P-row per-partition totals
    aggregate — the distributed prefix-sum's driver step), plus the
    sizing ``count()`` when ``n_parts`` is not passed.  The frame it
    aggregates is range-partitioned and persisted, so the main query
    reuses the shuffle instead of repeating it.
    """
    if (budget is None) == (fraction is None):
        raise ValueError("pass exactly one of budget= or fraction=")
    if n_parts is None:
        n_parts = derive_n_parts(df.count())
    # Sum in the weight column's own numeric family: integral weights
    # stay exact longs (the token-count case — keeps the cum column
    # hash-comparable to a BIGINT oracle), fractional weights sum as
    # doubles (a cast to long here would silently truncate every row).
    integral = dict(df.dtypes)[weight_col] in (
        "tinyint", "smallint", "int", "bigint",
    )
    sum_type = "long" if integral else "double"
    ranged = df.repartitionByRange(n_parts, *order_by)
    stamped = ranged.withColumn("_pid", F.spark_partition_id()).transform(
        managed_persist_disk
    )
    totals = (
        stamped.groupBy("_pid")
        .agg(F.sum(F.col(weight_col).cast(sum_type)).alias("_w"))
        .collect()
    )
    per_pid = sorted((r["_pid"], r["_w"] or 0) for r in totals)
    if fraction is not None:
        budget = fraction * sum(w for _, w in per_pid)
    # Budget literal in the cumulative column's own type: with integral
    # weights the cum column is an exact LONG, and `cum <= budget` for
    # real budget is equivalent to `cum <= floor(budget)` as a pure
    # long-long comparison — a double literal would force a long→double
    # promotion that mis-rounds the boundary row once totals pass 2^53
    # (plausible for token counts at 100 TB).
    blit = (
        F.lit(int(math.floor(budget))) if integral else F.lit(float(budget))
    )
    offsets, acc = [], (0 if integral else 0.0)
    for pid, w in per_pid:
        offsets.append((pid, acc))
        acc += w
    spark = df.sparkSession
    off = F.broadcast(
        spark.createDataFrame(
            offsets or [(0, acc)], f"_pid int, _off {sum_type}"
        )
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        stamped.join(off, "_pid")
        # partitions that start past the budget cannot contribute
        .filter(F.col("_off") <= blit)
        .withColumn(
            cum_col,
            F.col("_off") + F.sum(F.col(weight_col).cast(sum_type)).over(w),
        )
        .filter(F.col(cum_col) <= blit)
        .drop("_pid", "_off")
    )


def global_rank(
    df: DataFrame,
    order_by: list[Column],
    n_parts: int | None = None,
    rank_col: str = "global_rank",
    total_col: str | None = None,
) -> DataFrame:
    """Exact global ``row_number()`` in ``order_by`` order WITHOUT the
    single-task global window — the general form of the distributed
    prefix-sum underneath :func:`take_while_budget`, reusable wherever
    a pipeline needs an exact global position (deciles, curriculum
    order, head/tail splits).

    ``row_number() OVER (ORDER BY …)`` is THE textbook scale-killer:
    Spark plans an un-partitioned window as one task sorting the whole
    input. Here ``repartitionByRange`` on the order gives
    range-ordered partitions, per-partition COUNTS (a P-row aggregate
    collected on the driver) prefix-sum into base offsets, a broadcast
    joins them back, and each partition ranks only its own range —
    every task sorts ``rows / n_parts`` rows.

    ``order_by`` must be a TOTAL order (end with a unique id):
    boundary ties between range partitions would otherwise make ranks
    order-dependent. ``total_col`` optionally appends the grand total
    (known for free from the same aggregate — saves callers a second
    pass when computing quantiles from the rank). Same execution
    contract as ``take_while_budget``: ONE small job at composition
    time; ``n_parts=None`` derives sizing from a cheap count.

    The per-range position comes from ``monotonically_increasing_id``
    over the range-partitioned, partition-SORTED, persisted frame (the
    id is partition_idx·2³³ + row-index-within-partition, so
    ``id & (2³³−1)`` is exactly the 0-based position in the sorted
    range) instead of a ``row_number() OVER (PARTITION BY _pid)``
    window: the window form forced a SECOND full-data exchange (hash
    on ``_pid``) plus a re-sort after the range exchange had already
    clustered the data — guide §2.4's "two operations keyed the same
    way sharing one exchange", r18 optimization.  Plan: ONE range
    exchange + one in-partition sort total (measured 2 hash/range
    exchanges → 1 on every consumer; values byte-identical — the same
    total order produces the same ranks).  Determinism: the position
    is read off the PERSISTED frame, whose per-partition row order is
    the explicit ``sortWithinPartitions`` order — a total order, so
    retried scans reproduce it."""
    if n_parts is None:
        n_parts = derive_n_parts(df.count())
    ranged = df.repartitionByRange(n_parts, *order_by).sortWithinPartitions(
        *order_by
    )
    stamped = (
        ranged.withColumn("_pid", F.spark_partition_id())
        .withColumn("_pos", F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)))
        .transform(managed_persist_disk)
    )
    counts = stamped.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    per_pid = sorted((r["_pid"], r["_n"]) for r in counts)
    total = sum(n for _, n in per_pid)
    offsets, acc = [], 0
    for pid, n in per_pid:
        offsets.append((pid, acc))
        acc += n
    spark = df.sparkSession
    off = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    )
    out = (
        stamped.join(off, "_pid")
        .withColumn(rank_col, F.col("_off") + F.col("_pos") + 1)
        .drop("_pid", "_off", "_pos")
    )
    if total_col:
        out = out.withColumn(total_col, F.lit(total))
    return out


def mixture_resample(
    df: DataFrame,
    weight: Column,
    id_col: str = "doc_id",
    seed: int = 0,
    copy_col: str = "copy",
) -> DataFrame:
    """Deterministic fractional resampling for training mixtures: each
    row is emitted ``floor(w) + (h < frac(w))`` times, where ``w`` is
    the row's mixture ``weight`` and ``h`` an engine-portable seeded
    hash-bernoulli on ``id_col`` — so ``w = 2.5`` upsamples a source
    to 2 copies plus a deterministic half of rows at 3, and
    ``w = 0.25`` downsamples to a stable quarter.  Output: ``df``'s
    columns plus ``copy_col`` (1-based copy index).

    Why hash, not RNG: a row's multiplicity is then REPRODUCIBLE
    across engines, runs, retried tasks, and cluster sizes, and STABLE
    under corpus growth (membership of existing rows never changes
    when new rows arrive) — none of which ``sample(fraction)`` / RNG
    resampling can promise; Spark's sample is additionally
    partition-layout-dependent.  Changing ``seed`` redraws the
    fractional bernoulli independently.

    Scale: pure projection + explode — no shuffle, no state; the
    explosion factor is the mixture's own expansion, produced
    map-side inside the scan.  The bernoulli threshold compares the
    hash mod 10⁶ against ``frac(w)·10⁶`` (exact for the usual
    dyadic/decimal mixture weights)."""
    from exosql_spark.operators.ordering import hash60

    base = F.floor(weight).cast("long")
    frac = weight - F.floor(weight)
    # NULL id ⇒ NULL hash ⇒ NULL bernoulli: coalesce to 0 so the row
    # still emits its floor(w) integer copies (matching the SQL twin's
    # CASE WHEN … THEN … ELSE 0) instead of vanishing entirely.
    bern = F.coalesce(
        (
            F.pmod(hash60(F.col(id_col), salt=str(seed)), F.lit(1_000_000))
            < frac * F.lit(1_000_000.0)
        ).cast("long"),
        F.lit(0),
    )
    n = (base + bern).cast("int")
    seq = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.lit(None).cast("array<int>")
    )
    return df.withColumn(copy_col, F.explode(seq))


def capped_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_key: Column,
    n: int,
    rank_col: str = "rank",
) -> DataFrame:
    """At most ``n`` rows per ``key_cols`` group, the best-first ``n``
    under ascending ``order_key``, with their 1-based rank appended.

    ``order_key`` is a single struct-sortable Column that defines the
    priority as an ASCENDING sort (negate numeric columns for
    descending; make it a total order by ending with a unique id) —
    the same expression drives both the partition-local pre-trim's
    ``array_sort`` and the final rank window, so the two levels can
    never disagree.  Output columns: ``df``'s columns + ``rank_col``.

    Sizing: the pre-trim granularity is (input partition × key) — the
    local ``collect_list`` materializes at most one group of ONE input
    partition's rows per task before ``slice`` trims it to ``n``, so
    per-task memory is bounded by the largest single-partition,
    single-key row group, not by the global key's row count.  A key
    with G rows spread over P input partitions reaches the final rank
    window as at most ``min(G, n·P)`` rows — the pre-trim is what
    keeps a hot key (say 10⁹ rows of one domain at 100 TB) from
    flooding one window task.  Results are independent of the input
    partition layout (any layout trims to a superset of the true
    top-``n``; the window decides).
    """
    pair = F.struct(
        order_key.alias("k"), F.struct(*df.columns).alias("row")
    )
    local = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid", *[F.col(c) for c in key_cols])
        .agg(F.slice(F.array_sort(F.collect_list(pair)), 1, n).alias("_top"))
        .select(F.explode("_top").alias("_t"))
        .select(F.col("_t.k").alias("_k"), F.col("_t.row").alias("_row"))
    )
    w = Window.partitionBy(*[F.col(f"_row.{c}") for c in key_cols]).orderBy(
        F.col("_k").asc()
    )
    return (
        local.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n)
        .select("_row.*", rank_col)
    )


def weighted_sample_topk(
    df: DataFrame,
    weight: Column,
    n: int,
    id_col: str = "doc_id",
    seed: int = 0,
    key_col: str = "es_key",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-Res): each row gets key ``u^(1/w)`` for a
    uniform ``u``; the top-``n`` keys are a weighted sample — rows with
    double the weight are twice as likely to make the cut.  Here ``u``
    is a seeded engine-portable hash of ``id_col`` mapped to (0,1)
    instead of an RNG draw, which buys the properties RNG sampling
    can't give: reproducible across engines/runs/retries, stable under
    reshuffling, and EXACT-oracle-able (the reason the catalog's
    ``sample_fraction`` stays rows-only).  Computed as
    ``ln(u)/w`` (same ordering as ``u^(1/w)``, one transcendental
    instead of pow) — keys are continuous, so cross-engine float
    drift at the top-n boundary needs two keys within ~1 ulp of each
    other: probability ~n²·2⁻⁵³.

    Scale: key assignment is a projection; the top-n is
    TakeOrderedAndProject (per-partition heaps) — no shuffle beyond
    the final n rows.  Rows with w ≤ 0 or NULL are excluded (their
    inclusion probability is 0).  Output: ``df``'s columns +
    ``key_col``, best-first."""
    from exosql_spark.operators.ordering import hash60

    u = (
        (F.pmod(hash60(F.col(id_col), salt=str(seed)), F.lit(1 << 53)) + 1)
        / F.lit(float(1 << 53) + 2.0)
    )
    key = F.log(u) / weight
    return (
        df.filter(weight > 0)
        .withColumn(key_col, key)
        .orderBy(F.col(key_col).desc(), F.col(id_col))
        .limit(n)
    )


def dsir_importance(
    docs: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 512,
    nd: int = 6,
) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023 — "Data
    Selection for Language Models via Importance Resampling"): score
    every document by how much more likely its hashed-unigram bag is
    under the TARGET distribution (the rows where ``is_target``) than
    under the raw-corpus distribution,

        log w(doc) = Σ_tokens [ log p_t(bucket) − log p_r(bucket) ],

    with feature hashing into ``n_buckets`` buckets and add-1
    smoothing — the standard cheap proxy for "select web data that
    looks like my high-quality seed set".  Returns (``id_col``,
    ``n_tokens``, ``log_weight``); downstream selection is top-k by
    weight (the paper resamples with Gumbel noise; deterministic
    top-k keeps the operator oracle-exact — noise belongs to the
    caller, e.g. via ordering.epoch_shuffle's seeded keys).

    100 TB shape: the exploded (id, is_target, bucket) token frame is
    computed ONCE and persisted (memory-and-disk) — the histogram pass
    populates it, the scoring pass re-reads it, so the corpus text is
    scanned and tokenized exactly once (r19; the prior two-pass
    re-tokenize was A/B-measured slower at sf0.1 AND at the 10× scale
    point — the cached frame is three narrow columns, SMALLER than the
    decompressed text it replaces, and spills gracefully).  The
    histogram is ``n_buckets`` rows, map-side combined; the per-bucket
    log-ratio table rides a broadcast join into the scoring pass; the
    per-doc sum is one hash aggregation keyed by ``id_col``.  Nothing
    global ever materializes beyond two 1-row totals attached in-plan.

    Per-token log-ratios pass through DECIMAL(25,6) before summing
    (the repo's dsum convention) so the per-doc sum is
    order-independent and engine-exact."""
    from exosql_spark.operators.packing import portable_hash60
    from exosql_spark.operators.text import tokens
    from exosql_spark.queries._util import dsum

    from exosql_spark.cache import managed_persist

    toks = managed_persist(
        docs.select(
            F.col(id_col),
            is_target.alias("_t"),
            F.explode(tokens(text_col)).alias("_tok"),
        ).select(
            id_col,
            "_t",
            F.pmod(
                portable_hash60(F.col("_tok")), F.lit(n_buckets).cast("long")
            ).alias("_b"),
        )
    )
    hist = toks.groupBy("_b").agg(
        F.count(F.lit(1)).alias("_cr"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("_ct"),
    )
    totals = hist.agg(
        F.sum("_cr").alias("_tr"), F.sum("_ct").alias("_tt")
    )
    bdbl = float(n_buckets)
    lr = (
        hist.crossJoin(F.broadcast(totals))  # 1-row totals, in-plan
        .select(
            "_b",
            (
                F.log((F.col("_ct") + 1.0) / (F.col("_tt") + F.lit(bdbl)))
                - F.log((F.col("_cr") + 1.0) / (F.col("_tr") + F.lit(bdbl)))
            ).alias("_lr"),
        )
    )
    return (
        toks.join(F.broadcast(lr), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            dsum("_lr", nd).alias("log_weight"),
        )
    )


def cluster_split_assign(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    splits: tuple[tuple[str, int], ...] = (("train", 80), ("val", 10), ("test", 10)),
    seed: int = 0,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup-cluster-coherent train/val/test assignment: MinHash-LSH
    candidate pairs → connected components → every member of a
    component takes the split of the component REPRESENTATIVE (the
    minimum member id, which IS the component label), hashed through
    :func:`ordering.split_assign`'s bucket arithmetic; documents in no
    component hash their own id.

    WHY a third strategy beyond id-hash and content-hash splitting
    (ordering.split_assign's contract): content-hash keeps EXACT
    duplicates together but provably cannot keep NEAR-duplicates
    together — a one-token edit changes the normalized-content hash,
    so the pair lands in independent buckets and leaks across the
    eval boundary exactly like id-splitting (Lee et al. 2022's
    near-dup train/test contamination). Only a cluster-level key
    closes that gap: co-members share a component by construction,
    hence a split. Exact-oracled by eval_split_leakage_neardup on
    planted clusters (queries/llm_q.py).

    Scale shape: the pair set is banded LSH (never all-pairs), the
    component fixpoint shuffles only the |pairs| edge set, and the
    corpus itself pays ONE keyed join against the |members|-sized
    component table — members are the docs that appear in some
    near-dup pair, a small fraction of a deduplicated corpus, so AQE
    broadcasts the component table at any realistic scale.

    Returns ``df``'s columns plus ``component`` (nullable),
    ``bucket`` and ``split``."""
    from exosql_spark.operators import dedup, ordering
    from exosql_spark.operators.components import connected_components

    pairs = dedup.minhash_dedup_pairs(df, text_col, id_col, threshold=threshold)
    comp = connected_components(pairs).withColumnRenamed("id", id_col)
    joined = df.join(comp, id_col, "left")
    rep_key = F.coalesce(F.col("component"), F.col(id_col)).cast("string")
    return ordering.split_assign(joined, rep_key, splits=splits, seed=seed)


def link_quality_select(
    docs: DataFrame,
    priors: DataFrame,
    site_col: str = "site",
    min_rank: float = 0.0,
    max_coreness: int = 8,
    broadcast_priors: bool = True,
) -> DataFrame:
    """Attach link-graph quality priors to a corpus and flag what
    makes the cut — the consumer side of the graph tier (r15 verdict
    Next #4: pagerank/trustrank/kcore existed but nothing USED them in
    a selection).  ``priors`` is one row per site ``id`` with
    ``rank`` (TrustRank, i.e. ``graph.pagerank`` with ``seeds`` —
    centrality reachable from trusted seeds;
    0.0 means structurally unreachable from trust, the spam signal)
    and ``coreness`` (k-core number — link farms form dense high-core
    subgraphs).  The classic crawl-curation rule implemented here:

        keep  ⇔  rank > min_rank  AND  coreness ≤ max_coreness

    i.e. drop pages no trusted page links toward, and drop pages
    embedded in suspiciously dense link neighborhoods (Gyöngyi et al.
    2004 §6 applies trust thresholds exactly this way; the coreness
    cap is the density complement).

    Scale shape: ONE keyed equi-join of the |V|-sized prior table
    onto the corpus — priors are per-SITE, orders of magnitude
    smaller than a document corpus, so the join broadcasts
    (``broadcast_priors``, default on; set False above ~100M sites
    and let AQE decide).  Documents on sites absent from the graph
    (no in- or out-links at all) keep NULL priors and are dropped by
    the keep rule — an unlinked site is by definition unreachable
    from trust.

    Returns ``docs``'s columns plus ``rank``, ``coreness`` and
    ``keep``; filtering is the caller's ``.where("keep")`` so audit
    entries can count both sides.  Because those three names ARE the
    output contract, ``docs`` may not already carry them (ADVICE r16:
    a silent left-join would emit duplicate column names, and the
    keep expression could bind to the corpus column or raise
    AMBIGUOUS_REFERENCE at a distance) — collisions raise here, at
    the operator boundary, with a rename hint.  The prior columns are
    aliased to ``_lq_*`` for the join itself so resolution never
    depends on join-side precedence."""
    clash = [
        c
        for c in ("rank", "coreness", "keep", "_lq_site_id", "_lq_rank", "_lq_coreness")
        if c in docs.columns
    ]
    if clash:
        raise ValueError(
            f"link_quality_select: docs already has column(s) {clash}, "
            "which this operator outputs (or uses as join-internal "
            "temporaries) - rename them (e.g. .withColumnRenamed) "
            "before attaching link-quality priors"
        )
    p = priors.select(
        F.col("id").alias("_lq_site_id"),
        F.col("rank").alias("_lq_rank"),
        F.col("coreness").alias("_lq_coreness"),
    )
    if broadcast_priors:
        p = F.broadcast(p)
    joined = (
        docs.join(p, docs[site_col] == p["_lq_site_id"], "left")
        .drop("_lq_site_id")
        .withColumnRenamed("_lq_rank", "rank")
        .withColumnRenamed("_lq_coreness", "coreness")
    )
    return joined.withColumn(
        "keep",
        (F.coalesce(F.col("rank"), F.lit(0.0)) > F.lit(float(min_rank)))
        & (F.coalesce(F.col("coreness"), F.lit(2**31 - 1)) <= F.lit(int(max_coreness))),
    )
