"""Relational operator layer — every batch operator the reference exercises,
as named, documented, scale-aware functions (SURVEY.md section 2).

Each function cites the reference occurrence it reproduces. All are thin by
design: the point of a Spark-first engine is to *declare* the plan with
DataFrame ops and let Catalyst pick the physical strategy (broadcast vs
sort-merge joins, partial aggregation, pushdown). We add value where the
reference's formulation has a semantic trap at scale:

- surrogate keys: the reference uses ``monotonically_increasing_id`` which
  is non-dense and partition-layout-dependent (gold_dim_branch.ipynb cell 27);
  we use ``row_number`` over an explicit ordering — deterministic on any
  cluster layout.
- new/old row splits: the reference hand-rolls left-anti/left-semi with a
  left join + isNull/isNotNull filter (gold_dim_branch.ipynb cells 14/17/20);
  we expose both the literal formulation and the idiomatic
  ``left_anti``/``left_semi`` joins (no null-extension columns to drop,
  and Catalyst can skip materializing the right side's payload).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# projections / filters (SURVEY.md 2.2)
# ---------------------------------------------------------------------------


def project(df: DataFrame, *cols: str | Column) -> DataFrame:
    """Named-column projection (ref gold_dim_branch.ipynb:78681 cell 29).

    Catalyst prunes the scan to exactly these columns (check ReadSchema)."""
    return df.select(*cols)


def filter_is_null(df: DataFrame, col: str) -> DataFrame:
    """New-rows split: rows whose join-extended key is NULL
    (ref gold_dim_branch.ipynb:52656 cell 20)."""
    return df.filter(F.col(col).isNull())


def filter_is_not_null(df: DataFrame, col: str) -> DataFrame:
    """Old-rows split (ref gold_dim_branch.ipynb:52524 cell 17)."""
    return df.filter(F.col(col).isNotNull())


def empty_like_sql(df: DataFrame) -> DataFrame:
    """Schema-preserving empty relation — the reference's ``where 1=0``
    stub (gold_dim_branch.ipynb:43071-43077 cell 11). Catalyst folds the
    false predicate to an empty LocalRelation, so this costs nothing."""
    return df.filter(F.lit(False))


def derive_split_head(df: DataFrame, src: str, delim: str, out: str) -> DataFrame:
    """Derived column: first element of a delimiter split — the silver
    layer's ``model_category = split(Model_ID,'-')[0]`` (SURVEY.md 1.3,
    inferred from gold_fact_sales.ipynb cell 2 output)."""
    return df.withColumn(out, F.split(F.col(src), delim).getItem(0))


def derive_ratio(df: DataFrame, num: str, den: str, out: str) -> DataFrame:
    """Derived column: arithmetic ratio — silver's
    ``RevPerUnit = Revenue/Units_Sold`` (SURVEY.md 1.3)."""
    return df.withColumn(out, F.col(num) / F.col(den))


# ---------------------------------------------------------------------------
# joins (SURVEY.md 2.3)
# ---------------------------------------------------------------------------


def left_join_lookup(
    left: DataFrame,
    right: DataFrame,
    on: Column | Sequence[str],
    broadcast_right: bool = False,
) -> DataFrame:
    """Left-outer equi join; the reference's change detector
    (gold_dim_branch.ipynb:43210 cell 14). ``broadcast_right=True`` hints
    a BroadcastHashJoin for small dims — at 100 TB the dims of a star
    schema are usually << the 10 MB default, but hint explicitly when known."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on, "left")


def left_semi(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Idiomatic form of the reference's left-join + isNotNull split."""
    return left.join(right, on, "left_semi")


def left_anti(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Idiomatic form of the reference's left-join + isNull split."""
    return left.join(right, on, "left_anti")


def star_join(
    fact_src: DataFrame,
    dims: Sequence[tuple[DataFrame, Column | Sequence[str]]],
    select_cols: Sequence[str | Column],
    broadcast_dims: bool = False,
) -> DataFrame:
    """Multi-way left-join chain building a fact from source + dims
    (ref gold_fact_sales.ipynb:55996-56000 cell 8: silver left-joined to
    4 dims on business keys, projecting measures + surrogate keys).

    Dims are UNHINTED by default: AQE (or static sizing) broadcasts the
    genuinely small ones at runtime, and a customer-shaped dim — which is
    fact-sized at 100 TB — never gets force-broadcast into a driver OOM.
    ``broadcast_dims=True`` is the explicit opt-in for dims the caller
    KNOWS are bounded (calendars, enum dims): the fact side then never
    shuffles regardless of stale/absent statistics."""
    out = fact_src
    for dim_df, cond in dims:
        d = F.broadcast(dim_df) if broadcast_dims else dim_df
        out = out.join(d, cond, "left")
    return out.select(*select_cols)


# ---------------------------------------------------------------------------
# aggregates / distinct / set ops (SURVEY.md 2.4, 2.5)
# ---------------------------------------------------------------------------


def distinct_projection(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """``SELECT DISTINCT c1, c2`` — dim-source dedup
    (ref gold_dim_branch.ipynb:35568 cell 7). Compiles to a HashAggregate
    with partial (map-side) aggregation, so the shuffle carries only
    distinct pairs — this is the scalable formulation."""
    return df.select(*cols).distinct()


def max_global(df: DataFrame, col: str, alias: str = "max_value") -> DataFrame:
    """Global MAX — surrogate-key high-water mark
    (ref gold_dim_branch.ipynb:60158-60161 cell 24)."""
    return df.agg(F.max(F.col(col)).alias(alias))


def max_cast_int(df: DataFrame, col: str, alias: str = "max_value") -> DataFrame:
    """MAX over a cast — ``max(cast(k as int))``
    (ref gold_dim_date.ipynb:43850-43853 cell 23)."""
    return df.agg(F.max(F.col(col).cast("int")).alias(alias))


def union_all(a: DataFrame, b: DataFrame, by_name: bool = True) -> DataFrame:
    """UNION ALL (ref gold_dim_branch.ipynb:78820 cell 31). The reference
    uses positional ``union``; we default to ``unionByName`` — positional
    union silently mis-binds when column orders drift."""
    return a.unionByName(b) if by_name else a.union(b)


# ---------------------------------------------------------------------------
# surrogate keys (SURVEY.md 2.6 op 25 — the known semantic trap)
# ---------------------------------------------------------------------------


def with_surrogate_key(
    df: DataFrame,
    order_by: Sequence[str],
    key_col: str,
    start_at: int = 1,
) -> DataFrame:
    """Dense deterministic surrogate keys: global row numbers under the
    ``order_by`` total order, offset by the high-water mark.

    The reference's ``max_value + monotonically_increasing_id()``
    (gold_dim_branch.ipynb:60233 cell 27) only produced dense 1..N keys
    because its data fit one partition; on a real cluster it leaves
    2^33-sized gaps per partition.

    Numbering rides :func:`with_global_row_number` (two-phase range
    rank) rather than ``row_number`` over an un-partitioned window: the
    values are identical and reproducible across layouts, but the sort
    is per-key-range instead of single-reducer — so a customer-scaled
    dimension's initial load no longer funnels the whole relation
    through one task (caught by tools/hint_audit.audit_windows). For
    key assignment where no deterministic ordering is needed at all,
    :func:`with_surrogate_key_fact` skips the range shuffle too."""
    out = with_global_row_number(df, list(order_by), rn_col=key_col)
    if start_at != 1:
        out = out.withColumn(
            key_col, (F.col(key_col) + F.lit(start_at - 1)).cast("long")
        )
    return out


def with_surrogate_key_fact(
    df: DataFrame,
    key_col: str,
    start_at: int = 1,
) -> DataFrame:
    """Dense unique surrogate keys for FACT-scale tables: two-phase
    ``zipWithIndex``-style assignment with **no global single-reducer
    sort and no driver-side collect**.

    Phase 1: count rows per input partition (map-side-combined aggregate —
    the shuffle carries one ``(partition_id, count)`` long pair per input
    partition). A cumulative window over those n_partitions rows yields
    each partition's global starting offset; that window IS single-reducer
    but over partition-count-sized data (100k rows at 100 TB), not the fact.

    Phase 2: broadcast-join the offsets back on partition id and number
    rows within each partition (``row_number`` partitioned by partition id,
    ordered by ``monotonically_increasing_id`` — which is monotone within a
    partition). The window's hash-by-pid exchange distributes groups across
    all reducers, so the sort is per-input-partition, never global.

    Keys are dense ``start_at .. start_at+N-1`` and unique on any layout.
    Unlike the dim path they are NOT stable across different partitionings
    of the same data (the zipWithIndex trade-off): use this for append-only
    fact key minting, not for re-derivable dimension keys. ``df`` must come
    from a deterministic source (a file scan), since the plan evaluates the
    source twice — once for counts, once for assignment — and partition ids
    must agree between the two evaluations.
    """
    pid, mid = "__sk_pid", "__sk_mid"
    tagged = df.withColumn(pid, F.spark_partition_id()).withColumn(
        mid, F.monotonically_increasing_id()
    )
    counts = tagged.groupBy(pid).agg(F.count(F.lit(1)).alias("__sk_n"))
    w_ofs = Window.orderBy(pid).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        pid,
        F.coalesce(F.sum("__sk_n").over(w_ofs), F.lit(0)).alias("__sk_offset"),
    )
    w_rn = Window.partitionBy(pid).orderBy(mid)
    return (
        tagged.join(F.broadcast(offsets), pid)
        .withColumn(
            key_col,
            (
                F.row_number().over(w_rn)
                + F.col("__sk_offset")
                + F.lit(start_at - 1)
            ).cast("long"),
        )
        .drop(pid, mid, "__sk_offset")
    )


def global_middle_rows(
    df: DataFrame,
    order_by: Sequence[str],
    rn_col: str = "rn",
    n_col: str = "n",
) -> DataFrame:
    """The 1–2 MIDDLE rows (global ranks ``(n+1) div 2`` and
    ``n div 2 + 1``) under a total order, with ``rn_col``/``n_col``
    attached — the median-by-rank-selection shortcut (r15).

    :func:`with_global_row_number` + a middle filter sorts EVERY range
    partition just to keep two rows; selection needs only the
    partition(s) whose rank interval contains a target. Same phase 1
    (``repartitionByRange`` + per-range counts + cumulative offsets over
    partition-count-sized data); phase 2 broadcast-joins the 1–2 TARGET
    ranges back (the join drops every other range before its window
    runs), so the within-range ``row_number`` sort touches ~1/n_ranges
    of the relation instead of all of it (measured 1.08–1.09x
    end-to-end on q_theil_sen's 2.9M pairs at sf0.1; the win is the
    sorts, which at 100 TB dominate). Ranks, tiebreaks and the returned
    rows are IDENTICAL to the full-rank form: the range partitioner and
    per-range ``row_number`` are unchanged, only non-target ranges —
    whose rows cannot hold a target rank — are skipped. ``order_by``
    must be a total order (unique tiebreak), as for
    :func:`with_global_row_number`. ``df`` must be deterministic, as
    there: the plan evaluates it in two branches (the per-range counts
    and the target-range probe), and a nondeterministic ``df`` would
    return silently wrong middle rows."""
    pid = "__gm_pid"
    cols = [F.col(c) for c in order_by]
    tagged = df.repartitionByRange(*cols).withColumn(pid, F.spark_partition_id())
    counts = tagged.groupBy(pid).agg(F.count(F.lit(1)).alias("__gm_n"))
    w_ofs = Window.orderBy(pid).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        pid,
        F.col("__gm_n"),
        F.coalesce(F.sum("__gm_n").over(w_ofs), F.lit(0)).alias("__gm_offset"),
    )
    total = counts.agg(F.sum("__gm_n").cast("long").alias(n_col))
    in_range = lambda r: (r > F.col("__gm_offset")) & (  # noqa: E731
        r <= F.col("__gm_offset") + F.col("__gm_n")
    )
    targets = (
        offsets.crossJoin(F.broadcast(total))
        .withColumn("__gm_r1", F.expr(f"({n_col} + 1) div 2"))
        .withColumn("__gm_r2", F.expr(f"{n_col} div 2 + 1"))
        .filter(in_range(F.col("__gm_r1")) | in_range(F.col("__gm_r2")))
        .select(pid, "__gm_offset", "__gm_r1", "__gm_r2", n_col)
    )
    w_rn = Window.partitionBy(pid).orderBy(*cols)
    return (
        tagged.join(F.broadcast(targets), pid)
        .withColumn(
            rn_col,
            (F.row_number().over(w_rn) + F.col("__gm_offset")).cast("long"),
        )
        .filter(
            (F.col(rn_col) == F.col("__gm_r1"))
            | (F.col(rn_col) == F.col("__gm_r2"))
        )
        .drop(pid, "__gm_offset", "__gm_r1", "__gm_r2")
    )


def with_global_row_number(
    df: DataFrame,
    order_by: Sequence[str],
    rn_col: str = "rn",
    n_col: str | None = None,
) -> DataFrame:
    """Exact global row numbers under a total order WITHOUT a
    single-reducer sort of the data: the two-phase pattern of
    :func:`with_surrogate_key_fact`, but ordered by the data's own key
    columns instead of arbitrary partition layout (so, unlike the
    zipWithIndex-style fact path, the numbering IS reproducible across
    layouts and oracle-checkable).

    Phase 1: ``repartitionByRange(order_by)`` — the range partitioner
    assigns ascending key ranges to ascending partition ids, each reducer
    sorting only its range. Per-partition row counts are map-side-combined;
    a cumulative window over those n_partitions rows yields each range's
    global starting offset (single-reducer, but over partition-count-sized
    data — ~100k rows at 100 TB — never the relation).

    Phase 2: broadcast the offsets back and number rows within each range
    (``row_number`` partitioned by range id, ordered by the keys).

    With ``n_col`` set, the total row count is attached via a broadcast
    1-row cross join — everything a distribution function needs
    (percent_rank = (rn-1)/(n-1), cume_dist = rn/n, ntile buckets from rn
    and n) without any un-partitioned data window. ``order_by`` must be a
    total order (include a unique tiebreak column) for rank == row_number
    to hold; equal boundary keys land in one range by the partitioner's
    binary search, so ties never straddle reducers. ``df`` must be
    deterministic: the plan evaluates it in two branches (the per-range
    counts and the numbering), and a nondeterministic ``df`` would number
    one evaluation's rows with another's offsets."""
    pid = "__gr_pid"
    cols = [F.col(c) for c in order_by]
    tagged = df.repartitionByRange(*cols).withColumn(pid, F.spark_partition_id())
    counts = tagged.groupBy(pid).agg(F.count(F.lit(1)).alias("__gr_n"))
    w_ofs = Window.orderBy(pid).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        pid,
        F.coalesce(F.sum("__gr_n").over(w_ofs), F.lit(0)).alias("__gr_offset"),
    )
    w_rn = Window.partitionBy(pid).orderBy(*cols)
    out = (
        tagged.join(F.broadcast(offsets), pid)
        .withColumn(
            rn_col,
            (F.row_number().over(w_rn) + F.col("__gr_offset")).cast("long"),
        )
        .drop(pid, "__gr_offset")
    )
    if n_col is not None:
        total = counts.agg(F.sum("__gr_n").cast("long").alias(n_col))
        out = out.crossJoin(F.broadcast(total))
    return out


def with_grouped_row_number(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence[str],
    rn_col: str = "rn",
    n_col: str | None = None,
) -> DataFrame:
    """Per-group row numbers under a total order, with each group's sort
    SPREAD ACROSS ALL REDUCERS — the fix for the low-cardinality-group
    trap where ``Window.partitionBy(group).orderBy(keys)`` makes one
    reducer sort one group (3 groups over a 100 TB fact = three ~33 TB
    sort reducers).

    Same two phases as :func:`with_global_row_number`, range-partitioned
    on ``(group_by..., order_by...)`` so a single group spans many
    ascending ranges. Offsets are cumulative counts per ``(group, range)``
    — a window partitioned by group over n_partitions-sized data, never
    the relation; within-range numbering partitions by ``(range, group)``.
    With ``n_col`` set, per-group totals come back via a broadcast join,
    giving rank-selection percentiles, per-group cume_dist etc. pure
    arithmetic over (rn, n). ``order_by`` must be unique per group (add a
    tiebreak) and ``df`` must be a deterministic source (the plan
    evaluates it once per phase)."""
    pid = "__gg_pid"
    gcols = [F.col(c) for c in group_by]
    ocols = [F.col(c) for c in order_by]
    tagged = df.repartitionByRange(*gcols, *ocols).withColumn(
        pid, F.spark_partition_id()
    )
    counts = tagged.groupBy(pid, *gcols).agg(F.count(F.lit(1)).alias("__gg_n"))
    w_ofs = (
        Window.partitionBy(*group_by)
        .orderBy(pid)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        pid,
        *group_by,
        F.coalesce(F.sum("__gg_n").over(w_ofs), F.lit(0)).alias("__gg_offset"),
    )
    w_rn = Window.partitionBy(pid, *group_by).orderBy(*ocols)
    out = (
        tagged.join(F.broadcast(offsets), [pid, *group_by])
        .withColumn(
            rn_col,
            (F.row_number().over(w_rn) + F.col("__gg_offset")).cast("long"),
        )
        .drop(pid, "__gg_offset")
    )
    if n_col is not None:
        totals = counts.groupBy(*gcols).agg(
            F.sum("__gg_n").cast("long").alias(n_col)
        )
        out = out.join(F.broadcast(totals), list(group_by))
    return out


def with_grouped_running_sum(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    out_col: str = "running_sum",
) -> DataFrame:
    """Per-group INCLUSIVE running sum under a total order, with each
    group's prefix sum SPREAD ACROSS ALL REDUCERS — the prefix-SUM member
    of the two-phase family (:func:`with_grouped_row_number` computes the
    +1-per-row special case; :func:`with_running_max` the ungrouped max).
    The low-cardinality-group trap is the same: a plain
    ``Window.partitionBy(group).orderBy(keys)`` running sum makes one
    reducer sort one group — 3 groups over a 100 TB fact is three ~33 TB
    sort reducers.

    Phase 1: ``repartitionByRange(group_by..., order_by...)`` splits every
    group across ascending ranges; per-``(range, group)`` partial sums are
    map-side combined, and an exclusive running sum over that
    n_partitions x groups-sized relation (window partitioned by group —
    never data-sized) is each range's carry-in.

    Phase 2: broadcast carry-ins back; each row's prefix sum is its
    within-range running sum (window partitioned by ``(range, group)`` —
    every reducer sorts only its slice) plus the carry-in.

    Sum type follows ``value_col`` under Spark's ``sum`` rules (long
    stays long, decimal widens) — pass an integer/decimal column for
    exact, order-independent results. ``order_by`` must be a total order
    per group and ``df`` a deterministic source (evaluated once per
    phase).

    Correctness dependency (explicit): ``tagged`` feeds BOTH phase 1 and
    phase 2, and the two subtrees agree on ``spark_partition_id`` only
    because Catalyst deduplicates the two identical
    ``repartitionByRange`` exchanges (``spark.sql.exchange.reuse``, on
    by default) — range boundaries are sampled, so two INDEPENDENT
    exchanges over the same data could draw different boundaries and
    silently corrupt the carry-in join. We refuse to run if exchange
    reuse is disabled rather than produce wrong sums; callers who must
    run without it should ``localCheckpoint`` the input and re-enable."""
    sess = df.sparkSession
    if sess.conf.get("spark.sql.exchange.reuse", "true").lower() != "true":
        raise RuntimeError(
            "with_grouped_running_sum requires spark.sql.exchange.reuse=true "
            "(phase-1/phase-2 partition-id agreement relies on exchange "
            "dedup; with it off, range boundaries can resample per subtree "
            "and sums silently corrupt)"
        )
    pid = "__rs_pid"
    gcols = [F.col(c) for c in group_by]
    ocols = [F.col(c) for c in order_by]
    tagged = df.repartitionByRange(*gcols, *ocols).withColumn(
        pid, F.spark_partition_id()
    )
    part_sums = tagged.groupBy(pid, *gcols).agg(
        F.sum(value_col).alias("__rs_sum")
    )
    w_carry = (
        Window.partitionBy(*group_by)
        .orderBy(pid)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carries = part_sums.select(
        pid,
        *group_by,
        F.coalesce(F.sum("__rs_sum").over(w_carry), F.lit(0)).alias("__rs_carry"),
    )
    w_run = (
        Window.partitionBy(pid, *group_by)
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.join(F.broadcast(carries), [pid, *group_by])
        .withColumn(out_col, F.sum(value_col).over(w_run) + F.col("__rs_carry"))
        .drop(pid, "__rs_carry")
    )


def waterfill_allocation(
    counts: DataFrame,
    key_col: str,
    avail_col: str,
    budget_num: int,
    budget_den: int,
) -> DataFrame:
    """Exact water-filling split of a global budget across keys: each key
    gets an equal share of ``budget_num/budget_den`` of the total, capped
    at its own availability, with capped keys' unabsorbed share
    redistributed — closed form, all integer arithmetic.

    Sort keys by availability ascending (key tiebreak); key i of S with
    inclusive prefix sum P_i is CAPPED iff granting every later key a_i
    too is still affordable (``P_i + a_i*(S-i) <= B`` — a prefix
    property, so the capped set is exactly the k smallest). The leftover
    ``R = B - P_k`` splits as ``floor(R/m)`` over the m uncapped keys,
    the remainder granted one unit each to the smallest uncapped keys
    (largest-remainder determinism). Allocations sum to B exactly, and
    ``allocation <= avail`` always (the first uncapped key's
    availability exceeds the water level by construction).

    Scale shape: ``counts`` is a keys-sized aggregate (pass the
    MATERIALIZED artifact — two phases scan it); ranking and the prefix
    sum run through the two-phase range machinery, and the scalars
    (B, k, P_k) ride broadcast 1-row joins — the HWM pattern. Returns
    ``(key, avail, capped, allocation)``.

    Requires ``budget_num < budget_den`` (a strict sub-1 fraction): with
    B >= total availability every key is capped, the "sum to B" contract
    is unsatisfiable (the result would silently be avail per key), so we
    reject the call instead."""
    if not (0 < budget_num < budget_den):
        raise ValueError(
            f"waterfill_allocation: budget fraction {budget_num}/{budget_den} "
            "must satisfy 0 < num < den — with B >= total availability the "
            "'allocations sum to B' contract cannot hold (every key caps at "
            "avail); take the whole corpus instead of water-filling it"
        )
    a, B = F.col(avail_col), F.col("__wf_B")
    summed = with_grouped_running_sum(
        counts.withColumn("__wf_g", F.lit(0)),
        ["__wf_g"],
        [avail_col, key_col],
        avail_col,
        out_col="__wf_P",
    ).drop("__wf_g")
    ranked = with_global_row_number(
        summed, [avail_col, key_col], rn_col="__wf_i", n_col="__wf_S"
    )
    budget = counts.agg(
        F.expr(f"{budget_num} * sum({avail_col}) div {budget_den}")
        .cast("long")
        .alias("__wf_B")
    )
    flagged = ranked.crossJoin(F.broadcast(budget)).withColumn(
        "capped",
        F.col("__wf_P") + a * (F.col("__wf_S") - F.col("__wf_i")) <= B,
    )
    kpk = flagged.agg(
        F.count(F.when(F.col("capped"), 1)).cast("long").alias("__wf_k"),
        F.coalesce(F.sum(F.when(F.col("capped"), a)), F.lit(0))
        .cast("long")
        .alias("__wf_Pk"),
    )
    f = (
        flagged.crossJoin(F.broadcast(kpk))
        .withColumn("__wf_R", B - F.col("__wf_Pk"))
        .withColumn("__wf_m", F.col("__wf_S") - F.col("__wf_k"))
    )
    alloc = F.when(F.col("capped"), a).otherwise(
        F.when(
            F.col("__wf_m") > 0,
            F.expr("__wf_R div __wf_m")
            + F.when(
                F.col("__wf_i") - F.col("__wf_k")
                <= F.col("__wf_R") % F.col("__wf_m"),
                1,
            ).otherwise(0),
        ).otherwise(F.lit(0))
    )
    return f.select(
        F.col(key_col),
        a,
        F.col("capped"),
        alloc.cast("long").alias("allocation"),
    )


def with_running_max(
    df: DataFrame,
    order_by: Sequence[str],
    value_col: str,
    out_col: str = "running_max",
    strict: bool = True,
) -> DataFrame:
    """Exact global running maximum under a total order WITHOUT a
    single-reducer sort — the prefix-AGGREGATE twin of
    :func:`with_global_row_number` (max is associative, so the same
    two-phase decomposition applies to any running max/min/sum).

    Phase 1: ``repartitionByRange(order_by)`` gives ascending key ranges
    ascending partition ids; per-partition maxima are map-side combined
    into one ``(pid, max)`` pair per range. An EXCLUSIVE running max over
    those n_partitions rows (single-reducer, but partition-count-sized —
    never the relation) is each range's carry-in from all earlier ranges.

    Phase 2: broadcast the carry-ins back and combine each row's
    within-range running max (window partitioned by range id — every
    reducer sorts only its range) with its range's carry-in via
    ``greatest`` (which skips NULLs, so the first range and the first row
    of a range fall out naturally).

    ``strict=True`` (default) excludes the current row — the form
    dominance tests need; the result is NULL for the global first row.
    ``order_by`` must be a total order (unique keys) for strictness to be
    well-defined. ``df`` must be a deterministic source (evaluated once
    per phase)."""
    pid = "__rm_pid"
    cols = [F.col(c) for c in order_by]
    tagged = df.repartitionByRange(*cols).withColumn(pid, F.spark_partition_id())
    part_max = tagged.groupBy(pid).agg(F.max(value_col).alias("__rm_max"))
    w_carry = Window.orderBy(pid).rowsBetween(Window.unboundedPreceding, -1)
    carries = part_max.select(
        pid, F.max("__rm_max").over(w_carry).alias("__rm_carry")
    )
    upper = -1 if strict else 0
    w_run = (
        Window.partitionBy(pid)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    return (
        tagged.join(F.broadcast(carries), pid)
        .withColumn(
            out_col,
            F.greatest(F.max(value_col).over(w_run), F.col("__rm_carry")),
        )
        .drop(pid, "__rm_carry")
    )


def pareto_frontier_2d(
    df: DataFrame,
    minimize: str,
    maximize: str,
) -> DataFrame:
    """2-D skyline (Pareto frontier): rows not dominated by any other row,
    where ``q`` dominates ``p`` iff ``q.minimize <= p.minimize`` and
    ``q.maximize >= p.maximize`` with at least one strict. Classic
    multi-objective selection (Börzsönyi et al., ICDE 2001) — e.g. the
    cheapest-largest tradeoff curve over a product catalog.

    In 2-D the frontier has a closed sort-based form, which makes it
    distributable without the quadratic dominance join the NOT EXISTS
    formulation implies: aggregate to the per-``minimize``-value max of
    ``maximize`` (ONE scan, map-side combined, bounded by the value
    DOMAIN, not the row count), take the strict running max over
    ascending ``minimize`` (two-phase :func:`with_running_max` — no
    global sort), and keep values that strictly exceed every
    strictly-cheaper value's best. Rows tied on both dimensions don't
    dominate each other, so ALL rows matching a surviving
    ``(minimize, max(maximize))`` pair are returned via a broadcast
    semi-join on the frontier (frontier size <= distinct ``minimize``
    values).

    Returns ``df``'s rows on the frontier, all columns preserved."""
    by_min = df.groupBy(minimize).agg(F.max(maximize).alias("__pf_best"))
    ranked = with_running_max(
        by_min, [minimize], "__pf_best", out_col="__pf_carry", strict=True
    )
    frontier = ranked.filter(
        F.col("__pf_carry").isNull() | (F.col("__pf_best") > F.col("__pf_carry"))
    ).select(minimize, F.col("__pf_best").alias(maximize))
    # The frontier is usually tiny but its size is data-dependent (a
    # worst-case skyline is the whole input), so no broadcast hint — AQE
    # broadcasts it when the runtime size is genuinely small.
    return df.join(frontier, [minimize, maximize])


def high_water_mark(existing: DataFrame | None, key_col: str) -> int:
    """Scalar max-key fetch (ref gold_dim_branch.ipynb:60154-60162 cell 24).

    A single scalar, acceptable at any scale (the reference does the same
    via .collect()[0][0]). It costs a job over the whole dim; the medallion
    pipeline's driver-side batch path reads the mark from the dim's commit
    record instead (plans/versioned)."""
    if existing is None:
        return 0
    row = existing.agg(F.max(F.col(key_col))).first()
    v = row[0] if row is not None else None
    return int(v) if v is not None else 0
