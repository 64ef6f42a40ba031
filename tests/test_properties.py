"""Property-based tests (hypothesis) — SURVEY.md §5's test plan:
merge idempotence/algebra and surrogate-key uniqueness/density on
arbitrary inputs, not just the fixture scenario.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

KEYS = st.integers(min_value=0, max_value=20)
VALS = st.text(alphabet="abcxyz", min_size=0, max_size=4)
BATCH = st.dictionaries(KEYS, VALS, min_size=0, max_size=15)

prop = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, batch: dict[int, str]):
    if not batch:
        return spark.createDataFrame([], "k long, v string")
    return spark.createDataFrame(sorted(batch.items()), "k long, v string")


def _as_dict(df) -> dict[int, str]:
    return {r["k"]: r["v"] for r in df.collect()}


@prop
@given(target=BATCH, source=BATCH)
def test_merge_is_dict_update(spark, target, source):
    """SCD1 merge == Python dict.update: source wins on conflict, target
    survivors keep their values, nothing else appears."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.scd import (
        merge_scd1_df,
    )

    merged = _as_dict(merge_scd1_df(_df(spark, target), _df(spark, source), ["k"]))
    expected = dict(target)
    expected.update(source)
    assert merged == expected


@prop
@given(target=BATCH, source=BATCH)
def test_merge_idempotent_on_any_batch(spark, target, source):
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.scd import (
        merge_scd1_df,
    )

    once = merge_scd1_df(_df(spark, target), _df(spark, source), ["k"])
    twice = merge_scd1_df(once, _df(spark, source), ["k"])
    assert _as_dict(once) == _as_dict(twice)


@prop
@given(keys=st.sets(KEYS, min_size=1, max_size=15), start=st.integers(1, 100))
def test_surrogate_keys_dense_unique(spark, keys, start):
    """row_number keys are exactly start..start+n-1 with no gaps or dups,
    regardless of input partitioning."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.relational import (
        with_surrogate_key,
    )

    df = spark.createDataFrame([(k,) for k in sorted(keys)], "k long").repartition(3)
    out = with_surrogate_key(df, ["k"], "sk", start_at=start)
    got = sorted(r["sk"] for r in out.collect())
    assert got == list(range(start, start + len(keys)))


@prop
@given(
    initial=st.dictionaries(KEYS, VALS, min_size=1, max_size=10),
    extra=BATCH,
)
def test_build_dim_preserves_existing_keys(spark, initial, extra):
    """Incremental dim build: existing business keys keep their surrogate
    keys; new ones get fresh keys above the high-water mark."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.star import (
        build_dim,
    )

    src0 = spark.createDataFrame(
        sorted(initial.items()), "bk long, attr string"
    )
    dim0 = build_dim(src0, ["bk"], ["attr"], "sk")
    mapping0 = {r["bk"]: r["sk"] for r in dim0.collect()}

    merged = dict(initial)
    merged.update(extra)
    src1 = spark.createDataFrame(sorted(merged.items()), "bk long, attr string")
    dim1 = build_dim(src1, ["bk"], ["attr"], "sk", existing=dim0)
    mapping1 = {r["bk"]: r["sk"] for r in dim1.collect()}

    hwm = max(mapping0.values())
    for bk, sk in mapping0.items():
        assert mapping1[bk] == sk  # stable keys for known business keys
    new_keys = [sk for bk, sk in mapping1.items() if bk not in mapping0]
    assert all(sk > hwm for sk in new_keys)
    assert len(set(mapping1.values())) == len(mapping1)  # unique


@prop
@given(
    initial=st.dictionaries(KEYS, VALS, min_size=1, max_size=10),
    extra=st.dictionaries(st.none() | KEYS, VALS, max_size=10),
    repeats=st.integers(1, 3),
)
def test_resolve_dim_batch_matches_build_dim(spark, initial, extra, repeats):
    """The driver-side dim resolution gives build_dim's rows and keys:
    existing business keys keep theirs, new ones (a NULL key included)
    get hwm+1.. in business-key order, repeated rows count once."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.star import (
        build_dim,
        resolve_dim_batch,
    )

    dim0 = build_dim(
        spark.createDataFrame(sorted(initial.items()), "bk long, attr string"),
        ["bk"], ["attr"], "sk",
    )
    existing = [(r["sk"], (r["bk"],)) for r in dim0.collect()]
    batch = sorted(extra.items(), key=repr) * repeats
    want = build_dim(
        spark.createDataFrame(batch, "bk long, attr string"), ["bk"], ["attr"], "sk",
        existing=dim0,
    )
    hwm = max(k for k, _ in existing)
    found = [(k, bk) for k, bk in existing if bk[0] in extra]
    got = resolve_dim_batch(batch, 1, found, hwm)
    assert sorted((k, *batch[i]) for i, k in got) == sorted(
        (r["sk"], r["bk"], r["attr"]) for r in want.collect()
    )


@prop
@given(
    keys=st.sets(KEYS, min_size=1, max_size=15),
    start=st.integers(1, 100),
    n_parts=st.integers(1, 5),
)
def test_fact_surrogate_keys_dense_unique(spark, keys, start, n_parts):
    """Two-phase fact-path keys are dense start..start+n-1 and unique on
    any partition layout (including empty partitions when n_parts > n)."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.relational import (
        with_surrogate_key_fact,
    )

    df = spark.createDataFrame(
        [(k,) for k in sorted(keys)], "k long"
    ).repartition(n_parts)
    out = with_surrogate_key_fact(df, "sk", start_at=start)
    got = sorted(r["sk"] for r in out.collect())
    assert got == list(range(start, start + len(keys)))
    # every input row survives with its payload intact
    assert sorted(r["k"] for r in out.collect()) == sorted(keys)


@prop
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-10**6, 10**6)),
        min_size=1,
        max_size=30,
    ),
    n_parts=st.integers(1, 4),
)
def test_exact_sums_matches_decimal_path(spark, vals, n_parts):
    """fastagg.exact_sums must be bit-identical to the dec_sum decimal
    path for values with <= 4 decimal digits, on any partition layout."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.catalog import (
        dec_sum,
    )
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.fastagg import (
        exact_sums,
    )
    from pyspark.sql import functions as F

    rows = [(k, v / 10_000.0) for k, v in vals]
    df = spark.createDataFrame(rows, "k long, x double").repartition(n_parts)
    slow = {
        r["k"]: r["s"]
        for r in df.groupBy("k").agg(dec_sum(F.col("x")).alias("s")).collect()
    }
    fast = {
        r["k"]: r["s"]
        for r in exact_sums(df, ["k"], {"s": (F.col("x"), 6)}).collect()
    }
    assert slow == fast


EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),        # user
        st.integers(min_value=0, max_value=20_000),   # seconds offset
    ),
    min_size=1,
    max_size=40,
)


@prop
@given(events=EVENTS)
def test_sessionize_matches_python_reference(spark, events):
    """sessionize (two window passes) must equal the obvious sequential
    labeling for ANY event set: per user, sorted by (ts, event_id), a new
    session starts when the gap exceeds the threshold."""
    import datetime as dt

    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.sessionize import (
        sessionize,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, user, base + dt.timedelta(seconds=off))
        for i, (user, off) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(
            df, "user_id", "ts", order_tiebreak="event_id", gap_seconds=600.0
        ).collect()
    }

    expected: dict[int, int] = {}
    by_user: dict[int, list] = {}
    for i, user, ts in rows:
        by_user.setdefault(user, []).append((ts, i))
    for user, evs in by_user.items():
        evs.sort()
        seq, prev = 0, None
        for ts, i in evs:
            if prev is None or (ts - prev).total_seconds() > 600.0:
                seq += 1
            expected[i] = seq
            prev = ts
    assert got == expected


@prop
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),   # left key
            st.integers(min_value=0, max_value=3),    # left batch tag
        ),
        min_size=0, max_size=40,
    ),
    right=st.dictionaries(
        st.integers(min_value=0, max_value=30),       # right key
        st.integers(min_value=0, max_value=1),        # right batch tag
        min_size=0, max_size=20,
    ),
)
def test_incremental_join_converges_on_any_schedule(spark, rows, right):
    """plans/incremental.incremental_join_delta: for ANY assignment of
    left rows to 4 append batches and right rows to 2, folding the
    per-batch deltas (right's batch lands with left batch 1) equals the
    full recompute — including duplicate keys on the left (join fanout)
    and keys with no match ever."""
    from pyspark.sql import functions as F

    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.incremental import (
        incremental_join_delta,
    )

    left_rows = [(i, k, b) for i, (k, b) in enumerate(rows)]
    left = (
        spark.createDataFrame(left_rows, "lid long, k long, b long")
        if left_rows
        else spark.createDataFrame([], "lid long, k long, b long")
    )
    right_rows = [(k, rb) for k, rb in sorted(right.items())]
    rdf = (
        spark.createDataFrame(right_rows, "rk long, rb long")
        if right_rows
        else spark.createDataFrame([], "rk long, rb long")
    )
    on = F.col("k") == F.col("rk")
    r_old = rdf.filter(F.col("rb") == 0)
    batches = [left.filter(F.col("b") == i) for i in range(4)]

    view = None
    for i in range(4):
        prev = None
        if i > 0:
            prev = batches[0]
            for b in batches[1:i]:
                prev = prev.unionByName(b)
        delta_right = rdf.filter(F.col("rb") == 1) if i == 1 else None
        new_right = r_old if i == 0 else rdf
        d = incremental_join_delta(batches[i], prev, delta_right, new_right, on)
        if d is not None:
            view = d if view is None else view.unionByName(d)

    got = sorted(
        (r["lid"], r["k"], r["rk"]) for r in (view.collect() if view else [])
    )
    want = sorted(
        (lid, k, k) for lid, k, _b in left_rows if k in right
    )
    assert got == want


@prop
@given(
    obs=st.dictionaries(
        st.integers(min_value=0, max_value=12),       # grid slot
        st.floats(min_value=-100, max_value=100, allow_nan=False,
                  allow_infinity=False, width=32),
        min_size=1, max_size=8,
    )
)
def test_linear_interpolation_matches_python(spark, obs):
    """The interpolation expression (prev/next via ignorenulls frames +
    epoch-fraction blend) equals the scalar formula on arbitrary sparse
    observations over a dense integer grid."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    lo, hi = min(obs), max(obs)
    grid = [(t, obs.get(t)) for t in range(lo, hi + 1)]
    df = spark.createDataFrame(grid, "t long, v double")
    wp = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wn = Window.orderBy("t").rowsBetween(1, Window.unboundedFollowing)
    obs_t = F.when(F.col("v").isNotNull(), F.col("t"))
    pv = F.last("v", ignorenulls=True).over(wp)
    pt = F.last(obs_t, ignorenulls=True).over(wp)
    nv = F.first("v", ignorenulls=True).over(wn)
    nt = F.first(obs_t, ignorenulls=True).over(wn)
    frac = (F.col("t") - pt).cast("double") / (nt - pt).cast("double")
    out = {
        r["t"]: r["vi"]
        for r in df.select(
            "t", F.coalesce(F.col("v"), pv + (nv - pv) * frac).alias("vi")
        ).collect()
    }
    keys = sorted(obs)
    for t in range(lo, hi + 1):
        if t in obs:
            assert out[t] == obs[t]
            continue
        p = max(k for k in keys if k < t)
        n = min(k for k in keys if k > t)
        want = obs[p] + (obs[n] - obs[p]) * ((t - p) / (n - p))
        assert abs(out[t] - want) < 1e-9
        assert min(obs[p], obs[n]) - 1e-9 <= out[t] <= max(obs[p], obs[n]) + 1e-9


POINTS = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=-50, max_value=50),
    ),
    min_size=1,
    max_size=25,
)


@prop
@given(pts=POINTS)
def test_pareto_frontier_matches_bruteforce_property(spark, pts):
    """Sort-based 2-D skyline == quadratic dominance filter on arbitrary
    integer point sets, including duplicates and total ties."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.relational import (
        pareto_frontier_2d,
    )

    rows = [(i, float(c), g) for i, (c, g) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, cost double, gain long")
    got = {r["id"] for r in pareto_frontier_2d(df, "cost", "gain").collect()}
    want = {
        i
        for i, (c, g) in enumerate(pts)
        if not any(
            qc <= c and qg >= g and (qc < c or qg > g) for qc, qg in pts
        )
    }
    assert got == want


EDGE_SETS = st.sets(
    st.tuples(
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=1, max_value=9),
    ).filter(lambda e: e[0] < e[1]),
    min_size=1,
    max_size=18,
)


@prop
@given(edges=EDGE_SETS)
def test_triangle_stats_matches_bruteforce_property(spark, edges):
    """Degree-ordered triangle census == brute-force enumeration on
    arbitrary simple graphs (<= 9 nodes), wedges included."""
    from itertools import combinations

    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.graph import (
        triangle_stats,
    )

    es = sorted(edges)
    adj = set(es)
    nodes = sorted({n for e in es for n in e})
    want_tri = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in adj and (b, c) in adj and (a, c) in adj
    )
    deg: dict[int, int] = {}
    for a, b in es:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    want_w = sum(d * (d - 1) // 2 for d in deg.values())
    row = triangle_stats(
        spark.createDataFrame(es, "src long, dst long")
    ).collect()[0]
    assert (row["n_nodes"], row["n_edges"]) == (len(nodes), len(es))
    assert (row["n_wedges"], row["n_triangles"]) == (want_w, want_tri)
