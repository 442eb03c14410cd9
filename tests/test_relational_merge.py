"""Relational (pure-Catalyst) merge family and windows vs the numpy kernels.

Every named-op merge (binary, n-ary, strictZip), the sum/mean rolling and
the un-resampled exact ``sum`` sweep run as Catalyst plans. Each must
reproduce the numpy kernel (``kernel.merge``, ``kernel.window``) applied per
key to the collected input rows -- for every named op, compressed or not,
including per-side minus defaults, single-sided keys, empty sides, NaN
values, and touching/overlapping/gapped entries. Reference semantics:
TimeSeriesMerger.scala:13-196, NumericTimeSeries.scala:18-64,
TimeSeries.scala:277-335,530-534.
"""

import numpy as np
import pytest

from scala_timeseries_lib_spark.kernel.merge import (
    merge_apply_numeric,
    merge_apply_numeric_n,
    strict_zip_arrays,
)
from scala_timeseries_lib_spark.operators.merge import (
    merge_series,
    merge_series_n,
    strict_zip_series,
)


def _mk(spark, seed, n_keys=6, max_entries=40, only_keys=None):
    rng = np.random.default_rng(seed)
    rows = []
    for k in range(n_keys):
        key = f"k{k}"
        if only_keys is not None and key not in only_keys:
            continue
        t = int(rng.integers(0, 5))
        for _ in range(int(rng.integers(0, max_entries))):
            t += int(rng.integers(0, 20))
            dur = int(rng.integers(1, 15))
            rows.append((key, t, float(rng.integers(-3, 4)), dur))
            # 70% touching (RLE-relevant), 30% gapped
            t += dur if rng.random() < 0.7 else dur + int(rng.integers(1, 10))
    if not rows:
        rows = []
    return spark.createDataFrame(
        rows, "user_id string, ts long, value double, validity long"
    )


def _sorted(rows):
    # null-safe: a null key or value must still sort
    return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))


def _canon(df):
    return _sorted(tuple(r) for r in df.collect())


def _by_key(df):
    per_key = {}
    for r in df.collect():
        per_key.setdefault(r["user_id"], []).append(
            (r["ts"], r["value"], r["validity"])
        )
    return {k: sorted(v) for k, v in per_key.items()}


def _arrays(entries):
    ts, val, dur = zip(*entries) if entries else ((), (), ())
    return (np.array(ts, np.int64), np.array(val, np.float64),
            np.array(dur, np.int64))


def _rows(key, cols):
    """Kernel output arrays ``(ts, value..., validity)`` as output rows; a
    NaN value becomes null, as a pandas NaN does across the Arrow
    boundary."""
    def val(x):
        return None if np.isnan(x) else float(x)

    return [
        (key, int(c[0]), *(val(v) for v in c[1:-1]), int(c[-1]))
        for c in zip(*cols)
    ]


def _ref_merge(a, b, op, compress=True, **kw):
    pa, pb = _by_key(a), _by_key(b)
    return _sorted(
        row
        for k in pa.keys() | pb.keys()
        for row in _rows(k, merge_apply_numeric(
            *_arrays(pa.get(k, [])), *_arrays(pb.get(k, [])),
            op=op, compress=compress, **kw,
        ))
    )


def _ref_merge_n(sides, op, compress=True):
    per = [_by_key(s) for s in sides]
    return _sorted(
        row
        for k in set().union(*per)
        for row in _rows(k, merge_apply_numeric_n(
            [_arrays(p.get(k, [])) for p in per], op=op, compress=compress
        ))
    )


def _ref_zip(a, b, compress=True):
    pa, pb = _by_key(a), _by_key(b)
    return _sorted(
        row
        for k in pa.keys() & pb.keys()
        for row in _rows(k, strict_zip_arrays(
            *_arrays(pa[k]), *_arrays(pb[k]), compress=compress
        ))
    )


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


OPS = [
    ("plus", {}),
    ("plus_strict", {}),
    ("minus", {}),
    ("minus", dict(left_default=1.5)),
    ("minus", dict(right_default=-2.0)),
    ("minus", dict(left_default=1.5, right_default=-2.0)),
    ("minus_strict", {}),
    ("multiply_strict", {}),
    ("fallback", {}),
]


@pytest.mark.parametrize("op,kw", OPS, ids=[f"{o}-{sorted(k)}" for o, k in OPS])
def test_relational_matches_kernel(spark, op, kw):
    a, b = _mk(spark, 11), _mk(spark, 22)
    for compress in (True, False):
        got = _canon(merge_series(
            a, b, ["user_id"], op=op, compress=compress, **kw
        ))
        assert got == _ref_merge(a, b, op, compress=compress, **kw), compress
        assert len(got) > 0


def test_relational_single_sided_keys(spark):
    # keys present on exactly one side behave as merge-with-empty
    a = _mk(spark, 31, only_keys={"k0", "k1", "k2"})
    b = _mk(spark, 32, only_keys={"k2", "k3", "k4"})
    for op in ("plus", "plus_strict", "fallback"):
        got = _canon(merge_series(a, b, ["user_id"], op=op))
        assert got == _ref_merge(a, b, op), op


def test_relational_empty_side(spark):
    a = _mk(spark, 41)
    empty = a.limit(0)
    for compress in (True, False):
        got = _canon(merge_series(
            a, empty, ["user_id"], op="plus", compress=compress
        ))
        assert got == _ref_merge(a, empty, "plus", compress=compress)
        assert len(got) > 0
    # the skew guard must survive empty/one-sided inputs
    assert _canon(merge_series(a, empty, ["user_id"], op="plus_strict")) == []
    assert _canon(merge_series(empty, empty, ["user_id"], op="plus")) == []
    assert _canon(merge_series_n([a, empty], ["user_id"])) == _ref_merge_n(
        [a, empty], "plus"
    )
    assert _canon(strict_zip_series(a, empty, ["user_id"])) == []


def test_relational_touching_entries_same_instant(spark):
    # an entry starting exactly where another ends must take effect
    # immediately (end markers sort before starts at equal p)
    a = spark.createDataFrame(
        [("k", 0, 1.0, 10), ("k", 10, 2.0, 10)],
        "user_id string, ts long, value double, validity long",
    )
    b = spark.createDataFrame(
        [("k", 5, 10.0, 10), ("k", 15, 20.0, 5)],
        "user_id string, ts long, value double, validity long",
    )
    rel = _canon(merge_series(a, b, ["user_id"], op="plus"))
    assert rel == _ref_merge(a, b, "plus")
    # spot-check one segment: at t=10 both new a-entry (2.0) and b (10.0)
    assert ("k", 10, 12.0, 5) in rel


def test_relational_rle_compression(spark):
    # equal contiguous results must merge into one entry across the join
    a = spark.createDataFrame(
        [("k", 0, 1.0, 10), ("k", 10, 2.0, 10)],
        "user_id string, ts long, value double, validity long",
    )
    b = spark.createDataFrame(
        [("k", 0, 2.0, 10), ("k", 10, 1.0, 10)],
        "user_id string, ts long, value double, validity long",
    )
    rel = _canon(merge_series(a, b, ["user_id"], op="plus"))
    assert rel == [("k", 0, 3.0, 20)]
    # compress=False keeps the elementary segments
    raw = _canon(merge_series(a, b, ["user_id"], op="plus", compress=False))
    assert raw == [("k", 0, 3.0, 10), ("k", 10, 3.0, 10)]


def test_n_ary_relational_matches_kernel(spark):
    sides = [_mk(spark, s) for s in (51, 52, 53)]
    for n in (2, 3):
        for op in ("plus", "plus_strict"):
            for compress in (True, False):
                got = _canon(merge_series_n(
                    sides[:n], ["user_id"], op=op, compress=compress
                ))
                assert got == _ref_merge_n(sides[:n], op, compress), (
                    n, op, compress
                )
                assert len(got) > 0


def test_strict_zip_relational_matches_kernel(spark):
    a, b = _mk(spark, 61), _mk(spark, 62)
    for compress in (True, False):
        got = _canon(strict_zip_series(a, b, ["user_id"], compress=compress))
        assert got == _ref_zip(a, b, compress), compress
        assert len(got) > 0


def test_nan_values_match_kernel_split(spark):
    """NaN input values: the kernels keep NaN segments but never RLE-merge
    adjacent NaN runs (numpy NaN != NaN); Spark's NaN = NaN is true, so the
    relational islands must break on NaN explicitly. Binary named ops treat
    NaN results as holes (the kernel's hole sentinel); n-ary and strict-zip
    keep them, split, and surface them as null."""
    nan = float("nan")
    rows_a = [("k", 0, 1.0, 10), ("k", 10, nan, 10), ("k", 20, nan, 10),
              ("k", 35, 2.0, 5)]
    rows_b = [("k", 0, nan, 15), ("k", 15, 3.0, 10), ("k", 30, nan, 10)]
    schema = "user_id string, ts long, value double, validity long"
    a = spark.createDataFrame(rows_a, schema)
    b = spark.createDataFrame(rows_b, schema)

    for compress in (True, False):
        for op in ("plus", "plus_strict", "fallback"):
            got = _canon(merge_series(
                a, b, ["user_id"], op=op, compress=compress
            ))
            assert got == _ref_merge(a, b, op, compress), (op, compress)
        for op in ("plus", "plus_strict"):
            got = _canon(merge_series_n(
                [a, b], ["user_id"], op=op, compress=compress
            ))
            assert got == _ref_merge_n([a, b], op, compress), (op, compress)
        got = _canon(strict_zip_series(a, b, ["user_id"], compress=compress))
        assert got == _ref_zip(a, b, compress), compress
    # the fixture really produces NaN (null) slots
    assert any(None in r for r in _ref_zip(a, b))


def test_skew_guard_routes_hot_keys(spark, tmp_path_factory):
    """The guard must detect a key above hot_threshold WITHOUT a caller
    hint, merge it through an auto-sized time_slice, keep the cold keys on
    the plain plan, and produce output identical to the numpy kernel. With
    a checkpoint dir set, the exact route materializes into it (reliable
    storage) instead of executor-local blocks."""
    from pyspark.sql import functions as F

    a, b = _mk(spark, 201), _mk(spark, 202)
    # a synthetic hot key: 5k touching entries on each side
    hot_a = spark.range(5000).select(
        F.lit("hotkey").alias("user_id"), (F.col("id") * 10).alias("ts"),
        (F.pmod(F.col("id"), F.lit(7))).cast("double").alias("value"),
        F.lit(10).cast("long").alias("validity"),
    )
    hot_b = spark.range(5000).select(
        F.lit("hotkey").alias("user_id"),
        (F.col("id") * 10 + 3).alias("ts"),
        (F.pmod(F.col("id"), F.lit(5))).cast("double").alias("value"),
        F.lit(10).cast("long").alias("validity"),
    )
    left = a.unionByName(hot_a)
    right = b.unionByName(hot_b)

    expected = _ref_merge(left, right, "plus")
    ckpt = tmp_path_factory.mktemp("guard_checkpoint")
    spark.sparkContext.setCheckpointDir(str(ckpt))
    # guard fires (threshold 1000 < 10k hot entries): split routing
    routed = _canon(merge_series(
        left, right, ["user_id"], op="plus", hot_threshold=1000
    ))
    assert routed == expected
    assert any(p.is_file() for p in ckpt.rglob("*"))
    # guard present but nothing hot: plain relational, same output
    unrouted = _canon(merge_series(left, right, ["user_id"], op="plus"))
    assert unrouted == expected
    # guard off: fully lazy plain relational, same output
    lazy = _canon(merge_series(
        left, right, ["user_id"], op="plus", skew_guard=False
    ))
    assert lazy == expected
    # the routed plan stays zero-Python
    assert "FlatMapGroupsInPandas" not in _plan(merge_series(
        left, right, ["user_id"], op="plus", hot_threshold=1000
    ))
    # null key components must route too (null-safe predicate)
    null_a = a.unionByName(
        hot_a.withColumn("user_id", F.lit(None).cast("string"))
    )
    null_b = b.unionByName(
        hot_b.withColumn("user_id", F.lit(None).cast("string"))
    )
    got_null = _canon(merge_series(
        null_a, null_b, ["user_id"], op="plus", hot_threshold=1000,
    ))
    assert got_null == _ref_merge(null_a, null_b, "plus")


def test_n_ary_and_zip_time_slice_and_guard(spark):
    """The hot-key escape generalizes to the whole merge family: n-ary and
    strict-zip sliced outputs equal the plain plans, and the guard routes a
    synthetic hot key with no caller hint."""
    from pyspark.sql import functions as F

    from scala_timeseries_lib_spark.operators.merge import (
        _merge_n_tagged_relational,
        _tag_sides,
        _tag_sides_n,
        _zip_tagged_relational,
    )

    sides = [_mk(spark, s) for s in (221, 222, 223)]
    for op in ("plus", "plus_strict"):
        base = _canon(merge_series_n(sides, ["user_id"], op=op))
        sliced = _canon(_merge_n_tagged_relational(
            _tag_sides_n(sides, ["user_id"]), ["user_id"], 3, op=op,
            time_slice=41,
        ))
        assert base == sliced, op
        assert len(base) > 0
    a, b = _mk(spark, 231), _mk(spark, 232)
    zbase = _canon(strict_zip_series(a, b, ["user_id"]))
    zsliced = _canon(_zip_tagged_relational(
        _tag_sides(a, b, ["user_id"]), ["user_id"], time_slice=53
    ))
    assert zbase == zsliced
    assert len(zbase) > 0

    hot = spark.range(4000).select(
        F.lit("hotkey").alias("user_id"), (F.col("id") * 10).alias("ts"),
        (F.pmod(F.col("id"), F.lit(7))).cast("double").alias("value"),
        F.lit(10).cast("long").alias("validity"),
    )
    hs = [s.unionByName(hot) for s in sides]
    got = _canon(merge_series_n(hs, ["user_id"], op="plus", hot_threshold=1000))
    assert got == _ref_merge_n(hs, "plus")
    za, zb = a.unionByName(hot), b.unionByName(hot)
    zgot = _canon(strict_zip_series(za, zb, ["user_id"], hot_threshold=1000))
    assert zgot == _ref_zip(za, zb)


def test_auto_engine_routes_named_ops_relationally(spark, monkeypatch):
    """Each operator's route follows from its inputs alone. Named-op
    merges, n-ary merges and strict zips never enter Python, compressed or
    not; a callable op, closest-in-window sampling, the median and
    resampled exact sweeps and min/max rolling keep the Arrow kernel."""
    from scala_timeseries_lib_spark.operators import merge as merge_mod
    from scala_timeseries_lib_spark.operators.window import (
        rolling_values,
        sample_closest,
        sliding_window_exact,
    )

    a, b = _mk(spark, 71), _mk(spark, 72)
    plan = _plan(merge_series(a, b, ["user_id"], op="plus"))
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("Exchange") == 1
    for compress in (True, False):
        for op, kw in OPS:
            assert "FlatMapGroupsInPandas" not in _plan(merge_series(
                a, b, ["user_id"], op=op, compress=compress, **kw
            )), (op, kw, compress)
        for op in ("plus", "plus_strict"):
            assert "FlatMapGroupsInPandas" not in _plan(merge_series_n(
                [a, b, a], ["user_id"], op=op, compress=compress
            ))
        assert "FlatMapGroupsInPandas" not in _plan(strict_zip_series(
            a, b, ["user_id"], compress=compress
        ))
    # callable op must still take the kernel
    assert "FlatMapGroupsInPandas" in _plan(merge_series(
        a, b, ["user_id"],
        op=lambda x, y: (x or 0.0) + (y or 0.0) or None,
    ))
    kernel_routes = [
        sample_closest(a, ["user_id"], 20),
        sliding_window_exact(a, ["user_id"], 60, "median"),
        sliding_window_exact(a, ["user_id"], 60, "mean", sample_rate=20),
        sliding_window_exact(a, ["user_id"], 60, "sum", sample_rate=20),
        rolling_values(a, ["user_id"], 60, agg="min"),
        rolling_values(a, ["user_id"], 60, agg="max"),
    ]
    for df in kernel_routes:
        assert "FlatMapGroupsInPandas" in _plan(df)
    for df in (
        sliding_window_exact(a, ["user_id"], 60, "sum"),
        rolling_values(a, ["user_id"], 60, agg="sum"),
        rolling_values(a, ["user_id"], 60, agg="mean"),
    ):
        assert "FlatMapGroupsInPandas" not in _plan(df)
    # the skew guard never runs on (so never slices) an uncompressed merge:
    # slice borders would split its raw segments
    def _guard(*_args, **_kw):
        raise AssertionError("skew guard ran on an uncompressed merge")

    monkeypatch.setattr(merge_mod, "_route_hot_keys", _guard)
    merge_series(a, b, ["user_id"], compress=False, hot_threshold=1)
    merge_series_n([a, b], ["user_id"], compress=False, hot_threshold=1)
    strict_zip_series(a, b, ["user_id"], compress=False, hot_threshold=1)


def test_relational_engine_rejects_unsupported(spark):
    a, b = _mk(spark, 81), _mk(spark, 82)
    # the slice-border RLE repair needs compressed output
    with pytest.raises(ValueError, match="compress"):
        merge_series(a, b, ["user_id"], op="plus", compress=False,
                     time_slice=100)
    with pytest.raises(ValueError, match="n-ary op"):
        merge_series_n([a, b], ["user_id"], op="minus")


def test_relational_time_slice_identical_output(spark):
    # the hot-key escape hatch must not change results: slice at absolute
    # boundaries, merge per (key, slice), RLE-repair across borders
    a, b = _mk(spark, 91), _mk(spark, 92)
    base = _canon(merge_series(a, b, ["user_id"], op="plus"))
    sliced = _canon(merge_series(a, b, ["user_id"], op="plus", time_slice=37))
    assert base == sliced
    assert base == _ref_merge(a, b, "plus")
    assert "FlatMapGroupsInPandas" not in _plan(merge_series(
        a, b, ["user_id"], op="plus", time_slice=37
    ))


def test_relational_time_slice_rejects_hole_filling_ops(spark):
    # ops that fill (undefined, undefined) segments cannot be sliced: holes
    # crossing slice borders would be filled per slice
    a, b = _mk(spark, 93), _mk(spark, 94)
    with pytest.raises(ValueError, match="time_slice"):
        merge_series(
            a, b, ["user_id"], op="minus",
            left_default=1.0, right_default=2.0, time_slice=100,
        )
    with pytest.raises(ValueError, match="time_slice"):
        merge_series(a, b, ["user_id"], op=lambda x, y: 0.0, time_slice=100)


def test_rolling_relational_matches_kernel(spark):
    """rolling(sum|mean) via cumulative sums minus an as-of end-event carry
    and rolling(min|max) via the kernel's RMQ must match the sequential
    kernel.window.rolling per key (integer values: every sum is exact)."""
    from scala_timeseries_lib_spark.kernel import window as kwin
    from scala_timeseries_lib_spark.operators.window import rolling_values

    df = _mk(spark, 101)
    per_key = _by_key(df)
    aggs = {"sum": sum, "mean": lambda v: sum(v) / len(v),
            "min": min, "max": max}

    def ref(agg, window_ms, compress):
        return _sorted(
            (k, t, float(v), d)
            for k, entries in per_key.items()
            for t, v, d in kwin.rolling(
                entries, aggs[agg], window_ms, compress=compress
            )
        )

    for agg in aggs:
        for window_ms in (13, 60, 500):
            got = _canon(rolling_values(df, ["user_id"], window_ms, agg=agg))
            assert got == ref(agg, window_ms, True), (agg, window_ms)
            assert len(got) > 0
    # uncompressed too (no RLE pass), on both routes
    for agg in ("sum", "min"):
        got = _canon(rolling_values(df, ["user_id"], 60, agg=agg,
                                    compress=False))
        assert got == ref(agg, 60, False), agg
    with pytest.raises(ValueError):
        rolling_values(df, ["user_id"], 60, agg="median")


def test_sliding_exact_relational_matches_sequential(spark):
    """The zero-Python exact ``sum`` sweep must reproduce the SEQUENTIAL
    sweep's accumulation bit-for-bit (drops retract before adds at each
    cursor, same float order) over raw holey entries."""
    from scala_timeseries_lib_spark.kernel import window as kwin
    from scala_timeseries_lib_spark.kernel.fitter import fit
    from scala_timeseries_lib_spark.operators.window import (
        sliding_window_exact,
    )

    df = _mk(spark, 301, n_keys=8, max_entries=50)
    width = 60
    expected = []
    for key, entries in _by_key(df).items():
        emitted = []
        for (ts, _c, validity), a in kwin.window_sweep(
            entries, width, kwin.SumAggregator()
        ):
            if a is not None:
                emitted.append((ts, float(a), validity))
        for ts, v, d in fit(emitted, compress=True):
            expected.append((key, ts, v, d))

    rel = _canon(sliding_window_exact(df, ["user_id"], width, "sum"))
    assert rel == _sorted(expected)
    assert len(rel) > 50
    # compress=False emits every segment, no RLE
    rel_raw = _canon(sliding_window_exact(
        df, ["user_id"], width, "sum", compress=False,
    ))
    assert len(rel_raw) >= len(rel)
    plan = _plan(sliding_window_exact(df, ["user_id"], width, "sum"))
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan


def test_sliding_exact_relational_matches_kernel_rounded(spark):
    """Both routes of the exact sweep vs the VECTORIZED numpy sweep applied
    per key: the relational ``sum`` is identical up to the documented
    ~1e-13 prefix-difference float divergence (compare at 9 decimals, same
    rounding the oracle queries apply); the resampled ``mean`` is the
    kernel route itself."""
    from scala_timeseries_lib_spark.kernel import window as kwin
    from scala_timeseries_lib_spark.kernel.sample import (
        sample_arrays_closest_grouped,
    )
    from scala_timeseries_lib_spark.operators.window import (
        sliding_window_exact,
    )

    df = _mk(spark, 311, n_keys=6, max_entries=40)
    per_key = _by_key(df)

    def rounded(rows):
        return sorted((r[0], r[1], round(r[2], 9), r[3]) for r in rows)

    def ref(agg, rate):
        rows = []
        for key, entries in per_key.items():
            ts, val, dur = _arrays(entries)
            cols = (np.zeros(ts.size, np.int64), ts, val, dur)
            if rate is not None:
                cols = sample_arrays_closest_grouped(*cols, rate)
            _codes, *out = kwin.window_sweep_grouped(*cols, 80, agg=agg)
            rows += _rows(key, out)
        return rounded(rows)

    for agg, rate in (("sum", None), ("mean", 25)):
        got = rounded(_canon(sliding_window_exact(
            df, ["user_id"], 80, agg, sample_rate=rate, compress=False,
        )))
        assert got == ref(agg, rate), agg
        assert len(got) > 50


def test_relational_stress_high_entropy(spark):
    """One wide adversarial batch instead of per-example fuzzing (a Spark
    round per hypothesis example would be minutes): 40 keys mixing dense
    RLE chains, long validities, negative timestamps, huge magnitudes, and
    singleton series — the relational plans must match the kernels on
    every op."""
    rng = np.random.default_rng(987)
    rows_a, rows_b = [], []
    for k in range(40):
        key = f"k{k}"
        style = k % 4
        for rows, seed_shift in ((rows_a, 0), (rows_b, 1)):
            t = int(rng.integers(-1_000_000, 1_000_000))
            n = 1 if style == 3 else int(rng.integers(2, 120))
            for _ in range(n):
                if style == 0:      # dense chain, tiny values (RLE-heavy)
                    dur = int(rng.integers(1, 4))
                    v = float(rng.integers(0, 2))
                    gap = 0
                elif style == 1:    # long validities, big magnitudes
                    dur = int(rng.integers(10_000, 500_000))
                    v = float(rng.integers(-10**9, 10**9))
                    gap = int(rng.integers(0, 1_000_000))
                else:               # mixed
                    dur = int(rng.integers(1, 500))
                    v = float(rng.integers(-50, 50))
                    gap = int(rng.integers(0, 800))
                rows.append((key, t, v, dur))
                t += dur + gap + (1 if gap == 0 and rng.random() < 0.5 else 0)
                # keep strictly increasing when gap==0 kept half the time
                if gap == 0 and rows[-1][1] == t:
                    t += 1
    a = spark.createDataFrame(
        rows_a, "user_id string, ts long, value double, validity long"
    )
    b = spark.createDataFrame(
        rows_b, "user_id string, ts long, value double, validity long"
    )
    for op, kw in OPS:
        rel = _canon(merge_series(a, b, ["user_id"], op=op, **kw))
        assert rel == _ref_merge(a, b, op, **kw), op
        assert len(rel) > 100

    # same adversarial batch through the relational exact sweep vs the
    # sequential kernel (negative timestamps, dense RLE chains, huge
    # magnitudes, singleton series — bit-exact, both widths)
    from scala_timeseries_lib_spark.kernel import window as kwin
    from scala_timeseries_lib_spark.kernel.fitter import fit
    from scala_timeseries_lib_spark.operators.window import (
        sliding_window_exact,
    )

    per_key = {}
    for key, ts, v, dur in rows_a:
        per_key.setdefault(key, []).append((ts, v, dur))
    for width in (7, 100_000):
        expected = []
        for key, entries in per_key.items():
            entries.sort()
            emitted = [
                (ts, float(agg), dur)
                for (ts, _c, dur), agg in kwin.window_sweep(
                    entries, width, kwin.SumAggregator()
                )
                if agg is not None
            ]
            for ts, v, d in fit(emitted, compress=True):
                expected.append((key, ts, v, d))
        got = _canon(sliding_window_exact(a, ["user_id"], width, "sum"))
        assert got == _sorted(expected), width
        assert len(got) > 1000
