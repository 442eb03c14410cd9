"""Salted-bucket dispatch and the bucket codec for the Arrow kernels.

``applyInPandas`` costs ~2-3 ms of Arrow/pandas overhead per Spark group.
Web-scale series tables have millions of small series, so grouping by the
raw series key would be dominated by that overhead. Instead we group by
``hash(key) % n_buckets`` -- every UDF call receives a whole bucket of
series and fans out to the kernel (vectorized across the bucket where the
kernel supports it). This is the salted-repartition scheme the north rule
asks for: many small series cannot pile up behind one another, and AQE
skew splitting applies underneath. A single pathological SERIES still
lands in one bucket (its kernel is order-dependent); the escape hatch for
that shape is time-slicing -- see ``merge_series(time_slice=...)``, which
splits the series at absolute time boundaries and repairs the RLE at the
borders relationally.

:func:`apply_grouped` is the one pandas<->numpy boundary of every
entries -> entries kernel operator (fit, callable merge, closest sampling,
exact and dynamic sweeps, min/max rolling). Per bucket it sorts rows by
``(key, ts)``, factorizes the keys into ascending int64 codes and calls

- ``grouped_fn(codes, ts, value, validity, *extra)`` -> ``(codes, ts,
  value, validity)`` numpy arrays for the whole bucket, or ``None`` when
  the kernel's packed time axis would overflow int64;
- on ``None`` (or when ``grouped_fn`` is ``None``),
  ``series_fn(ts, value, validity, *extra)`` -> ``(ts, value, validity)``
  once per series,

then optionally RLE-compresses the output and rebuilds the key columns.
The output is always :func:`entries_schema`. :func:`apply_per_bucket`
stays the raw dispatcher for kernels whose output is not an entries table
(Gorilla blocks).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

__all__ = ["apply_grouped", "apply_per_bucket", "entries_schema"]

# Default estimated bytes per salt bucket ($SPARK_GRAFT_KERNEL_BUCKET_BYTES
# overrides it). Each bucket is materialized as ONE pandas frame in a Python
# worker, so this approximately bounds kernel-stage worker memory at any
# input size: the estimate is Catalyst's sizeInBytes, roughly the
# compressed input, and the decoded pandas frame can be several times
# larger (the [p, 32p] clamp in _default_buckets caps the error).
_BUCKET_BYTES = 8 << 20


def _default_buckets(df: DataFrame) -> int:
    """Size-adaptive salt-bucket count for the kernel stage.

    ``ceil(estimated_bytes / bucket_bytes)`` clamped to
    ``[max(defaultParallelism, 16), defaultParallelism * 32]``. The
    estimate is Catalyst's driver-side ``sizeInBytes`` on the already-built
    plan (no job runs). Rationale, measured round 6 (OPTIMIZATION_r06.md):
    per-task Arrow/Python overhead dominates small inputs, so tiny inputs
    want few task waves: the floor gives exactly one wave on a box with 16
    or more cores (1.33 s -> 0.97 s on the sf0.1 gorilla roundtrip vs the
    old fixed 4x), and 16 buckets on smaller boxes; huge inputs want buckets
    bounded by BYTES, not core count, so worker memory stays flat while
    parallelism grows with the data. Falls back to the old fixed
    ``max(4 * defaultParallelism, 16)`` when the estimate is unusable
    (streaming frames, unknown-stat sources report 2^63-ish sentinels).
    """
    sc = df.sparkSession.sparkContext
    p = max(sc.defaultParallelism, 1)
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est = -1
    if est <= 0 or est >= (1 << 50):
        return max(p * 4, 16)
    from ..plans.session import env_positive_int

    bucket_bytes = env_positive_int(
        "SPARK_GRAFT_KERNEL_BUCKET_BYTES", _BUCKET_BYTES
    )
    return min(max(math.ceil(est / bucket_bytes), p, 16), p * 32)


def apply_per_bucket(
    df: DataFrame,
    key_cols: list[str],
    bucket_fn,
    out_schema,
    n_buckets: int | None = None,
):
    """Run ``bucket_fn(pdf) -> pdf`` once per salt bucket (a whole batch of
    series, key columns included in both input and output). Kernels whose
    output is an entries table go through :func:`apply_grouped` instead."""
    if n_buckets is None:
        n_buckets = _default_buckets(df)
    return _dispatch(df, key_cols, bucket_fn, out_schema, n_buckets)


def entries_schema(df: DataFrame, key_cols: list[str]) -> StructType:
    """``df``'s key fields followed by the entry columns."""
    return StructType(
        [
            *(df.schema[k] for k in key_cols),
            StructField("ts", LongType()),
            StructField("value", DoubleType()),
            StructField("validity", LongType()),
        ]
    )


def apply_grouped(
    df: DataFrame,
    key_cols: list[str],
    grouped_fn,
    series_fn,
    compress: bool = False,
    extra_cols=(),
) -> DataFrame:
    """Run an entries -> entries kernel per salt bucket (module docstring).

    ``extra_cols`` name further input columns handed to both kernels after
    ``validity`` (e.g. the merge's ``side`` tag). ``compress`` RLE-fits the
    kernel output per series (``fit_arrays_grouped``). ``df`` reaches the
    dispatcher as given, so the bucket count sees the caller's plan."""
    import numpy as np
    import pandas as pd

    from ..kernel.fitter import fit_arrays_grouped

    schema = entries_schema(df, key_cols)
    out_names = schema.fieldNames()
    in_cols = [*key_cols, "ts", "value", "validity", *extra_cols]

    def _bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=out_names)
        pdf = pdf[in_cols].sort_values(
            [*key_cols, "ts"], kind="mergesort", ignore_index=True
        )
        keys = pdf[key_cols]
        codes, uniques = pd.factorize(
            pd.MultiIndex.from_frame(keys) if len(key_cols) > 1
            else keys.iloc[:, 0],
            use_na_sentinel=False,
        )
        codes = codes.astype(np.int64, copy=False)
        cols = (
            pdf["ts"].to_numpy(np.int64),
            pdf["value"].to_numpy(np.float64),
            pdf["validity"].to_numpy(np.int64),
            *(pdf[c].to_numpy() for c in extra_cols),
        )
        res = None if grouped_fn is None else grouped_fn(codes, *cols)
        if res is None:
            res = _per_series(series_fn, codes, cols)
        oc, ot, ov, od = res
        if compress:
            keep, ot, ov, od = fit_arrays_grouped(oc, ot, ov, od, compress=True)
            oc = oc[keep]
        if len(key_cols) > 1:
            out = uniques[oc].to_frame(index=False)
            out.columns = key_cols
        else:
            out = pd.DataFrame({key_cols[0]: uniques[oc]})
        out["ts"] = ot
        out["value"] = ov
        out["validity"] = od
        return out

    return apply_per_bucket(df, key_cols, _bucket, schema)


def _per_series(series_fn, codes, cols):
    """``series_fn`` once per run of equal ``codes``, outputs concatenated
    as ``(codes, ts, value, validity)``."""
    import numpy as np

    starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
    parts = []
    for s0, s1 in zip(starts, np.r_[starts[1:], codes.size]):
        t, v, d = series_fn(*(c[s0:s1] for c in cols))
        parts.append((
            np.full(len(t), codes[s0], np.int64),
            np.asarray(t, np.int64),
            np.asarray(v, np.float64),
            np.asarray(d, np.int64),
        ))
    return tuple(np.concatenate(p) for p in zip(*parts))


def as_rows(ts, value, validity) -> list:
    """Column arrays -> ``[(ts, value, validity), ...]`` Python entries, the
    input of the sequential kernels."""
    return list(zip(ts.tolist(), value.tolist(), validity.tolist()))


def as_columns(rows) -> tuple:
    """Python entries -> ``(ts, value, validity)`` columns (a
    ``series_fn`` result)."""
    return tuple(zip(*rows)) if rows else ((), (), ())


def _dispatch(df, key_cols, bucket_fn, out_schema, n_buckets):
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))
    )
    # pin the kernel stage's parallelism: the cost here is Python CPU per
    # row, not shuffle bytes, so AQE's size-based coalescing (which would
    # happily squash a few-MB shuffle into ONE partition and serialize the
    # whole Arrow stage) must not apply. A user-numbered repartition is
    # never coalesced by AQE; groupBy reuses its hash distribution, so no
    # second exchange appears.
    salted = salted.repartition(n_buckets, "_salt")
    return salted.groupBy("_salt").applyInPandas(
        lambda pdf: bucket_fn(pdf.drop(columns=["_salt"])), schema=out_schema
    )
