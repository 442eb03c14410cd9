"""DataFrame-level operators over entries tables.

An *entries table* is any DataFrame with one or more key columns (the series
identity, e.g. ``url``/``signal`` or ``user_id``/``event_type``) plus:

- ``ts``       long  -- epoch milliseconds (time unit is abstract, like the
                        reference's README.md:30-31)
- ``value``    double
- ``validity`` long  -- > 0; the entry covers ``[ts, ts + validity)``

Each operator has one route, chosen from its inputs. Operators that
Catalyst can express stay JVM-side (filters, clamps, explode-based
splitting, window frames, hash aggregations, and the boundary-union plans
behind every named-op merge, n-ary merge, strict zip, sum/mean rolling and
the un-resampled exact ``sum`` sweep). Only semantics that need Python or
that numpy runs faster drop into Arrow-batched ``applyInPandas`` kernels
from ``scala_timeseries_lib_spark.kernel``: the TSEntryFitter, a
Python-callable merge op or window predicate, closest-in-window sampling,
min/max rolling, and the median or resampled exact sliding sweep.

Each of them reaches Python through one codec, ``_kernel.apply_grouped``:
the kernel gets numpy arrays for a whole salt bucket and falls back to its
sequential twin per series on packed-axis overflow.
"""
