"""Temporal joins Spark lacks as built-ins: as-of and range (interval).

The reference has no temporal-join operator (its pipelines are snapshot
ETL), but both are named first-class targets for this engine: an as-of
join is how a feature pipeline attaches "latest known state before t"
(price history, model scores, consent flags) and a range join is how
events land in enrichment windows. Both are implemented as compositions
of DataFrame ops — no Pandas UDFs, no nested-loop joins — so Catalyst
and whole-stage codegen own the hot path.

Scale shapes:

``asof_join`` — union-tag + window, the sort-merge formulation:
  one shuffle of both inputs on the join keys, one per-key ordered pass
  carrying O(1) state (the last-seen right struct). Never materializes
  candidate pairs, so a key with a million left rows and a million right
  rows costs their sort, not their product. This is the same plan a
  hand-written MERGE_ASOF over co-sorted shards would run. (A broadcast
  range join would need the whole right side per executor; this needs
  neither side small.) Skewed keys degrade to a single-partition sort —
  the standard mitigation (time-range pre-split per hot key) composes on
  top without changing semantics.

``range_join`` — bin-and-verify: intervals explode into fixed-width
  time bins (expansion factor len/bin_width + 1, bounded by
  ``max_bins``), points compute their bin in-scan, and the join is an
  EQUI-join on (keys..., bin) that AQE can plan like any other shuffle
  join, followed by the exact containment filter. Choose bin_width near
  the typical interval length: expansion stays O(1) while the equi-join
  prunes the quadratic blow-up a naive theta-join (BroadcastNestedLoop)
  would hit.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.datetime_ops import micros_between


def _keys(on) -> list[str]:
    return [on] if isinstance(on, str) else list(on)


def asof_join(left: DataFrame, right: DataFrame, *, on,
              left_ts: str = "ts", right_ts: str = "ts",
              direction: str = "backward",
              tolerance: _dt.timedelta | None = None,
              right_prefix: str = "r_",
              split_width: _dt.timedelta | None = None) -> DataFrame:
    """For every left row, the single nearest right row per key:
    ``backward`` → latest right with right_ts <= left_ts (the pandas
    merge_asof / DuckDB ASOF JOIN default), ``forward`` → earliest right
    with right_ts >= left_ts. Left outer semantics: unmatched left rows
    keep nulls in every ``right_prefix``-ed column.

    Equal timestamps match (<=/>=). Ties among right rows at the same
    (key, ts) are broken deterministically by the right row's full
    payload ordering. ``tolerance`` nulls the match out when the time
    gap exceeds it (pandas-merge_asof semantics).

    Mechanics: right rows collapse their payload into ONE struct column
    (so a genuinely-NULL right attribute still counts as a match — a
    per-column last(ignorenulls) would skip past it), both sides union
    with a side tag, and a per-key window ordered by (ts, side) carries
    the last-seen struct onto each left row. Right sorts before left at
    equal ts, which is exactly the <= boundary.

    ``split_width`` — HOT-KEY MITIGATION (r2 verdict task #2). The plain
    window partitions by key alone, so one entity holding half the rows
    degrades to a single-partition sort. With ``split_width`` set, rows
    are windowed per (key, time-bin of that width) instead — a hot key
    spreads over its time range — and a per-(key, bin) "carry-in" struct
    (the last right state from earlier bins, computed over the tiny
    per-bin summary table and injected as a pre-row) preserves exact
    cross-bin semantics. Identical output to the plain path (pinned by
    tests and the x29 oracle); choose a width that yields
    rows-per-(key, bin) ≈ a healthy partition, e.g. a day for per-second
    events.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    backward = direction == "backward"
    keys = _keys(on)
    rcols = [c for c in right.columns if c not in keys]
    overlap = set(right_prefix + c for c in rcols) & set(left.columns)
    if overlap:
        raise ValueError(f"prefixed right columns collide with left: {overlap}")

    rp = (right.select(*keys,
                       F.col(right_ts).alias("_t"),
                       F.struct(*[F.col(c) for c in rcols]).alias("_r"))
          .withColumn("_side", F.lit(1)))
    lp = (left.withColumn("_t", F.col(left_ts))
          .withColumn("_side", F.lit(0)))

    t_order = F.col("_t").asc() if backward else F.col("_t").desc()
    if split_width is None:
        u = lp.unionByName(rp, allowMissingColumns=True)
        w = (W.partitionBy(*keys)
             .orderBy(t_order, F.col("_side").desc(), F.col("_r").asc())
             .rowsBetween(W.unboundedPreceding, W.currentRow))
        matched = (u.withColumn("_m", F.last("_r", ignorenulls=True).over(w))
                   .filter(F.col("_side") == 0))
    else:
        b = bin_of(F.col("_t"), split_width)
        lpb = lp.withColumn("_bin", b).withColumn("_pre", F.lit(0))
        rpb = rp.withColumn("_bin", b).withColumn("_pre", F.lit(0))

        # Closing state of each (key, bin): the struct the plain window
        # would carry at the bin boundary — first row under the REVERSED
        # per-bin order. Partitioned by (key, bin): hot keys split here
        # too.
        close_order = ([F.col("_t").desc(), F.col("_r").desc()] if backward
                       else [F.col("_t").asc(), F.col("_r").desc()])
        wc = W.partitionBy(*keys, "_bin").orderBy(*close_order)
        closing = (rpb.withColumn("_rn", F.row_number().over(wc))
                   .filter(F.col("_rn") == 1)
                   .select(*keys, "_bin", F.col("_r").alias("_close")))

        # Carry-in per occupied (key, bin): last closing state of any
        # STRICTLY earlier bin (later, for forward). This window runs
        # over the per-bin summary — O(#bins) rows per key, immune to
        # row-count skew.
        cells = (lpb.select(*keys, "_bin")
                 .unionByName(rpb.select(*keys, "_bin")).distinct())
        wcar = (W.partitionBy(*keys)
                .orderBy(F.col("_bin").asc() if backward
                         else F.col("_bin").desc())
                .rowsBetween(W.unboundedPreceding, -1))
        carry = (cells.join(closing, [*keys, "_bin"], "left")
                 .withColumn("_carry",
                             F.last("_close", ignorenulls=True).over(wcar))
                 .filter(F.col("_carry").isNotNull())
                 .select(*keys, "_bin", F.col("_carry").alias("_r"),
                         F.lit(1).alias("_side"), F.lit(1).alias("_pre")))

        u = (lpb.unionByName(rpb, allowMissingColumns=True)
             .unionByName(carry, allowMissingColumns=True))
        w = (W.partitionBy(*keys, "_bin")
             .orderBy(F.col("_pre").desc(), t_order,
                      F.col("_side").desc(), F.col("_r").asc())
             .rowsBetween(W.unboundedPreceding, W.currentRow))
        matched = (u.withColumn("_m", F.last("_r", ignorenulls=True).over(w))
                   .filter(F.col("_side") == 0))

    if tolerance is not None:
        gap_ok = (F.abs(micros_between("_t", f"_m.{right_ts}"))
                  <= F.lit(int(tolerance.total_seconds() * 1_000_000)))
        matched = matched.withColumn(
            "_m", F.when(gap_ok, F.col("_m")))

    return matched.select(
        *left.columns,
        *[F.col(f"_m.{c}").alias(right_prefix + c) for c in rcols],
    )


def bin_of(ts: Column | str, bin_width: _dt.timedelta) -> Column:
    """Fixed-width time-bin ordinal of a timestamp (in-scan, codegen)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    width_us = int(bin_width.total_seconds() * 1_000_000)
    return F.floor(F.unix_micros(c.cast("timestamp_ltz")) / F.lit(width_us))


def range_join(points: DataFrame, intervals: DataFrame, *, on,
               point_ts: str = "ts", start_col: str = "start",
               end_col: str = "end",
               bin_width: _dt.timedelta = _dt.timedelta(hours=1),
               max_bins: int = 1000) -> DataFrame:
    """Inner point-in-interval join: every (point, interval) pair sharing
    the keys with ``start <= point_ts < end`` (half-open, the window
    convention everywhere else in this package).

    Emits all point columns plus the interval's columns; callers
    aggregate (and re-join to the interval table for left-outer
    semantics — see x17). ``max_bins`` bounds the per-interval
    explosion: an interval longer than max_bins*bin_width raises rather
    than silently exploding the build side.
    """
    keys = _keys(on)
    width_us = int(bin_width.total_seconds() * 1_000_000)

    # explode_outer + null-drop: plain explode's inferred size()>0 filter
    # re-evaluates the sequence() array in the scan predicate (up to
    # max_bins elements per interval, built twice more per row).
    iv = (intervals.withColumn(
        "_bin", F.explode_outer(F.sequence(bin_of(start_col, bin_width),
                                           bin_of(end_col, bin_width))))
        .filter(F.col("_bin").isNotNull()))
    # The guard folds into the JOIN KEY itself (an unused side column
    # would be pruned by Catalyst and never evaluated): any interval
    # spanning more than max_bins bins poisons its key with raise_error.
    nbins = (bin_of(end_col, bin_width) - bin_of(start_col, bin_width)
             + F.lit(1))
    iv = iv.withColumn(
        "_bin",
        F.when(nbins > max_bins,
               F.raise_error(F.lit(
                   f"range_join: interval spans > max_bins={max_bins} "
                   f"bins; widen bin_width")).cast("long"))
        .otherwise(F.col("_bin")))

    pt = points.withColumn("_bin", bin_of(point_ts, bin_width))
    out = (pt.join(iv, [*keys, "_bin"])
           .filter((F.col(point_ts) >= F.col(start_col))
                   & (F.col(point_ts) < F.col(end_col)))
           .drop("_bin"))
    return out
