"""Temporal operators: as-of join, gap sessionization, banded range join.

The reference exercises only equi joins (SURVEY.md §2.3) — these are the
time-series extensions a training-data / event pipeline needs (north-star
extensions, BASELINE.json), each built scale-first:

- **as-of join** — Spark has no ASOF JOIN; the naive encoding
  (equi-join on key + ``r.ts <= l.ts`` + keep max) explodes to O(n·m)
  per key before pruning.  We use the union+window construction instead:
  tag both sides, union, sort each key's timeline once, and carry the
  most recent right-side row forward with ``last(col, ignorenulls=True)``
  over an unbounded-preceding running frame.  Cost: ONE shuffle of
  |L|+|R| rows, no pair blowup, no skew amplification — the same plan
  shape survives 100 TB (it's a single repartition+sort, AQE-splittable).

- **gap sessionization** — lag() to detect gaps > threshold, running
  sum of gap flags = session index.  Two window passes over one
  partitioning (Catalyst reuses the exchange), then a hash aggregate.

- **banded range join** — |l.ts - r.ts| <= W joins are not equi joins;
  Spark would fall back to BroadcastNestedLoopJoin (O(n·m)).  The band
  trick restores an equi key: bucket time into width-W bands, replicate
  the LEFT side into its band and the next band (2 rows), equi-join on
  (key, band) — every true pair lands in exactly one band pair — then
  filter the exact predicate.  Replication factor is a constant 2,
  independent of data volume.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_r",
    allow_exact_matches: bool = True,
    how: str = "inner",
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` (or ``<`` when ``allow_exact_matches=False``)
    within the same ``on`` key — pandas ``merge_asof`` / DuckDB
    ``ASOF JOIN`` semantics, as one shuffle + one window pass.

    ``how='inner'`` drops left rows with no prior right row;
    ``how='left'`` keeps them with nulls.
    """
    rcols = right_cols or [c for c in right.columns if c not in (on, right_ts)]
    lcols = [c for c in left.columns]

    l_tagged = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in lcols]).alias("__l"),
        F.lit(None).cast(right.select(right_ts).schema[0].dataType).alias("__rts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in rcols],
    )
    r_tagged = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(l_tagged.schema["__l"].dataType).alias("__l"),
        F.col(right_ts).alias("__rts"),
        *[F.col(c).alias(f"__r_{c}") for c in rcols],
    )
    # At equal timestamps the right row must sort BEFORE the left row to be
    # visible (ASOF >= semantics); for strict <, sort it after.
    side_order = F.col("__side").asc() if allow_exact_matches else F.col("__side").desc()
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), side_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        l_tagged.unionByName(r_tagged)
        .withColumn("__m_ts", F.last("__rts", ignorenulls=True).over(w))
        .withColumns({f"__m_{c}": F.last(f"__r_{c}", ignorenulls=True).over(w) for c in rcols})
        .filter(F.col("__side") == 1)
    )
    out = filled.select(
        *[F.col(f"__l.{c}").alias(c) for c in lcols],
        F.col("__m_ts").alias(f"{right_ts}{suffix}"),
        *[F.col(f"__m_{c}").alias(c if c not in lcols else f"{c}{suffix}") for c in rcols],
    )
    if how == "inner":
        out = out.filter(F.col(f"{right_ts}{suffix}").isNotNull())
    return out


def sessionize(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    gap_seconds: int = 1800,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the time
    since the key's previous event exceeds ``gap_seconds``.

    Adds ``session_id`` (1-based per key, ordered by time).  Both window
    passes share one (key)-partitioning — a single exchange in the plan.
    """
    order = [F.col(ts).asc()] + ([F.col(order_tiebreak).asc()] if order_tiebreak else [])
    w_lag = Window.partitionBy(key).orderBy(*order)
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.lit(gap_seconds * 1_000_000).cast("long")
    prev = F.lag(F.col(ts)).over(w_lag)
    new_sess = F.when(
        prev.isNull()
        | (
            (F.unix_micros(F.col(ts).cast("timestamp")) - F.unix_micros(prev.cast("timestamp")))
            > gap_us
        ),
        1,
    ).otherwise(0)
    return df.withColumn("__new", new_sess).withColumn(
        "session_id", F.sum("__new").over(w_run)
    ).drop("__new")


def global_session_intervals(
    df: DataFrame,
    ts: str = "ts",
    gap_seconds: int = 600,
    order_tiebreak: str | None = None,
    band_seconds: int | None = None,
    artifact_key: str | None = None,
) -> DataFrame:
    """Gap-sessionize a GLOBAL (un-keyed) timeline into interval
    summaries ``(session_id, start_us, end_us)`` — two-level, so no
    per-event single-partition window ever runs:

    1. **Per-band local sessionize** — events band by
       ``floor(t / band_seconds)`` and sessionize inside each band
       (window partitioned by band → parallel across the cluster).
    2. **Boundary merge over summaries** — local sessions collapse to
       (start_us, end_us) rows; one ordered pass re-merges consecutive
       summaries with gap <= gap_seconds.  Exactness: within a band,
       consecutive local sessions are separated by gap > gap_seconds
       by construction (never wrongly merged); across a band edge the
       split was purely artificial and the merge rule is the same
       gap rule, so the result is row-identical to a single-pass
       sessionize, including the 1-based start-order session numbering.

    The one single-partition window in the plan folds ONLY the
    band-BOUNDARY sessions (first/last per band, <= 2 per band =
    O(#bands) rows regardless of gap_seconds): an interior session is
    preceded and followed by a > gap_seconds silence inside its own
    band, so it can never merge across a band edge — only boundary
    sessions can.  (Boundary-only folding is also exact in the other
    direction: between a band's first and last session every
    intervening gap exceeds gap_seconds, so the fold's coarser
    first-end → last-start distance exceeds it too and never wrongly
    merges them.)  The final 1-based start-order numbering is a
    two-level rank — per-band row_number + an O(#bands) cumulative
    offset — so no per-session single-partition pass runs either.
    Requires band_seconds > gap_seconds (defaults to max(6*gap, 3600)).
    Rows whose ``ts`` is NULL belong to no session (they are dropped
    before banding); an input with no timestamped row yields no rows.

    ``artifact_key``: like the ANN index keys — when the caller's input
    is a stable named source (a table path + filter), passing a key that
    encodes it makes the O(#bands) band summary a MAINTAINED artifact
    (built once, reused across serves) instead of rebuilt per call; the
    key is extended with every semantic parameter of this function."""
    if band_seconds is None:
        band_seconds = max(gap_seconds * 6, 3600)
    if band_seconds <= gap_seconds:
        raise ValueError("band_seconds must exceed gap_seconds")
    gap_us = F.lit(gap_seconds * 1_000_000).cast("long")
    band_us = band_seconds * 1_000_000

    # a row without a timestamp has no place on the timeline: it belongs
    # to no session, on the driver fold and the distributed fold alike
    banded = (
        df.withColumn("__tus", F.unix_micros(F.col(ts).cast("timestamp")))
        .filter(F.col("__tus").isNotNull())
        .withColumn("__band", F.floor(F.col("__tus") / F.lit(band_us)))
    )

    # level 1 IS the keyed sessionize, keyed by the band — one gap-fold
    # definition in the engine, two callers
    local = (
        sessionize(banded, key="__band", ts=ts, gap_seconds=gap_seconds,
                   order_tiebreak=order_tiebreak)
        .groupBy("__band", "session_id")
        .agg(F.min("__tus").alias("start_us"), F.max("__tus").alias("end_us"))
    )

    # band-boundary sessions (first/last per band, <= 2 per band) come
    # from ONE per-band aggregate — no window pass over the session set.
    # band_sum is O(#bands) and feeds every small downstream step
    # (boundary fold, interior filter, numbering offsets), so it is
    # materialized once: without that checkpoint each tiny consumer
    # would recompute the raw-event sessionize (the branch exchanges
    # differ, so ReuseExchange never kicks in).  The session-scale
    # lineage is then computed exactly twice — once aggregating into
    # band_sum, once as the interior-filter probe.
    from dataengineeringworkshop_spark.operators.materialize import (
        input_fingerprint,
        materialize,
    )

    # the caller's key names the SOURCE; the fingerprint pins its file
    # CONTENTS (size+mtime), so an in-process rewrite of the same path
    # rebuilds the artifact instead of serving stale sessions
    _src_fp = input_fingerprint(df) if artifact_key else ""
    _param_key = (
        f"gap{gap_seconds}:band{band_seconds}:ts{ts}:tb{order_tiebreak}"
        f":src{_src_fp}"
    )
    # the per-band session summary is itself a maintained artifact when
    # keyed: the interior filter below is its only session-scale
    # consumer, and serving it from the checkpoint avoids re-running the
    # raw-event sessionize on every call
    local = materialize(
        local,
        label="gsi_sessions",
        cache_key=f"{artifact_key}:sessions:{_param_key}" if artifact_key else None,
    )
    band_sum = materialize(
        local.groupBy("__band").agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min("start_us").alias("__f_start"),
            F.min_by("end_us", "start_us").alias("__f_end"),
            F.max("start_us").alias("__l_start"),
            F.max_by("end_us", "start_us").alias("__l_end"),
        ),
        label="gsi_band_summary",
        cache_key=f"{artifact_key}:bands:{_param_key}" if artifact_key else None,
    )
    # interior sessions (never mergeable across an edge) fall out of one
    # broadcast join against the tiny band summary
    interior = (
        local.join(
            F.broadcast(band_sum.select("__band", "__f_start", "__l_start")),
            "__band",
        )
        .filter(
            (F.col("start_us") != F.col("__f_start"))
            & (F.col("start_us") != F.col("__l_start"))
        )
        .select("start_us", "end_us")
    )

    merged, offsets = _band_fold(
        band_sum,
        gap_seconds,
        band_us,
        fold_cache_key=(
            f"{artifact_key}:fold:{_param_key}" if artifact_key else None
        ),
    )
    finals = merged.unionByName(interior).withColumn(
        "__band", F.floor(F.col("start_us") / F.lit(band_us))
    )
    rn = F.row_number().over(
        Window.partitionBy("__band").orderBy("start_us", "end_us")
    )
    return (
        finals.withColumn("__rn", rn)
        .join(F.broadcast(offsets), "__band")
        .select(
            (F.col("__off") + F.col("__rn")).alias("session_id"),
            "start_us",
            "end_us",
        )
    )


#: driver-fold cap on the band-summary row count.  #bands is bounded by
#: the TIME RANGE (range / band_seconds), not by data volume — a decade
#: at 1-hour bands is ~88k rows of six longs — so the fold is
#: metadata-scale in the same sense as the IVF centroid collect; the cap
#: plus the distributed fallback below keep it honest if a caller ever
#: feeds a pathological band width.
BANDS_DRIVER_CAP = int(os.environ.get("DEW_GSI_BANDS_DRIVER_CAP", "200000"))

#: collected band-summary cache (artifact-keyed, like the IVF centroid
#: cache): the summary is already a maintained artifact on disk; its
#: driver-side image is the same rows, so a keyed serve pays zero jobs
#: for the O(#bands) fold.
_BAND_ROWS_CACHE: dict[str, list] = {}


def _band_fold(band_sum, gap_seconds: int, band_us: int, fold_cache_key=None):
    """(merged, offsets) DataFrames from the band summary.

    Fast path (round-14): collect the O(#bands) summary to the driver and
    fold it in exact integer arithmetic — the boundary merge and the
    cumulative numbering offsets previously cost four tiny exchanges and
    two single-partition windows PER CALL (pure scheduling overhead at
    any scale; the rows were already being funnelled through one
    partition).  The results return as Arrow local relations — never a
    pickled-row parallelize (Python-RDD scan, round-13 finding 2).

    Fallback: above ``BANDS_DRIVER_CAP`` the original distributed fold
    runs unchanged (same operators, same results).
    """
    import math

    spark = band_sum.sparkSession
    gap_us_int = gap_seconds * 1_000_000

    rows = _BAND_ROWS_CACHE.get(fold_cache_key) if fold_cache_key else None
    if rows is None:
        head = (
            band_sum.select(
                "__band", "__cnt", "__f_start", "__f_end", "__l_start", "__l_end"
            )
            .limit(BANDS_DRIVER_CAP + 1)
            .collect()
        )
        if len(head) <= BANDS_DRIVER_CAP:
            rows = [tuple(r) for r in head]
            if fold_cache_key:
                _BAND_ROWS_CACHE[fold_cache_key] = rows
    if rows is None:
        return _band_fold_distributed(band_sum, gap_us_int, band_us)

    # boundary sessions in (start, end) order: bands ascend and within a
    # band f_start <= l_start, but sort anyway — exactness over cleverness
    boundary: list[tuple[int, int]] = []
    for band, cnt, f_start, f_end, l_start, l_end in sorted(rows):
        boundary.append((f_start, f_end))
        if cnt > 1:
            boundary.append((l_start, l_end))
    boundary.sort()
    # the same gap rule the distributed window applies (lag on end_us)
    merged_rows: list[list[int]] = []
    for s, e in boundary:
        if merged_rows and s - merged_rows[-1][1] <= gap_us_int:
            merged_rows[-1][1] = max(merged_rows[-1][1], e)
        else:
            merged_rows.append([s, e])
    # chain-start band via the SAME double-division floor Spark computes
    # (floor(start_us / band_us) promotes to double there)
    m_counts: dict[int, int] = {}
    for s, _e in merged_rows:
        b = math.floor(s / band_us)
        m_counts[b] = m_counts.get(b, 0) + 1
    offset_rows: list[tuple[int, int]] = []
    off = 0
    for band, cnt, *_rest in sorted(rows):
        offset_rows.append((band, off))
        off += max(cnt - 2, 0) + m_counts.get(band, 0)

    import pandas as pd

    merged_pdf = pd.DataFrame(merged_rows, columns=["start_us", "end_us"]).astype(
        "int64"
    )
    offsets_pdf = pd.DataFrame(offset_rows, columns=["__band", "__off"]).astype(
        "int64"
    )
    merged = spark.createDataFrame(merged_pdf, "start_us BIGINT, end_us BIGINT")
    offsets = spark.createDataFrame(offsets_pdf, "__band BIGINT, __off BIGINT")
    return merged, offsets


def _band_fold_distributed(band_sum, gap_us_int: int, band_us: int):
    """The pre-round-14 distributed boundary fold — exact same operators,
    used when the band summary exceeds the driver cap."""
    gap_us = F.lit(gap_us_int).cast("long")
    boundary = band_sum.select(
        F.explode(
            F.slice(
                F.array(
                    F.struct(
                        F.col("__f_start").alias("start_us"),
                        F.col("__f_end").alias("end_us"),
                    ),
                    F.struct(
                        F.col("__l_start").alias("start_us"),
                        F.col("__l_end").alias("end_us"),
                    ),
                ),
                F.lit(1),
                # a single-session band contributes its session once
                F.when(F.col("__cnt") > 1, F.lit(2)).otherwise(F.lit(1)),
            )
        ).alias("__s")
    ).select("__s.start_us", "__s.end_us")
    # session intervals are pairwise disjoint, so start_us is a strict
    # total order (end_us tiebreak is belt-and-braces only)
    w2 = Window.orderBy("start_us", "end_us")
    w2_run = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_end = F.lag("end_us").over(w2)
    new_glob = F.when(
        prev_end.isNull() | ((F.col("start_us") - prev_end) > gap_us), 1
    ).otherwise(0)
    merged = (
        boundary.withColumn("__new", new_glob)
        .withColumn("__g", F.sum("__new").over(w2_run))
        .groupBy("__g")
        .agg(F.min("start_us").alias("start_us"), F.max("end_us").alias("end_us"))
        .drop("__g")
    )

    # 1-based start-order numbering without a per-session global pass:
    # rank within the start band, then add a cumulative per-band offset.
    # A band's final-session count is its interior count (cnt - 2, or 0
    # for 1-2 session bands) plus the merged chains STARTING in it (a
    # chain starts at its first constituent's start, so every final
    # session is counted in exactly one band) — derived from band_sum +
    # the O(#bands) merged set, never from the session-scale lineage.
    m_counts = (
        merged.withColumn("__band", F.floor(F.col("start_us") / F.lit(band_us)))
        .groupBy("__band")
        .agg(F.count(F.lit(1)).alias("__m"))
    )
    w_off = Window.orderBy("__band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        band_sum.join(m_counts, "__band", "left")
        .select(
            "__band",
            (
                F.greatest(F.col("__cnt") - 2, F.lit(0))
                + F.coalesce(F.col("__m"), F.lit(0))
            ).alias("__n"),
        )
        .withColumn("__off", F.coalesce(F.sum("__n").over(w_off), F.lit(0)))
        .select("__band", "__off")
    )
    return merged, offsets


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_gap_seconds: int = 60,
    condition: Column | None = None,
) -> DataFrame:
    """Join left×right rows with the same key and
    ``0 <= right.ts - left.ts <= max_gap_seconds`` (right happens at or
    after left, within the window), via time-band bucketing.

    Left rows are replicated into band b and b+1 (constant 2×); the join
    is a plain equi join on (key, band) so Catalyst plans a shuffled hash
    join, never a nested-loop.  ``condition`` adds extra predicates.
    """
    w_us = max_gap_seconds * 1_000_000
    l_us = F.unix_micros(F.col(left_ts).cast("timestamp"))
    r_us = F.unix_micros(F.col(right_ts).cast("timestamp"))

    l2 = left.withColumn("__lus", l_us).withColumn(
        "__band", F.explode(F.array(F.floor(F.col("__lus") / w_us), F.floor(F.col("__lus") / w_us) + 1))
    )
    r2 = right.withColumn("__rus", r_us).withColumn("__band", F.floor(F.col("__rus") / w_us))

    lr = [c for c in left.columns]
    joined = l2.alias("l").join(
        r2.alias("r"),
        (F.col(f"l.{on}") == F.col(f"r.{on}")) & (F.col("l.__band") == F.col("r.__band")),
    )
    pred = (F.col("r.__rus") >= F.col("l.__lus")) & (
        F.col("r.__rus") - F.col("l.__lus") <= F.lit(w_us)
    )
    if condition is not None:
        pred = pred & condition
    return joined.filter(pred).select(
        *[F.col(f"l.{c}").alias(c) for c in lr],
        *[
            F.col(f"r.{c}").alias(c if c not in lr else f"{c}_r")
            for c in right.columns
        ],
        (F.col("r.__rus") - F.col("l.__lus")).alias("gap_us"),
    )
