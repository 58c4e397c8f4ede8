"""Property-based tests: the temporal operators against independent
reference implementations (pandas merge_asof; brute-force O(n²) range
scan; linear-scan sessionizer) on hypothesis-generated event frames.

These catch the boundary cases example-based tests miss: duplicate
timestamps across keys, empty sides, all-one-key skew, gaps exactly at
the threshold, band-edge alignment.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

BASE = dt.datetime(2024, 1, 1)

# (key, seconds-offset) event lists; seconds bounded so bands/gaps are hit
_events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 400)),
    min_size=0,
    max_size=25,
)


def _frame(spark, rows, tag):
    data = [
        (k, BASE + dt.timedelta(seconds=s), f"{tag}{i}")
        for i, (k, s) in enumerate(rows)
    ]
    return spark.createDataFrame(data, "k INT, ts TIMESTAMP_NTZ, rid STRING")


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=_events, right=_events)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    from dataengineeringworkshop_spark.operators.temporal import asof_join

    ldf, rdf = _frame(spark, left, "L"), _frame(spark, right, "R")
    got = {
        r.rid: r.rid_r
        for r in asof_join(
            ldf, rdf, on="k", right_cols=["rid"], suffix="_r", how="left"
        ).collect()
    }

    lp = ldf.toPandas().sort_values("ts").reset_index(drop=True)
    rp = rdf.toPandas().sort_values("ts").reset_index(drop=True)
    if len(lp) == 0:
        assert got == {}
        return
    if len(rp) == 0:
        assert got == {r: None for r in lp["rid"]}
        return
    merged = pd.merge_asof(
        lp, rp, on="ts", by="k", direction="backward", suffixes=("", "_r")
    )
    want = {
        row.rid: (None if pd.isna(row.rid_r) else row.rid_r)
        for row in merged.itertuples()
    }
    # ambiguity guard: pandas picks the LAST right row among equal ts;
    # only compare where the right match is unambiguous
    rp_dupes = rp.duplicated(subset=["k", "ts"], keep=False)
    ambiguous_ts = set(map(tuple, rp[rp_dupes][["k", "ts"]].itertuples(index=False)))
    for row in lp.itertuples():
        m = merged[merged.rid == row.rid].iloc[0]
        if not pd.isna(m.rid_r):
            rmatch = rp[rp.rid == m.rid_r].iloc[0]
            if (rmatch.k, rmatch.ts) in ambiguous_ts:
                continue
        assert got[row.rid] == want[row.rid], (row.rid, got[row.rid], want[row.rid])


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=_events, right=_events, gap=st.sampled_from([30, 60, 90]))
def test_banded_range_join_matches_bruteforce(spark, left, right, gap):
    from dataengineeringworkshop_spark.operators.temporal import banded_range_join

    ldf, rdf = _frame(spark, left, "L"), _frame(spark, right, "R")
    got = {
        (r.rid, r.rid_r)
        for r in banded_range_join(ldf, rdf, on="k", max_gap_seconds=gap).collect()
    }
    want = set()
    for i, (lk, ls) in enumerate(left):
        for j, (rk, rs) in enumerate(right):
            if lk == rk and 0 <= rs - ls <= gap:
                want.add((f"L{i}", f"R{j}"))
    assert got == want


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_events, gap=st.sampled_from([30, 60, 120]))
def test_sessionize_matches_linear_scan(spark, rows, gap):
    from dataengineeringworkshop_spark.operators.temporal import sessionize

    df = _frame(spark, rows, "E")
    got = {
        r.rid: r.session_id
        for r in sessionize(df, key="k", ts="ts", gap_seconds=gap,
                            order_tiebreak="rid").collect()
    }
    # linear-scan reference per key, same (ts, rid) ordering
    by_key: dict[int, list[tuple]] = {}
    for i, (k, s) in enumerate(rows):
        by_key.setdefault(k, []).append((s, f"E{i}"))
    want = {}
    for k, evs in by_key.items():
        evs.sort()
        sid, prev = 0, None
        for s, rid in evs:
            if prev is None or s - prev > gap:
                sid += 1
            want[rid] = sid
            prev = s
    assert got == want


_gsi_times = st.lists(
    st.integers(0, 5 * 3600), min_size=1, max_size=80, unique=True
)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(secs=_gsi_times, gap=st.sampled_from([1, 30, 600, 3599]))
def test_global_session_intervals_matches_naive_fold(spark, secs, gap):
    """Property: the two-level banded sessionize is row-identical
    (session ids included) to a driver-side linear fold over the sorted
    timeline, for random event sets straddling band edges at every
    tested gap."""
    from pyspark.sql import functions as F

    from dataengineeringworkshop_spark.operators.temporal import (
        global_session_intervals,
    )

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sorted(secs))], "event_id long, secs long"
    ).withColumn("ts", F.timestamp_seconds("secs"))
    got = sorted(
        map(
            tuple,
            global_session_intervals(
                df, ts="ts", gap_seconds=gap, order_tiebreak="event_id",
                band_seconds=3600,
            ).collect(),
        )
    )
    # naive linear fold
    want, sid = [], 0
    start = end = None
    for s in sorted(secs):
        t = s * 1_000_000
        if end is None or t - end > gap * 1_000_000:
            if end is not None:
                want.append((sid, start, end))
            sid += 1
            start = t
        end = t
    want.append((sid, start, end))
    assert got == sorted(want), (got, want, gap)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(secs=_gsi_times, gap=st.sampled_from([1, 600, 3599]))
def test_gsi_driver_fold_equals_distributed_fold(spark, secs, gap):
    """Round-14 pin: the driver-side band fold (default) and the
    distributed fallback (forced via BANDS_DRIVER_CAP=0) are
    row-identical, session ids included."""
    from pyspark.sql import functions as F

    import dataengineeringworkshop_spark.operators.temporal as temporal

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sorted(secs))], "event_id long, secs long"
    ).withColumn("ts", F.timestamp_seconds("secs"))

    def run():
        return sorted(
            map(
                tuple,
                temporal.global_session_intervals(
                    df, ts="ts", gap_seconds=gap, order_tiebreak="event_id",
                    band_seconds=3600,
                ).collect(),
            )
        )

    fast = run()
    old_cap = temporal.BANDS_DRIVER_CAP
    temporal.BANDS_DRIVER_CAP = 0
    try:
        slow = run()
    finally:
        temporal.BANDS_DRIVER_CAP = old_cap
    assert fast == slow, (fast, slow, gap)


def _naive_session_fold(secs, gap):
    """Linear fold over the sorted non-null timeline -> (sid, start, end)."""
    want, sid = [], 0
    start = end = None
    for s in sorted(x for x in secs if x is not None):
        t = s * 1_000_000
        if end is None or t - end > gap * 1_000_000:
            if end is not None:
                want.append((sid, start, end))
            sid += 1
            start = t
        end = t
    if end is not None:
        want.append((sid, start, end))
    return want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    secs=st.lists(
        st.one_of(st.none(), st.integers(0, 5 * 3600)), min_size=0, max_size=40
    ),
    gap=st.sampled_from([1, 600, 3599]),
)
def test_gsi_null_and_empty_driver_fold_equals_distributed_fold(spark, secs, gap):
    """Null timestamps belong to no session, on BOTH band folds: the
    driver fold and the distributed fallback (forced with a negative
    cap, which also sends an empty summary down the fallback) agree with
    each other and with a linear fold over the non-null timeline — on
    inputs with NULL ``ts``, all-NULL inputs and empty inputs."""
    from pyspark.sql import functions as F

    import dataengineeringworkshop_spark.operators.temporal as temporal

    df = spark.createDataFrame(
        list(enumerate(secs)), "event_id long, secs long"
    ).withColumn("ts", F.timestamp_seconds("secs"))

    def run():
        return sorted(
            map(
                tuple,
                temporal.global_session_intervals(
                    df, ts="ts", gap_seconds=gap, order_tiebreak="event_id",
                    band_seconds=3600,
                ).collect(),
            )
        )

    fast = run()
    old_cap = temporal.BANDS_DRIVER_CAP
    temporal.BANDS_DRIVER_CAP = -1
    try:
        slow = run()
    finally:
        temporal.BANDS_DRIVER_CAP = old_cap
    want = _naive_session_fold(secs, gap)
    assert fast == slow == sorted(want), (fast, slow, want, gap)


# ---------------------------------------------------------------------------
# streaming session fold (streaming/sessions.py) vs linear-scan sessionizer


class _FakeGroupState:
    """The GroupState subset make_session_fn uses, driven by the test
    harness's watermark schedule.  Timeout firing uses the engine's
    STRICT rule (armed < watermark) — the same rule the fold's own
    close-beyond-watermark branch now mirrors — so the harness models
    Spark's ms-strict boundary exactly; real Structured Streaming runs
    are covered in test_streaming_ext.py."""

    def __init__(self):
        self._val = None
        self.timeout_ms = None
        self.wm_ms = 0
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        return self._val

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def update(self, v):
        self._val = tuple(v)

    def remove(self):
        self._val = None
        self.timeout_ms = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _naive_sessions(per_user, gap_s):
    """Linear-scan gap sessionizer over {user: sorted second offsets}."""
    out = []
    for u, ts in per_user.items():
        cur = []
        for t in ts:
            if cur and t - cur[-1] > gap_s:
                out.append((u, cur[0], cur[-1], len(cur)))
                cur = []
            cur.append(t)
        if cur:
            out.append((u, cur[0], cur[-1], len(cur)))
    return out


_sess_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 500)),
    min_size=0,
    max_size=40,
)


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=_sess_events,
    gap_s=st.sampled_from([30, 100]),
    delay_s=st.sampled_from([0, 50]),
    n_batches=st.integers(1, 4),
)
def test_session_fold_matches_naive_sessionizer(events, gap_s, delay_s, n_batches):
    """Fold hypothesis event streams through make_session_fn under
    event-time-ordered multi-batch delivery with a lagging watermark:
    closed sessions + still-open state must equal the linear-scan
    sessionizer exactly, and closed must be precisely the sessions the
    final watermark has passed (or that a later same-user event
    gap-closed)."""
    from dataengineeringworkshop_spark.streaming.sessions import make_session_fn

    fn = make_session_fn(gap_seconds=gap_s)
    # (ts, event_id) globally ordered, cut into n_batches contiguous runs
    rows = sorted(
        [(t, i, u) for i, (u, t) in enumerate(events)]
    )
    cuts = [len(rows) * k // n_batches for k in range(n_batches + 1)]
    batches = [rows[cuts[k]: cuts[k + 1]] for k in range(n_batches)]

    states: dict[int, _FakeGroupState] = {}
    closed = []
    wm_ms = 0

    def run(u, pdfs, timed_out):
        stt = states.setdefault(u, _FakeGroupState())
        stt.wm_ms = wm_ms
        stt.hasTimedOut = timed_out
        for out in fn((u,), pdfs, stt):
            closed.extend(
                (int(r.user_id), int(r.start_us), int(r.end_us), int(r.n_events))
                for r in out.itertuples()
            )

    for batch in batches:
        by_user: dict[int, list] = {}
        for t, eid, u in batch:
            by_user.setdefault(u, []).append((t, eid))
        # engine rule: keys WITHOUT data whose armed timeout the
        # watermark passed get the timeout callback this batch
        for u, stt in list(states.items()):
            if (
                u not in by_user
                and stt.exists
                and stt.timeout_ms is not None
                and stt.timeout_ms < wm_ms  # engine fires STRICTLY below
            ):
                run(u, iter([]), True)
        for u, evs in by_user.items():
            pdf = pd.DataFrame(
                {
                    "ts": [pd.Timestamp(BASE + dt.timedelta(seconds=t)) for t, _ in evs],
                    "event_id": [eid for _, eid in evs],
                }
            )
            run(u, iter([pdf]), False)
        if batch:
            wm_ms = max(
                wm_ms,
                (int(pd.Timestamp(BASE).value // 1_000_000)
                 + (max(t for t, _, _ in batch) - delay_s) * 1000),
            )
    # trailing no-data batch: availableNow's final watermark advance
    for u, stt in list(states.items()):
        if stt.exists and stt.timeout_ms is not None and stt.timeout_ms < wm_ms:
            run(u, iter([]), True)

    base_us = int(pd.Timestamp(BASE).value // 1000)
    to_off = lambda us: (us - base_us) // 1_000_000
    got_closed = sorted((u, to_off(s), to_off(e), n) for u, s, e, n in closed)
    got_open = sorted(
        (u, to_off(stt.get[0]), to_off(stt.get[1]), stt.get[2])
        for u, stt in states.items()
        if stt.exists
    )

    per_user: dict[int, list] = {}
    for t, _eid, u in rows:
        per_user.setdefault(u, []).append(t)
    want_all = sorted(_naive_sessions(per_user, gap_s))
    assert sorted(got_closed + got_open) == want_all
    # closure rule: exactly the sessions the final watermark STRICTLY
    # passed (ms precision — whole-second offsets make sec == ms here),
    # or that a later same-user event gap-closed
    wm_off = (wm_ms * 1000 - base_us) / 1e6
    last_per_user = {u: max(s for s in want_all if s[0] == u) for u in per_user}
    want_closed = sorted(
        s
        for s in want_all
        if s != last_per_user[s[0]] or s[2] + gap_s < wm_off
    )
    assert got_closed == want_closed


def _feed_session_batch(fn, stt, offsets_s, wm_ms=0):
    """Run one micro-batch of second-offset events through the fold."""
    stt.wm_ms = wm_ms
    stt.hasTimedOut = False
    pdf = pd.DataFrame(
        {
            "ts": [pd.Timestamp(BASE + dt.timedelta(seconds=t)) for t in offsets_s],
            "event_id": list(range(len(offsets_s))),
        }
    )
    base_us = int(pd.Timestamp(BASE).value // 1000)
    out = []
    for o in fn((1,), iter([pdf]), stt):
        out.extend(
            (
                (int(r.start_us) - base_us) // 1_000_000,
                (int(r.end_us) - base_us) // 1_000_000,
                int(r.n_events),
            )
            for r in out_rows(o)
        )
    return out


def out_rows(pdf):
    return list(pdf.itertuples())


def test_session_fold_splits_stale_cross_batch_event():
    """Round-8 ADVICE fix, pinned: a cross-batch late event more than
    ``gap`` OLDER than the carried-over open session's start must be
    emitted as its own earlier session (the batch sessionizer's split),
    not silently min-merged into the open interval."""
    from dataengineeringworkshop_spark.streaming.sessions import make_session_fn

    fn = make_session_fn(gap_seconds=100)
    stt = _FakeGroupState()
    base_us = int(pd.Timestamp(BASE).value // 1000)

    assert _feed_session_batch(fn, stt, [1000]) == []
    assert stt.get == (base_us + 1000 * 10**6, base_us + 1000 * 10**6, 1)

    # batch 2: t=500 is 500s before the open start (gap 100) → its own
    # closed session; t=1050 extends the open one
    closed = _feed_session_batch(fn, stt, [500, 1050])
    assert closed == [(500, 500, 1)]
    assert stt.get == (base_us + 1000 * 10**6, base_us + 1050 * 10**6, 2)


def test_session_fold_bridges_stale_events_within_gap():
    """Late events that chain within-gap up to the open session's start
    must all merge into ONE session (interval merge can bridge), exactly
    like the batch fold over the full event set."""
    from dataengineeringworkshop_spark.streaming.sessions import make_session_fn

    fn = make_session_fn(gap_seconds=100)
    stt = _FakeGroupState()
    base_us = int(pd.Timestamp(BASE).value // 1000)

    _feed_session_batch(fn, stt, [1000])
    # 850 → 930 (gap 80) → open start 1000 (gap 70): one chained session
    closed = _feed_session_batch(fn, stt, [850, 930])
    assert closed == []
    assert stt.get == (base_us + 850 * 10**6, base_us + 1000 * 10**6, 3)

    # 600 is within gap of nothing (850-600=250 > 100) → separate, and
    # 700 chains onto 600 but not up to 850 → one closed (600,700,2)
    closed = _feed_session_batch(fn, stt, [600, 700])
    assert closed == [(600, 700, 2)]
    assert stt.get == (base_us + 850 * 10**6, base_us + 1000 * 10**6, 3)


# ---------------------------------------------------------------------------
# Arrow-chunk order invariance: applyInPandasWithState hands a key's
# micro-batch rows to the fold as MULTIPLE pandas chunks in SHUFFLE
# order once they exceed arrow.maxRecordsPerBatch.  Every
# order-sensitive fold must therefore concat-then-sort, not sort each
# chunk alone — these properties deliver the same rows as (a) one
# sorted chunk and (b) several arbitrarily-permuted chunks and require
# identical output + identical state.


def _chunked(rows, cols, perm, n_chunks):
    """Rows (list of tuples) → n_chunks pandas chunks in `perm` order."""
    shuffled = [rows[i] for i in perm]
    cuts = [len(shuffled) * k // n_chunks for k in range(n_chunks + 1)]
    return [
        pd.DataFrame(dict(zip(cols, zip(*shuffled[cuts[k]:cuts[k + 1]]))))
        if shuffled[cuts[k]:cuts[k + 1]]
        else pd.DataFrame({c: [] for c in cols})
        for k in range(n_chunks)
    ]


_chunk_events = st.lists(
    st.tuples(st.integers(0, 500), st.integers(0, 10_000)),
    min_size=1,
    max_size=30,
    unique_by=lambda r: r[1],
)


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=_chunk_events, n_chunks=st.integers(2, 4), data=st.data())
def test_session_fold_chunk_order_invariance(events, n_chunks, data):
    from dataengineeringworkshop_spark.streaming.sessions import make_session_fn

    rows = [
        (pd.Timestamp(BASE + dt.timedelta(seconds=t)), eid) for t, eid in events
    ]
    perm = data.draw(st.permutations(range(len(rows))))
    cols = ["ts", "event_id"]

    def run(pdfs):
        fn = make_session_fn(gap_seconds=60)
        stt = _FakeGroupState()
        out = []
        for o in fn((1,), iter(pdfs), stt):
            out.extend(map(tuple, o.itertuples(index=False)))
        return out, stt._val

    sorted_one = [pd.DataFrame(dict(zip(cols, zip(*sorted(rows)))))]
    want = run(sorted_one)
    got = run(_chunked(rows, cols, perm, n_chunks))
    assert got == want


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=_chunk_events, n_chunks=st.integers(2, 4), data=st.data())
def test_rolling_z_fold_chunk_order_invariance(events, n_chunks, data):
    from dataengineeringworkshop_spark.streaming.rollingz import make_rolling_z_fn

    rows = [
        (
            pd.Timestamp(BASE + dt.timedelta(seconds=t)),
            eid,
            float((eid * 37) % 19) if eid % 5 else None,  # nulls in the mix
        )
        for t, eid in events
    ]
    perm = data.draw(st.permutations(range(len(rows))))
    cols = ["ts", "event_id", "value"]

    def run(pdfs):
        fn = make_rolling_z_fn(window=5, min_samples=3, threshold=0.5)
        stt = _FakeGroupState()
        out = []
        for o in fn((1,), iter(pdfs), stt):
            out.extend(map(tuple, o.itertuples(index=False)))
        return out, tuple(stt._val[0])

    sorted_one = [pd.DataFrame(dict(zip(cols, zip(*sorted(rows, key=lambda r: (r[0], r[1]))))))]
    want = run(sorted_one)
    got = run(_chunked(rows, cols, perm, n_chunks))
    assert got == want


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=_chunk_events, n_chunks=st.integers(2, 4), data=st.data())
def test_funnel_fold_chunk_order_invariance(events, n_chunks, data):
    from dataengineeringworkshop_spark.streaming.funnel import (
        FUNNEL_STAGES,
        _update_funnel,
    )

    stages = list(FUNNEL_STAGES) + ["noise"]
    rows = [
        (
            pd.Timestamp(BASE + dt.timedelta(seconds=t)),
            eid,
            stages[eid % len(stages)],
        )
        for t, eid in events
    ]
    perm = data.draw(st.permutations(range(len(rows))))
    cols = ["ts", "event_id", "event_type"]

    def run(pdfs):
        stt = _FakeGroupState()
        out = []
        for o in _update_funnel((1,), iter(pdfs), stt):
            out.extend(map(tuple, o.itertuples(index=False)))
        return out, stt._val

    sorted_one = [pd.DataFrame(dict(zip(cols, zip(*sorted(rows, key=lambda r: (r[0], r[1]))))))]
    want = run(sorted_one)
    got = run(_chunked(rows, cols, perm, n_chunks))
    assert got == want


def test_session_fold_min_merges_late_in_watermark_start():
    """A late in-watermark event EARLIER than the open session's start
    (within the gap of its last event) extends the interval backwards:
    the closed row's start_us must cover it, matching the batch
    sessionizer's MIN(t)."""
    from dataengineeringworkshop_spark.streaming.sessions import make_session_fn

    fn = make_session_fn(gap_seconds=60)
    stt = _FakeGroupState()

    def feed(offsets_and_ids):
        pdf = pd.DataFrame(
            {
                "ts": [pd.Timestamp(BASE + dt.timedelta(seconds=t)) for t, _ in offsets_and_ids],
                "event_id": [eid for _, eid in offsets_and_ids],
            }
        )
        return [
            tuple(r)
            for o in fn((1,), iter([pdf]), stt)
            for r in o.itertuples(index=False)
        ]

    assert feed([(100, 1), (140, 2)]) == []  # open session [100, 140]
    # batch 2: late event at 90s — within gap of last=140 — must MIN-merge
    assert feed([(90, 3)]) == []
    start_us, last_us, n = stt._val
    base_us = int(pd.Timestamp(BASE).value // 1000)
    assert (start_us - base_us) // 1_000_000 == 90
    assert (last_us - base_us) // 1_000_000 == 140
    assert n == 3
