"""The pure per-key step of each keyed stateful stream operator, driven
directly — no SparkSession, no state handles.

Each step is a function of (key state, new rows, watermark, timer fired)
returning a Step (new state or None, output rows, next timer or None,
overflow count). Both stateful APIs (the transformWithStateInPandas
processors and the applyInPandasWithState kernels) are thin adapters
around these functions, so a property shown here holds for both.

The runner below plays the runtime: seeded rows arrive in micro-batches,
the watermark is the max event time of the EARLIER batches minus a lag
(monotone), due timers fire after each batch, and a final far watermark
fires what is left. Two different splits must give the same final
emission per key, equal to an independent golden, and leave no state and
no timer behind.
"""

import numpy as np
import pytest

from parallel_dataflow_spark.operators.sketches import KMV_K
from parallel_dataflow_spark.streaming.cep import Pattern, advance_nfa
from parallel_dataflow_spark.streaming.kmvstream import kmv_step
from parallel_dataflow_spark.streaming.spandedup import span_step
from parallel_dataflow_spark.streaming.stateful import (
    _CHECKSUM_MOD,
    cep_step,
    doc_stats_step,
    quota_step,
    resolve_api,
    tws_available,
)

US = 1_000_000
SPLITS = (7, 41)


def run_step(step, arrivals, batch_size, lag_us, flush_wm_ms):
    """``step(key, state, rows, wm_ms, fired)``; ``arrivals``: (key,
    ts_us, row) in arrival order. Returns every emitted (key, row), the
    states and timers left, and the summed overflow."""
    states: dict = {}
    timers: dict = {}
    emitted: list = []
    overflow = 0

    def apply(key, rows, wm_ms, fired):
        nonlocal overflow
        st = step(key, states.get(key), rows, wm_ms, fired)
        emitted.extend((key, row) for row in st.out)
        overflow += st.overflow
        if st.state is None:
            states.pop(key, None)
            timers.pop(key, None)
        else:
            states[key] = st.state
            timers[key] = st.timer_ms
            assert st.timer_ms is None or st.timer_ms > wm_ms

    def fire(wm_ms):
        for key in [k for k, t in timers.items() if t is not None and t <= wm_ms]:
            del timers[key]  # the runtime removes a fired timer
            apply(key, [], wm_ms, True)

    max_ts = 0
    for lo in range(0, len(arrivals), batch_size):
        batch = arrivals[lo : lo + batch_size]
        wm_ms = max(max_ts - lag_us, 0) // 1000
        by_key: dict = {}
        for key, ts, row in batch:
            by_key.setdefault(key, []).append(row)
            max_ts = max(max_ts, ts)
        for key, rows in by_key.items():
            apply(key, rows, wm_ms, False)
        fire(wm_ms)
    fire(flush_wm_ms)
    return emitted, states, {k: t for k, t in timers.items() if t is not None}, overflow


def latest(emitted, n_id=0):
    """Latest emission per (key, first ``n_id`` output fields)."""
    out = {}
    for key, row in emitted:
        out[(key, *row[:n_id])] = tuple(row[n_id:])
    return out


def shuffled(rows, block, seed):
    """Permute within blocks that span less than the watermark lag, so
    arrival order differs from event-time order but no row is late."""
    rng = np.random.default_rng(seed)
    out = []
    for lo in range(0, len(rows), block):
        chunk = rows[lo : lo + block]
        out.extend(chunk[i] for i in rng.permutation(len(chunk)))
    return out


def test_doc_stats_step_splits_agree_with_fold():
    """No timer: the running totals live as long as the key, and the last
    emission per key is the whole-stream fold whatever the split."""
    rng = np.random.default_rng(1)
    arrivals = [
        (
            (f"doc-{int(rng.integers(0, 5))}",),
            i * US,
            (int(rng.integers(1, 64)), int(rng.integers(0, _CHECKSUM_MOD))),
        )
        for i in range(200)
    ]
    want: dict = {}
    for key, _, (n_tok, token_sum) in arrivals:
        n, tok, ck = want.get((key,), (0, 0, 0))
        want[(key,)] = (n + 1, tok + n_tok, (ck + token_sum) % _CHECKSUM_MOD)

    for split in SPLITS:
        emitted, states, timers, _ = run_step(
            lambda key, state, rows, wm, fired: doc_stats_step(state, rows),
            arrivals,
            split,
            0,
            0,
        )
        assert latest(emitted) == want, split
        assert {(k,): v for k, v in states.items()} == want
        assert not timers


PATTERN = Pattern.of([[1, 2], [3], [4, 5]], gap_seconds=60)


def _mask(tokens, pattern):
    return sum(1 << i for i, s in enumerate(pattern.steps) if s & set(tokens))


def _cep_arrivals(n=400, seed=11):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        key = (f"doc-{int(rng.integers(0, 3))}",)
        ts = (i // 2) * US  # pairs share a timestamp: ck breaks the tie
        toks = rng.integers(0, 8, size=int(rng.integers(1, 5))).tolist()
        rows.append((key, ts, (ts, _mask(toks, PATTERN), i)))
    return rows


def _cep_golden(arrivals, pattern):
    by_key: dict = {}
    for key, _, row in arrivals:
        by_key.setdefault(key, []).append(row)
    out = {}
    for key, rows in by_key.items():
        rows.sort(key=lambda r: (r[0], r[2]))
        ms = advance_nfa(
            pattern,
            np.array([r[0] for r in rows], dtype=np.int64),
            np.array([r[1] for r in rows], dtype=np.int64),
            [],
            [],
            [],
        )
        out[key] = sorted(ms)
    return out


def _matches(emitted):
    out: dict = {}
    for key, row in emitted:
        out.setdefault(key, []).append(tuple(row))
    return {k: sorted(v) for k, v in out.items()}


def test_cep_step_splits_agree_with_nfa_golden():
    """Shuffled arrivals, two splits: the matches equal the one-shot NFA
    over the (event_ts, ck)-sorted rows, and every key drains — buffers
    flushed by the timer, dead partials pruned — to no state, no timer."""
    arrivals = shuffled(_cep_arrivals(), 12, seed=2)
    want = _cep_golden(arrivals, PATTERN)
    assert sum(len(v) for v in want.values()) > 0, "fixture produced no matches"
    flush = (max(a[1] for a in arrivals) + 3 * PATTERN.gap_seconds * US) // 1000
    for split in SPLITS:
        emitted, states, timers, overflow = run_step(
            lambda key, *a: cep_step(PATTERN, 100_000, *a),
            arrivals,
            split,
            30 * US,
            flush,
        )
        got = _matches(emitted)
        assert {k: got.get(k, []) for k in want} == want, split
        assert not states and not timers and overflow == 0


def test_cep_step_overflow_count():
    """max_buffer_rows releases the OLDEST overflow rows early and reports
    how many: 25 rows ahead of the watermark, bound 10 -> 15 released."""
    rows = [((i + 1000) * US, 1, i) for i in range(25)]
    st = cep_step(Pattern.of([[1], [2]], gap_seconds=600), 10, None, rows, 0, False)
    assert st.overflow == 15
    buf, partials = st.state
    assert [r[2] for r in buf] == list(range(15, 25))  # the newest stay
    assert len(partials) == 15  # each early row opened a partial


def test_cep_step_overflow_in_order_keeps_match_set():
    """With in-order arrival the early release feeds the NFA in the same
    order, so a tiny bound still yields the golden matches — and the
    overflow count is positive, so the degradation is observable."""
    arrivals = _cep_arrivals(seed=4)
    want = _cep_golden(arrivals, PATTERN)
    flush = (arrivals[-1][1] + 3 * PATTERN.gap_seconds * US) // 1000
    for split in SPLITS:
        emitted, states, timers, overflow = run_step(
            lambda key, *a: cep_step(PATTERN, 2, *a), arrivals, split, 30 * US, flush
        )
        got = _matches(emitted)
        assert {k: got.get(k, []) for k in want} == want, split
        assert overflow > 0
        assert not states and not timers


def test_cep_step_keeps_nothing_once_drained():
    """A released row that opens no partial leaves no state and no timer
    (the key is removed, not kept empty with a re-armed timeout)."""
    st = cep_step(PATTERN, 100_000, None, [(5 * US, 0, 1)], 10_000, False)
    assert st == (None, [], None, 0)


def _quota_arrivals(n=300, seed=7):
    """(source, ts, n_tok, ck) over 2 sources and ~5 hourly windows."""
    rng = np.random.default_rng(seed)
    t0 = 1_700_000_000 * US
    rows = []
    for i in range(n):
        ts = t0 + (i // 2) * 122 * US  # pairs share a timestamp
        key = (f"src{int(rng.integers(0, 2))}",)
        rows.append((key, ts, (ts, int(rng.integers(50, 400)), i)))
    return rows


def test_quota_step_splits_agree_with_greedy_prefix():
    budget, win_us, ttl_us = 2000, 3600 * US, 3600 * US
    arrivals = shuffled(_quota_arrivals(), 10, seed=5)
    want: dict = {}
    raw: dict = {}
    in_order = sorted(arrivals, key=lambda a: (a[2][0], a[2][2]))  # (ts, ck)
    for key, _, (ts, n_tok, _ck) in in_order:
        w = ts - ts % win_us
        raw[(key, w)] = raw.get((key, w), 0) + n_tok
        adm_t, rej_t, adm_r, rej_r = want.get((key, w), (0, 0, 0, 0))
        if raw[(key, w)] <= budget:
            want[(key, w)] = (adm_t + n_tok, rej_t, adm_r + 1, rej_r)
        else:
            want[(key, w)] = (adm_t, rej_t + n_tok, adm_r, rej_r + 1)
    assert any(v[1] > 0 for v in want.values()), "the cap never bound"
    flush = (max(a[1] for a in arrivals) + win_us + 3 * ttl_us) // 1000

    def step(key, state, rows, wm_ms, fired):
        return quota_step(budget, win_us, ttl_us, state, rows, wm_ms)

    for split in SPLITS:
        emitted, states, timers, _ = run_step(
            step,
            arrivals,
            split,
            1200 * US,
            flush,
        )
        assert latest(emitted, n_id=1) == want, split
        assert not states and not timers


def test_quota_step_large_watermark_jump_emits_pre_purge_totals():
    """A watermark jump past window end + ttl releases the buffered rows
    AND closes their window in one step: the window's final totals are
    still emitted, then all state is dropped."""
    win_us = ttl_us = 3600 * US
    t0 = 1_700_000_000 * US
    w0 = t0 - t0 % win_us
    st = quota_step(1000, win_us, ttl_us, None, [(t0, 600, 1), (t0 + 1, 700, 2)], 0)
    assert st.out == [] and st.timer_ms == t0 // 1000 + 1
    jump_ms = (w0 + win_us + ttl_us) // 1000 + 10_000
    st = quota_step(1000, win_us, ttl_us, st.state, [], jump_ms)
    assert st.out == [(w0, 600, 700, 1, 1)]
    assert st.state is None and st.timer_ms is None


def test_kmv_step_splits_agree_with_bottom_k():
    """Order-invariant fold: the last sketch per (source, window) is the
    K smallest distinct hashes; the timer is the key's fixed purge
    instant, and firing it drops the key without output."""
    window_s, ttl_s = 600, 600
    horizon_ms = (window_s + ttl_s) * 1000
    rng = np.random.default_rng(13)
    t0 = 1_700_000_400
    arrivals = []
    for i in range(3000):
        ts_s = t0 + i
        ws = ts_s - ts_s % window_s
        key = (f"src{int(rng.integers(0, 2))}", ws)
        arrivals.append((key, ts_s * US, (int(rng.integers(0, 1 << 60)),)))
    want: dict = {}
    for key, _, (h,) in arrivals:
        want.setdefault(key, set()).add(h)
    want = {k: (sorted(v)[:KMV_K], min(len(v), KMV_K)) for k, v in want.items()}
    assert any(size == KMV_K for _, size in want.values())

    def step(key, *a):
        st = kmv_step(key[1], horizon_ms, *a)
        if st.state is not None:
            assert st.timer_ms == key[1] * 1000 + horizon_ms
        return st

    flush = (t0 + 3000) * 1000 + 2 * horizon_ms
    for split in SPLITS:
        emitted, states, timers, _ = run_step(
            step, shuffled(arrivals, 50, seed=split), split, 120 * US, flush
        )
        assert {k: (list(hs), n) for k, (hs, n) in latest(emitted).items()} == {
            (k,): v for k, v in want.items()
        }
        assert not states and not timers
    assert kmv_step(0, horizon_ms, [1, 2], [], 10**9, True) == (None, [], None, 0)


class _CountingHandle:
    """Minimal state-handle double that counts the state-server calls
    KmvProcessor makes: timer registrations and sketch writes."""

    def __init__(self):
        self.registered: list[int] = []
        self.writes = 0
        self.value = None
        handle = self

        class _Value:
            def exists(self):
                return handle.value is not None

            def get(self):
                return handle.value

            def update(self, v):
                handle.writes += 1
                handle.value = v

            def clear(self):
                handle.value = None

        self._value = _Value()

    def getValueState(self, name, schema, ttl_duration_ms=None):
        return self._value

    def registerTimer(self, expiry_ms):
        self.registered.append(int(expiry_ms))


def test_kmv_processor_arms_its_timer_once_per_key():
    """The purge instant is fixed per key, so the TWS adapter registers
    it on first sight only and writes the sketch only when it changed."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import TimerValues

    from parallel_dataflow_spark.streaming.kmvstream import KmvProcessor

    ws = 1_700_000_400
    h = _CountingHandle()
    proc = KmvProcessor(600, 600)
    proc.init(h)
    for wm_s, hs in ((0, [5, 3]), (ws, [5]), (ws + 60, [1])):
        tv = TimerValues(-1, wm_s * 1000)
        list(proc.handleInputRows(("src0", ws), iter([pd.DataFrame({"h": hs})]), tv))
    assert h.registered == [(ws + 1200) * 1000]
    assert h.writes == 2 and list(h.value[0]) == [1, 3, 5]


def test_span_step_splits_agree_with_keep_first():
    """Keep-first span ownership: the last emission per span hash names
    the row first in (ts, ck, doc, idx) order and counts the rest as
    duplicates, for any split; after ttl the key drops all state."""
    ttl_us = 3600 * US
    rng = np.random.default_rng(17)
    t0 = 1_700_000_000 * US
    arrivals = []
    for i in range(600):
        ts = t0 + (i // 3) * 7 * US  # three spans share each timestamp
        doc, idx = f"doc-{int(rng.integers(0, 30))}", int(rng.integers(0, 6))
        h = int(rng.integers(0, 25))
        arrivals.append(((h,), ts, (ts, int(rng.integers(0, 1 << 60)), doc, idx)))
    by_h: dict = {}
    for key, _, row in arrivals:
        by_h.setdefault(key, []).append(row)
    want = {
        (k,): (min(rows)[2], min(rows)[3], len(rows) - 1) for k, rows in by_h.items()
    }
    flush = (max(a[1] for a in arrivals) + 3 * ttl_us) // 1000
    for split in SPLITS:
        emitted, states, timers, _ = run_step(
            lambda key, st, rows, wm, fired: span_step(ttl_us, st, rows, wm),
            shuffled(arrivals, 15, seed=split),
            split,
            120 * US,
            flush,
        )
        assert latest(emitted) == want, split
        assert not states and not timers


def test_resolve_api_rejects_unknown_values():
    assert resolve_api("tws") == "tws"
    assert resolve_api("apws") == "apws"
    assert resolve_api("auto") == ("tws" if tws_available() else "apws")
    for bad in ("TWS", "apw", "", "none"):
        with pytest.raises(ValueError, match=repr(bad)):
            resolve_api(bad)


@pytest.mark.parametrize("entry", ["doc_stats", "quota", "kmv", "spandedup"])
def test_stream_entries_reject_unknown_api_before_planning(entry):
    """Every api= entry point resolves through resolve_api first: a typo
    raises instead of silently running the applyInPandasWithState path."""
    from parallel_dataflow_spark.streaming.kmvstream import kmv_stream
    from parallel_dataflow_spark.streaming.spandedup import span_dedup_stream
    from parallel_dataflow_spark.streaming.stateful import (
        running_doc_stats_stream,
        token_quota_stream,
    )

    call = {
        "doc_stats": lambda: running_doc_stats_stream(None, api="TWS"),
        "quota": lambda: token_quota_stream(None, 1000, api="TWS"),
        "kmv": lambda: kmv_stream(None, api="TWS"),
        "spandedup": lambda: span_dedup_stream(None, api="TWS"),
    }[entry]
    with pytest.raises(ValueError, match="'TWS'"):
        call()
