"""Exercises the transformWithStateInPandas PROCESSOR code path directly.

The sandbox image lacks google.protobuf, so Spark's TWS state protocol
(pyspark/sql/streaming/proto/StateMessage_pb2) cannot run end-to-end and
running_doc_stats_stream(api='auto') always takes the
applyInPandasWithState fallback (covered by test_streaming.py). This file
closes the gap for the TWS branch itself: RunningDocStats —
init / getValueState / handleInputRows / state round-trip across
micro-batches — runs against a contract-faithful in-memory
StatefulProcessorHandle double, and its final emissions are checked
against the batch-twin fold. The processor under test is the REAL class
the tws branch hands to transformWithStateInPandas; only the state
transport is substituted.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from parallel_dataflow_spark.streaming.stateful import (
    _CHECKSUM_MOD,
    RunningDocStats,
    running_doc_stats_stream,
    tws_available,
)


class FakeValueState:
    """pyspark.sql.streaming.value_state_client contract: exists() /
    get() -> tuple / update(tuple) / clear()."""

    def __init__(self):
        self._v = None

    def exists(self) -> bool:
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v) -> None:
        assert isinstance(v, (tuple, list))
        self._v = tuple(v)

    def clear(self) -> None:
        self._v = None


class FakeListState:
    """pyspark.sql.streaming list_state_client contract: exists() /
    get() -> Iterator[tuple] / put(list) / appendValue / appendList /
    clear()."""

    def __init__(self):
        self._rows: list[tuple] = []

    def exists(self) -> bool:
        return bool(self._rows)

    def get(self):
        return iter(list(self._rows))

    def put(self, rows) -> None:
        assert isinstance(rows, list)
        self._rows = [tuple(r) for r in rows]

    def appendValue(self, row) -> None:
        self._rows.append(tuple(row))

    def appendList(self, rows) -> None:
        self._rows.extend(tuple(r) for r in rows)

    def clear(self) -> None:
        self._rows = []


class FakeHandle:
    """StatefulProcessorHandle double: hands out named Value/ListStates,
    records registered schemas, and keeps a per-key timer registry with
    registerTimer / deleteTimer / listTimers."""

    def __init__(self):
        self.states = {}
        self.schemas = {}
        self.timers: set[int] = set()

    def getValueState(self, name, schema, ttl_duration_ms=None):
        self.schemas[name] = schema
        return self.states.setdefault(name, FakeValueState())

    def getListState(self, name, schema, ttl_duration_ms=None):
        self.schemas[name] = schema
        return self.states.setdefault(name, FakeListState())

    def registerTimer(self, expiry_ms: int) -> None:
        self.timers.add(int(expiry_ms))

    def deleteTimer(self, expiry_ms: int) -> None:
        self.timers.discard(int(expiry_ms))

    def listTimers(self):
        return iter(sorted(self.timers))


def _batches(seed: int = 3, n_batches: int = 4, rows_per_batch: int = 16):
    """Keyed micro-batches of (n_tok, token_sum) rows for a handful of
    docs — the post-featurization shape the stateful stage consumes."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n_batches):
        docs = rng.integers(0, 5, size=rows_per_batch)
        out.append(
            pd.DataFrame(
                {
                    "doc_id": [f"doc-{d}" for d in docs],
                    "n_tok": rng.integers(1, 64, size=rows_per_batch),
                    "token_sum": rng.integers(0, _CHECKSUM_MOD, size=rows_per_batch),
                }
            )
        )
    return out


def test_tws_processor_round_trip_matches_batch_fold():
    """TWS scopes each named state to the current grouping key in the
    transport layer; the double emulates that with one handle (and one
    initialized processor) per key, persistent across micro-batches."""
    handles: dict[str, FakeHandle] = {}
    procs: dict[str, RunningDocStats] = {}

    def proc_for(doc: str) -> RunningDocStats:
        if doc not in procs:
            handles[doc] = FakeHandle()
            procs[doc] = RunningDocStats()
            procs[doc].init(handles[doc])
            assert "doc_stats" in handles[doc].states  # registered via handle
        return procs[doc]

    batches = _batches()
    last_emit: dict[str, tuple] = {}
    for pdf in batches:
        for doc, grp in pdf.groupby("doc_id"):
            # TWS feeds an iterator of pandas frames per key per batch
            (emit,) = list(proc_for(doc).handleInputRows((doc,), iter([grp]), None))
            assert list(emit.columns) == [
                "doc_id",
                "n_seqs",
                "total_tokens",
                "token_checksum",
            ]
            last_emit[doc] = tuple(emit.iloc[0][1:])

    allrows = pd.concat(batches)
    for doc, grp in allrows.groupby("doc_id"):
        want = (
            len(grp),
            int(grp["n_tok"].sum()),
            int(grp["token_sum"].sum()) % _CHECKSUM_MOD,
        )
        assert last_emit[f"{doc}"] == want, doc
        # the ValueState itself holds the running totals (round-trip)
        assert handles[f"{doc}"].states["doc_stats"]._v == want

    for p in procs.values():
        p.close()


def test_tws_state_persists_across_batches():
    """The second batch must START from the first batch's state — the
    'mutable in/out values across rounds' semantics
    (impls/src/sequential.rs:23-24)."""
    proc = RunningDocStats()
    handle = FakeHandle()
    proc.init(handle)
    b1 = pd.DataFrame({"doc_id": ["d"], "n_tok": [10], "token_sum": [7]})
    b2 = pd.DataFrame({"doc_id": ["d"], "n_tok": [5], "token_sum": [_CHECKSUM_MOD - 3]})
    (e1,) = list(proc.handleInputRows(("d",), iter([b1]), None))
    assert tuple(e1.iloc[0][1:]) == (1, 10, 7)
    (e2,) = list(proc.handleInputRows(("d",), iter([b2]), None))
    # checksum wraps mod 2^40
    assert tuple(e2.iloc[0][1:]) == (2, 15, (7 + _CHECKSUM_MOD - 3) % _CHECKSUM_MOD)


US = 1_000_000


def _drain(proc, doc, out_iter, emitted):
    for out in out_iter:
        emitted[doc].extend(
            (int(r.match_start_ts), int(r.match_end_ts), int(r.n_steps))
            for r in out.itertuples(index=False)
        )


def _run_mini_tws(rows, pattern, batch_size, wm_lag_us):
    """Contract-faithful mini TWS runtime over the handle double: per
    micro-batch, handleInputRows with the current watermark, then fire
    expired event-time timers through handleExpiredTimer; a final
    far-future watermark flushes every buffer (what a real stream's
    later batches would do)."""
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        TimerValues,
    )

    from parallel_dataflow_spark.streaming.stateful import CepPatternProcessor

    handles: dict[str, FakeHandle] = {}
    procs: dict[str, CepPatternProcessor] = {}

    def proc_for(doc):
        if doc not in procs:
            handles[doc] = FakeHandle()
            p = CepPatternProcessor(pattern)
            p.init(handles[doc])
            procs[doc] = p
        return procs[doc]

    emitted: dict[str, list] = {r[0]: [] for r in rows}

    def fire_timers(wm_ms):
        for doc, h in handles.items():
            for t in list(h.listTimers()):
                if t <= wm_ms:
                    h.deleteTimer(t)  # the runtime removes a fired timer
                    tv = TimerValues(-1, wm_ms)
                    _drain(
                        procs[doc],
                        doc,
                        procs[doc].handleExpiredTimer((doc,), tv, ExpiredTimerInfo(t)),
                        emitted,
                    )

    max_ts = 0
    for lo in range(0, len(rows), batch_size):
        batch = rows[lo : lo + batch_size]
        wm_ms = max(max_ts - wm_lag_us, 0) // 1000  # wm lags one batch
        by_doc: dict[str, list] = {}
        for doc, ts, mask, ck in batch:
            by_doc.setdefault(doc, []).append((ts, mask, ck))
            max_ts = max(max_ts, ts)
        for doc, rs in by_doc.items():
            pdf = pd.DataFrame(
                {
                    "event_ts": np.array([r[0] for r in rs], dtype="datetime64[us]"),
                    "mask": [r[1] for r in rs],
                    "ck": [r[2] for r in rs],
                }
            )
            tv = TimerValues(-1, wm_ms)
            _drain(
                proc_for(doc),
                doc,
                proc_for(doc).handleInputRows((doc,), iter([pdf]), tv),
                emitted,
            )
        fire_timers(wm_ms)
    # end of stream: watermark sails past every horizon
    fire_timers((max_ts + 3 * pattern.gap_seconds * US) // 1000)
    for p in procs.values():
        p.close()
    return emitted, handles


def _cep_rows(pattern, n=300, seed=11):
    from parallel_dataflow_spark.streaming.cep import row_step_mask

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        doc = f"doc-{int(rng.integers(0, 3))}"
        toks = rng.integers(0, 8, size=int(rng.integers(1, 5)))
        ts = int(i * US + int(rng.integers(0, 1000)))
        mask = int(row_step_mask(pd.Series([toks]), pattern)[0])
        rows.append((doc, ts, mask, i))  # ck = i: unique tie-break
    return rows


def _cep_golden(rows, pattern):
    from parallel_dataflow_spark.streaming.cep import advance_nfa

    by_doc: dict[str, list] = {}
    for doc, ts, mask, ck in rows:
        by_doc.setdefault(doc, []).append((ts, mask, ck))
    out = {}
    for doc, rs in by_doc.items():
        rs = sorted(rs, key=lambda r: (r[0], r[2]))
        ms = advance_nfa(
            pattern,
            np.array([r[0] for r in rs], dtype=np.int64),
            np.array([r[1] for r in rs], dtype=np.int32),
            [],
            [],
            [],
        )
        out[doc] = sorted(ms)
    return out


def test_tws_cep_processor_matches_nfa_golden():
    """CepPatternProcessor (ListState buffer + partials + event-time
    timer) through the handle double == one-shot advance_nfa golden, and
    the result is batching-independent (two different micro-batch splits
    agree) — the same differential the apws engine passes."""
    from parallel_dataflow_spark.streaming.cep import Pattern

    pattern = Pattern.of([[1, 2], [3], [4, 5]], gap_seconds=60)
    rows = _cep_rows(pattern)
    golden = _cep_golden(rows, pattern)
    assert sum(len(v) for v in golden.values()) > 0, "fixture produced no matches"

    for batch_size in (50, 17):
        emitted, handles = _run_mini_tws(rows, pattern, batch_size, wm_lag_us=30 * US)
        for doc, want in golden.items():
            assert sorted(emitted[doc]) == want, (batch_size, doc)
        # buffers drained; only keys with live partials may hold a timer
        for doc, h in handles.items():
            if not h.states["cep_partials"].exists():
                assert not h.timers, doc
            assert not h.states["cep_buffer"].exists(), doc


def test_tws_cep_bounded_state_overflow_counter():
    """max_buffer_rows trips the oldest-first early release and counts the
    overflow rows (same contract as the apws kernel's accumulator)."""
    from pyspark.sql.streaming.stateful_processor import TimerValues

    from parallel_dataflow_spark.streaming.cep import Pattern
    from parallel_dataflow_spark.streaming.stateful import CepPatternProcessor

    class CountingAcc:
        def __init__(self):
            self.value = 0

        def add(self, n):
            self.value += int(n)

    pattern = Pattern.of([[1], [2]], gap_seconds=600)
    acc = CountingAcc()
    proc = CepPatternProcessor(pattern, max_buffer_rows=10, overflow_acc=acc)
    h = FakeHandle()
    proc.init(h)
    # 25 rows all AHEAD of the watermark (wm=0): 15 oldest must release early
    pdf = pd.DataFrame(
        {
            "event_ts": np.array(
                [(i + 1000) * US for i in range(25)], dtype="datetime64[us]"
            ),
            "mask": [1] * 25,
            "ck": list(range(25)),
        }
    )
    list(proc.handleInputRows(("d",), iter([pdf]), TimerValues(-1, 0)))
    assert acc.value == 15
    assert len(list(h.states["cep_buffer"].get())) == 10


def test_cep_prestage_mask_parity(spark):
    """The JVM-side arrays_overlap bitmask == the python kernel's
    row_step_mask on the same rows (the two stages must agree for the
    TWS path to be semantics-identical to apws)."""
    from parallel_dataflow_spark.sources.sequences import SEQUENCE_SCHEMA
    from parallel_dataflow_spark.streaming.cep import Pattern, row_step_mask
    from parallel_dataflow_spark.streaming.stateful import cep_prestage

    pattern = Pattern.of([[1, 2], [3], [4, 5]], gap_seconds=60)
    rng = np.random.default_rng(4)
    base = np.datetime64("2026-01-01T00:00:00", "us")
    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i % 3}" for i in range(100)],
            "tokens": [
                [int(t) for t in rng.integers(0, 8, size=int(rng.integers(0, 5)))]
                for _ in range(100)
            ],
            "n_tok": 0,
            "source": "web",
            "event_ts": [base + np.timedelta64(i, "s") for i in range(100)],
        }
    )
    pdf["n_tok"] = pdf["tokens"].map(len)
    df = spark.createDataFrame(pdf, schema=SEQUENCE_SCHEMA)
    got = {
        (r["doc_id"], r["event_ts"]): r["mask"]
        for r in cep_prestage(df, pattern).collect()
    }
    want_mask = row_step_mask(pdf["tokens"], pattern)
    for i, row in pdf.iterrows():
        key = (row["doc_id"], row["event_ts"].to_pydatetime())
        assert got[key] == int(want_mask[i]), key


@pytest.mark.skipif(
    not tws_available(), reason="google.protobuf absent: TWS transport unavailable"
)
def test_tws_cep_end_to_end_when_protobuf_present(spark, tmp_path):
    """Real transformWithStateInPandas CEP run (skipped in-sandbox; green
    on a full cluster image): match set == the batch twin's."""
    from parallel_dataflow_spark.sources.sequences import (
        read_sequence_stream,
        write_sequence_table,
    )
    from parallel_dataflow_spark.streaming.cep import Pattern, match_pattern_batch
    from parallel_dataflow_spark.sources.sequences import read_sequence_table
    from parallel_dataflow_spark.streaming.stateful import match_pattern_stream_tws

    src = str(tmp_path / "tws_cep_src")
    write_sequence_table(spark, src, 2000, seed=5, n_files=8, rows_per_sec=2)
    pattern = Pattern.of(
        [list(range(0, 2000)), list(range(2000, 4000))], gap_seconds=600
    )
    stream = read_sequence_stream(spark, src, 2)
    out = match_pattern_stream_tws(stream, pattern, watermark="1 minute")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("tws_cep_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = set(
        map(tuple, spark.sql("select * from tws_cep_out").collect())
    )
    want = set(
        map(
            tuple,
            match_pattern_batch(read_sequence_table(spark, src), pattern).collect(),
        )
    )
    assert got <= want and len(got) > 0


@pytest.mark.skipif(
    not tws_available(), reason="google.protobuf absent: TWS transport unavailable"
)
def test_tws_end_to_end_when_protobuf_present(spark, tmp_path):
    """Runs the REAL transformWithStateInPandas path when the environment
    has protobuf (skipped in this sandbox; green on a full cluster image)."""
    from parallel_dataflow_spark.sources.sequences import (
        read_sequence_stream,
        write_sequence_table,
    )

    src = str(tmp_path / "tws_src")
    write_sequence_table(spark, src, 400, seed=5, n_files=4)
    stream = read_sequence_stream(spark, src, 2)
    out = running_doc_stats_stream(stream, api="tws")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("tws_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert spark.sql("select count(*) from tws_out").collect()[0][0] > 0


def test_tws_cep_dead_partial_cleared_at_expiry_no_timer_storm():
    """A key whose only state is a partial that can never complete
    (watermark passed p_last + gap) must be fully cleared at timer expiry
    with NO re-registered timer. Regression: before the pruning fix the
    partial survived advance_nfa (it only expires partials per released
    row), so the key re-registered a wm+1 timer on every watermark
    advance forever — unbounded state + timer storm."""
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        TimerValues,
    )

    from parallel_dataflow_spark.streaming.cep import Pattern
    from parallel_dataflow_spark.streaming.stateful import CepPatternProcessor

    pattern = Pattern.of([[1], [2]], gap_seconds=60)
    proc = CepPatternProcessor(pattern)
    h = FakeHandle()
    proc.init(h)
    # one row matching step 0 only, released immediately (wm == ts):
    # leaves a partial at state 1, p_last = T
    T_s = 1_000_000
    pdf = pd.DataFrame(
        {
            "event_ts": np.array([T_s * US], dtype="datetime64[us]"),
            "mask": [1],
            "ck": [0],
        }
    )
    out = list(proc.handleInputRows(("d",), iter([pdf]), TimerValues(-1, T_s * 1000)))
    assert not out
    assert h.states["cep_partials"].exists()
    assert len(h.timers) == 1
    t_ms = next(iter(h.timers))

    # the timer fires once the watermark passed p_last + gap: the dead
    # partial must be dropped, all state cleared, no new timer
    h.deleteTimer(t_ms)  # the runtime removes a fired timer
    out = list(
        proc.handleExpiredTimer(
            ("d",), TimerValues(-1, t_ms), ExpiredTimerInfo(t_ms)
        )
    )
    assert not out
    assert not h.states["cep_partials"].exists()
    assert not h.states["cep_buffer"].exists()
    assert not h.timers, "dead-partial key re-registered a timer (storm)"


class FakeMapState:
    """pyspark.sql.streaming map_state_client contract: exists() /
    getValue(key) -> tuple / containsKey / updateValue / iterator /
    keys / values / removeKey / clear. Keys and values are tuples."""

    def __init__(self):
        self._m: dict[tuple, tuple] = {}

    def exists(self) -> bool:
        return bool(self._m)

    def getValue(self, key):
        return self._m.get(tuple(key))

    def containsKey(self, key) -> bool:
        return tuple(key) in self._m

    def updateValue(self, key, value) -> None:
        assert isinstance(key, (tuple, list)) and isinstance(value, (tuple, list))
        self._m[tuple(key)] = tuple(value)

    def iterator(self):
        return iter(list(self._m.items()))

    def keys(self):
        return iter(list(self._m.keys()))

    def values(self):
        return iter(list(self._m.values()))

    def removeKey(self, key) -> None:
        self._m.pop(tuple(key), None)

    def clear(self) -> None:
        self._m = {}


FakeHandle.getMapState = lambda self, name, key_schema, value_schema, ttl_duration_ms=None: (
    self.schemas.__setitem__(name, (key_schema, value_schema))
    or self.states.setdefault(name, FakeMapState())
)


def _quota_flush_sentinel(spark, src):
    """Far-future row advancing the watermark so every quota buffer
    drains (buffered-release semantics); its own source is excluded from
    stream-vs-batch comparisons."""
    import datetime

    from parallel_dataflow_spark.sources.sequences import SEQUENCE_SCHEMA

    far = datetime.datetime(2026, 6, 1, 0, 0, 0)
    row = [("__sentinel__", list(range(10)), 10, "__sentinel__", far)]
    spark.createDataFrame(row, SEQUENCE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src + "/sentinel")


def _quota_rows(spark, n=200, seed=7):
    """(doc_id, source, event_ts, n_tok) over 2 sources x several hourly
    windows, timestamps strictly increasing so time-ordered micro-batches
    concatenate to the global (event_ts, ck) order."""
    rng = np.random.default_rng(seed)
    rows = []
    t0 = 1_700_000_000
    for i in range(n):
        rows.append(
            (
                f"doc-{i}",
                f"src{int(rng.integers(0, 2))}",
                t0 + i * 97,  # ~5.4 windows of 3600s over 200 rows
                int(rng.integers(50, 400)),
            )
        )
    return spark.createDataFrame(
        rows, "doc_id string, source string, ts long, n_tok long"
    ).selectExpr(
        "doc_id", "source", "CAST(ts AS TIMESTAMP) AS event_ts", "n_tok"
    )


def test_tws_quota_processor_matches_batch_twin(spark):
    """MapState quota enforcement on the handle double == the one-cumsum
    batch twin, for the same rows and admission order."""
    from pyspark.sql.streaming.stateful_processor import TimerValues

    from parallel_dataflow_spark.streaming.stateful import (
        TokenQuotaProcessor,
        quota_prestage,
        token_quota_batch,
    )

    from pyspark.sql.streaming.stateful_processor import ExpiredTimerInfo

    budget, win = 2000, 3600
    df = _quota_rows(spark)
    staged = (
        quota_prestage(df)
        .withColumn("ts_us", F.col("event_ts").cast("timestamp_ltz").cast("long") * 1_000_000)
        .collect()
    )
    # ARRIVAL order deliberately != event-time order: permute within
    # blocks of 10 (max displacement ~970 s, inside the 1200 s watermark
    # lag so nothing is late) — the buffered release must restore the
    # global (ts, ck) order the batch twin uses
    staged.sort(key=lambda r: (r["ts_us"], r["ck"]))
    rng = np.random.default_rng(5)
    arrival = []
    for lo in range(0, len(staged), 10):
        block = staged[lo : lo + 10]
        arrival.extend(block[i] for i in rng.permutation(len(block)))

    handles: dict[str, FakeHandle] = {}
    procs: dict[str, TokenQuotaProcessor] = {}

    def proc_for(srcname):
        if srcname not in procs:
            handles[srcname] = FakeHandle()
            procs[srcname] = TokenQuotaProcessor(budget, win, ttl_sec=3600)
            procs[srcname].init(handles[srcname])
        return procs[srcname]

    got: dict[tuple, list[int]] = {}

    def take(src_name, emit_iter):
        for emit in emit_iter:
            for _, er in emit.iterrows():
                # RUNNING totals: the latest emission per window wins
                got[(er["source"], int(er["window_start"]))] = [
                    int(er["admitted_tok"]),
                    int(er["rejected_tok"]),
                    int(er["admitted_rows"]),
                    int(er["rejected_rows"]),
                ]

    batch_size = 23  # deliberately not aligned to windows or sources
    max_ts_us = 0
    for lo in range(0, len(arrival), batch_size):
        batch = arrival[lo : lo + batch_size]
        # real watermark semantics: max event ts seen so far minus the lag
        wm_ms = max((max_ts_us // 1_000_000 - 1200) * 1000, 0)
        max_ts_us = max(max_ts_us, max(r["ts_us"] for r in batch))
        by_src: dict[str, list] = {}
        for r in batch:
            by_src.setdefault(r["source"], []).append(r)
        for srcname, rs in by_src.items():
            pdf = pd.DataFrame(
                {
                    "event_ts": np.array(
                        [r["ts_us"] for r in rs], dtype="datetime64[us]"
                    ),
                    "n_tok": [r["n_tok"] for r in rs],
                    "ck": [r["ck"] for r in rs],
                }
            )
            tv = TimerValues(-1, wm_ms)
            take(srcname, proc_for(srcname).handleInputRows(
                (srcname,), iter([pdf]), tv
            ))
    # end of stream: drain every buffer via the timer path
    final_wm_ms = max_ts_us // 1000 + 10_000_000
    for srcname, proc in procs.items():
        take(srcname, proc.handleExpiredTimer(
            (srcname,), TimerValues(-1, final_wm_ms), ExpiredTimerInfo(0)
        ))
        # fully drained: no buffer, no map entries, no timer
        h = handles[srcname]
        assert not h.states["quota_buffer"].exists()
        assert not h.states["window_spent"].exists()
        assert len(h.timers) == 0

    want = {
        (r["source"], int(r["window_start"])): [
            int(r["admitted_tok"]),
            int(r["rejected_tok"]),
            int(r["admitted_rows"]),
            int(r["rejected_rows"]),
        ]
        for r in token_quota_batch(df, budget, win).collect()
    }
    assert got == want
    # the cap actually bound somewhere, else the test proves nothing
    assert any(v[1] > 0 for v in want.values())
    for p in procs.values():
        p.close()


def test_tws_quota_map_purge_and_single_timer():
    """Full state lifecycle on the double: rows buffer until the
    watermark passes (no eager admission), releases fold into the
    MapState, windows behind watermark + ttl are purged, and a drained
    key ends with NO buffer, NO map entries and NO live timer (dead
    sources must not retain state — the CEP timer-storm lesson)."""
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        TimerValues,
    )

    from parallel_dataflow_spark.streaming.stateful import TokenQuotaProcessor

    win_us = 3600 * 1_000_000
    proc = TokenQuotaProcessor(budget=1000, window_sec=3600, ttl_sec=3600)
    handle = FakeHandle()
    proc.init(handle)

    t0 = 1_700_000_000 * 1_000_000
    w0 = t0 - t0 % win_us
    w1 = (t0 + win_us) - (t0 + win_us) % win_us
    pdf = pd.DataFrame(
        {
            "event_ts": np.array([t0, t0 + win_us], dtype="datetime64[us]"),
            "n_tok": [600, 700],
            "ck": [1, 2],
        }
    )
    # watermark 0: both rows BUFFER, nothing admitted, nothing emitted
    out = list(proc.handleInputRows(("srcA",), iter([pdf]), TimerValues(-1, 0)))
    assert out == []
    buf, ms = handle.states["quota_buffer"], handle.states["window_spent"]
    assert len(list(buf.get())) == 2 and not ms.exists()
    assert len(handle.timers) == 1

    # watermark passes row0 only: it is released into w0; row1 stays
    # buffered; w0 not yet purgeable (wm < w0 end + ttl)
    wm1_ms = (t0 + 1) // 1000
    (e1,) = list(
        proc.handleExpiredTimer(("srcA",), TimerValues(-1, wm1_ms), ExpiredTimerInfo(0))
    )
    assert list(e1["window_start"]) == [w0]
    assert list(e1["admitted_tok"]) == [600]
    assert len(list(buf.get())) == 1
    assert [int(k[0]) for k in ms.keys()] == [w0]
    assert len(handle.timers) == 1

    # watermark sails past everything + ttl: row1 released (emitted with
    # its final totals) AND both windows purged; key fully drained
    wm2_ms = (w1 + 4 * win_us) // 1000
    (e2,) = list(
        proc.handleExpiredTimer(("srcA",), TimerValues(-1, wm2_ms), ExpiredTimerInfo(0))
    )
    assert list(e2["window_start"]) == [w1]
    assert list(e2["admitted_tok"]) == [700]
    assert not buf.exists() and not ms.exists() and len(handle.timers) == 0
    proc.close()


@pytest.mark.skipif(
    not tws_available(), reason="google.protobuf absent: TWS transport unavailable"
)
def test_tws_quota_end_to_end_when_protobuf_present(spark, tmp_path):
    """Real transformWithStateInPandas quota run (skipped in-sandbox):
    per-(source, window) sums equal the batch twin's."""
    from parallel_dataflow_spark.sources.sequences import (
        read_sequence_stream,
        read_sequence_table,
        write_sequence_table,
    )
    from parallel_dataflow_spark.streaming.stateful import (
        token_quota_batch,
        token_quota_stream_tws,
    )

    src = str(tmp_path / "tws_quota_src")
    write_sequence_table(spark, src, 2000, seed=5, n_files=8, rows_per_sec=2)
    out = token_quota_stream_tws(
        read_sequence_stream(spark, src, 2), budget=2_000, window_sec=600
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("tws_quota_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    _quota_flush_sentinel(spark, src)
    q.processAllAvailable()
    q.stop()
    got = {
        (r["source"], int(r["window_start"])): (
            int(r["s_adm"]),
            int(r["s_rej"]),
        )
        for r in spark.sql(
            "select source, window_start, max(admitted_tok) s_adm, "
            "max(rejected_tok) s_rej from tws_quota_out "
            "where source <> '__sentinel__' group by 1, 2"
        ).collect()
    }
    want = {
        (r["source"], int(r["window_start"])): (
            int(r["admitted_tok"]),
            int(r["rejected_tok"]),
        )
        for r in token_quota_batch(
            read_sequence_table(spark, src), 2_000, 600
        ).filter("source <> '__sentinel__'").collect()
    }
    assert got == want


def test_quota_apws_stream_matches_batch_twin(spark, tmp_path):
    """In-sandbox end-to-end: the applyInPandasWithState quota fallback
    (api='apws', the auto path while protobuf is absent) over a real
    file stream == the one-cumsum batch twin, per (source, window)."""
    from parallel_dataflow_spark.sources.sequences import (
        read_sequence_stream,
        read_sequence_table,
        write_sequence_table,
    )
    from parallel_dataflow_spark.streaming.stateful import (
        token_quota_batch,
        token_quota_stream,
    )

    src = str(tmp_path / "quota_src")
    write_sequence_table(spark, src, 2000, seed=9, n_files=8, rows_per_sec=2)
    out = token_quota_stream(
        read_sequence_stream(spark, src, 2),
        budget=2_000,
        window_sec=600,
        api="apws",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("quota_apws_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    _quota_flush_sentinel(spark, src)
    q.processAllAvailable()
    q.stop()
    got = {
        (r["source"], int(r["window_start"])): (int(r["s_adm"]), int(r["s_rej"]))
        for r in spark.sql(
            "select source, window_start, max(admitted_tok) s_adm, "
            "max(rejected_tok) s_rej from quota_apws_out "
            "where source <> '__sentinel__' group by 1, 2"
        ).collect()
    }
    want = {
        (r["source"], int(r["window_start"])): (
            int(r["admitted_tok"]),
            int(r["rejected_tok"]),
        )
        for r in token_quota_batch(
            read_sequence_table(spark, src), 2_000, 600
        ).filter("source <> '__sentinel__'").collect()
    }
    assert got == want
    assert any(v[1] > 0 for v in want.values())  # the cap actually bound


def _run_fake_event_time(make_proc, arrivals, batch_size, lag_us, flush_wm_ms):
    """Contract-faithful mini TWS runtime for an event-time processor.
    ``arrivals``: (key, ts_us, row dict) in arrival order, event_ts in
    the row as epoch micros. Per micro-batch: handleInputRows per key at
    the watermark (max ts of the EARLIER batches minus ``lag_us``), then
    every timer at or behind it fires (removed first, as the runtime
    does); at the end a far watermark fires what is left."""
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        TimerValues,
    )

    handles: dict[tuple, FakeHandle] = {}
    procs: dict[tuple, object] = {}
    emitted: list[dict] = []

    def proc_for(key):
        if key not in procs:
            handles[key] = FakeHandle()
            procs[key] = make_proc()
            procs[key].init(handles[key])
        return procs[key]

    def take(frames):
        for f in frames:
            emitted.extend(f.to_dict("records"))

    def fire(wm_ms):
        for key, h in handles.items():
            for t in list(h.listTimers()):
                if t <= wm_ms:
                    h.deleteTimer(t)
                    take(
                        procs[key].handleExpiredTimer(
                            key, TimerValues(-1, wm_ms), ExpiredTimerInfo(t)
                        )
                    )

    max_ts = 0
    for lo in range(0, len(arrivals), batch_size):
        batch = arrivals[lo : lo + batch_size]
        wm_ms = max(max_ts - lag_us, 0) // 1000
        by_key: dict[tuple, list] = {}
        for key, ts, row in batch:
            by_key.setdefault(key, []).append(row)
            max_ts = max(max_ts, ts)
        for key, rs in by_key.items():
            pdf = pd.DataFrame(rs)
            if "event_ts" in pdf:
                pdf["event_ts"] = np.array(
                    pdf["event_ts"].tolist(), dtype="datetime64[us]"
                )
            tv = TimerValues(-1, wm_ms)
            take(proc_for(key).handleInputRows(key, iter([pdf]), tv))
        fire(wm_ms)
    fire(flush_wm_ms)
    for p in procs.values():
        p.close()
    return emitted, handles


def _token_seq_df(spark, n=160, seed=23, vocab=5000, min_tok=8, max_tok=32):
    """Sequences for 12 docs over 2 sources, one every 11 s (~3 windows
    of 600 s); a large vocab saturates the K=256 KMV sketches."""
    from parallel_dataflow_spark.sources.sequences import SEQUENCE_SCHEMA

    rng = np.random.default_rng(seed)
    base = np.datetime64("2026-01-01T00:00:00", "us")
    pdf = pd.DataFrame(
        {
            "doc_id": [f"doc-{int(rng.integers(0, 12))}" for _ in range(n)],
            "tokens": [
                rng.integers(0, vocab, int(rng.integers(min_tok, max_tok))).tolist()
                for _ in range(n)
            ],
            "n_tok": 0,
            "source": [f"src{int(rng.integers(0, 2))}" for _ in range(n)],
            "event_ts": [base + np.timedelta64(11 * i, "s") for i in range(n)],
        }
    )
    pdf["n_tok"] = pdf["tokens"].map(len)
    return spark.createDataFrame(pdf, schema=SEQUENCE_SCHEMA)


def _with_ts_us(df):
    return df.withColumn(
        "ts_us", F.col("event_ts").cast("timestamp_ltz").cast("long") * 1_000_000
    )


def _shuffle_blocks(rows, block, seed):
    """Arrival order != event-time order: permute within blocks whose
    time span stays inside the watermark lag, so no row is late."""
    rng = np.random.default_rng(seed)
    out = []
    for lo in range(0, len(rows), block):
        chunk = rows[lo : lo + block]
        out.extend(chunk[i] for i in rng.permutation(len(chunk)))
    return out


def test_tws_kmv_processor_matches_batch_twin(spark):
    """KmvProcessor (ValueState sketch + purge timer) through the handle
    double: the latest emission per (source, window) == kmv_window_batch
    under two micro-batch splits, and every key ends with no sketch and
    no timer once the watermark passes window end + ttl."""
    from parallel_dataflow_spark.operators.sketches import KMV_K
    from parallel_dataflow_spark.streaming.kmvstream import (
        KmvProcessor,
        kmv_prestage,
        kmv_window_batch,
    )

    df = _token_seq_df(spark)
    staged = sorted(
        (r["ts_us"], r["h"], r["source"], r["window_start"])
        for r in _with_ts_us(kmv_prestage(df, 600)).collect()
    )
    arrivals = _shuffle_blocks(
        [((src, ws), ts, {"h": h}) for ts, h, src, ws in staged], 40, seed=3
    )
    want = {
        (r["source"], int(r["window_start"])): (list(r["hs"]), int(r["sketch_size"]))
        for r in kmv_window_batch(df, 600).collect()
    }
    assert any(size == KMV_K for _, size in want.values()), "no sketch saturated"
    flush_ms = staged[-1][0] // 1000 + 10 * 1200 * 1000

    for batch_size in (97, 389):
        emitted, handles = _run_fake_event_time(
            lambda: KmvProcessor(600, 600), arrivals, batch_size, 120 * US, flush_ms
        )
        got = {}
        for e in emitted:
            got[(e["source"], int(e["window_start"]))] = (
                [int(x) for x in e["hs"]],
                int(e["sketch_size"]),
            )
        assert got == want, batch_size
        for key, h in handles.items():
            assert not h.states["kmv_hs"].exists(), key
            assert not h.timers, key


def test_tws_spandedup_processor_matches_batch_twin(spark):
    """SpanDedupProcessor (ListState buffer + ValueState owner + one
    timer) through the handle double: the latest emission per span hash
    == span_dedup_batch under two micro-batch splits of shuffled arrivals,
    and every key ends with no buffer, no owner and no timer."""
    from parallel_dataflow_spark.streaming.spandedup import (
        SpanDedupProcessor,
        span_dedup_batch,
        span_prestage,
    )

    df = _token_seq_df(spark, n=120, seed=29, vocab=3, min_tok=4, max_tok=13)
    staged = sorted(
        (r["ts_us"], r["ck"], r["doc_id"], r["span_idx"], r["h"])
        for r in _with_ts_us(span_prestage(df, 4)).collect()
    )
    arrivals = _shuffle_blocks(
        [
            ((h,), ts, {"event_ts": ts, "ck": ck, "doc_id": doc, "span_idx": idx})
            for ts, ck, doc, idx, h in staged
        ],
        16,
        seed=5,
    )
    want = {
        int(r["h"]): (r["owner_doc"], int(r["owner_idx"]), int(r["dup_rows"]))
        for r in span_dedup_batch(df, 4).collect()
    }
    assert any(v[2] > 0 for v in want.values()), "fixture has no duplicate spans"
    flush_ms = staged[-1][0] // 1000 + 3 * 3600 * 1000

    for batch_size in (23, 150):
        emitted, handles = _run_fake_event_time(
            lambda: SpanDedupProcessor(3600), arrivals, batch_size, 120 * US, flush_ms
        )
        got = {}
        for e in emitted:
            got[int(e["h"])] = (e["owner_doc"], int(e["owner_idx"]), int(e["dup_rows"]))
        assert got == want, batch_size
        for key, h in handles.items():
            assert not h.states["span_buffer"].exists(), key
            assert not h.states["span_owner"].exists(), key
            assert not h.timers, key
