"""Keyed stateful stream operators: one pure step per operator, two API
adapters around it (SURVEY.md §2.2 'stateful ops').

Each operator's per-key logic — buffer, release order, fold, purge and
the next event-time timer — is ONE pure function of (key state, new rows,
watermark, whether a timer fired) that returns a ``Step``:
doc_stats_step and quota_step here, cep_step here beside the NFA kernel
it drives (cep.advance_nfa), kmvstream.kmv_step and spandedup.span_step.
Two thin adapters run it, the split Carbone et al. (VLDB 2017) draw
between operator logic and state backend:

- transformWithStateInPandas (TWS): the processor class loads the state
  from its named Value/List/Map state handles, calls the step, writes the
  state back and keeps ONE live event-time timer per key (sync_timer);
- applyInPandasWithState (APWS): keyed_stream's kernel decodes the
  group's state tuple, calls the same step, encodes the result and sets
  the event-time timeout, or removes the state.

``api`` picks the adapter (resolve_api). The four state primitives are
covered: RunningDocStats (ValueState — the 'mutable in/out values across
rounds' shape of the reference's worklist state,
impls/src/sequential.rs:23-24), CepPatternProcessor (ListState + event-
time timers), TokenQuotaProcessor (MapState + timer-driven purge).

The per-row token work (sum/checksum, step masks, hashes) is done
JVM-side BEFORE the stateful stage (the *_prestage functions), so the
state kernel only folds small numeric rows — token arrays never enter
the state store.
"""

from __future__ import annotations

from abc import abstractmethod
from typing import Any, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from parallel_dataflow_spark.streaming.cep import (
    MATCH_SCHEMA,
    STATE_SCHEMA,
    _ck_col,
    advance_nfa,
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("n_seqs", T.LongType()),
        T.StructField("total_tokens", T.LongType()),
        T.StructField("token_checksum", T.LongType()),
    ]
)
_STATE_SCHEMA = "n_seqs bigint, total_tokens bigint, token_checksum bigint"
_CHECKSUM_MOD = 1 << 40


# ---------------------------------------------------------------------------
# Shared adapter plumbing
# ---------------------------------------------------------------------------


class Step(NamedTuple):
    """One step's result: the key's new state (None: drop all of it), the
    output rows without the key columns, the next event-time timer in
    epoch ms (None: no timer) and the rows released early by a buffer
    bound (CEP only)."""

    state: Any
    out: list
    timer_ms: int | None = None
    overflow: int = 0


def tws_available() -> bool:
    """transformWithStateInPandas needs google.protobuf for its state
    protocol (pyspark/sql/streaming/proto/StateMessage_pb2.py); where it
    is missing, api='auto' falls back to applyInPandasWithState (same
    semantics, prior-generation API)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def resolve_api(api: str) -> str:
    """'tws' (transformWithStateInPandas) or 'apws'
    (applyInPandasWithState) pass through; 'auto' is tws when its
    protobuf dependency is importable; anything else is an error."""
    if api == "auto":
        return "tws" if tws_available() else "apws"
    if api not in ("tws", "apws"):
        raise ValueError(f"api must be 'auto', 'tws' or 'apws', got {api!r}")
    return api


def _plain(col: pd.Series) -> list:
    if pd.api.types.is_datetime64_any_dtype(col.dtype):
        return col.astype("datetime64[us]").astype("int64").tolist()
    if pd.api.types.is_string_dtype(col.dtype):
        return col.astype(str).tolist()
    return col.astype("int64").tolist()


def rows_of(pdfs, columns) -> list[tuple]:
    """A key's new rows as plain-Python tuples in ``columns`` order,
    converted by dtype: timestamps to epoch micros, strings to str, every
    other column to int. Consumes the frame iterator (the APWS contract,
    timed-out calls included)."""
    rows: list[tuple] = []
    for pdf in pdfs:
        if not pdf.empty:
            rows.extend(zip(*(_plain(pdf[c]) for c in columns)))
    return rows


def emit(key, out: list, schema: T.StructType):
    """Yield the step's output rows, prefixed by the grouping key, as one
    frame with the output schema's column names (nothing if no rows)."""
    if out:
        yield pd.DataFrame([(*key, *row) for row in out], columns=schema.fieldNames())


def put_rows(list_state, rows: list) -> None:
    """Replace a ListState's rows (an empty list leaves it absent)."""
    list_state.clear()
    if rows:
        list_state.put([tuple(r) for r in rows])


def sync_timer(handle: StatefulProcessorHandle, recorded, t_ms) -> None:
    """Keep ONE live event-time timer per key, its instant recorded in the
    ValueState ``recorded``: delete-then-register when the step's next
    instant changes, delete when the step has none."""
    old = int(recorded.get()[0]) if recorded.exists() else None
    if old == t_ms:
        return
    if old is not None:
        handle.deleteTimer(old)
    if t_ms is None:
        recorded.clear()
    else:
        handle.registerTimer(t_ms)
        recorded.update((t_ms,))


class StepProcessor(StatefulProcessor):
    """TWS adapter around an event-time step. A subclass names its input
    columns (COLUMNS, in step-row order) and output schema (SCHEMA, key
    columns first), binds ``step`` to its pure step function, and maps
    the step's state onto its named state handles (init / load / store).
    keyed_stream runs the SAME ``step`` inside its APWS kernel."""

    COLUMNS: tuple[str, ...]
    SCHEMA: Any

    @abstractmethod
    def step(self, key, state, rows: list, wm_ms: int, fired: bool) -> Step: ...

    @abstractmethod
    def load(self): ...

    @abstractmethod
    def store(self, st: Step) -> None: ...

    def _run(self, key, rows, timerValues, fired):
        wm_ms = max(timerValues.getCurrentWatermarkInMs(), 0)
        st = self.step(key, self.load(), rows, wm_ms, fired)
        self.store(st)
        yield from emit(key, st.out, self.SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        yield from self._run(key, rows_of(rows, self.COLUMNS), timerValues, False)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        yield from self._run(key, [], timerValues, True)

    def close(self) -> None:
        pass


def keyed_stream(
    src: DataFrame,
    keys: list[str],
    proc: StepProcessor,
    api: str,
    state_schema,
    decode,
    encode,
) -> DataFrame:
    """Run ``proc``'s step per key of ``src`` (watermarked, pre-staged to
    proc.COLUMNS): as the TWS processor itself (api 'tws'), or inside an
    APWS kernel (api 'apws') that keeps the step's state as one
    ``state_schema`` tuple (``decode``: tuple -> step state, ``encode``:
    step state -> tuple) and its timer as the group's event-time
    timeout."""
    grouped = src.groupBy(*keys)
    if api == "tws":
        return grouped.transformWithStateInPandas(
            statefulProcessor=proc,
            outputStructType=proc.SCHEMA,
            outputMode="append",
            timeMode="eventTime",
        )

    def kernel(key, pdf_iter, state):
        st = proc.step(
            key,
            decode(state.get) if state.exists else None,
            rows_of(pdf_iter, proc.COLUMNS),
            max(state.getCurrentWatermarkMs(), 0),
            state.hasTimedOut,
        )
        if st.state is None:
            state.remove()
        else:
            state.update(encode(st.state))
            state.setTimeoutTimestamp(st.timer_ms)
        yield from emit(key, st.out, proc.SCHEMA)

    return grouped.applyInPandasWithState(
        kernel,
        outputStructType=proc.SCHEMA,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def int_rows(rows) -> list[tuple]:
    """State rows (or zipped parallel state arrays) -> tuples of ints."""
    return [tuple(int(x) for x in r) for r in rows]


def columns_of(rows: list, width: int) -> list[list]:
    """Row tuples -> ``width`` parallel state arrays."""
    return [[r[i] for r in rows] for i in range(width)]


# ---------------------------------------------------------------------------
# RunningDocStats: ValueState accumulator, no timer
# ---------------------------------------------------------------------------

_DOC_COLUMNS = ("n_tok", "token_sum")


def doc_stats_step(state, rows: list) -> Step:
    """Per doc_id, fold the new (n_tok, token_sum) rows into (count,
    Σ n_tok, Σ token_sum mod 2^40) and emit the RUNNING totals. The state
    lives as long as the key; there is no timer."""
    n, tok, ck = state or (0, 0, 0)
    n += len(rows)
    tok += sum(r[0] for r in rows)
    ck = (ck + sum(r[1] for r in rows)) % _CHECKSUM_MOD
    return Step((n, tok, ck), [(n, tok, ck)])


class RunningDocStats(StatefulProcessor):
    """TWS adapter of doc_stats_step: the running totals live in the
    ValueState 'doc_stats'; emits once per batch in which the key
    received rows."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("doc_stats", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        st = doc_stats_step(
            self._state.get() if self._state.exists() else None,
            rows_of(rows, _DOC_COLUMNS),
        )
        self._state.update(st.state)
        yield from emit(key, st.out, OUTPUT_SCHEMA)

    def close(self) -> None:
        pass


def _with_token_sum(df: DataFrame) -> DataFrame:
    token_sum = F.aggregate(
        F.col("tokens"), F.lit(0).cast("long"), lambda acc, t: acc + t.cast("long")
    )
    return df.select(
        "doc_id", "n_tok", F.pmod(token_sum, F.lit(_CHECKSUM_MOD)).alias("token_sum")
    )


def running_doc_stats_stream(stream: DataFrame, api: str = "auto") -> DataFrame:
    """Streaming: emits the running totals per key per batch (take the
    final emission per key for end-of-stream totals). ``api``: 'tws'
    (transformWithStateInPandas), 'apws' (applyInPandasWithState), or
    'auto' (tws when its protobuf dependency is importable)."""
    api = resolve_api(api)
    src = _with_token_sum(stream)
    if api == "tws":
        return src.groupBy("doc_id").transformWithStateInPandas(
            statefulProcessor=RunningDocStats(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="None",
        )

    def kernel(key, pdf_iter, state):
        st = doc_stats_step(
            state.get if state.exists else None, rows_of(pdf_iter, _DOC_COLUMNS)
        )
        state.update(st.state)
        yield from emit(key, st.out, OUTPUT_SCHEMA)

    return src.groupBy("doc_id").applyInPandasWithState(
        kernel,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# CEP: ListState buffer + partials, gap-timeout timer
# ---------------------------------------------------------------------------

_CEP_BUF_SCHEMA = "ts bigint, mask int, ck bigint"
_CEP_PARTIAL_SCHEMA = "p_state int, p_start bigint, p_last bigint"


def cep_step(
    pattern, max_buffer_rows: int, state, rows: list, wm_ms: int, fired: bool
) -> Step:
    """One doc_id's CEP step (module docstring of cep.py for the
    semantics). ``state`` = (buffer rows (ts_us, mask, ck), partial
    matches (p_state, p_start, p_last)); ``rows`` = new (ts_us, mask, ck).

    Appends the rows, then releases every buffered row at-or-behind the
    watermark (every row, when the timer fired: its instant is past the
    buffered horizon + gap) through advance_nfa in strict (event_ts, ck)
    order — the batch twin's sort. If more than ``max_buffer_rows`` would
    stay buffered, the OLDEST overflow rows are released early; their
    count is Step.overflow. Partials no future row can extend (future
    rows have ts > wm, extension needs ts - p_last <= gap) are dropped —
    otherwise a dead key re-arms a wm+1 timer forever. The rest is kept,
    with the timer at max(horizon + gap, watermark) + 1 ms; an empty key
    keeps nothing."""
    buf, partials = state or ([], [])
    wm_us = wm_ms * 1000
    arr = np.array([*buf, *rows], dtype=np.int64).reshape(-1, 3)
    arr = arr[np.lexsort((arr[:, 2], arr[:, 0]))]
    ts = arr[:, 0]

    overflow = 0
    if fired:
        release = np.ones(len(ts), dtype=bool)
    else:
        release = ts <= wm_us
        if int((~release).sum()) > max_buffer_rows:
            n_released = int(release.sum())
            release = np.arange(len(ts)) < (len(ts) - max_buffer_rows)
            overflow = int(release.sum()) - n_released

    p_state = [p[0] for p in partials]
    p_start = [p[1] for p in partials]
    p_last = [p[2] for p in partials]
    matches = advance_nfa(
        pattern, ts[release], arr[release, 1], p_state, p_start, p_last
    )
    gap_us = pattern.gap_seconds * 1_000_000
    partials = [
        p for p in zip(p_state, p_start, p_last) if wm_us - p[2] <= gap_us
    ]
    buf = [tuple(r) for r in arr[~release].tolist()]
    if not buf and not partials:
        return Step(None, matches, None, overflow)
    horizon_us = max([0] + [r[0] for r in buf] + [p[2] for p in partials])
    timer_ms = max(horizon_us // 1000 + pattern.gap_seconds * 1000 + 1, wm_ms + 1)
    return Step((buf, partials), matches, timer_ms, overflow)


class CepPatternProcessor(StepProcessor):
    """TWS adapter of cep_step: ListState 'cep_buffer' for the
    watermark-ordered row buffer, ListState 'cep_partials' for the NFA
    partial matches, one event-time timer (recorded in 'cep_timer') for
    the gap-timeout flush. ``overflow_acc`` (a Spark accumulator) counts
    the rows the ``max_buffer_rows`` bound releases early; the APWS path
    (cep.match_pattern_stream) runs this same processor's step."""

    COLUMNS = ("event_ts", "mask", "ck")
    SCHEMA = MATCH_SCHEMA

    def __init__(self, pattern, max_buffer_rows: int = 100_000, overflow_acc=None):
        self._pattern = pattern
        self._max_buffer_rows = max_buffer_rows
        self._overflow_acc = overflow_acc

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._buf = handle.getListState("cep_buffer", _CEP_BUF_SCHEMA)
        self._partials = handle.getListState("cep_partials", _CEP_PARTIAL_SCHEMA)
        self._timer = handle.getValueState("cep_timer", "t bigint")

    def step(self, key, state, rows, wm_ms, fired):
        st = cep_step(self._pattern, self._max_buffer_rows, state, rows, wm_ms, fired)
        if st.overflow and self._overflow_acc is not None:
            self._overflow_acc.add(st.overflow)
        return st

    def load(self):
        return (
            int_rows(self._buf.get()) if self._buf.exists() else [],
            int_rows(self._partials.get()) if self._partials.exists() else [],
        )

    def store(self, st: Step) -> None:
        buf, partials = st.state or ([], [])
        put_rows(self._buf, buf)
        put_rows(self._partials, partials)
        sync_timer(self._handle, self._timer, st.timer_ms)


def _cep_decode(t) -> tuple:
    buf_ts, buf_mask, buf_ck, p_state, p_start, p_last = t
    return (
        int_rows(zip(buf_ts, buf_mask, buf_ck)),
        int_rows(zip(p_state, p_start, p_last)),
    )


def _cep_encode(state) -> tuple:
    buf, partials = state
    return (*columns_of(buf, 3), *columns_of(partials, 3))


def cep_prestage(df: DataFrame, pattern) -> DataFrame:
    """JVM-side pre-stage for the CEP step: per row, the NFA step
    bitmask (bit i set iff tokens ∩ step_i ≠ ∅ — arrays_overlap against
    the step's literal id set) and the cross-engine release-order checksum.
    Token arrays die here; the stateful stage sees 3 small numerics."""
    mask = F.lit(0)
    for i, step in enumerate(pattern.steps):
        step_arr = F.array(*[F.lit(int(t)) for t in sorted(step)])
        mask = mask + F.when(
            F.arrays_overlap(F.col("tokens").cast("array<bigint>"), step_arr),
            F.lit(1 << i),
        ).otherwise(F.lit(0))
    return df.select(
        "doc_id",
        "event_ts",
        mask.cast("int").alias("mask"),
        _ck_col(F.col("tokens")).alias("ck"),
    )


def cep_stream(
    stream: DataFrame,
    pattern,
    watermark: str,
    max_buffer_rows: int,
    overflow_acc,
    api: str,
) -> DataFrame:
    """Both CEP paths: pre-stage, watermark, then the keyed step under
    ``api`` (state tuple = cep.STATE_SCHEMA on the APWS path)."""
    src = cep_prestage(stream, pattern).withWatermark("event_ts", watermark)
    proc = CepPatternProcessor(pattern, max_buffer_rows, overflow_acc)
    return keyed_stream(
        src, ["doc_id"], proc, api, STATE_SCHEMA, _cep_decode, _cep_encode
    )


def match_pattern_stream_tws(
    stream: DataFrame,
    pattern,
    watermark: str = "5 minutes",
    max_buffer_rows: int = 100_000,
    overflow_acc=None,
) -> DataFrame:
    """transformWithStateInPandas CEP path (needs protobuf — tws_available;
    cep.match_pattern_stream is the APWS path over the same step, which
    runs without protobuf)."""
    return cep_stream(stream, pattern, watermark, max_buffer_rows, overflow_acc, "tws")


def running_doc_stats_batch(df: DataFrame) -> DataFrame:
    """Batch twin: one-shot groupBy fold — the differential golden."""
    return (
        _with_token_sum(df)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_seqs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.pmod(F.sum("token_sum"), F.lit(_CHECKSUM_MOD)).alias("token_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Token quota: MapState + timer-driven purge (the remaining state
# primitive the ValueState accumulator and the ListState CEP buffer don't
# touch). Per-source token-quota enforcement over event-time windows —
# the streaming face of the graded curate_token_budget entry.
# ---------------------------------------------------------------------------

QUOTA_OUTPUT_SCHEMA = T.StructType(
    [T.StructField("source", T.StringType())]
    + [
        T.StructField(c, T.LongType())
        for c in (
            "window_start",
            "admitted_tok",
            "rejected_tok",
            "admitted_rows",
            "rejected_rows",
        )
    ]
)


def quota_step(
    budget: int, window_us: int, ttl_us: int, state, rows: list, wm_ms: int
) -> Step:
    """One source's quota step. ``state`` = (buffer rows (ts_us, n_tok,
    ck), {window_start_us: [raw_tok, adm_tok, rej_tok, adm_rows,
    rej_rows]}); ``rows`` = new (ts_us, n_tok, ck).

    Sequences are admitted per event-time window while the window's
    cumulative RAW token total stays within ``budget``, in strict GLOBAL
    (event_ts, ck) order. To make that order independent of micro-batch
    boundaries (events arrive out of event-time order), rows are
    BUFFERED until the watermark passes them — the CEP buffer discipline
    — and only then folded into the window totals. Releases are monotone
    in the watermark, so the fold order over all released rows equals the
    batch twin's global sort for any batching (kill/resume differential
    caught the eager-admission variant flipping boundary rows between
    batchings). Raw totals (not admitted-only) are the state because they
    are a monotone counter: the admitted/rejected split at any prefix is
    then a pure function of the released prefix.

    Emits one row per window TOUCHED by released rows, carrying its
    RUNNING totals (latest emission per (source, window) is final — what
    a keyed latest-wins upsert sink needs), taken BEFORE the purge: a
    large watermark jump (e.g. a flush sentinel) can release rows into
    windows that are already purge-eligible, and their final totals must
    still be published. Windows whose end + ttl is behind the watermark
    can never change and are purged; the timer sits at the earliest
    actionable instant, min(buffered ts, purge horizon), never behind the
    watermark. A dead source keeps no buffer, no windows and no timer."""
    buf, spent = state or ([], {})
    spent = {w: list(st) for w, st in spent.items()}
    wm_us = wm_ms * 1000
    buf = sorted([*buf, *rows], key=lambda r: (r[0], r[2]))
    touched: set[int] = set()
    for ts_us, n_tok, _ck in (r for r in buf if r[0] <= wm_us):
        w = ts_us - ts_us % window_us
        st = spent.setdefault(w, [0, 0, 0, 0, 0])
        st[0] += n_tok
        if st[0] <= budget:
            st[1] += n_tok
            st[3] += 1
        else:
            st[2] += n_tok
            st[4] += 1
        touched.add(w)
    out = [(w, *spent[w][1:]) for w in sorted(touched)]
    remain = [r for r in buf if r[0] > wm_us]
    spent = {w: st for w, st in spent.items() if w + window_us + ttl_us > wm_us}
    if not remain and not spent:
        return Step(None, out)
    horizons = [min(r[0] for r in remain) // 1000 + 1] if remain else []
    if spent:
        horizons.append((min(spent) + window_us + ttl_us) // 1000 + 1)
    return Step((remain, spent), out, max(min(horizons), wm_ms + 1))


class TokenQuotaProcessor(StepProcessor):
    """TWS adapter of quota_step, keyed by source: ListState
    'quota_buffer' holds the sub-watermark rows, MapState 'window_spent'
    the per-window totals, and one event-time timer (recorded in
    'quota_timer') drains the buffer and purges closed windows for
    sources that stop receiving input."""

    COLUMNS = ("event_ts", "n_tok", "ck")
    SCHEMA = QUOTA_OUTPUT_SCHEMA

    def __init__(self, budget: int, window_sec: int = 3600, ttl_sec: int = 3600):
        self._budget = int(budget)
        self._window_us = int(window_sec) * 1_000_000
        self._ttl_us = int(ttl_sec) * 1_000_000

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._buf = handle.getListState(
            "quota_buffer", "ts bigint, n_tok bigint, ck bigint"
        )
        self._spent = handle.getMapState(
            "window_spent",
            "window_start bigint",
            "raw_tok bigint, adm_tok bigint, rej_tok bigint, "
            "adm_rows bigint, rej_rows bigint",
        )
        self._timer = handle.getValueState("quota_timer", "t bigint")

    def step(self, key, state, rows, wm_ms, fired):
        return quota_step(
            self._budget, self._window_us, self._ttl_us, state, rows, wm_ms
        )

    def load(self):
        buf = int_rows(self._buf.get()) if self._buf.exists() else []
        spent = (
            {int(k[0]): [int(x) for x in v] for k, v in self._spent.iterator()}
            if self._spent.exists()
            else {}
        )
        return buf, spent

    def store(self, st: Step) -> None:
        buf, spent = st.state or ([], {})
        put_rows(self._buf, buf)
        self._spent.clear()
        for w, totals in spent.items():
            self._spent.updateValue((w,), tuple(totals))
        sync_timer(self._handle, self._timer, st.timer_ms)


def quota_prestage(df: DataFrame) -> DataFrame:
    """JVM-side pre-stage: (source, event_ts, n_tok, ck) where ck is the
    cross-engine 60-bit hash of (doc_id, n_tok) that fixes the
    within-timestamp admission order. n_tok is part of the hash because a
    hot doc_id can emit several sequences in the SAME second: hashing
    doc_id alone left those rows tied in the (ts, ck) sort, and when they
    straddled the budget boundary the admitted/rejected split depended on
    the arbitrary tie order (caught by the kill/resume differential —
    replayed batches broke ties differently). With n_tok folded in,
    remaining ties are between rows with equal token counts, which are
    fungible for the split. Token arrays (if present) die here."""
    from parallel_dataflow_spark.functions.text import md5_60bit

    return df.select(
        "source",
        "event_ts",
        F.col("n_tok").cast("long").alias("n_tok"),
        md5_60bit(
            F.concat_ws(":", F.col("doc_id").cast("string"),
                        F.col("n_tok").cast("string"))
        ).alias("ck"),
    )


def token_quota_stream_tws(
    stream: DataFrame,
    budget: int,
    window_sec: int = 3600,
    ttl_sec: int = 3600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """transformWithStateInPandas quota path (needs protobuf —
    tws_available; TokenQuotaProcessor is differential-tested against
    token_quota_batch on the handle double)."""
    return token_quota_stream(
        stream, budget, window_sec, ttl_sec, watermark, api="tws"
    )


def token_quota_batch(
    df: DataFrame, budget: int, window_sec: int = 3600
) -> DataFrame:
    """Batch twin (the differential golden): greedy prefix under the
    cumulative RAW token cap per (source, window), order (event_ts, ck) —
    one window cumsum, one aggregation."""
    from pyspark.sql import Window as W

    src = quota_prestage(df)
    win_us = int(window_sec) * 1_000_000
    ts_us = F.col("event_ts").cast("timestamp_ltz").cast("long") * 1_000_000
    w = ts_us - F.pmod(ts_us, F.lit(win_us))
    cum = F.sum("n_tok").over(
        W.partitionBy("source", "window_start")
        .orderBy(F.col("event_ts").asc(), F.col("ck").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    admitted = F.col("cum_tok") <= F.lit(int(budget))
    return (
        src.withColumn("window_start", w)
        .withColumn("cum_tok", cum)
        .groupBy("source", "window_start")
        .agg(
            F.sum(F.when(admitted, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("admitted_tok"),
            F.sum(F.when(~admitted, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("rejected_tok"),
            F.sum(F.when(admitted, 1).otherwise(0))
            .cast("long")
            .alias("admitted_rows"),
            F.sum(F.when(~admitted, 1).otherwise(0))
            .cast("long")
            .alias("rejected_rows"),
        )
    )


_QUOTA_STATE_SCHEMA = (
    "b_ts array<bigint>, b_tok array<bigint>, b_ck array<bigint>, "
    "wins array<bigint>, raws array<bigint>, adm_t array<bigint>, "
    "rej_t array<bigint>, adm_r array<bigint>, rej_r array<bigint>"
)


def _quota_decode(t) -> tuple:
    b_ts, b_tok, b_ck, *windows = t
    return (
        int_rows(zip(b_ts, b_tok, b_ck)),
        {r[0]: list(r[1:]) for r in int_rows(zip(*windows))},
    )


def _quota_encode(state) -> tuple:
    buf, spent = state
    ws = sorted(spent)
    return (*columns_of(buf, 3), ws, *columns_of([spent[w] for w in ws], 5))


def token_quota_stream(
    stream: DataFrame,
    budget: int,
    window_sec: int = 3600,
    ttl_sec: int = 3600,
    watermark: str = "10 minutes",
    api: str = "auto",
) -> DataFrame:
    """Quota enforcement with API fallback, mirroring
    running_doc_stats_stream: 'tws' = transformWithStateInPandas
    (TokenQuotaProcessor), 'apws' = applyInPandasWithState over the SAME
    quota_step (buffer + window totals become parallel arrays in the
    single apws state tuple; EventTimeTimeout replaces the registered
    timer). Emissions carry RUNNING per-window totals — latest emission
    per (source, window) = final, upsert-sink-safe."""
    api = resolve_api(api)
    src = quota_prestage(stream).withWatermark("event_ts", watermark)
    proc = TokenQuotaProcessor(budget, window_sec, ttl_sec)
    return keyed_stream(
        src, ["source"], proc, api, _QUOTA_STATE_SCHEMA, _quota_decode, _quota_encode
    )
