"""Streaming C4-style keep-first span deduplication over token arrays.

The batch rule (Raffel et al. 2020 S 2.2, cf. operators/dedup.c4_span_dedup
for the text-side variant): every occurrence of a token span after its
globally first occurrence is a duplicate. On a stream "globally first"
must be made batching-invariant, so this module applies the repo's
buffered-release discipline (CEP / TokenQuotaProcessor): rows keyed by
span hash are BUFFERED until the watermark passes them, then folded in
strict (event_ts, ck) order — the first released row per span hash owns
the span, every later release is a duplicate. The fold order over all
released rows equals the batch twin's global sort for ANY micro-batch
split, so full-run == kill/resume == batch twin, row for row.

Guarantee horizon: like dropDuplicatesWithinWatermark (run_dedup_job), a
duplicate arriving later than watermark + ttl after the owner's last
activity re-admits — the state for a span hash purges once it can no
longer change. Bounded state is non-negotiable on a 10^12-sequence
stream; the within-horizon guarantee is the price, and the keyed
latest-wins sink absorbs re-emissions.

Scale shape: spans are exploded and hashed MAP-SIDE (span_prestage) — the
token payload dies before the stateful exchange, which carries
(h, event_ts, doc_id, span_idx, ck) fixed-width rows. Per-key state is
one owner record plus the sub-horizon buffer; a span hash that stops
arriving retains nothing after its purge timer fires. Emissions carry the
RUNNING (owner, dup_rows) record per span hash — latest emission per h is
final, which is exactly what the keyed upsert sink needs under replay.

What this buys over the built-in dropDuplicatesWithinWatermark: a
deterministic (batching-invariant) owner, per-span duplicate accounting,
and an explicit ttl — none of which the built-in exposes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parallel_dataflow_spark.functions.text import md5_60bit
from parallel_dataflow_spark.streaming.stateful import (
    Step,
    StepProcessor,
    StatefulProcessorHandle,
    columns_of,
    keyed_stream,
    put_rows,
    resolve_api,
    sync_timer,
)

SPANDEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("h", T.LongType(), False),
        T.StructField("owner_doc", T.StringType(), False),
        T.StructField("owner_idx", T.LongType(), False),
        T.StructField("dup_rows", T.LongType(), False),
    ]
)

_STATE_SCHEMA = (
    "b_ts array<bigint>, b_ck array<bigint>, b_doc array<string>, "
    "b_idx array<bigint>, own_doc string, own_idx bigint, "
    "dup_rows bigint, last_ts bigint"
)


def span_prestage(df: DataFrame, span_tokens: int = 16) -> DataFrame:
    """JVM-side pre-stage: explode non-overlapping ``span_tokens``-token
    blocks and project each to (h, event_ts, doc_id, span_idx, ck). The
    token slices die here — only the 64-bit span hash crosses the
    stateful exchange. ck is the cross-engine 60-bit hash of
    (doc_id, span_idx), the within-timestamp tie-break of the release
    order (the quota prestage lesson: same-second rows must be ordered or
    fungible — distinct (doc_id, span_idx) pairs are never fungible for
    ownership, so they are always ordered)."""
    w = int(span_tokens)
    n_spans = F.ceil(F.size("tokens") / F.lit(float(w))).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.slice("tokens", i * w + 1, w),
    )
    return df.select(
        "doc_id", "event_ts", F.posexplode(spans).alias("span_idx", "span")
    ).select(
        F.xxhash64("span").alias("h"),
        "event_ts",
        "doc_id",
        F.col("span_idx").cast("long").alias("span_idx"),
        md5_60bit(
            F.concat_ws(":", "doc_id", F.col("span_idx").cast("string"))
        ).alias("ck"),
    )


def span_step(ttl_us: int, state, rows: list, wm_ms: int) -> Step:
    """One span hash's step. ``state`` = (buffer rows (ts_us, ck, doc,
    idx), owner (own_doc, own_idx, dup_rows, last_ts) or None); ``rows``
    = new (ts_us, ck, doc, idx).

    Sorts the buffer in (ts, ck, doc, idx) order and releases the rows at
    or behind the watermark: the first released row ever owns the span,
    every later one adds to dup_rows, and last_ts tracks the newest
    release. Emits the RUNNING (owner_doc, owner_idx, dup_rows) whenever
    rows were released — from the PRE-purge value, since a large
    watermark jump can release and close the horizon in one step (the
    quota kernel lesson). Once nothing is buffered and last_ts + ttl is
    behind the watermark the record can never change: all state is
    dropped. Otherwise the timer sits at the earliest actionable instant
    (min buffered ts, else the purge horizon), never behind the
    watermark."""
    buf, owner = state or ([], None)
    wm_us = wm_ms * 1000
    buf = sorted([*buf, *rows])
    release = [r for r in buf if r[0] <= wm_us]
    remain = [r for r in buf if r[0] > wm_us]
    if release:
        if owner is None:
            owner = (release[0][2], release[0][3], len(release) - 1, release[-1][0])
        else:
            doc, idx, dups, last = owner
            owner = (doc, idx, dups + len(release), max(last, release[-1][0]))
    out = [owner[:3]] if release else []
    if not remain and (owner is None or owner[3] + ttl_us <= wm_us):
        return Step(None, out)
    horizons = [min(r[0] for r in remain) // 1000 + 1] if remain else []
    if owner is not None:
        horizons.append((owner[3] + ttl_us) // 1000 + 1)
    return Step((remain, owner), out, max(min(horizons), wm_ms + 1))


class SpanDedupProcessor(StepProcessor):
    """TWS adapter of span_step, keyed by span hash: ListState
    'span_buffer' (the sub-watermark holding pen), ValueState
    'span_owner', and one event-time timer recorded in 'span_timer'."""

    COLUMNS = ("event_ts", "ck", "doc_id", "span_idx")
    SCHEMA = SPANDEDUP_OUTPUT_SCHEMA

    def __init__(self, ttl_sec: int = 3600):
        self._ttl_us = int(ttl_sec) * 1_000_000

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._buf = handle.getListState(
            "span_buffer", "ts bigint, ck bigint, doc string, idx bigint"
        )
        self._own = handle.getValueState(
            "span_owner",
            "own_doc string, own_idx bigint, dup_rows bigint, last_ts bigint",
        )
        self._timer = handle.getValueState("span_timer", "t bigint")

    def step(self, key, state, rows, wm_ms, fired):
        return span_step(self._ttl_us, state, rows, wm_ms)

    def load(self):
        buf = _buffer_rows(self._buf.get()) if self._buf.exists() else []
        return buf, (_owner(*self._own.get()) if self._own.exists() else None)

    def store(self, st: Step) -> None:
        buf, owner = st.state or ([], None)
        put_rows(self._buf, buf)
        if owner is None:
            self._own.clear()
        else:
            self._own.update(owner)
        sync_timer(self._handle, self._timer, st.timer_ms)


def _buffer_rows(rows) -> list[tuple]:
    return [(int(a), int(b), str(c), int(d)) for a, b, c, d in rows]


def _owner(doc, idx, dups, last) -> tuple | None:
    return None if doc is None else (str(doc), int(idx), int(dups), int(last))


def _decode(t) -> tuple:
    b_ts, b_ck, b_doc, b_idx, *owner = t
    return _buffer_rows(zip(b_ts, b_ck, b_doc, b_idx)), _owner(*owner)


def _encode(state) -> tuple:
    buf, owner = state
    return (*columns_of(buf, 4), *(owner or (None,) * 4))


def span_dedup_stream(
    stream: DataFrame,
    span_tokens: int = 16,
    ttl_sec: int = 3600,
    watermark: str = "10 minutes",
    api: str = "auto",
) -> DataFrame:
    """Streaming keep-first span dedup with the repo's API fallback:
    'tws' = transformWithStateInPandas (SpanDedupProcessor), 'apws' =
    applyInPandasWithState over the SAME span_step (state tuple =
    parallel arrays; EventTimeTimeout replaces the timer)."""
    api = resolve_api(api)
    src = span_prestage(stream, span_tokens).withWatermark(
        "event_ts", watermark
    )
    return keyed_stream(
        src, ["h"], SpanDedupProcessor(ttl_sec), api, _STATE_SCHEMA, _decode, _encode
    )


def span_dedup_batch(df: DataFrame, span_tokens: int = 16) -> DataFrame:
    """Batch twin (the differential golden): global keep-first per span
    hash in (event_ts, ck, doc_id, span_idx) order — one min_by
    aggregation over the prestage triples."""
    src = span_prestage(df, span_tokens)
    ts_us = F.col("event_ts").cast("timestamp_ltz").cast("long") * 1_000_000
    keyed = src.select(
        "h",
        F.struct(
            ts_us.alias("ts"),
            F.col("ck"),
            F.col("doc_id").alias("doc"),
            F.col("span_idx").alias("idx"),
        ).alias("ord"),
    )
    return keyed.groupBy("h").agg(
        F.min("ord").getField("doc").alias("owner_doc"),
        F.min("ord").getField("idx").alias("owner_idx"),
        (F.count("*") - 1).cast("long").alias("dup_rows"),
    )
