"""NFA-style CEP over the token-sequence stream (north rule; SURVEY.md §2.2).

Pattern model: an ordered list of steps; each step is a set of token ids.
A row (one sequence arrival) satisfies a step if its token array contains
any of the step's tokens (vectorized ``np.isin`` per Arrow batch). A match
is rows r1 < r2 < ... < rk in event-time order, one per step, consecutive
rows within ``gap_seconds``. Skip-till-next-match semantics; overlapping
starts allowed up to ``max_partials`` per key.

Determinism under micro-batching: rows are buffered in keyed state and
released through the NFA only once the event-time watermark passes them,
in strict (event_ts, checksum) order — so the match set is independent of
how the stream is chopped into batches or partitioned across executors.
This is the streaming re-expression of the reference's
confluence-under-scheduling property (any worklist order → same fixpoint,
impls/src/bin/test.rs:21-70).

The per-key streaming logic (buffer, release order, overflow bound,
partial pruning, gap-timeout timer) is ONE pure step, stateful.cep_step,
over rows pre-staged JVM-side to (event_ts, step mask, checksum) by
stateful.cep_prestage. Two adapters run it: match_pattern_stream
(``applyInPandasWithState``, state tuple = STATE_SCHEMA, event-time
timeout flushes the tail) and stateful.match_pattern_stream_tws
(``transformWithStateInPandas``, CepPatternProcessor's named states and
one timer). This module keeps the NFA kernel both the step and the batch
twin run.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class Pattern:
    steps: tuple[frozenset, ...]  # each: frozenset of token ids
    gap_seconds: int
    max_partials: int = 64

    @staticmethod
    def of(steps: list[list[int]], gap_seconds: int) -> "Pattern":
        return Pattern(tuple(frozenset(s) for s in steps), gap_seconds)


MATCH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("match_start_ts", T.LongType()),  # epoch micros
        T.StructField("match_end_ts", T.LongType()),
        T.StructField("n_steps", T.IntegerType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("buf_ts", T.ArrayType(T.LongType())),    # epoch micros
        T.StructField("buf_mask", T.ArrayType(T.IntegerType())),
        T.StructField("buf_ck", T.ArrayType(T.LongType())),    # _ck_col(tokens)
        T.StructField("p_state", T.ArrayType(T.IntegerType())),
        T.StructField("p_start", T.ArrayType(T.LongType())),
        T.StructField("p_last", T.ArrayType(T.LongType())),
    ]
)


def _ck_col(tokens) -> F.Column:
    """Deterministic per-row checksum used ONLY as the tie-break for
    same-timestamp rows in the NFA release order. Cross-engine 60-bit md5
    of the comma-joined token array (functions.text.md5_60bit), so the
    DuckDB oracle for the CEP entries replays the exact release order
    (xxhash64 would not be SQL-reproducible)."""
    from parallel_dataflow_spark.functions.text import md5_60bit

    return md5_60bit(F.concat_ws(",", tokens.cast("array<string>")))


def row_step_mask(tokens_series: pd.Series, pattern: Pattern) -> np.ndarray:
    """Bitmask per row: bit i set if the row satisfies step i. Vectorized
    per step over the batch."""
    n = len(tokens_series)
    mask = np.zeros(n, dtype=np.int32)
    arrs = [np.asarray(a, dtype=np.int64) for a in tokens_series]
    for i, step in enumerate(pattern.steps):
        step_arr = np.fromiter(step, dtype=np.int64)
        hit = np.fromiter(
            (np.isin(a, step_arr, assume_unique=False).any() if a.size else False for a in arrs),
            dtype=bool,
            count=n,
        )
        mask |= hit.astype(np.int32) << i
    return mask


def advance_nfa(
    pattern: Pattern,
    released_ts: np.ndarray,
    released_mask: np.ndarray,
    p_state: list[int],
    p_start: list[int],
    p_last: list[int],
) -> list[tuple[int, int, int]]:
    """Feed released rows (sorted by ts) through the NFA, mutating the
    partial-match lists in place. Returns completed matches
    (start_ts, end_ts, n_steps). Pure function of its inputs — shared by
    the streaming kernel and the batch reference twin."""
    gap_us = pattern.gap_seconds * 1_000_000
    n_steps = len(pattern.steps)
    matches: list[tuple[int, int, int]] = []
    for ts, mask in zip(released_ts.tolist(), released_mask.tolist()):
        # expire stale partials first (gap exceeded)
        keep = [j for j in range(len(p_state)) if ts - p_last[j] <= gap_us]
        if len(keep) != len(p_state):
            p_state[:] = [p_state[j] for j in keep]
            p_start[:] = [p_start[j] for j in keep]
            p_last[:] = [p_last[j] for j in keep]
        # advance existing partials (oldest first)
        completed = []
        for j in range(len(p_state)):
            if mask >> p_state[j] & 1:
                p_state[j] += 1
                p_last[j] = ts
                if p_state[j] == n_steps:
                    matches.append((p_start[j], ts, n_steps))
                    completed.append(j)
        for j in reversed(completed):
            del p_state[j], p_start[j], p_last[j]
        # start a new partial
        if (mask & 1) and len(p_state) < pattern.max_partials:
            if n_steps == 1:
                matches.append((ts, ts, 1))
            else:
                p_state.append(1)
                p_start.append(ts)
                p_last.append(ts)
    return matches


def match_pattern_batch(df: DataFrame, pattern: Pattern) -> DataFrame:
    """Batch twin: same NFA over a static DataFrame via applyInPandas —
    the runtime-golden for differential tests (the role the sequential
    executor plays in the reference)."""

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["event_ts", "__ck"], kind="mergesort")
        ts = pdf["event_ts"].astype("datetime64[us]").astype(np.int64).to_numpy()
        mask = row_step_mask(pdf["tokens"], pattern)
        p_state: list[int] = []
        p_start: list[int] = []
        p_last: list[int] = []
        matches = advance_nfa(pattern, ts, mask, p_state, p_start, p_last)
        if not matches:
            return pd.DataFrame(columns=["doc_id", "match_start_ts", "match_end_ts", "n_steps"])
        doc = pdf["doc_id"].iloc[0]
        return pd.DataFrame(
            {
                "doc_id": doc,
                "match_start_ts": [m[0] for m in matches],
                "match_end_ts": [m[1] for m in matches],
                "n_steps": [m[2] for m in matches],
            }
        )

    with_ck = df.withColumn("__ck", _ck_col(F.col("tokens")))
    return with_ck.groupBy("doc_id").applyInPandas(per_doc, schema=MATCH_SCHEMA)


def match_pattern_stream(
    stream: DataFrame,
    pattern: Pattern,
    watermark: str = "5 minutes",
    max_buffer_rows: int = 100_000,
    overflow_acc=None,
) -> DataFrame:
    """Streaming NFA, the applyInPandasWithState adapter of
    stateful.cep_step: keyed state per doc_id, buffer-until-watermark
    release, event-time timeout flush.

    ``max_buffer_rows`` bounds per-key state: if a key's buffer would
    exceed it (hot key + stalled watermark), the OLDEST overflow rows are
    released through the NFA early, in the same (event_ts, checksum)
    order. For those rows the batching-independence guarantee weakens to
    arrival-order determinism (a straggler older than an early-released
    row would be sequenced after it) — the documented trade for bounded
    state on pathological keys; rows behind the watermark are never
    affected.

    ``overflow_acc``: optional Spark accumulator (sc.accumulator(0));
    incremented by the number of rows released EARLY whenever the bound
    trips, so the determinism degradation is observable (asserted in
    tests/test_cep.py; surfaced post-run by streaming/jobs + the JSONL
    metrics log as cep_overflow_rows)."""
    from parallel_dataflow_spark.streaming.stateful import cep_stream

    return cep_stream(
        stream, pattern, watermark, max_buffer_rows, overflow_acc, "apws"
    )
