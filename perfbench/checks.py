"""Independent references the benchmark checks each workload against.

- graded queries: the query's DuckDB oracle SQL over the same parquet
  files, compared after ``tools/oracle_check.py``'s canonicalisation; a
  value that differs only by which way a rounding tie went is accepted
  and reported (``rounding_ties``);
- fixpoint results: the pure-Python sequential kernel (``golden_rows``);
- the token stream: the job's featurize + tumbling-window aggregate
  recomputed from the source parquet files with numpy and DuckDB.
"""

from __future__ import annotations

import bisect
import glob
import math
import os
import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from parallel_dataflow_spark.sources.sequences import VOCAB
from tools.oracle_check import canon_rows, norm_value

# run_throughput_job's defaults: a 10-minute tumbling window and a
# positional checksum taken mod 2**40
WINDOW_US = 10 * 60 * 1_000_000
CHECKSUM_MOD = 1 << 40
_ROUND_CALL = re.compile(r"\bround\s*\(", re.IGNORECASE)


def duck_views(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def same_rows(cols_a, rows_a, cols_b, rows_b) -> bool:
    return canon_rows(list(cols_a), [tuple(r) for r in rows_a]) == canon_rows(
        list(cols_b), [tuple(r) for r in rows_b]
    )


def unrounded_values(con: duckdb.DuckDBPyConnection, sql: str) -> list[float]:
    """Every float the oracle ``sql`` yields with its ``round(x, d)`` calls
    replaced by ``x``, sorted: the values before rounding."""
    try:
        con.execute("CREATE MACRO IF NOT EXISTS _unrounded(x, d) AS x")
        rows = con.sql(_ROUND_CALL.sub("_unrounded(", sql)).fetchall()
    except duckdb.Error:
        return []  # no tie can be shown, so the difference counts as failed
    return sorted(v for r in rows for v in r if isinstance(v, float) and not math.isnan(v))


def rounding_ties(cols_a, rows_a, cols_b, rows_b, unrounded: list[float]):
    """The value pairs by which two otherwise equal results differ, if
    each pair is a rounding tie: two neighbours on a 10**-d grid whose
    midpoint is a value of the reference before rounding, to within float
    error. Which way such a value rounds depends on the order in which an
    engine summed the doubles. Returns None if any difference is not such
    a tie."""
    order_a, pairs_a = _canon_pairs(cols_a, rows_a)
    order_b, pairs_b = _canon_pairs(cols_b, rows_b)
    if order_a != order_b or len(pairs_a) != len(pairs_b):
        return None
    ties = []
    for (key_a, row_a), (key_b, row_b) in zip(pairs_a, pairs_b):
        for na, nb, a, b in zip(key_a, key_b, row_a, row_b):
            if na == nb:
                continue
            if not (isinstance(a, float) and isinstance(b, float) and _is_tie(a, b, unrounded)):
                return None
            ties.append((a, b))
    return ties


def _canon_pairs(cols, rows):
    """Column names sorted, and rows as (normalised, raw) value tuples in
    that column order, sorted by their non-float values first so that a
    difference in a float does not change which rows are paired."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    pairs = []
    for r in rows:
        raw = tuple(r[i] for i in order)
        pairs.append((tuple(norm_value(v) for v in raw), raw))
    pairs.sort(key=lambda p: ([n for n, v in zip(*p) if not isinstance(v, float)], p[0]))
    return [cols[i] for i in order], pairs


def _on_grid(x: float, d: int) -> bool:
    s = x * 10.0**d
    return abs(s - round(s)) <= max(1e-6, 8 * np.finfo(float).eps * abs(s))


def _is_tie(a: float, b: float, unrounded: list[float]) -> bool:
    for d in range(7):
        unit = 10.0**-d
        if _on_grid(a, d) and _on_grid(b, d) and abs(abs(a - b) - unit) <= 1e-6 * unit:
            mid = (a + b) / 2
            tol = 1e-12 * max(1.0, abs(mid))
            i = bisect.bisect_left(unrounded, mid - tol)
            return i < len(unrounded) and unrounded[i] <= mid + tol
    return False


def featurize(flat: np.ndarray, row_off: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per row: the most frequent token (smallest on ties, as
    ``np.bincount(a).argmax()``) and the positional checksum
    ``sum(a[i] * (i + 1)) mod 2**40``. Rows are the contiguous slices
    ``flat[row_off[i]:row_off[i + 1]]``; an empty row gets (-1, 0)."""
    n = len(row_off) - 1
    lens = np.diff(row_off)
    starts = row_off[:-1]
    row = np.repeat(np.arange(n, dtype=np.int64), lens)
    tok = flat.astype(np.int64)
    pos = np.arange(len(flat), dtype=np.int64) - np.repeat(starts, lens) + 1
    ck = np.add.reduceat(np.append(tok * pos, 0), starts)
    ck[lens == 0] = 0
    # (row, token) pairs come out of np.unique sorted by row, then token,
    # so the first pair holding its row's largest count is the smallest
    # most frequent token
    keys, counts = np.unique(row * VOCAB + tok, return_counts=True)
    k_row = keys // VOCAB
    first_of_row = np.flatnonzero(np.r_[True, k_row[1:] != k_row[:-1]])
    row_max = np.maximum.reduceat(counts, first_of_row)
    best = np.flatnonzero(counts == np.repeat(row_max, np.diff(np.r_[first_of_row, len(keys)])))
    best = best[np.r_[True, k_row[best][1:] != k_row[best][:-1]]]
    top = np.full(n, -1, dtype=np.int64)
    top[k_row[best]] = keys[best] % VOCAB
    return top, ck % CHECKSUM_MOD


def stream_reference(src_dir: str) -> list[tuple]:
    """The exact rows the throughput job's sink should resolve to:
    (doc_id, window_start_us, n_seqs, total_tokens, feat_checksum,
    min_top, max_top), sorted."""
    files = sorted(glob.glob(os.path.join(src_dir, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet files under {src_dir}")
    parts = []
    for path in files:  # one file at a time keeps the token buffers small
        table = pq.read_table(path)
        tokens = table.column("tokens").combine_chunks()
        row_off = tokens.offsets.to_numpy().astype(np.int64)
        top, ck = featurize(tokens.values.to_numpy(), row_off - row_off[0])
        ts_us = table.column("event_ts").cast(pa.int64()).to_numpy()
        parts.append(
            pa.table(
                {
                    "doc_id": table.column("doc_id"),
                    "window_start": (ts_us // WINDOW_US) * WINDOW_US,
                    "n_tok": table.column("n_tok"),
                    "top": top,
                    "ck": ck,
                }
            )
        )
    rows = pa.concat_tables(parts)
    con = duckdb.connect()
    con.register("rows_t", rows)
    return con.sql(
        "SELECT doc_id, window_start, count(*), sum(n_tok), sum(ck), min(top), max(top) "
        "FROM rows_t GROUP BY ALL ORDER BY doc_id, window_start"
    ).fetchall()


def sink_rows(spark, sink) -> list[tuple]:
    """The sink's resolved view in the reference's column order."""
    from pyspark.sql import functions as F

    df = sink.read(spark).select(
        "doc_id",
        F.unix_micros(F.col("window_start")).alias("window_start"),
        "n_seqs",
        "total_tokens",
        "feat_checksum",
        "min_top",
        "max_top",
    )
    return sorted(tuple(r) for r in df.collect())
