"""The benchmark's workloads.

Each workload has a ``prepare`` step (input generation), a ``warm`` step
(an untimed warm-up; the harness counts both in set-up) and a ``measure``
step that runs the measured work, checks its outputs against an
independent reference and returns a ``Result``. All inputs are generated
from the seed into the run's work directory.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pandas as pd

import __spark_entry__ as entry
from parallel_dataflow_spark.operators.fixpoint import (
    SPECS,
    golden_rows,
    run_across_functions,
    run_bsp,
)
from parallel_dataflow_spark.plans.registry import LAZY_ORACLE_SQL, ORACLE_SQL, QUERIES
from parallel_dataflow_spark.sources.cfg_fixtures import (
    BLOCKS_SCHEMA,
    EDGES_SCHEMA,
    fixture_program,
    handwritten_cfgs,
    random_cfg,
)
from parallel_dataflow_spark.sources.sequences import write_sequence_table
from parallel_dataflow_spark.sources.tables import TABLES
from parallel_dataflow_spark.streaming.jobs import run_throughput_job
from perfbench import checks
from perfbench.sparkstats import job_starts
from perfbench.stats import arrival_lags, geomean, median, percentile
from perfbench.tables import write_tables

# Graded queries that read the Bril corpus, which is not in the
# repository; the other 43 run on the generated tables.
BRIL_QUERIES = frozenset(
    {
        "dataflow_bsp_reaching_defs",
        "dataflow_reaching_defs_bril",
        "dataflow_live_vars_bril",
        "dataflow_const_prop_bril",
        "dataflow_available_exprs_bril",
        "dataflow_mixed_reaching_defs",
        "dataflow_exit_values",
    }
)
# Timed only in the traced run: a streaming query over its own fixed
# 4 000-row input whose cost is per-micro-batch overhead, the mechanism
# the stream workload's paced phase measures.
TRACED_ONLY_QUERIES = ("cep_token_pattern_stream",)
GRADED_SF = 0.01
GRADED_DOCS = 100
# Cheap queries over a scan, an aggregate, a window and a Python UDF, so
# the pass does not pay for worker start-up and the first JIT work.
WARM_QUERIES = ("q6_forecast_revenue", "tokenize_documents", "topk_orders_per_customer")
ORACLE_THREADS = 4

ACROSS_PASSES = ("reaching_defs", "live_vars", "const_prop", "available_exprs")
# BSP ConstProp depends on the superstep schedule, so it has no golden.
BSP_PASSES = ("reaching_defs", "live_vars", "available_exprs")
ACROSS_FUNCS, ACROSS_BLOCKS = 24, (20, 60)
BSP_FUNCS, BSP_BLOCKS = 1, 4

DRAIN_ROWS, DRAIN_FILES, DRAIN_MFT = 360_000, 18, 6
PACED_FILES, PACED_ROWS, PACED_INTERVAL_S, PACED_MFT = 24, 750, 0.25, 8
WARM_ROWS, WARM_FILES = 16_000, 4

# Per-layer metrics every traced run reports (0 where a layer is not
# exercised), besides one ``plans.<query>.s`` per graded query.
LAYER_METRICS = (
    "session.start_s",
    "sources.generate_s",
    "sources.scan_s",
    "sources.scan_bytes",
    "plans.build_s",
    "plans.collect_s",
    "functions.python_run_s",
    "functions.python_start_s",
    "functions.bytes_to_python",
    "functions.bytes_from_python",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.driver_s",
    "streaming.drain_start_s",
    "streaming.add_batch_s",
    "streaming.batches",
    "streaming.batch_p50_s",
    "streaming.query_planning_s",
    "streaming.wal_commit_s",
    "streaming.commit_offsets_s",
    "streaming.latest_offset_s",
    "streaming.state_commit_s",
    "streaming.idle_s",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    "streaming.generator_late_p90_s",
    "streaming.sink_write_s",
    "streaming.scaling_eff_1_to_nproc",
    "operators.fixpoint.load_s",
    *(f"operators.fixpoint.across_functions.{p}.s" for p in ACROSS_PASSES),
    *(f"operators.fixpoint.bsp.{p}.s" for p in BSP_PASSES),
    "operators.fixpoint.bsp.jobs",
    "self.session_s",
    "self.sources_s",
    "self.plans_s",
    "self.operators_s",
    "self.streaming_s",
    "trace.wall_s",
    "trace.collect_s",
)


@dataclass
class Result:
    """Per-item latencies plus the workload's end-to-end and layer numbers."""

    # per item, from when it was due to when its result was ready
    lags: list[float] = field(default_factory=list)
    # per item (query, fixpoint call, micro-batch), its own duration
    item_s: list[float] = field(default_factory=list)
    # per repeated unit of work (a pass over the parts, a backlog drain)
    units_s: list[float] = field(default_factory=list)
    items_done: float = 0.0  # queries, fixpoint calls or drained tokens
    busy_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    # measured intervals; the traced run reads Spark's stores over them
    windows: list[tuple[float, float]] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def end_to_end(self) -> dict[str, float]:
        return {
            "wall_s": median(self.units_s),
            "geomean_s": geomean(self.item_s),
            "items_per_s": self.items_done / self.busy_s,
            "lag_p50_s": percentile(self.lags, 50)[0],
            "lag_p75_s": percentile(self.lags, 75)[0],
        }


# ---------------------------------------------------------------------------
# graded_and_fixpoint
# ---------------------------------------------------------------------------


def graded_query_names() -> list[str]:
    """The 43 graded queries that run without the Bril corpus."""
    names = sorted(n for n in QUERIES if n not in BRIL_QUERIES)
    if len(names) != 43:
        raise RuntimeError(f"expected 43 graded queries without Bril, got {len(names)}")
    return names


class GradedQueries:
    """The Bril-free graded queries, one at a time, each timed from the
    call to its collected rows and checked against its DuckDB oracle."""

    name = "graded_queries"

    def __init__(self, ctx):
        self.ctx = ctx
        names = graded_query_names()
        self.queries = {n: f for n, f in entry.queries().items() if n in names}
        self.oracles = {
            n: (ORACLE_SQL[n] if n in ORACLE_SQL else LAZY_ORACLE_SQL[n]())
            for n in self.queries
        }
        # One fixed order (the registry's): the JVM keeps warming up through
        # the first ~10 queries of a pass, so a per-seed order would move
        # that cost between queries and spread the per-query percentiles.
        self.order = [n for n in QUERIES if n in self.queries and n not in TRACED_ONLY_QUERIES]

    def prepare(self, spark, data_dir: str) -> dict:
        with self.ctx.tracer.span("sources.generate"):
            write_tables(data_dir, GRADED_SF, self.ctx.seed, n_docs=GRADED_DOCS)
        return {"sf_dir": data_dir}

    def warm(self, spark, inputs: dict) -> None:
        for name in WARM_QUERIES:
            self.queries[name](spark, inputs["sf_dir"]).collect()

    def _run_query(self, spark, name: str, sf_dir: str):
        tr = self.ctx.tracer
        spark.catalog.clearCache()
        t0 = time.time()
        with tr.span(f"plans.{name}"):
            with tr.span("plans.build"):
                df = self.queries[name](spark, sf_dir)
            with tr.span("plans.collect"):
                rows = df.collect()
        return time.time() - t0, df.columns, rows

    def run_pass(self, spark, inputs: dict, res: Result, outputs: dict) -> None:
        for name in self.order:
            res.attempted += 1
            try:
                dt, cols, rows = self._run_query(spark, name, inputs["sf_dir"])
            except Exception as e:  # counted, the run goes on
                res.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            res.item_s.append(dt)
            res.lags.append(dt)
            res.info.setdefault("query_s", {}).setdefault(name, []).append(round(dt, 4))
            outputs.setdefault(name, []).append((cols, rows))

    def finish(self, spark, inputs: dict, res: Result, outputs: dict) -> None:
        sf_dir = inputs["sf_dir"]
        if self.ctx.traced:
            for name in TRACED_ONLY_QUERIES:
                res.attempted += 1
                try:
                    _, cols, rows = self._run_query(spark, name, sf_dir)
                    outputs.setdefault(name, []).append((cols, rows))
                except Exception as e:
                    res.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            res.layer.update(
                {f"plans.{n}.s": self.ctx.tracer.total(f"plans.{n}") for n in self.queries}
            )
        con = checks.duck_views(sf_dir, TABLES)

        def reference(name):
            rel = con.cursor().sql(self.oracles[name])
            return rel.columns, rel.fetchall()

        with ThreadPoolExecutor(ORACLE_THREADS) as pool:
            refs = {name: pool.submit(reference, name) for name in outputs}
        for name, outs in sorted(outputs.items()):
            try:
                ref_cols, ref_rows = refs[name].result()
            except Exception as e:
                for _ in outs:
                    res.fail(f"{name}: oracle error {str(e)[:200]}")
                continue
            for cols, rows in outs:
                if checks.same_rows(cols, rows, ref_cols, ref_rows):
                    continue
                ties = checks.rounding_ties(
                    cols, rows, ref_cols, ref_rows, checks.unrounded_values(con, self.oracles[name])
                )
                if ties is None:
                    res.fail(f"{name}: differs from its DuckDB oracle")
                else:
                    res.info.setdefault("rounding_ties", {})[name] = ties


def _programs(seed: int):
    """Seeded CFG programs: a wide set for the across-functions executor and
    a small one for BSP, whose time is set by its superstep count, not by
    its size."""
    wide = fixture_program(seed, n_random=ACROSS_FUNCS, random_size=ACROSS_BLOCKS)
    rng = np.random.default_rng(np.random.PCG64(seed))
    blocks, edges = [], []
    for i in range(BSP_FUNCS):
        b, e = random_cfg(f"bsp{i:02d}", BSP_BLOCKS, int(rng.integers(1 << 31)))
        blocks += b
        edges += e
    return wide, (pd.DataFrame(blocks), pd.DataFrame(edges))


class DataflowFixpoint:
    """The fixpoint executors over seeded CFGs, the stand-in for the Bril
    corpus: across_functions with every pass on the wide program set, BSP
    on the small one; each call checked against ``golden_rows``."""

    name = "dataflow_fixpoint"

    def __init__(self, ctx):
        self.ctx = ctx
        self.calls = [("across_functions", p, "wide", run_across_functions) for p in ACROSS_PASSES]
        self.calls += [("bsp", p, "deep", run_bsp) for p in BSP_PASSES]

    def prepare(self, spark, data_dir: str) -> dict:
        tr = self.ctx.tracer
        with tr.span("sources.generate"):
            wide, deep = _programs(self.ctx.seed)
        frames = {}
        with tr.span("operators.fixpoint.load"):
            for key, (bl, ed) in (("wide", wide), ("deep", deep)):
                frames[key] = (
                    spark.createDataFrame(bl, schema=BLOCKS_SCHEMA).localCheckpoint(),
                    spark.createDataFrame(ed, schema=EDGES_SCHEMA).localCheckpoint(),
                )
        return {"pandas": {"wide": wide, "deep": deep}, "frames": frames}

    def warm(self, spark, inputs: dict) -> None:
        # BSP on one small function: a first call pays for its plan
        # shapes, not for its superstep count. The graded queries' pandas
        # UDFs have already warmed what across_functions uses.
        hb, he = handwritten_cfgs()
        first = hb[0]["func_id"]
        run_bsp(
            spark.createDataFrame(pd.DataFrame([b for b in hb if b["func_id"] == first]), schema=BLOCKS_SCHEMA),
            spark.createDataFrame(pd.DataFrame([e for e in he if e["func_id"] == first]), schema=EDGES_SCHEMA),
            SPECS["reaching_defs"],
        ).collect()

    def run_pass(self, spark, inputs: dict, res: Result, outputs: dict) -> None:
        for executor, pass_name, key, fn in self.calls:
            blocks, edges = inputs["frames"][key]
            res.attempted += 1
            t0 = time.time()
            try:
                with self.ctx.tracer.span(f"operators.fixpoint.{executor}.{pass_name}"):
                    rows = fn(blocks, edges, SPECS[pass_name]).collect()
            except Exception as e:
                res.fail(f"{executor}.{pass_name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            dt = time.time() - t0
            res.item_s.append(dt)
            res.lags.append(dt)
            res.info.setdefault("fixpoint_s", {}).setdefault(f"{executor}.{pass_name}", []).append(round(dt, 4))
            outputs.setdefault((executor, pass_name), []).append(rows)

    def finish(self, spark, inputs: dict, res: Result, outputs: dict) -> None:
        for (executor, pass_name), outs in sorted(outputs.items()):
            key = "wide" if executor == "across_functions" else "deep"
            bl, ed = inputs["pandas"][key]
            want = golden_rows(bl, ed, SPECS[pass_name])
            for rows in outs:
                if sorted(tuple(r) for r in rows) != want:
                    res.fail(f"{executor}.{pass_name}: differs from golden_rows")
        if self.ctx.traced:
            tr = self.ctx.tracer
            for executor, pass_name, _, _ in self.calls:
                name = f"operators.fixpoint.{executor}.{pass_name}"
                res.layer[f"{name}.s"] = tr.total(name)
            bsp = [s for s in tr.finished() if s["name"].startswith("operators.fixpoint.bsp.")]
            jobs = job_starts(spark)
            res.layer["operators.fixpoint.bsp.jobs"] = sum(
                1 for t in jobs for s in bsp if s["start"] <= t <= s["end"]
            ) / max(1, len(bsp))


class GradedAndFixpoint:
    """The graded surface, closed loop: a pass runs the Bril-free graded
    queries, then the fixpoint executors that the 7 Bril queries run, on
    seeded CFGs. A pass is the unit of ``wall_s``; every query and every
    executor call is an item."""

    name = "graded_and_fixpoint"

    def __init__(self, ctx):
        self.ctx = ctx
        self.parts = (GradedQueries(ctx), DataflowFixpoint(ctx))

    def prepare(self, spark, data_dir: str) -> list[dict]:
        return [p.prepare(spark, os.path.join(data_dir, p.name)) for p in self.parts]

    def warm(self, spark, inputs: list[dict]) -> None:
        for part, inp in zip(self.parts, inputs):
            part.warm(spark, inp)

    def measure(self, spark, inputs: list[dict]) -> Result:
        res = Result()
        outputs = [{} for _ in self.parts]
        t_start = time.time()
        while True:
            t_pass = time.time()
            for part, inp, out in zip(self.parts, inputs, outputs):
                part.run_pass(spark, inp, res, out)
            res.units_s.append(time.time() - t_pass)
            if time.time() - t_start >= self.ctx.seconds:
                break
        t_end = time.time()
        res.windows.append((t_start, t_end))
        res.busy_s = t_end - t_start
        res.items_done = float(len(res.item_s))
        for part, inp, out in zip(self.parts, inputs, outputs):
            part.finish(spark, inp, res, out)
        res.info["passes"] = len(res.units_s)
        return res


# ---------------------------------------------------------------------------
# stream_drain_paced
# ---------------------------------------------------------------------------


def _batch_files(checkpoint: str) -> dict[int, list[str]]:
    """Which source files each micro-batch read, from the file source's
    metadata log in the query checkpoint."""
    out: dict[int, list[str]] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                rec = json.loads(line)
                out.setdefault(int(rec["batchId"]), []).append(rec["path"])
    return out


def _chunk_of(path: str) -> str:
    return next(p for p in path.split("/") if p.startswith("chunk="))


def _commit_times(work_dir: str) -> dict[str, float]:
    """When each source chunk's batch finished its sink write: the mtime of
    the epoch's ``_SUCCESS`` marker, written when the write commits."""
    done = {}
    for batch, files in _batch_files(os.path.join(work_dir, "checkpoint")).items():
        marker = os.path.join(work_dir, "sink", f"epoch={batch}", "_SUCCESS")
        if os.path.exists(marker):
            t = os.stat(marker).st_mtime
            for f in files:
                done[_chunk_of(f)] = t
    return done


def _progress(q) -> list[dict]:
    return [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]


def _epoch_s(timestamp: str) -> float:
    """A progress event's ISO-8601 UTC timestamp as epoch seconds."""
    return datetime.fromisoformat(timestamp.replace("Z", "+00:00")).timestamp()


class StreamDrainPaced:
    name = "stream_drain_paced"

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self, spark, data_dir: str) -> dict:
        seed = self.ctx.seed
        paths = {k: os.path.join(data_dir, k) for k in ("backlog", "paced", "warm")}
        with self.ctx.tracer.span("sources.generate"):
            write_sequence_table(
                None, paths["backlog"], DRAIN_ROWS, seed=seed, n_files=DRAIN_FILES,
                n_docs=DRAIN_ROWS // 200, rows_per_sec=400,
            )
            write_sequence_table(
                None, paths["paced"], PACED_FILES * PACED_ROWS, seed=seed + 1,
                n_files=PACED_FILES, n_docs=PACED_ROWS // 10, rows_per_sec=400,
            )
            write_sequence_table(
                None, paths["warm"], WARM_ROWS, seed=seed + 2, n_files=WARM_FILES,
                n_docs=WARM_ROWS // 200, rows_per_sec=400,
            )
        return paths | {"data_dir": data_dir}

    def warm(self, spark, inputs: dict) -> None:
        self._drain(spark, inputs["warm"], os.path.join(inputs["data_dir"], "warm_job"), WARM_FILES // 2)

    def _drain(self, spark, src: str, work: str, mft: int):
        q, sink = run_throughput_job(spark, src, work, max_files_per_trigger=mft)
        q.processAllAvailable()
        q.stop()
        return q, sink

    def _check(self, spark, sink, want, res: Result, what: str) -> None:
        try:
            got = checks.sink_rows(spark, sink)
        except Exception as e:
            res.fail(f"{what}: sink unreadable: {type(e).__name__}: {str(e)[:200]}")
            return
        if got != want:
            res.fail(f"{what}: sink differs from the reference aggregate")

    def _timed_drain(self, spark, backlog: str, work: str) -> dict:
        """Drain ``backlog`` from a fresh checkpoint: closed loop, each
        micro-batch starts when the previous one has committed."""
        t0 = time.time()
        with self.ctx.tracer.span("streaming.drain"):
            q, sink = self._drain(spark, backlog, work, DRAIN_MFT)
        done = _commit_times(work)
        t_last = max(done.values()) if done else time.time()
        progress = _progress(q)
        # query start: from the start call to the first batch's trigger
        first = _epoch_s(progress[0]["timestamp"]) if progress else t_last
        return {"t0": t0, "t_last": t_last, "wall": t_last - t0, "start": first - t0,
                "done": done, "progress": progress, "sink": sink}

    def measure(self, spark, inputs: dict) -> Result:
        res = Result()
        want_drain = checks.stream_reference(inputs["backlog"])
        tokens = float(sum(r[3] for r in want_drain))
        d = self._timed_drain(spark, inputs["backlog"], os.path.join(inputs["data_dir"], "drain_job"))
        res.attempted += DRAIN_FILES
        for _ in range(DRAIN_FILES - len(d["done"])):
            res.fail("drain: a backlog file was never committed")
        res.units_s.append(d["wall"])
        res.windows.append((d["t0"], d["t_last"]))
        self._check(spark, d["sink"], want_drain, res, "drain")
        res.items_done = tokens
        res.busy_s = d["wall"]

        # open loop: the paced files arrive on a fixed schedule
        paced = self._paced(spark, inputs, res)
        res.item_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in d["progress"] + paced["progress"]]
        res.info.update(
            {
                "drain_tokens": tokens,
                "drain_s": d["wall"],
                "drain_start_s": d["start"],
                "drain_batches": len(d["progress"]),
                "paced_files": PACED_FILES,
                "paced_interval_s": PACED_INTERVAL_S,
                "paced_batches": len(paced["progress"]),
            }
        )
        if self.ctx.traced:
            res.layer.update(self._layer(d["progress"], paced))
            res.layer["streaming.drain_start_s"] = d["start"]
        return res

    def _paced(self, spark, inputs: dict, res: Result) -> dict:
        tr = self.ctx.tracer
        data_dir = inputs["data_dir"]
        src = os.path.join(data_dir, "paced_src")
        work = os.path.join(data_dir, "paced_job")
        os.makedirs(src)
        chunks = sorted(os.listdir(inputs["paced"]))
        want = checks.stream_reference(inputs["paced"])
        res.attempted += len(chunks)
        q, sink = run_throughput_job(spark, src, work, max_files_per_trigger=PACED_MFT)
        # give the query its first (empty) trigger before the schedule starts
        t_first = time.time() + 0.5
        due = {c: t_first + i * PACED_INTERVAL_S for i, c in enumerate(chunks)}
        moved: dict[str, float] = {}

        def generator():
            for c in chunks:
                time.sleep(max(0.0, due[c] - time.time()))
                os.rename(os.path.join(inputs["paced"], c), os.path.join(src, c))
                moved[c] = time.time()

        gen = threading.Thread(target=generator, name="paced-generator")
        with tr.span("streaming.paced"):
            gen.start()
            gen.join()
            q.processAllAvailable()
            t_end = time.time()
            q.stop()
        done = _commit_times(work)
        lags, missing = arrival_lags(due, done)
        for c in missing:
            res.fail(f"paced: {c} was never committed")
        res.lags = lags
        res.windows.append((t_first, t_end))
        self._check(spark, sink, want, res, "paced")
        return {
            "progress": _progress(q),
            "all_progress": list(q.recentProgress),
            "late": [moved[c] - due[c] for c in chunks],
            "window": (t_first, max(done.values()) if done else t_end),
        }

    def _layer(self, drain_progress, paced) -> dict[str, float]:
        def dur(progress, key):
            return sum(p["durationMs"].get(key, 0) for p in progress) / 1e3

        def state(progress, key, agg):
            vals = [s.get(key, 0) for p in progress for s in p.get("stateOperators", [])]
            return float(agg(vals)) if vals else 0.0

        pp = paced["progress"]
        w0, w1 = paced["window"]
        busy = dur(paced["all_progress"], "triggerExecution")
        out = {
            "streaming.add_batch_s": dur(drain_progress, "addBatch"),
            "streaming.batches": float(len(drain_progress) + len(pp)),
            "streaming.batch_p50_s": percentile(
                [p["durationMs"]["triggerExecution"] / 1e3 for p in pp], 50
            )[0],
            "streaming.query_planning_s": dur(pp, "queryPlanning"),
            "streaming.wal_commit_s": dur(pp, "walCommit"),
            "streaming.commit_offsets_s": dur(pp, "commitOffsets"),
            "streaming.latest_offset_s": dur(pp, "latestOffset"),
            "streaming.state_commit_s": state(pp, "commitTimeMs", sum) / 1e3,
            "streaming.idle_s": max(0.0, (w1 - w0) - busy),
            "streaming.state_rows": state(drain_progress + pp, "numRowsTotal", max),
            "streaming.state_memory_bytes": state(drain_progress + pp, "memoryUsedBytes", max),
            "streaming.generator_late_p90_s": percentile(paced["late"], 90)[0],
        }
        return out

    def scaling_baseline(self, spark, inputs: dict, drain_s: float, nproc: int) -> float:
        """Drain the same backlog at local[1], after the same warm-up;
        returns the parallel efficiency of ``nproc`` cores."""
        self._drain(spark, inputs["warm"], os.path.join(inputs["data_dir"], "warm_local1"), WARM_FILES // 2)
        d = self._timed_drain(spark, inputs["backlog"], os.path.join(inputs["data_dir"], "drain_local1"))
        return d["wall"] / (nproc * drain_s)


WORKLOADS = {w.name: w for w in (GradedAndFixpoint, StreamDrainPaced)}
