"""The workloads. Each drives the library only through its public
entry points and records what it timed on a ``Run``.

Every workload is a closed loop on one driver thread: the next unit of
work starts only after the previous one has returned. There are no
processing-time triggers and no sleeps.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any

import datagen
from checks import duck_connect, fingerprint, oracle_fingerprint

#: query-mix, in ``bench.HEADLINE`` order, the order it runs in. HEAVY
#: carries the job-budget, persisted-store and conf-window code paths;
#: the light rest barely touches them. time_evictor_window is left out:
#: it disagrees with its oracle on some seeds (its range frame orders by
#: whole seconds, so an event 3600.3 s back counts as within the hour).
MIX = [
    "nexmark_q1",
    "nexmark_q2",
    "nexmark_q5",
    "tpch_q1",
    "tpch_q5",
    "keyed_agg",
    "wordcount",
    "interval_join",
    "count_window",
    "fraud_alerts",
    "pq_encode_trained",
    "dedup_incremental",
    "hybrid_retrieval",
]
HEAVY = {"tpch_q5", "pq_encode_trained", "dedup_incremental", "hybrid_retrieval"}

#: Work per run. FULL is what the benchmark measures; SMOKE is the same
#: drive at sf0.001 with one reconfiguration, for the smoke test.
FULL = {"query_scale": 0.01, "stock_orders": 6_000, "stock_chunks": 5}
SMOKE = {"query_scale": 0.001, "stock_orders": 1_000, "stock_chunks": 2}
STOCK_USERS = 1_500
WARM_EVENTS = 200


@dataclass
class Run:
    """What one run measured, plus the bookkeeping the trace needs."""

    spark: Any
    n: int
    seed: int
    size: dict[str, Any]
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    #: job group -> timed unit kind ("query:heavy", "drain", "resume", ...)
    units: dict[str, str] = field(default_factory=dict)
    #: (unit kind, progress dict) for every streaming micro-batch timed
    progress: list[tuple[str, dict]] = field(default_factory=list)
    walls: dict[str, float] = field(default_factory=dict)
    samples: dict[str, list[float]] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    checkpoints: list[str] = field(default_factory=list)
    #: CPU seconds used so far by this process and every process under it
    cpu: Any = None

    def attempt(self, what: str, ok: bool = True, err: str = "") -> None:
        """Count one operation; ``ok`` False or an ``err`` marks it failed."""
        self.attempted += 1
        if not ok or err:
            self.failed += 1
            self.failures.append(f"{what}: {err or 'wrong result'}"[:300])

    def wall(self, kind: str, seconds: float) -> None:
        self.walls[kind] = self.walls.get(kind, 0.0) + seconds

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _wall(value: float, unit: str) -> dict[str, Any]:
    return {"value": value, "unit": unit}


def _epoch_s(iso: str) -> float:
    """StreamingQueryProgress timestamp ('...Z', UTC) -> epoch seconds."""
    t = datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=timezone.utc).timestamp()


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


# ---------------------------------------------------------- query-mix --


class QueryMix:
    name = "query-mix"

    def setup(self, run: Run, data: str) -> None:
        from trisk_spark.registry import load_all

        self.data = data
        self.rows = datagen.write_tables(data, run.seed, run.size["query_scale"])
        self.queries = load_all()

    def warm_up(self, run: Run) -> None:
        """bench.py's warm-up: JVM and parquet footers."""
        self.queries["tpch_q1"].fn(run.spark, self.data).write.format("noop").mode(
            "overwrite"
        ).save()

    def measure(self, run: Run) -> None:
        sc = run.spark.sparkContext
        self.frames = {}
        for name in MIX:
            half = "heavy" if name in HEAVY else "light"
            group = f"q:{name}"
            run.units[group] = f"query:{half}"
            sc.setJobGroup(group, name)
            c0, t0 = run.cpu(), time.perf_counter()
            try:
                df = self.queries[name].fn(run.spark, self.data)
                t1 = time.perf_counter()
                build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed query is counted, not fatal
                run.attempt(name, err=f"{type(e).__name__}: {e}")
                continue
            t2 = time.perf_counter()
            self.frames[name] = df
            run.wall("query", t2 - t0)
            run.sample(f"{half}_query_s", t2 - t0)
            run.sample(f"{half}_query_cpu_s", run.cpu() - c0)
            run.layer[f"registry.{half}.build_s"] = (
                run.layer.get(f"registry.{half}.build_s", 0.0) + t1 - t0
            )
            run.layer[f"registry.{half}.build_jobs"] = (
                run.layer.get(f"registry.{half}.build_jobs", 0) + build_jobs
            )
        sc.setJobGroup("untimed", "untimed")

    def check(self, run: Run) -> dict[str, dict[str, Any]]:
        """Check the outputs; return the wall-time figures of the run."""
        con = duck_connect(self.data)
        rows_in = 0
        for name, df in self.frames.items():
            try:
                got = fingerprint(df.columns, df.collect())
                oracle = self.queries[name].oracle
                ok = oracle is None or oracle_fingerprint(con, oracle) == got
                run.attempt(name, ok and got[1] > 0)
                rows_in += sum(
                    self.rows[t] for t in _tables_read(df.inputFiles(), self.data)
                )
            except Exception as e:
                run.attempt(name, err=f"{type(e).__name__}: {e}")
        con.close()
        total = run.walls.get("query", 0.0)
        return {
            # sum of per-query walls, fn(spark, sf) plus the noop write
            "query_total_s": _wall(total, "s"),
            # base-table rows the queries read
            "drain_eps": _wall(rows_in / total if total else 0.0, "events/s"),
            "light_p50_s": _wall(_median(run.samples.get("light_query_s", [])), "s"),
            "heavy_p50_s": _wall(_median(run.samples.get("heavy_query_s", [])), "s"),
        }


def _tables_read(files: list[str], data: str) -> set[str]:
    """Base tables among a frame's input files (store and checkpoint
    files are not base tables)."""
    root = os.path.realpath(data)
    out = set()
    for f in files:
        path = f.removeprefix("file:")
        if os.path.dirname(os.path.realpath(path)) == root:
            out.add(os.path.basename(path).removesuffix(".parquet"))
    return out


# ----------------------------------------------------- stock-reconfig --


class StockReconfig:
    """``matchmaker_stream`` under one ManagedQuery over a StagedReplay,
    with the StockController schedule at stage boundaries."""

    name = "stock-reconfig"

    def _managed(self, run: Run, staged, tag: str):
        from trisk_spark.controlplane.managed import ManagedQuery
        from trisk_spark.sources.stock import stock_orders
        from trisk_spark.streaming.state import matchmaker_stream

        def build(sp, _plan):
            return matchmaker_stream(stock_orders(staged.stream(sp)))

        return ManagedQuery(run.spark, f"bench-{tag}", build, mode="append", parallelism=run.n)

    def setup(self, run: Run, data: str) -> None:
        from trisk_spark.catalog import table
        from trisk_spark.controlplane.managed import StagedReplay

        n = run.size["stock_orders"]
        datagen.write_events(data, run.seed, n, STOCK_USERS)
        self.data, self.n_events = data, n
        events = table(run.spark, data, "events")
        self.staged = StagedReplay(events, "ts", n_chunks=run.size["stock_chunks"])

    def warm_up(self, run: Run) -> None:
        """One tiny incarnation of the same operator spawns the Python
        workers, so the first timed drain does not pay for them."""
        from trisk_spark.catalog import table
        from trisk_spark.controlplane.managed import StagedReplay

        warm_dir = os.path.join(self.data, "warm")
        datagen.write_events(warm_dir, run.seed + 1, WARM_EVENTS, STOCK_USERS)
        warm = StagedReplay(table(run.spark, warm_dir, "events"), "ts", n_chunks=1)
        warm.stage(1)
        self._managed(run, warm, "warm").run_available()

    def measure(self, run: Run) -> None:
        from trisk_spark.controlplane.controllers import StockController

        self.mq = self._managed(run, self.staged, "stock")
        controller = StockController()
        stage = 0
        while self.staged.staged < len(self.staged.chunks):
            stage += 1
            self._drain(run)
            plan = self.mq.get_plan_copy()
            if controller.on_stage(stage, plan, self.mq.operator):
                self._reconfigure(run, plan)

    def _incarnation(self, run: Run, kind: str) -> list[dict]:
        t0 = time.perf_counter()
        err = ""
        try:
            self.mq.run_available()
        except Exception as e:  # a failed incarnation is counted, not fatal
            err = f"{type(e).__name__}: {e}"
        run.wall(kind, time.perf_counter() - t0)
        if self.mq.checkpoint not in run.checkpoints:
            run.checkpoints.append(self.mq.checkpoint)
        prog = []
        if self.mq.query is not None:
            run.units[str(self.mq.query.runId)] = kind
            prog = _progress(self.mq.query)
            run.progress.extend((kind, p) for p in prog)
        run.attempt(f"{kind} incarnation", err=err)
        return prog

    def _drain(self, run: Run) -> None:
        """Reveal one more chunk and drain it; one latency sample per
        chunk (stage() call -> end of the batch that consumed it)."""
        t_stage = time.time()
        self.staged.stage(self.staged.staged + 1)
        for p in self._incarnation(run, "drain"):
            if p["numInputRows"] > 0:
                done = _epoch_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
                run.sample("latency_s", done - t_stage)

    def _reconfigure(self, run: Run, plan) -> None:
        c0, t0 = run.cpu(), time.perf_counter()
        try:
            entry = self.mq.apply(plan)
        except Exception as e:
            run.attempt("apply", err=f"{type(e).__name__}: {e}")
            return
        run.wall("apply", time.perf_counter() - t0)
        for key in ("sync_s", "update_s"):
            run.layer[f"controlplane.{key}"] = run.layer.get(f"controlplane.{key}", 0) + entry[key]
        self._incarnation(run, "resume")
        run.sample("reconfig_s", time.perf_counter() - t0)
        run.sample("reconfig_cpu_s", run.cpu() - c0)
        run.layer["controlplane.reconfig_cpu_s"] = (
            run.layer.get("controlplane.reconfig_cpu_s", 0.0) + run.samples["reconfig_cpu_s"][-1]
        )

    def check(self, run: Run) -> dict[str, dict[str, Any]]:
        """Check the outputs; return the wall-time figures of the run."""
        from trisk_spark.registry import load_all

        what = "stock trades == batch stock_matchmaker"
        emitted = [tuple(r) for _inc, _bid, r in self.mq.emitted]
        try:
            batch = load_all()["stock_matchmaker"].fn(run.spark, self.data).collect()
        except Exception as e:
            run.attempt(what, err=f"{type(e).__name__}: {e}")
        else:
            want = {tuple(r) for r in batch}
            run.attempt(what, len(want) > 0 and set(emitted) == want)
        run.layer["sink.dup_ratio"] = len(emitted) / max(1, len(set(emitted)))
        drains = run.walls.get("drain", 0.0)
        return {
            # sum of incarnation walls: drains, applies and resumes
            "query_total_s": _wall(sum(run.walls.values()), "s"),
            # only the incarnations that consumed new input
            "drain_eps": _wall(self.n_events / drains if drains else 0.0, "events/s"),
            "latency_p50_s": _wall(_median(run.samples.get("latency_s", [])), "s"),
            "reconfig_p50_s": _wall(_median(run.samples.get("reconfig_s", [])), "s"),
        }


WORKLOADS = {w.name: w for w in (QueryMix, StockReconfig)}
