"""query_mix: the ad-hoc analyst's traffic.

The 19 ``headline`` registry entries, run by one closed-loop client in a
fresh session: first an untimed warm-up of four of them over sf0.001
(``WARMUP``, ``warmup_pass_s``), then the timed pass over sf0.01 in an order
the seed shuffles (``mix_pass_s``; the run's measured unit). Each
execution builds the DataFrame (driver-side planning, ``queries.build``)
and collects it (``queries.exec``); after the timed pass every result is
checked: 18 entries against their DuckDB oracle, ``l2_minhash_neardup``
(no oracle) by its row count against a second execution.

A listener collects the ``StreamingQueryProgress`` of the stream family
(``t2_tumbling_window``): it gives the ``streaming`` layer's metrics,
and its run ids name the job groups of the micro-batches, which run on
the stream's own thread and are billed back to the t2 call.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from statistics import median

import pandas as pd
from pyspark.sql.streaming import StreamingQueryListener

from jobhouse_spark.queries.registry import by_tag
from tests.oracle import compare_frames, duckdb_connect

from perfbench.common import SPARK_UNITS, Ctx, Result, pct, tail_pct

FAMILIES = ("relational", "llm", "stream")
# The test suite's scale: at sf0.1 a run does not fit the run budget (README.md).
SF = "sf0.01"
# The untimed warm-up: JIT, class loading and code generation otherwise land
# on whichever query runs first and add 1-3 s of executor CPU to it. Without
# these four, the first relational query, the first of l13/l14/l15 and l2
# each paid that one-time cost in the timed pass (measured per query).
WARMUP = ("g1_groupby_agg", "l13_contamination_overlap", "l2_minhash_neardup",
          "t2_tumbling_window")
WARMUP_SF = "sf0.001"


def family(tags: tuple[str, ...]) -> str:
    if "streaming" in tags:
        return "stream"
    return "llm" if "llm" in tags else "relational"


class ProgressLog(StreamingQueryListener):
    """Keeps the run ids of started queries and the progress record of
    every micro-batch that read data."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        if p["numInputRows"] > 0:
            self.batches.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def streaming_layer(batches: list[dict]) -> dict:
    def dur(key: str) -> float:
        return median([p["durationMs"].get(key, 0) / 1e3 for p in batches])

    last = batches[-1]["stateOperators"]
    return {
        "streaming.batch_s": (dur("triggerExecution"), "s"),
        "streaming.add_batch_s": (dur("addBatch"), "s"),
        "streaming.plan_s": (dur("queryPlanning"), "s"),
        "streaming.wal_commit_s": (dur("walCommit"), "s"),
        "streaming.state_rows": (sum(o["numRowsTotal"] for o in last), "count"),
        "streaming.state_bytes": (sum(o["memoryUsedBytes"] for o in last), "B"),
    }


def expected_results(queries: dict, sf_dir: str, cache_dir: str) -> dict:
    """DuckDB oracle result of every query that has one. The oracles read
    fixed test data, so their results are cached across runs under
    ``cache_dir``, keyed by the SQL and the data files' identity."""
    stamp = "".join(f"{f}:{st.st_size}:{st.st_mtime_ns};" for f in sorted(os.listdir(sf_dir))
                    for st in [os.stat(os.path.join(sf_dir, f))])
    out, con = {}, None
    os.makedirs(cache_dir, exist_ok=True)
    try:
        for name, q in queries.items():
            if not q.oracle:
                continue
            key = hashlib.sha256(f"{sf_dir}|{stamp}|{q.oracle}".encode()).hexdigest()[:24]
            path = os.path.join(cache_dir, f"{name}-{key}.pkl")
            if not os.path.exists(path):
                con = con or duckdb_connect(sf_dir)
                tmp = f"{path}.{os.getpid()}"
                con.execute(q.oracle).df().to_pickle(tmp)
                os.replace(tmp, path)
            out[name] = pd.read_pickle(path)  # written by this function only
    finally:
        if con is not None:
            con.close()
    return out


def run(ctx: Ctx) -> Result:
    spark, probe = ctx.spark, ctx.probe
    sf_dir = os.path.join(ctx.data_root, SF)
    queries = by_tag("headline")
    order = sorted(queries)
    random.Random(ctx.seed).shuffle(order)
    res = Result()
    collected: dict[str, object] = {}  # query -> pandas result
    progress = ProgressLog()

    def one_pass(label: str, data_dir: str, names: list[str], keep: dict):
        with probe.span("mix", label) as span:
            for name in names:
                q = queries[name]
                res.attempted += 1
                with probe.call("queries", name, family(q.tags)):
                    try:
                        with probe.span("queries.build", name):
                            df = q.fn(spark, data_dir)
                        with probe.span("queries.exec", name):
                            keep[name] = df.toPandas()
                    except Exception as e:  # a query that raises is a failed op
                        res.fail(f"{label} {name}: {type(e).__name__}: {e}"[:300])
        return span

    warm = one_pass("warmup", os.path.join(ctx.data_root, WARMUP_SF), list(WARMUP), {})
    probe.settle()
    spark.streams.addListener(progress)
    timed = one_pass("pass", sf_dir, order, collected)
    probe.settle()
    spark.streams.removeListener(progress)
    calls = probe.calls(within=timed)
    stream_call = next(c for c in calls if c.scope == "stream")  # t2, the one stream query
    for run_id in progress.run_ids:
        probe.bill_group(stream_call, run_id)

    # -- correctness, outside the timed pass --
    expected = expected_results(queries, sf_dir, ctx.cache)
    for name, out in collected.items():
        if name in expected:
            bad = compare_frames(out, expected[name])
        else:
            again = len(queries[name].fn(spark, sf_dir).toPandas())
            bad = [] if len(out) == again else [f"row count {len(out)}, then {again}"]
        if bad:
            res.fail(f"{name}: {bad[0]}"[:300])

    # -- the measured unit is the pass; what follows is this workload's detail --
    res.unit = timed
    latencies = [c.seconds for c in calls]
    res.detail["query_p50_s"] = (median(latencies), "s")
    res.detail["query_p90_s"] = (pct(latencies, 90), "s")
    res.samples["query"] = {"n": len(latencies), "supported_tail_pct": tail_pct(len(latencies))}
    res.detail["mix_pass_s"] = (timed.seconds, "s")
    res.detail["warmup_pass_s"] = (warm.seconds, "s")

    def phase_times(layer: str, **match) -> list[float]:
        ids = {c.op_id for c in calls if all(getattr(c, k) == v for k, v in match.items())}
        return [s.seconds for s in probe.spans if s.layer == layer and s.parent in ids]

    for fam in FAMILIES:
        for phase in ("build", "exec"):
            times = phase_times(f"queries.{phase}", scope=fam)
            if times:  # empty only when every query of the family failed
                res.detail[f"queries.{phase}_s.{fam}"] = (median(times), "s")
        totals = probe.spark_totals([c for c in calls if c.scope == fam], ctx.slots)
        for key, unit in SPARK_UNITS.items():
            res.detail[f"spark.{fam}.{key}"] = (totals[key], unit)
    for name in order:
        for t in phase_times("queries.exec", name=name):
            res.detail[f"queries.exec_s.{name}"] = (t, "s")
    if progress.batches:
        res.detail.update(streaming_layer(progress.batches))
    return res
