"""Self-test of the benchmark: a small traced smoke of each workload, a
deliberately wrong answer that the check path must count as a failure, and
a pipeline step that raises, which must be counted and not end the run.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]

# Python run in the child before the benchmark. SMOKE scales the measured
# workload down to a smoke: the pipeline at a hundredth of its traffic.
SMOKE = {
    "query_mix": "",
    "daily_pipeline": """
import perfbench.daily_pipeline as m
m.BASES //= 100
m.PER_DAY //= 100
""",
}
# Each replaces one engine answer with a wrong one.
WRONG = {
    "query_mix": """
import dataclasses
import perfbench.query_mix as m
orig = m.by_tag
def by_tag(tag):
    qs = dict(orig(tag))
    q = qs["q6_forecast_revenue"]
    qs[q.name] = dataclasses.replace(q, fn=lambda s, d: q.fn(s, d).limit(0))
    return qs
m.by_tag = by_tag
""",
    "daily_pipeline": """
from pyspark.sql import functions as F
import perfbench.daily_pipeline as m
orig = m.gold_daily_mart
def gold_daily_mart(silver):
    return orig(silver).withColumn("n_postings", F.col("n_postings") + 1)
m.gold_daily_mart = gold_daily_mart
""",
}


def run_bench(workload: str, trace: int, prelude: str = "") -> list[dict]:
    argv = ["--workload", workload, "--seed", "1", "--seconds", "0", "--trace", str(trace)]
    code = SMOKE[workload] + prelude + f"\nimport sys\nfrom perfbench.run import main\nsys.exit(main({argv!r}))\n"
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return [json.loads(line) for line in p.stdout.splitlines() if line.startswith("{")]


@pytest.fixture(scope="module")
def traced() -> dict[str, tuple[dict, dict]]:
    """(report, result) of one tiny traced run per workload."""
    out = {}
    for w in WORKLOADS:
        *_, report, result = run_bench(w, trace=1)
        out[w] = (report["report"], result)
    return out


def units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCH[kind]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_listed_metric_with_its_unit(traced, workload):
    report, result = traced[workload]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert report["failed_frac"] == 0
    assert result["metrics"] == report["per_layer"]
    for kind in ("end_to_end", "per_layer"):
        assert {k: m["unit"] for k, m in report[kind].items()} == units(kind)
    for name, m in {**report["end_to_end"], **report["per_layer"], **report["detail"]}.items():
        assert isinstance(m["value"], (int, float)), name
    for name in units("end_to_end"):
        assert report["end_to_end"][name]["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_answer_raises_failed_frac(workload):
    *_, report, result = run_bench(workload, trace=0, prelude=WRONG[workload])
    assert not result["correct"]
    assert result["failed"] >= 1
    assert report["report"]["failed_frac"] > 0
    assert {k: m["unit"] for k, m in result["metrics"].items()} == units("end_to_end")


def test_failed_step_is_counted_and_the_run_completes():
    prelude = """
import perfbench.daily_pipeline as m
def resolve_entities(names):
    raise RuntimeError("planted failure")
m.resolve_entities = resolve_entities
"""
    *_, report, result = run_bench("daily_pipeline", trace=1, prelude=prelude)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert any("planted failure" in p for p in report["report"]["problems"])
    assert "entity.index_build_s" not in report["report"]["detail"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == units("per_layer")
