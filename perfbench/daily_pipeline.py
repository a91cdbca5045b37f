"""daily_pipeline: the reference's own daily DAG, one day after another.

Each day: HH items -> ``items_to_dataframe`` -> ``envelope_projection``
-> ``write_bronze_partitioned`` (bronze); ``read_bronze_day_slice`` ->
``standardize_postings`` -> append to the silver parquet (silver); the
three ``silver.gold_*`` marts over all of silver (gold); employer
resolution (entity): ``resolve_entities`` + ``build_entity_index`` on day
0, ``resolve_entities_incremental_indexed`` on later days. The mapping
and the index are written to parquet every day and read back the next,
which truncates their lineage the way a production table would.

A run is day 0 (``day0_s``), then ``compact_parquet`` over silver, then
day 1 on the compacted layout (``day_p50_s``): the run's budget holds
one steady day (see README.md). Checks, after each day and outside its
timing: the mapping must recover exactly the planted employers, and
the gold daily mart must equal a DuckDB count over the generated items.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from jobhouse_spark.operators.entity import (
    EntityGramIndex,
    build_entity_index,
    resolve_entities,
    resolve_entities_incremental_indexed,
)
from jobhouse_spark.operators.maintenance import compact_parquet
from jobhouse_spark.silver import (
    gold_daily_mart,
    gold_employer_features,
    gold_salary_by_experience,
    standardize_postings,
)
from jobhouse_spark.sources.bronze import (
    envelope_projection,
    read_bronze_day_slice,
    write_bronze_partitioned,
)
from jobhouse_spark.sources.rest import items_to_dataframe

from perfbench.common import SPARK_UNITS, Ctx, Result, dir_bytes_files
from perfbench.gen import Postings, normalize

# Half the pipeline prototype's traffic (20k postings a day over 3k base
# employers): at full traffic a run takes about 80 s, beyond the run
# budget (README.md).
BASES = 1500
PER_DAY = 10_000
STAGES = ("bronze", "silver", "gold", "entity", "maintenance")
MAX_DIST = 2  # the resolver's default; the index is built to match

GOLD_SQL = """
SELECT 'HH' AS source, year(ts) AS pub_year, month(ts) AS pub_month, day(ts) AS pub_day,
       count(*) AS n_postings, count(mid) AS n_with_salary,
       avg(mid) AS avg_salary_mid, count(DISTINCT employer_name) AS n_employers
FROM (SELECT strptime(published_at, '%Y-%m-%dT%H:%M:%S%z') AS ts, employer_name,
             CASE WHEN salary_from IS NOT NULL AND salary_to IS NOT NULL
                  THEN (salary_from + salary_to) / 2.0
                  ELSE coalesce(salary_from, salary_to) END AS mid
      FROM items)
GROUP BY ALL
"""


def run(ctx: Ctx) -> Result:
    spark, probe = ctx.spark, ctx.probe
    gen = Postings(ctx.seed, BASES, PER_DAY)
    lake = os.path.join(ctx.work, "lake")
    bronze, gold = os.path.join(lake, "bronze"), os.path.join(lake, "gold")
    state = {"silver": os.path.join(lake, "silver")}
    res = Result()
    seen: dict[str, int] = {}  # normalized employer form -> true base
    flat: list[dict] = []  # what the DuckDB gold check counts

    def step(layer: str, name: str, scope: str, fn) -> bool:
        res.attempted += 1
        with probe.call(layer, name, scope):
            try:
                fn()
                return True
            except Exception as e:  # a step that raises is a failed op
                res.fail(f"{name}: {type(e).__name__}: {e}"[:300])
                return False

    def one_day(d: int):
        items, picks = gen.day(d)
        dd = f"{d + 1:02d}"

        def ingest():
            env = envelope_projection(items_to_dataframe(spark, items), "data engineer",
                                      extracted_at=gen.extracted_at(d))
            write_bronze_partitioned(env, bronze)

        def to_silver():
            standardize_postings(read_bronze_day_slice(spark, bronze, day=dd)) \
                .write.mode("append").parquet(state["silver"])

        def to_gold():
            s = spark.read.parquet(state["silver"])
            for mart in (gold_daily_mart, gold_salary_by_experience, gold_employer_features):
                mart(s).write.mode("overwrite").parquet(os.path.join(gold, mart.__name__))

        def resolve():
            names = spark.read.parquet(state["silver"]).filter(F.col("pub_day") == d + 1) \
                .select(F.col("employer_name").alias("name"))
            mapping_dir = os.path.join(lake, f"mapping{d}")
            index_dir = os.path.join(lake, f"index{d}")
            if d == 0:
                with probe.span("entity", "resolve"):
                    resolve_entities(names).write.parquet(mapping_dir)
                with probe.span("entity", "index_build"):
                    build_entity_index(names, max_dist=MAX_DIST).save(index_dir)
                return
            with probe.span("entity", "apply"):
                stored = spark.read.parquet(os.path.join(lake, f"mapping{d - 1}"))
                index = EntityGramIndex.load(spark, os.path.join(lake, f"index{d - 1}"))
                mapping, index = resolve_entities_incremental_indexed(names, stored, index)
                mapping.write.parquet(mapping_dir)
                index.save(index_dir)

        with probe.span("day", f"day{d}") as span:
            ok = step("sources", "ingest", "bronze", ingest)
            ok = ok and step("silver", "standardize", "silver", to_silver)
            ok = ok and step("silver", "gold", "gold", to_gold)
            ok = ok and step("entity", "entity_day0" if d == 0 else "entity_apply",
                             "entity", resolve)
        probe.settle()
        for it, b in zip(items, picks):
            seen[normalize(it["employer"]["name"])] = b
            sal = it["salary"] or {}
            flat.append({"published_at": it["published_at"],
                         "employer_name": it["employer"]["name"],
                         "salary_from": sal.get("from"), "salary_to": sal.get("to")})
        if ok:
            check_day(d)
        return span

    def check_day(d: int) -> None:
        """Exact planted-entity recovery and the gold daily mart, both
        over everything ingested so far."""
        got = spark.read.parquet(os.path.join(lake, f"mapping{d}")).toPandas()
        by_base: dict[int, set] = {}
        for name, canon in zip(got["name"], got["canonical"]):
            by_base.setdefault(seen.get(name, -1), set()).add(canon)
        clusters = got["canonical"].nunique()
        if (set(got["name"]) != set(seen) or clusters != len(set(seen.values()))
                or any(len(c) != 1 for c in by_base.values())):
            res.fail(f"day{d} entity: {clusters} clusters for "
                     f"{len(set(seen.values()))} planted employers")
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            con.register("items", pd.DataFrame(flat))
            want = con.execute(GOLD_SQL).df()
            have = con.execute(
                f"SELECT * FROM read_parquet('{gold}/gold_daily_mart/*.parquet')").df()
        finally:
            con.close()
        keys = ["source", "pub_year", "pub_month", "pub_day"]
        m = want.merge(have, on=keys, how="outer", suffixes=("_want", "_have"), indicator=True)
        bad = (m["_merge"] != "both").any() or any(
            (m[f"{c}_want"] != m[f"{c}_have"]).any()
            for c in ("n_postings", "n_with_salary", "n_employers")
        ) or ((m["avg_salary_mid_want"] - m["avg_salary_mid_have"]).abs() > 1e-3).any()
        if bad:
            res.fail(f"day{d} gold_daily_mart differs from the DuckDB count")

    day0 = one_day(0)
    files_before = dir_bytes_files(state["silver"])[1]
    compacted = os.path.join(lake, "silver_compacted")

    def compact():
        compact_parquet(spark, state["silver"], compacted)
        shutil.rmtree(state["silver"])
        state["silver"] = compacted

    with probe.span("maintenance", "compaction") as comp:
        step("maintenance", "compact", "maintenance", compact)
    files_after = dir_bytes_files(state["silver"])[1]
    day1 = one_day(1)

    # -- the measured unit is the steady day; what follows is this workload's detail --
    res.unit = day1
    res.detail["day0_s"] = (day0.seconds, "s")
    res.detail["day_p50_s"] = (day1.seconds, "s")
    bronze_b, bronze_f = dir_bytes_files(bronze)
    silver_b, _ = dir_bytes_files(state["silver"])
    gold_b, _ = dir_bytes_files(gold)
    res.detail["stored_bytes_per_posting"] = ((bronze_b + silver_b + gold_b) / len(flat), "B")
    res.samples["day"] = {"n": 1}

    # a step that failed or never ran leaves its metrics out
    def put_seconds(metric: str, layer: str, name: str, within=day1) -> None:
        span = next((s for s in probe.spans if s.layer == layer and s.name == name
                     and s.op_id > within.op_id), None)
        if span is not None:
            res.detail[metric] = (span.seconds, "s")

    put_seconds("sources.ingest_s", "sources", "ingest")
    res.detail["sources.bronze_bytes"] = (bronze_b, "B")
    res.detail["sources.bronze_files"] = (bronze_f, "count")
    put_seconds("silver.standardize_s", "silver", "standardize")
    put_seconds("silver.gold_s", "silver", "gold")
    res.detail["silver.silver_bytes"] = (silver_b, "B")
    put_seconds("entity.resolve_s", "entity", "resolve", day0)
    put_seconds("entity.index_build_s", "entity", "index_build", day0)
    put_seconds("entity.apply_s", "entity", "apply")
    apply_call = next(iter(probe.calls(within=day1, layer="entity")), None)
    if apply_call is not None:
        res.detail["entity.apply_jobs"] = (apply_call.spark["jobs"], "count")
    mapping = os.path.join(lake, "mapping1")
    if os.path.exists(mapping):  # absent when day 1's entity step failed
        final = spark.read.parquet(mapping)
        res.detail["entity.names"] = (final.count(), "count")
        res.detail["entity.clusters"] = (final.select("canonical").distinct().count(), "count")
    res.detail["maintenance.compact_s"] = (comp.seconds, "s")
    res.detail["maintenance.files_before"] = (files_before, "count")
    res.detail["maintenance.files_after"] = (files_after, "count")
    for stage in STAGES:
        totals = probe.spark_totals(
            probe.calls(within=comp if stage == "maintenance" else day1, scope=stage), ctx.slots)
        for key, unit in SPARK_UNITS.items():
            res.detail[f"spark.{stage}.{key}"] = (totals[key], unit)
    return res
