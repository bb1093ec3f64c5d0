"""The benchmark's workloads. Each op calls the engine's public entry
points only: the ``plans`` registry callables, ``pipeline.runner
.execute_stage`` and the ``streaming.ingest.run_*`` functions.

A workload has ``setup`` (generate and land its inputs), ``warm`` (one
untimed pass over its op types), ``units`` (an endless sequence of op
lists; the run times whole units, so every run sees the same op mix) and
``check`` (output checks, run outside the timed phase). Failed checks are
returned as messages.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

import checks
import gen

STAR_ENTRIES = [
    "flagship_star_revenue", "filter_project_pushdown", "rollup_pricing_summary",
    "topk_customers_per_region", "latest_snapshot", "dim_date_distinct",
    "dim_conformed_customer", "profile_lineitem", "clean_trim_dedup",
    "parse_dates_multiformat", "except_customers_without_orders",
    "pivot_order_status", "asof_last_click", "quantiles_by_event_type",
]
STAR_TABLES = ["region", "nation", "customer", "orders", "lineitem", "events", "documents"]
STAR_SCALE = 0.01
WARM_THREADS = 3

PIPELINE_CITIES = 300
PIPELINE_DAYS = 2
#: execute_stage task ids, in DAG order, and the layer-call names they are
#: traced under; zone_maintenance runs on a cycle's last day only
DAILY_STAGES = {"bronze_ingest_cities": "bronze", "bronze_ingest_weather": "bronze",
                "silver_transform": "silver", "gold_load": "gold",
                "zone_maintenance": "maintenance"}

STREAM_EVENTS = 100_000
STREAM_SLICES = 24
#: stream increments timed per lakehouse_ingest unit, after the daily ops
STREAM_OPS_PER_UNIT = 2


class Workload:
    """Base: ``warm`` returns the number of ops it ran."""

    name = ""
    #: extra driver JVM options
    jvm_options = ""
    #: units a run must time at least; above 1, a traced run also checks
    #: that each op name's job count repeats between units
    min_units = 1
    #: directories whose bytes count as stored by the engine
    stored_dirs: list[str] = []
    #: bytes of generated input the engine was given
    input_bytes = 0

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.failures: list[str] = []

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        return self.tracer.call(layer, name, fn, *args, **kwargs)[0]

    def check(self) -> None:
        """Output checks left for after the timed phase."""


class StarQueries(Workload):
    """Dashboard-facing window registry queries over generated star tables,
    each fully materialized through the ``noop`` sink."""

    name = "star_queries"
    min_units = 2
    #: Its ops are short and compile-bound: with C2 a round still sped up
    #: 9.3 -> 6.1 s over six rounds (process CPU halving) while C2 compiled,
    #: so a one-round run measured JIT progress. C1 alone is flat from the
    #: first round.
    jvm_options = "-XX:TieredStopAtLevel=1"

    def setup(self) -> dict:
        from weather_bigquery_lakehouse_spark.plans import QUERIES

        self.specs = {n: QUERIES[n] for n in STAR_ENTRIES}
        self.data = os.path.join(self.work, "sf")
        tables = gen.star_tables(self.seed, STAR_SCALE)
        self.input_bytes = gen.write_tables(tables, self.data)
        self._alias_n = 0
        return {"scale": STAR_SCALE, "rows": {t: tables[t].num_rows for t in tables},
                "parquet_bytes": self.input_bytes}

    def _alias(self) -> str:
        """A fresh symlinked alias of the data directory per op, so no
        path-keyed memo in the engine can serve an op from an earlier one."""
        self._alias_n += 1
        link = os.path.join(self.work, "alias", f"a{self._alias_n}")
        os.makedirs(os.path.dirname(link), exist_ok=True)
        os.symlink(self.data, link)
        return link

    def warm(self) -> int:
        """Each entry once, collected and compared with its DuckDB oracle.
        The pass only pre-pays compilation, so it runs from several client
        threads: one entry's driver-side planning overlaps another's
        execution. Its Spark work is not traced."""
        con = checks.duckdb_over(self.data, STAR_TABLES)
        order = self.rng.sample(STAR_ENTRIES, len(STAR_ENTRIES))
        paths = [self._alias() for _ in order]

        def one(name: str, path: str) -> list[str]:
            spec = self.specs[name]
            df = spec.fn(self.spark, path)
            rows = df.collect()
            return checks.registry_output(name, rows, df.columns, spec.oracle, con.cursor())

        with ThreadPoolExecutor(WARM_THREADS) as pool:
            for fails in pool.map(one, order, paths):
                self.failures += fails
        con.close()
        self.tracer.skip()
        return len(STAR_ENTRIES)

    def units(self):
        while True:
            order = self.rng.sample(STAR_ENTRIES, len(STAR_ENTRIES))
            yield [(name, self._op(name)) for name in order]

    def _op(self, name: str):
        fn = self.specs[name].fn

        def op():
            df = self.call("plans", "build", fn, self.spark, self._alias())
            self.call("plans", "exec", df.write.format("noop").mode("overwrite").save)
        return op


class DailyPipeline(Workload):
    """Part of ``lakehouse_ingest``: consecutive daily DAG runs into one
    lakehouse, then a re-run of the last day. Each cycle starts from an
    empty zone and warehouse and loads day 1 untimed (the first cycle's
    day 1 is the warm pass)."""

    def setup(self) -> dict:
        from weather_bigquery_lakehouse_spark.pipeline.runner import execute_stage

        self.execute_stage = execute_stage
        cities = gen.municipalities(self.seed, PIPELINE_CITIES)
        city_rows = gen.city_payloads(cities)
        self.days = [
            (d, city_rows, gen.forecast_payloads(self.seed, cities, d))
            for d in gen.run_dates(self.seed, PIPELINE_DAYS)
        ]
        self.input_bytes = sum(
            len(json.dumps(c)) + len(json.dumps(f)) for _, c, f in self.days
        )
        self.cycle = 0
        self.expected = None
        return {"cities": PIPELINE_CITIES, "days": PIPELINE_DAYS,
                "forecast_records": [len(f) for _, _, f in self.days],
                "json_bytes": self.input_bytes}

    def _run_day(self, k: int, zone: str, wh: str) -> None:
        run_date, city_rows, forecasts = self.days[k]
        for stage, alias in DAILY_STAGES.items():
            if stage != "zone_maintenance" or k == len(self.days) - 1:
                self.call("pipeline", alias, self.execute_stage, self.spark, stage, zone,
                          wh, run_date=run_date, city_records=city_rows,
                          forecast_records=forecasts)

    def _start_cycle(self) -> None:
        """A fresh zone and warehouse with day 1 loaded, untimed."""
        if self.cycle:
            shutil.rmtree(os.path.join(self.work, f"cycle{self.cycle - 1}"))
        base = os.path.join(self.work, f"cycle{self.cycle}")
        self.cycle += 1
        self.stored_dirs = [os.path.join(base, "zones"), os.path.join(base, "warehouse")]
        self._run_day(0, *self.stored_dirs)

    def warm(self) -> int:
        self._start_cycle()
        return 1

    def units(self):
        while True:
            zone, wh = self.stored_dirs
            last = len(self.days) - 1
            ops = [(f"day{k + 1}", (lambda k=k: self._run_day(k, zone, wh)))
                   for k in range(1, len(self.days))]
            ops.append(("rerun_last_day", self._rerun(zone, wh, last)))
            yield ops
            self._start_cycle()

    def _rerun(self, zone: str, wh: str, last: int):
        """Re-runs the last day; the fact table must come out unchanged.
        The checks run between ops, outside the op's time."""
        def op():
            self._run_day(last, zone, wh)
        op.before = lambda: setattr(self, "_snap", checks.gold_snapshot(wh))
        op.after = lambda: self._check_rerun(wh)
        return op

    def _check_rerun(self, wh: str) -> None:
        """Gold against the DuckDB replay, and the re-run left fact_weather
        as it was."""
        after = checks.gold_snapshot(wh)
        for k in ("fact_rows", "fact_keys"):
            if after[k] != self._snap[k]:
                self.failures.append(
                    f"re-run of the last day changed fact_weather {k}: "
                    f"{self._snap[k]} -> {after[k]}")
        if self.expected is None:
            self.expected = checks.replay_gold(self.days)
        self.failures += checks.gold_against_replay(after, self.expected)


class StreamIncrements(Workload):
    """Part of ``lakehouse_ingest``: event-time slices landed one per op
    into a stream zone, each followed by the incremental gold merge and the
    watermarked rollup on persistent checkpoints."""

    def setup(self) -> dict:
        from weather_bigquery_lakehouse_spark.streaming import ingest

        self.ingest = ingest
        self.slices = gen.event_slices(self.seed, STREAM_EVENTS, STREAM_SLICES)
        base = os.path.join(self.work, "stream")
        self.events_dir = os.path.join(base, "events")
        self.gold_dir = os.path.join(base, "gold")
        self.rollup_dir = os.path.join(base, "rollup")
        self.ckpt = os.path.join(base, "checkpoints")
        os.makedirs(self.events_dir)
        self.stored_dirs = [self.events_dir, self.gold_dir, self.rollup_dir, self.ckpt]
        self.landed = []
        return {"events": STREAM_EVENTS, "slices": STREAM_SLICES,
                "slice_rows": [s.num_rows for s in self.slices]}

    def _increment(self) -> None:
        k = len(self.landed)
        part = self.slices[k]
        path = os.path.join(self.events_dir, f"slice-{k:03d}.parquet")
        pq.write_table(part, path, compression="snappy")
        self.input_bytes += os.path.getsize(path)
        self.landed.append(part)
        self.call("streaming", "gold_merge", self.ingest.run_incremental_gold_stream,
                  self.spark, self.events_dir, self.gold_dir,
                  checkpoint_dir=os.path.join(self.ckpt, "gold"))
        self.call("streaming", "rollup", self.ingest.run_watermarked_rollup_stream,
                  self.spark, self.events_dir,
                  checkpoint_dir=os.path.join(self.ckpt, "rollup"),
                  output_dir=self.rollup_dir)

    def warm(self) -> int:
        """Two increments: the first starts both queries on empty
        checkpoints, the second is the first restart from them."""
        self._increment()
        self._increment()
        return 2

    def units(self):
        while len(self.landed) < len(self.slices):
            yield [("increment", self._increment)]

    def check(self) -> None:
        self.failures += checks.stream_outputs(self.landed, self.gold_dir, self.rollup_dir)


class LakehouseIngest(Workload):
    """The two write paths into one lakehouse, in one process: a unit is a
    daily pipeline cycle's timed ops (``DailyPipeline``) followed by
    ``STREAM_OPS_PER_UNIT`` stream increments (``StreamIncrements``).
    Both warm passes run before the first unit."""

    name = "lakehouse_ingest"
    #: With C2 the JVM spent ~30 s compiling during a ~28 s timed unit, so
    #: the ops measured JIT warm-up; with C1 alone it is 4-8 s, at the same
    #: ops/s and a quarter less CPU per op.
    jvm_options = "-XX:TieredStopAtLevel=1"

    def __init__(self, spark, tracer, work: str, seed: int):
        super().__init__(spark, tracer, work, seed)
        self.daily = DailyPipeline(spark, tracer, work, seed)
        self.stream = StreamIncrements(spark, tracer, work, seed)
        self.daily.failures = self.stream.failures = self.failures

    @property
    def stored_dirs(self) -> list[str]:
        return self.daily.stored_dirs + self.stream.stored_dirs

    @property
    def input_bytes(self) -> int:
        return self.daily.input_bytes + self.stream.input_bytes

    def setup(self) -> dict:
        return {"daily": self.daily.setup(), "stream": self.stream.setup()}

    def warm(self) -> int:
        return self.daily.warm() + self.stream.warm()

    def units(self):
        for ops in self.daily.units():
            if len(self.stream.landed) + STREAM_OPS_PER_UNIT > len(self.stream.slices):
                return
            yield ops + [("increment", self.stream._increment)] * STREAM_OPS_PER_UNIT

    def check(self) -> None:
        self.stream.check()


WORKLOADS = {w.name: w for w in (StarQueries, LakehouseIngest)}
