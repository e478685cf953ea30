"""The benchmark's workloads.

Each workload prepares its inputs from the seed, warms the session, runs
passes of operations and checks every output. An operation is one call
into the engine's public entry points, run under its own Spark job group;
`run.py` owns the clock, the spans and the result line.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import dataclass
from typing import Callable

import etldata

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: read-only corpus tables, by scale factor
CORPORA = {
    "sf0.01": ["documents", "embeddings"],
    "sf0.1-4000": ["documents"],
}
EXPECTED_DEDUP = os.path.join(HERE, "expected_dedup.json")

#: Oracle-checked pair-join queries, in pass order, each with the corpus
#: it reads and the modules it exercises (all but the embedding query also
#: tokenize via functions.text). `q_jaccard_prefix` reads the first 4,000
#: documents of the sf0.1 test corpus: every bigram there is frequent, so
#: prefix-filter candidate generation is CPU-bound and takes most of a
#: pass's task time; at sf0.01 it is one more short query. The other five
#: read sf0.01, where their connected-components rounds are bound by the
#: number of Spark jobs they launch. The 4,000 (not 5,000) documents keep
#: a run within the time a comparison of two commits may take.
#: The order is fixed because the JVM keeps warming during a pass; the
#: cheapest query goes first, since the first query carries the most of it.
DEDUP_QUERIES = {
    "q_simhash_portable": ("sf0.01", "functions.dedup (SimHash banding)"),
    "q_jaccard_prefix": ("sf0.1-4000", "functions.dedup (prefix-filter candidates, hot bigrams)"),
    "q_dedup_pipeline": ("sf0.01", "functions.dedup (MinHash LSH, verify, CC clusters)"),
    "q_embed_dedup_pipeline": ("sf0.01", "functions.similarity (SRP LSH) + functions.dedup (CC)"),
    "q_fuzzy_join": ("sf0.01", "functions.fuzzy (gram-prefix join, levenshtein verify)"),
    "q_entity_resolution": ("sf0.01", "functions.fuzzy pairs + functions.dedup (CC)"),
}

#: untimed first query of a `dedup` run (same family, not measured)
DEDUP_WARM_UP = "q_minhash_portable"

#: trips per monthly CSV of the `etl` workload (12 files)
ETL_TRIPS_PER_MONTH = 4000
ETL_TABLES = ["trip_fact", "dim_station", "dim_datetime", "weather_fact",
              "weather_type", "date_with_weather_type"]


def signature(rows, cols) -> dict:
    """Row count, sorted column names and the order-insensitive hash of
    the repository's DuckDB differential gate
    (`tools/check_correctness.frame_signature`)."""
    # The engine is imported first, from the checkout beside perfbench/:
    # the gate module puts a fixed checkout path first on sys.path and
    # imports the engine itself, so it must find it already loaded.
    import __spark_entry__  # noqa: F401

    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from check_correctness import frame_signature
    finally:
        sys.path[:] = saved
    return {"rows": len(rows), "columns": sorted(cols), "hash": frame_signature(rows, cols)}


@dataclass
class Op:
    """One timed call. `run()` returns what `check` inspects; `check`
    runs outside the timed region and returns a failure message or None."""

    name: str
    run: Callable[[], object]
    check: Callable[[object], str | None]


def warm_up(spark) -> None:
    """JIT and codegen start-up on inputs unrelated to the workload: one
    shuffle + aggregate job."""
    spark.range(20000).selectExpr("id % 7 AS k").groupBy("k").count().collect()


class Dedup:
    """Six pair-join queries over the repository's test corpora, in a
    fixed order. The seed permutes the corpus rows: the outputs must not
    change (the oracle signatures are order-insensitive), the plans'
    partitions see different row orders."""

    def __init__(self, seed: int, scratch: str, tracer) -> None:
        self.seed = seed
        self.corpus = {sf: os.path.join(scratch, "corpus", sf) for sf in CORPORA}
        self.tracer = tracer

    def prepare(self) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        with open(EXPECTED_DEDUP) as f:
            self.expected = json.load(f)
        rng = np.random.default_rng(self.seed)
        for sf, tables in CORPORA.items():
            os.makedirs(self.corpus[sf], exist_ok=True)
            for t in tables:
                table = pq.read_table(os.path.join(HERE, "corpus", sf, f"{t}.parquet"))
                pq.write_table(table.take(rng.permutation(table.num_rows)),
                               os.path.join(self.corpus[sf], f"{t}.parquet"))

    def warm_up(self, spark) -> None:
        """The generic warm-up, then one untimed query of the same family
        that is not in the workload, which takes most of the JVM's
        remaining warming off the first measured query
        (q_simhash_portable: 6-9 s without it, 2.5-4.5 s with it)."""
        from nyc_bikeshare_datawarehouse_spark.plans.queries import QUERIES

        warm_up(spark)
        QUERIES[DEDUP_WARM_UP](spark, self.corpus["sf0.01"]).collect()

    def ops(self, spark, pass_no: int) -> list[Op]:
        from nyc_bikeshare_datawarehouse_spark.plans.queries import QUERIES

        def make(q: str) -> Op:
            corpus = self.corpus[DEDUP_QUERIES[q][0]]

            def run():
                with self.tracer.span("plans.build"):
                    df = QUERIES[q](spark, corpus)
                with self.tracer.span("plans.exec"):
                    return df.columns, df.collect()

            def check(out) -> str | None:
                cols, rows = out
                got = signature([tuple(r) for r in rows], cols)
                want = self.expected[q]
                if got != want:
                    return f"{q}: rows {got['rows']} vs oracle {want['rows']}, hash {got['hash']} vs {want['hash']}"
                return None

            return Op(q, run, check)

        return [make(q) for q in DEDUP_QUERIES]

    def final_checks(self, spark) -> list[str] | None:
        return None

    def layer_metrics(self) -> dict[str, float]:
        return {}


class Etl:
    """The reference job: CSV read with inference, the star-schema
    builders, six parquet writes, the quality gates, then the README
    questions answered from the mart just written."""

    def __init__(self, seed: int, scratch: str, tracer) -> None:
        self.seed = seed
        self.input = os.path.join(scratch, "input")
        self.mart = os.path.join(scratch, "mart")
        self.tracer = tracer

    def prepare(self) -> None:
        self.expected = etldata.generate(self.input, self.seed, ETL_TRIPS_PER_MONTH)

    def warm_up(self, spark) -> None:
        warm_up(spark)

    def ops(self, spark, pass_no: int) -> list[Op]:
        from pyspark.sql import functions as F

        from nyc_bikeshare_datawarehouse_spark.warehouse import pipeline

        exp, mart = self.expected, self.mart
        trips = os.path.join(self.input, "trips", "*.csv")
        weather = os.path.join(self.input, "weather.csv")

        def run_pipeline():
            return pipeline.run(spark, trips, weather, mart)

        def check_gates(results) -> str | None:
            got = {(r.table, r.gate): r.passed for r in results}
            if got != exp.gates:
                diff = sorted(k for k in set(got) | set(exp.gates) if got.get(k) != exp.gates.get(k))
                return f"pipeline.run: gate outcomes differ from the generator's at {diff}"
            return None

        def fact():
            with self.tracer.span("sources.read_parquet"):
                return spark.read.parquet(f"{mart}/trip_fact")

        def busiest_month():
            row = (fact().groupBy("month").count()
                   .orderBy(F.desc("count"), "month").limit(1).first())
            return row["month"], row["count"]

        def by_gender():
            return {r["gender"]: r["n"] for r in
                    fact().groupBy("gender").agg(F.count("*").alias("n")).collect()}

        def hours_ridden():
            row = fact().groupBy("year").agg(F.sum("duration").alias("s")).collect()
            return [(r["year"], r["s"]) for r in row]

        def weather_join():
            with self.tracer.span("sources.read_parquet"):
                bridge = spark.read.parquet(f"{mart}/date_with_weather_type")
                wt = spark.read.parquet(f"{mart}/weather_type")
            day = fact().select(F.to_date("start_time").alias("d"))
            rows = (day.join(bridge.select(F.to_date("date_time").alias("d"), "weather_type_id"), "d")
                    .join(F.broadcast(wt), "weather_type_id")
                    .groupBy("weather_type_id", "description").count().collect())
            return {r["weather_type_id"]: r["count"] for r in rows}

        def expect(label, want):
            def check(got) -> str | None:
                return None if got == want else f"{label}: got {got}, expected {want}"
            return check

        return [
            Op("pipeline.run", run_pipeline, check_gates),
            Op("readme.busiest_month", busiest_month, expect("busiest month", exp.busiest_month)),
            Op("readme.trips_by_gender", by_gender, expect("trips by gender", exp.trips_by_gender)),
            Op("readme.hours_ridden", hours_ridden,
               expect("seconds ridden", [(etldata.YEAR, exp.duration_seconds)])),
            Op("readme.weather_join", weather_join,
               expect("trips by weather type", exp.trips_by_weather_type)),
        ]

    def final_checks(self, spark) -> list[str]:
        """Row counts of the written mart against the generator's."""
        failures = []
        for t in ETL_TABLES:
            n = spark.read.parquet(f"{self.mart}/{t}").count()
            if n != self.expected.table_rows[t]:
                failures.append(f"{t}: {n} rows written, generator predicts {self.expected.table_rows[t]}")
        return failures

    def layer_metrics(self) -> dict[str, float]:
        written = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(self.mart) for f in files
        )
        return {
            "sources.bytes_written": written,
            "etl.storage_ratio": round(written / self.expected.csv_bytes, 5),
        }


WORKLOADS = {"dedup": Dedup, "etl": Etl}
