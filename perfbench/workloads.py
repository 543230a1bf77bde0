"""The benchmark's workloads: inputs, set-up, one unit of work, checks.

Each workload is driven by ``run.py`` as a closed loop with one client:
``setup`` once per set-up repetition, then ``unit`` and ``read`` back
to back until the run's time is spent, then ``check`` outside the
timed region. Every call into the program goes through the public
functions of ``strava_etl_public_spark`` and is wrapped in a span named
after the layer it enters.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
from probe import Tracer, catalyst_phases_ms

# Import the registry through ``queries``: importing a family module
# such as ``queries_dedup_sim`` first raises a circular ImportError.
from strava_etl_public_spark import queries as Q
from strava_etl_public_spark.operators import incremental, resample, rolling
from strava_etl_public_spark.operators.assemble import collect_samples
from strava_etl_public_spark.operators.table import ManagedTable
from strava_etl_public_spark.plans import explain

from pyspark.sql import functions as F

E2E = "x_pipeline_activity_e2e"
METRICS = ("hr", "watts", "vel")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sample_cols(s):
    """The per-sample metric projection x_pipeline_activity_e2e uses."""
    return s.select(
        "activity_id",
        "time_key",
        F.col("value").alias("hr"),
        (F.col("value") * 0.5).alias("watts"),
        (F.col("event_id") % 97).cast("double").alias("vel"),
    )


def plan_nodes(plan: str, node: str) -> int:
    """Distinct operator ids of ``node`` in a formatted plan's tree."""
    tree = plan.split("\n\n", 1)[0]
    return len(set(re.findall(rf"\b{node} \((\d+)\)", tree)))


class Ingest:
    """The reference's incremental loop against a preloaded table.

    One unit (an increment): a batch of new activities has landed; read
    the watermark from the table, select the landed batches newer than
    it, run the activity pipeline on them joined with the nested sample
    record, append the result. After each commit a leaderboard read
    (top 10 by ``max_watts_1200``) scans the whole table."""

    name = "activity_ingest"
    PRELOAD = 4  # activities in the preload batch
    BATCH = gen.STRATA  # activities per landed batch: one of each length stratum
    SAMPLE = 8  # activities compared against the DuckDB oracle
    ATHLETE = "athlete_0"

    def __init__(self, cache: str, work: str, seed: int):
        self.seed = seed
        self.inputs = os.path.join(cache, "inputs", self.name, str(seed))
        self.work = work
        self.table: ManagedTable | None = None

    # -- inputs -----------------------------------------------------------

    def _ids(self, batch: int) -> np.ndarray:
        if batch == 0:
            return np.arange(self.PRELOAD)
        lo = self.PRELOAD + (batch - 1) * self.BATCH
        return np.arange(lo, lo + self.BATCH)

    def _batch_file(self, batch: int) -> str:
        path = os.path.join(self.inputs, f"b{batch:05d}.parquet")
        if not os.path.exists(path):
            ids = self._ids(batch)
            gen.write_parquet(
                gen.activity_events(self.seed, ids, gen.activity_starts(self.seed, ids)), path
            )
        return path

    def prepare(self) -> dict:
        """Generate (or reuse) the first batches; input statistics."""
        files = [self._batch_file(b) for b in range(6)]
        return gen.events_stats(pa.concat_tables(pq.read_table(f) for f in files))

    # -- landing ------------------------------------------------------------

    def land(self, batch: int) -> None:
        """A batch arrives: its events and its listing rows."""
        bdir = os.path.join(self.work, "landing", "events", f"b{batch:05d}")
        os.makedirs(bdir, exist_ok=True)
        shutil.copyfile(self._batch_file(batch), os.path.join(bdir, "events.parquet"))
        ids = self._ids(batch)
        gen.write_parquet(
            pa.table(
                {
                    "activity_id": pa.array(ids, pa.int64()),
                    "athlete": pa.array([self.ATHLETE] * len(ids), pa.string()),
                    "start_epoch": pa.array(gen.activity_starts(self.seed, ids), pa.int64()),
                    "batch": pa.array([batch] * len(ids), pa.int64()),
                }
            ),
            os.path.join(self.work, "landing", "listing", f"b{batch:05d}.parquet"),
        )
        self.landed.append(batch)

    # -- set-up and units ---------------------------------------------------

    def setup(self, spark, tr: Tracer) -> None:
        """Preload and warm-up on the tiny preload batch: transform it,
        create the table from half of it and append the other half, then
        read the watermark and the leaderboard — every path a unit takes."""
        shutil.rmtree(self.work, ignore_errors=True)
        self.table, self.landed, self.batch_unit = None, [], {}
        self._last_write: dict[str, float] = {}
        self.land(0)
        rec = self._records(spark, tr, self._listing(spark), 0)
        half = F.col("activity_id") < self.PRELOAD // 2
        self.table = ManagedTable.create(
            rec.filter(half), os.path.join(self.work, "table"), key="activity_id",
            stat_cols=["start_epoch"],
        )
        self.table.append(rec.filter(~half))
        self._watermark(tr)
        self.read(spark, tr)

    def next_input(self) -> None:
        self.land(self.landed[-1] + 1)

    def _listing(self, spark):
        return spark.read.parquet(os.path.join(self.work, "landing", "listing"))

    def _watermark(self, tr: Tracer) -> int:
        with tr.span("operators.incremental.watermark"), tr.group("wm"):
            rows = incremental.watermark(self.table.read(), "athlete", "start_epoch").collect()
        return int(rows[0]["watermark_epoch"]) if rows else 0

    def _records(self, spark, tr: Tracer, listing, batch: int):
        """The pipeline's per-activity record joined with the nested
        samples and the listing header of one landed batch."""
        bdir = os.path.join(self.work, "landing", "events", f"b{batch:05d}")
        with tr.span("queries.call"), tr.group("query"):
            out = Q.QUERIES[E2E](spark, bdir)
        with tr.span("operators.assemble.collect_samples"):
            samples = collect_samples(
                _sample_cols(Q.streams(spark, bdir)), "activity_id", "time_key", list(METRICS)
            )
            header = listing.filter(F.col("batch") == batch).select(
                "activity_id", "athlete", "start_epoch"
            )
            return out.join(samples, "activity_id").join(header, "activity_id")

    def unit(self, spark, tr: Tracer) -> None:
        wm = self._watermark(tr)
        with tr.span("operators.incremental.select"), tr.group("select"):
            listing = self._listing(spark)
            new = incremental.incremental_scan(listing, "start_epoch", wm, order_desc=False)
            batches = sorted({r["batch"] for r in new.select("batch").distinct().collect()})
        for b in batches:
            rec = self._records(spark, tr, listing, b)
            with tr.span("operators.table.append"), tr.group("append"):
                self.table.append(rec)
            self.batch_unit[b] = tr.unit_id

    def read(self, spark, tr: Tracer) -> None:
        with tr.span("operators.table.read"), tr.group("read", prefix="r"):
            df = self.table.read()
        with tr.span("read.leaderboard"), tr.group("read", prefix="r"):
            rows = (
                df.orderBy(F.col("max_watts_1200").desc(), "activity_id")
                .select("activity_id", "max_watts_1200")
                .limit(10)
                .collect()
            )
        if len(rows) != min(10, sum(len(self._ids(b)) for b in self.landed)):
            raise RuntimeError(f"leaderboard returned {len(rows)} rows")

    def after_unit(self, spark, unit_id: int) -> None:
        pass

    # -- traced extras --------------------------------------------------------

    def layers(self, spark, tr: Tracer, counters, unit_id: int) -> dict[str, float]:
        """Staged materialization of the latest batch in the query's own
        operator order, a noop after each step; table and plan counts."""
        bdir = os.path.join(self.work, "landing", "events", f"b{self.landed[-1]:05d}")
        wins = rolling.REFERENCE_WINDOWS
        out: dict[str, float] = {}
        s = _sample_cols(Q.streams(spark, bdir))
        steps = []
        t0 = time.perf_counter()
        dense = resample.densify_interpolate_fused(s, "activity_id", "time_key", list(METRICS))
        steps.append(("resample", time.perf_counter() - t0, dense))
        t0 = time.perf_counter()
        rolled = rolling.rolling_mean_triang(
            dense, "activity_id", "time_key", list(METRICS), wins, quantize=True,
            dense_ord=True,
        )
        steps.append(("rolling", time.perf_counter() - t0, rolled))
        t0 = time.perf_counter()
        maxed = rolling.activity_maxes(rolled, "activity_id", list(METRICS), wins)
        digest = s.groupBy("activity_id").agg(F.count(F.lit(1)).alias("n_samples"))
        final = digest.join(maxed, "activity_id")
        steps.append(("assemble", time.perf_counter() - t0, final))
        t0 = time.perf_counter()
        noop(s)
        prev = time.perf_counter() - t0
        for name, call_s, df in steps:
            t0 = time.perf_counter()
            noop(df)
            run_s = time.perf_counter() - t0
            out[f"operators.{name}.call_s"] = call_s
            out[f"operators.{name}.exec_s"] = run_s - prev
            prev = run_s
        out["operators.resample.rows_out_per_in"] = dense.count() / max(s.count(), 1)
        t0 = time.perf_counter()
        out["operators.rolling.window_nodes"] = float(
            plan_nodes(explain.plan_formatted(rolled), "Window")
        )
        out["plans.exchanges"] = float(explain.count_exchanges(final))
        out["plans.explain_s"] = time.perf_counter() - t0
        for k, v in catalyst_phases_ms(final).items():
            out[f"catalyst.{k}_ms"] = v
        out["operators.table.versions"] = float(self.table.version())
        out["operators.table.files_per_read"] = float(len(self.table.read().inputFiles()))
        out.update(self._last_write)
        out["queries.eager_jobs"] = counters.group(f"u{unit_id}.query")["jobs"]
        return out

    def snapshot_files(self) -> dict[str, int]:
        sizes = {}
        for d, _, fs in os.walk(os.path.join(self.work, "table")):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    sizes[p] = os.path.getsize(p)
        return sizes

    def traced_unit(self, spark, tr: Tracer) -> None:
        """A unit with the table's write footprint recorded."""
        before = self.snapshot_files()
        self.unit(spark, tr)
        new = {p: n for p, n in self.snapshot_files().items() if p not in before}
        rows = self.BATCH
        self._last_write = {
            "operators.table.files_written": float(len(new)),
            "operators.table.bytes_written_per_row": sum(new.values()) / rows,
        }

    # -- checks -----------------------------------------------------------

    def check(self, spark) -> tuple[list[str], set[int]]:
        """Sampled oracle comparison and table invariants; returns the
        errors and the units whose output failed."""
        errors: list[str] = []
        bad_units: set[int] = set()
        ingested = [int(a) for b in self.landed for a in self._ids(b)]
        full = (
            self.table.read()
            .select("activity_id", "n_samples", F.size("streams").alias("streams_len"))
            .toPandas()
        )
        rows = incremental.watermark(self.table.read(), "athlete", "start_epoch").collect()
        newest = int(gen.activity_starts(self.seed, np.array(ingested)).max())
        inv = checks.ingest_invariants(full, ingested, newest, int(rows[0]["watermark_epoch"]))
        if inv:
            errors += inv
            bad_units.update(self.batch_unit.values())
        rng = np.random.default_rng(self.seed)
        sample = sorted(int(a) for a in rng.choice(ingested, min(self.SAMPLE, len(ingested)), replace=False))
        oracle = self.oracle(sample)
        actual = (
            self.table.read()
            .filter(F.col("activity_id").isin(sample))
            .select(*oracle.columns)
            .toPandas()
        )
        for a in sample:
            n = checks.diff_cells(
                actual[actual.activity_id == a], oracle[oracle.activity_id == a], ["activity_id"]
            )
            if n:
                errors.append(f"activity {a}: {n} cells differ from the oracle")
                b = next(b for b in self.landed if a in self._ids(b))
                bad_units.add(self.batch_unit.get(b, 0))  # 0: the preload
        return errors, bad_units

    def oracle(self, sample: list[int]) -> pd.DataFrame:
        glob = os.path.join(self.work, "landing", "events", "*", "events.parquet")
        con = duckdb.connect()
        try:
            con.execute("SET threads=4")
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM read_parquet('{glob}') "
                f"WHERE user_id IN ({', '.join(map(str, sample))})"
            )
            return con.execute(Q.ORACLES[E2E]).fetch_df()
        finally:
            con.close()


class Curation:
    """Corpus curation: the whole keep/drop decision
    (``x_pipeline_corpus_filter``) plus MinHash-LSH near-duplicate pairs
    (``x_dedup_minhash_lsh``), each with a noop sink, over a generated
    corpus with planted near-duplicates. After each unit the curated
    corpus is read back, as a training job would: the text of every
    kept document, collected to the driver."""

    name = "corpus_curation"
    DOCS = 1200
    QUERIES = (
        ("corpus_filter", "x_pipeline_corpus_filter", ["doc_id"]),
        ("minhash", "x_dedup_minhash_lsh", ["doc_a", "doc_b"]),
    )

    def __init__(self, cache: str, work: str, seed: int):
        self.seed = seed
        self.inputs = os.path.join(cache, "inputs", self.name, str(seed))
        self.dir = os.path.join(self.inputs, "corpus")

    @staticmethod
    def _fn(qname: str):
        return Q.QUERIES.get(qname) or Q.EXTRA_QUERIES[qname]

    def prepare(self) -> dict:
        """Generate (or reuse) the corpus and its DuckDB oracle outputs."""
        stats_path = os.path.join(self.inputs, "stats.json")
        if not os.path.exists(stats_path):
            docs, share = gen.documents(self.seed, self.DOCS)
            gen.write_parquet(docs, os.path.join(self.dir, "documents.parquet"))
            con = duckdb.connect()
            try:
                con.execute("SET threads=4")
                con.execute(
                    "CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{self.dir}/documents.parquet')"
                )
                for short, qname, _ in self.QUERIES:
                    sql = Q.ORACLES.get(qname) or Q.EXTRA_ORACLES[qname]
                    con.execute(sql).fetch_arrow_table().to_pandas().to_parquet(
                        os.path.join(self.inputs, f"oracle_{short}.parquet")
                    )
            finally:
                con.close()
            stats = {"documents": self.DOCS, "near_duplicate_cluster_share": round(share, 6)}
            with open(stats_path + ".tmp", "w") as f:
                json.dump(stats, f)
            os.replace(stats_path + ".tmp", stats_path)
        with open(stats_path) as f:
            return json.load(f)

    def setup(self, spark, tr: Tracer) -> None:
        """Warm-up: one unit and its read on the corpus itself (the
        unit is floor-bound: at 150 documents it costs nearly as much)."""
        self.failed_units: dict[int, str] = {}
        self.oracles = {
            short: pd.read_parquet(os.path.join(self.inputs, f"oracle_{short}.parquet"))
            for short, _, _ in self.QUERIES
        }
        self.unit(spark, tr)
        self.read(spark, tr)

    def next_input(self) -> None:
        pass

    def unit(self, spark, tr: Tracer) -> None:
        self.outputs = {}
        for short, qname, _ in self.QUERIES:
            with tr.span(f"queries.{short}.call"), tr.group(f"{short}.call"):
                df = self._fn(qname)(spark, self.dir)
            with tr.span(f"queries.{short}.sink"), tr.group(f"{short}.sink"):
                noop(df)
            self.outputs[short] = df

    traced_unit = unit

    def read(self, spark, tr: Tracer) -> None:
        with tr.span("read.curated"), tr.group("read", prefix="r"):
            kept = self.outputs["corpus_filter"].filter("keep").select("doc_id")
            docs = spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
            got = docs.join(kept, "doc_id").select("doc_id", "text").toPandas()
        self.read_result = {"n": len(got), "chars": int(got.text.str.len().sum())}

    def after_unit(self, spark, unit_id: int) -> None:
        """Compare this unit's outputs with the oracles (untimed)."""
        unit_errors = []
        for short, _, key in self.QUERIES:
            got = self.outputs[short].toPandas()
            n = checks.diff_cells(got, self.oracles[short], key)
            if n:
                unit_errors.append(f"{short}: {n} cells differ from the oracle")
        docs = pd.read_parquet(os.path.join(self.dir, "documents.parquet"))
        unit_errors += checks.curated_read_errors(
            self.read_result["n"], self.read_result["chars"], self.oracles["corpus_filter"], docs
        )
        if unit_errors:
            self.failed_units[unit_id] = "; ".join(unit_errors)
        self.outputs = {}

    def layers(self, spark, tr: Tracer, counters, unit_id: int) -> dict[str, float]:
        """Counters keyed by query, plan counts of what each executed."""
        spans = tr.self_times(unit_id)
        out: dict[str, float] = {
            "queries.call_s": sum(spans[f"queries.{s}.call"] for s, _, _ in self.QUERIES),
            "queries.eager_jobs": 0.0, "plans.exchanges": 0.0, "plans.explain_s": 0.0,
        }
        for short, _, _ in self.QUERIES:
            g = counters.group(f"u{unit_id}.{short}.")
            for k in ("jobs", "stages", "executor_run_s", "shuffle_write_mb"):
                out[f"spark.{k}.{short}"] = g[k]
            out["queries.eager_jobs"] += counters.group(f"u{unit_id}.{short}.call")["jobs"]
            t0 = time.perf_counter()
            plans = counters.executed_plans(g["_job_ids"])
            out[f"plans.doc_scans.{short}"] = float(
                sum(plan_nodes(p, r"Scan parquet\s*") for p in plans)
            )
            out["plans.exchanges"] += sum(plan_nodes(p, r"(?<!Broadcast)Exchange") for p in plans)
            out["plans.explain_s"] += time.perf_counter() - t0
            phases = catalyst_phases_ms(self.outputs[short])
            for k, v in phases.items():
                out[f"catalyst.{k}_ms"] = out.get(f"catalyst.{k}_ms", 0.0) + v
        return out

    def check(self, spark) -> tuple[list[str], set[int]]:
        return list(self.failed_units.values()), set(self.failed_units)
