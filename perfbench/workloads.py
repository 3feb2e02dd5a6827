"""The three closed-loop workloads.

Each workload has the same shape:

* `generate(seed)`  writes its seeded inputs (counted in set-up),
* `run_pass()`      runs one pass of its operations and returns their
                    timings plus the layer records of that pass,
* `check(passes)`   the correctness gate, run after the timed window
                    against DuckDB recomputations of the same inputs.

An operation ("op") is one job (`etl_jobs`), one catalog entry
(`adhoc_queries`) or one stream drain (`cdc_stream`); each op is checked,
and a failed check counts as a failed op. `cdc_stream` times its
micro-batch triggers as well, and those are its latency samples.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb

import gen
import probes

SIZES = {
    "etl_jobs": {"trips": 10_000, "docs": 0.02},
    "adhoc_queries": {"sf": 0.01},
    "cdc_stream": {"events": 16_000, "files": 4},
}
ADHOC_PER_STRATUM = {"pruned": 2, "analytics": 1, "text": 1, "graph": 1, "lakehouse": 1}
ADHOC_SAMPLE_SEED = 0
# Entries whose oracle rounds an interpolated median or percentile to
# cents. When the exact value is a half-cent tie, the engine and DuckDB
# round it different ways (sf0.01 lakes of seeds 15, 21, 24, 31, 32, 37),
# so their full-value parity depends on the seed. That is an engine defect
# the benchmark reports (NOTES.md) but cannot fix; their row counts are
# still gated on every pass, their values are not.
VALUE_TIE_ENTRIES = ("approx_percentile_sketch", "udaf_pandas_mad")


def harness_entry(entries: list[str], seed: int) -> str:
    """The sampled entry whose full values one run checks: the seed picks
    it, so a set of runs covers every entry outside VALUE_TIE_ENTRIES."""
    checked = [n for n in entries if n not in VALUE_TIE_ENTRIES]
    return checked[seed % len(checked)]


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    name = ""

    def __init__(self, bench):
        self.bench = bench
        self.spark = bench.spark
        self.size = SIZES[self.name]
        self.dir = os.path.join(bench.work, self.name)


# ---------------------------------------------------------------------------
# etl_jobs: run_batch_pipeline on raw monthly trips, then run_curation_pipeline
# ---------------------------------------------------------------------------


class EtlJobs(Workload):
    name = "etl_jobs"

    def generate(self, seed: int) -> None:
        self.raw_dir = _fresh(os.path.join(self.dir, "raw"))
        self.docs_dir = _fresh(os.path.join(self.dir, "docs"))
        gen.write_raw_trips(self.raw_dir, seed, self.size["trips"])
        lake = os.path.join(self.dir, "docs_lake")
        gen.write_lake(lake, seed, self.size["docs"])
        os.replace(os.path.join(lake, "documents.parquet"),
                   os.path.join(self.docs_dir, "documents.parquet"))
        shutil.rmtree(lake)
        self.raw_bytes = probes.tree_size(self.raw_dir)[0]

    def run_pass(self) -> dict:
        from nyc_taxi_data_pipeline_spark.plans import curation_pipeline, pipeline
        from nyc_taxi_data_pipeline_spark.sources import io

        b = self.bench
        tr = b.tracer
        mark = len(tr.spans)
        lake = _fresh(os.path.join(self.dir, "lake"))
        out_root = _fresh(os.path.join(self.dir, "curated"))
        write_groups: list[str] = []
        gc0 = probes.jvm_gc_seconds(b.sc)

        pipe_names = {
            "normalize": "operators.normalize",
            "derive_time_dims": "operators.derive_time_dims",
            "staging_aggregate": "operators.staging_aggregate",
            "build_star": "operators.build_star",
            "check": "quality.check",
        }
        write_names = {"write_parquet": "io.write", "write_parquet_idempotent": "io.write"}
        cur_names = {"audited_publish_zone": "io.publish"}
        with (
            probes.wrapped(pipeline, pipe_names if tr.enabled else {}, tr),
            probes.wrapped(pipeline, write_names if tr.enabled else {}, tr, b.jobs, write_groups),
            probes.wrapped(curation_pipeline, cur_names if tr.enabled else {}, tr),
        ):
            with b.jobs.group("etl.elt") as elt_gid:
                t0 = time.perf_counter()
                with tr.span("elt_job"):
                    with tr.span("io.read"):
                        raw = io.read_parquet(self.spark, self.raw_dir)
                    with tr.span("pipeline.run_batch_pipeline"):
                        report = pipeline.run_batch_pipeline(self.spark, raw, lake)
                t1 = time.perf_counter()
            with b.jobs.group("etl.curation") as cur_gid:
                with tr.span("curation_job"):
                    with tr.span("pipeline.run_curation_pipeline"):
                        cur = curation_pipeline.run_curation_pipeline(
                            self.spark, self.docs_dir, out_root
                        )
                t2 = time.perf_counter()
        gc1 = probes.jvm_gc_seconds(b.sc)

        other_jobs, other_stages = b.jobs.count(elt_gid)
        write_jobs, write_stages = b.jobs.count(*write_groups)
        cur_jobs, _ = b.jobs.count(cur_gid)
        lake_bytes, lake_files = probes.tree_size(lake)
        cur_bytes, cur_files = probes.tree_size(out_root)
        layers = {
            "pipeline.jobs": other_jobs + write_jobs,
            "pipeline.stages": other_stages + write_stages,
            "io.write_jobs": write_jobs,
            "pipeline.other_jobs": other_jobs,
            "curation.jobs": cur_jobs,
            "io.bytes_written": lake_bytes + cur_bytes,
            "io.files_written": lake_files + cur_files,
            "io.bytes_per_input_byte": lake_bytes / self.raw_bytes,
            "jvm.gc_s": gc1 - gc0,
        }
        if tr.enabled:
            tot = tr.totals(mark)
            layers.update({
                "io.write_s": tot.get("io.write", 0.0),
                "io.publish_s": tot.get("io.publish", 0.0),
                "quality.check_s": tot.get("quality.check", 0.0),
                "operators.plan_s": sum(v for k, v in tot.items() if k.startswith("operators.")),
            })
        ops = [
            {"kind": "elt_job", "s": t1 - t0, "obs": _elt_obs(report)},
            {"kind": "curation_job", "s": t2 - t1, "obs": _cur_obs(cur)},
        ]
        return {"ops": ops, "pass_s": t2 - t0, "layers": layers,
                "named": {"elt_job_s": t1 - t0, "curation_job_s": t2 - t1}}

    def expected(self) -> dict:
        return {"elt": self.expected_elt(), "curation": self.expected_curation()}

    def expected_elt(self) -> dict:
        """Zone and star row counts and the staging quality report,
        recomputed by DuckDB from the raw files."""
        con = duckdb.connect()
        con.execute(f"""
          CREATE VIEW processed AS
          SELECT CAST(VendorID AS INT) AS vendor_id,
                 CAST(RatecodeID AS INT) AS rate_code_id,
                 PULocationID AS pickup_location_id, DOLocationID AS dropoff_location_id,
                 payment_type AS payment_type_id,
                 tpep_pickup_datetime AS pickup_datetime,
                 tpep_dropoff_datetime AS dropoff_datetime,
                 trip_distance
          FROM read_parquet('{self.raw_dir}/*.parquet')
          WHERE passenger_count IS NOT NULL""")
        con.execute("""
          CREATE VIEW staging AS
          SELECT vendor_id, rate_code_id, pickup_location_id, dropoff_location_id,
                 payment_type_id, pickup_datetime, dropoff_datetime,
                 sum(trip_distance) AS trip_distance
          FROM processed GROUP BY ALL""")
        one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        counts = {
            "processed": one("SELECT count(*) FROM processed"),
            "staging": one("SELECT count(*) FROM staging"),
            "dim_vendor": one("SELECT count(DISTINCT vendor_id) FROM staging WHERE vendor_id < 3"),
            "dim_rate_code": one(
                "SELECT count(DISTINCT rate_code_id) FROM staging WHERE rate_code_id < 7"
            ),
            "dim_payment": one("SELECT count(DISTINCT payment_type_id) FROM staging"),
            "dim_service_type": 1,
            "dim_pickup_location": one("SELECT count(DISTINCT pickup_location_id) FROM staging"),
            "dim_dropoff_location": one("SELECT count(DISTINCT dropoff_location_id) FROM staging"),
            "fact_trip": one(
                "SELECT count(*) FROM staging WHERE vendor_id < 3 AND rate_code_id < 7"
            ),
        }
        # staging_rules(); service_type is a constant the staging step stamps
        quality = {
            f"{c}_not_null": one(f"SELECT count(*) FROM staging WHERE {c} IS NULL")
            for c in ("vendor_id", "rate_code_id", "pickup_location_id",
                      "dropoff_location_id", "payment_type_id")
        }
        quality["service_type_not_null"] = 0
        quality["trip_distance_between_0_100"] = one(
            "SELECT count(*) FROM staging WHERE trip_distance NOT BETWEEN 0 AND 100"
        )
        return {"counts": counts, "quality": quality}

    def expected_curation(self) -> dict:
        """Curation's clean and manifest rows, from the `curation_funnel`
        oracle. Needs an active Spark session (the module builds its rules
        at import)."""
        from nyc_taxi_data_pipeline_spark.plans.curation_pipeline import DEFAULT_RATES
        from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY

        con = duckdb.connect()
        one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.docs_dir}/documents.parquet')"
        )
        funnel = con.execute(REGISTRY["curation_funnel"].oracle).fetchall()
        clean = sum(r[1] for r in funnel)
        rates = ", ".join(f"('{k}', {v})" for k, v in DEFAULT_RATES.items())
        manifest = one(f"""
          WITH r(source, rate_pct) AS (VALUES {rates})
          SELECT count(DISTINCT source) FROM ({_clean_ids_sql(REGISTRY)}) c
          JOIN r USING (source) WHERE c.doc_id % 100 < r.rate_pct""")
        return {"clean_documents": clean, "mix_manifest": manifest}

    def check(self, passes: list[dict]) -> list[str]:
        want = self.expected()
        errors = []
        for p in passes:
            for op in p["ops"]:
                exp = want["elt"] if op["kind"] == "elt_job" else want["curation"]
                got = op["obs"]
                if op["kind"] == "elt_job":
                    ok = got == exp
                else:
                    ok = got["published"] and all(got["rows"][k] == v for k, v in exp.items())
                op["ok"] = ok
                if not ok:
                    errors.append(f"{op['kind']}: got {got}, want {exp}")
        return errors


def _clean_ids_sql(registry) -> str:
    """The curation_funnel oracle's `deduped` stage (doc_id, source)."""
    sql = registry["curation_funnel"].oracle
    head = sql[: sql.rindex("SELECT source")]
    return head + "SELECT doc_id, source FROM deduped"


def _elt_obs(report: dict) -> dict:
    return {"counts": dict(report["counts"]), "quality": dict(report["quality"])}


def _cur_obs(report: dict) -> dict:
    return {"published": bool(report.get("published")), "rows": dict(report.get("rows", {}))}


# ---------------------------------------------------------------------------
# adhoc_queries: a stratified catalog sample, fully materialized
# ---------------------------------------------------------------------------


class AdhocQueries(Workload):
    name = "adhoc_queries"

    def generate(self, seed: int) -> None:
        from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY

        self.seed = seed
        self.lake = _fresh(os.path.join(self.dir, "lake"))
        gen.write_lake(self.lake, seed, self.size["sf"])
        self.registry = REGISTRY
        if not hasattr(self, "entries"):  # the sample does not depend on the seed
            self.entries = gen.sample_entries(REGISTRY, ADHOC_PER_STRATUM, ADHOC_SAMPLE_SEED)

    def run_pass(self) -> dict:
        b = self.bench
        sc = b.sc
        ops = []
        layers = dict.fromkeys(
            ("plans.build_s", "exec.run_s", "plans.build_jobs", "exec.jobs", "exec.stages",
             "plans.persisted_blocks", "exec.output_rows", "exec.shuffle_bytes",
             "exec.spill_bytes"), 0)
        gc0 = probes.jvm_gc_seconds(sc)
        t_pass = time.perf_counter()
        for name in self.entries:
            q = self.registry[name]
            with b.jobs.group(f"adhoc.build.{name}") as bgid:
                t0 = time.perf_counter()
                with b.tracer.span("plans.build"):
                    df = q.spark(self.spark, self.lake)
                t1 = time.perf_counter()
            with b.jobs.group(f"adhoc.exec.{name}") as xgid:
                with b.tracer.span("exec.run"):
                    qe = df._jdf.queryExecution()  # noqa: SLF001
                    rows = qe.toRdd().count()
                t2 = time.perf_counter()
            ops.append({"kind": name, "s": t2 - t0, "obs": rows})
            layers["plans.build_s"] += t1 - t0
            layers["exec.run_s"] += t2 - t1
            layers["exec.output_rows"] += rows
            layers["plans.persisted_blocks"] += probes.persisted_rdds(sc)
            if b.tracer.enabled:
                bj, _ = b.jobs.count(bgid)
                xj, xs = b.jobs.count(xgid)
                pm = probes.plan_metrics(qe)
                layers["plans.build_jobs"] += bj
                layers["exec.jobs"] += xj
                layers["exec.stages"] += xs
                layers["exec.shuffle_bytes"] += pm["shuffle_bytes"]
                layers["exec.spill_bytes"] += pm["spill_bytes"]
            probes.unpersist_all(sc)
        pass_s = time.perf_counter() - t_pass
        layers["jvm.gc_s"] = probes.jvm_gc_seconds(sc) - gc0
        return {"ops": ops, "pass_s": pass_s, "layers": layers, "named": {"adhoc_pass_s": pass_s}}

    def check(self, passes: list[dict]) -> list[str]:
        from tests.oracle_harness import duck_connection

        con = duck_connection(self.lake)
        want = {
            n: con.execute(f"SELECT count(*) FROM ({self.registry[n].oracle})").fetchone()[0]
            for n in self.entries
        }
        errors = []
        for p in passes:
            for op in p["ops"]:
                op["ok"] = op["obs"] == want[op["kind"]]
                if not op["ok"]:
                    errors.append(f"{op['kind']}: {op['obs']} rows, oracle {want[op['kind']]}")
        errors += self._harness_check()
        return errors

    def _harness_check(self) -> list[str]:
        """Full value parity, through the repository's own oracle harness
        (imported read-only), of one sampled entry per process (see
        `harness_entry`)."""
        from tests.oracle_harness import compare_query, duck_connection

        name = harness_entry(self.entries, self.seed)
        rep = compare_query(self.spark, duck_connection(self.lake), self.registry[name],
                            sf_dir=self.lake)
        probes.unpersist_all(self.bench.sc)
        if rep["cols_match"] and rep["types_match"] and rep["values_match"]:
            return []
        return [f"oracle_harness {name}: {rep}"]


# ---------------------------------------------------------------------------
# cdc_stream: Debezium JSON -> parquet sink, and a windowed count to memory
# ---------------------------------------------------------------------------


class CdcStream(Workload):
    name = "cdc_stream"

    def generate(self, seed: int) -> None:
        self.src = _fresh(os.path.join(self.dir, "events"))
        self.drains = 0
        self.meta = gen.write_cdc_events(self.src, seed, self.size["events"], self.size["files"])
        if self.bench.progress is None:
            self.bench.progress = probes.Progress()
            self.spark.streams.addListener(self.bench.progress)

    def _source(self):
        return (
            self.spark.readStream.option("maxFilesPerTrigger", 1)
            .text(self.src)
        )

    def run_pass(self) -> dict:
        from pyspark.sql import functions as F

        from nyc_taxi_data_pipeline_spark.streaming import cdc, sinks

        b = self.bench
        tr = b.tracer
        self.drains += 1
        table_name = f"perfbench_windows_{self.drains}"
        sink = _fresh(os.path.join(self.dir, "sink"))
        ckpt = os.path.join(self.dir, "ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        b.progress.take(b.sc)
        gc0 = probes.jvm_gc_seconds(b.sc)

        with tr.span("cdc_drain"):
            t0 = time.perf_counter()
            with tr.span("streaming.cdc"):
                events = cdc.with_processing_time_partitions(cdc.parse_debezium(self._source()))
            with tr.span("sinks.drain"):
                out = sinks.run_stream_to_parquet(
                    events, sink, ckpt, partition_by=("date_partition", "hour_partition")
                )
            t1 = time.perf_counter()
        sink_rows = out.count()
        cdc_progress = b.progress.take(b.sc)

        with tr.span("window_drain"):
            t2 = time.perf_counter()
            with tr.span("streaming.cdc"):
                parsed = cdc.parse_debezium(self._source()).withColumn("value", F.col("fare_amount"))
                counts = sinks.windowed_counts(
                    parsed, ts_col="tpep_pickup_datetime", key_col="payment_type",
                    window="1 hour", watermark="2 hours",
                )
            with tr.span("sinks.drain"):
                table = sinks.run_stream_to_memory(counts, table_name)
            t3 = time.perf_counter()
        windows = {
            (r[0], r[1], r[2])
            for r in table.select(
                F.unix_micros("window_start"), "payment_type", "n_events"
            ).collect()
        }
        self.spark.catalog.dropTempView(table_name)
        win_progress = b.progress.take(b.sc)
        gc1 = probes.jvm_gc_seconds(b.sc)

        progress = cdc_progress + win_progress
        trig = [e["ms"].get("triggerExecution", 0) for e in progress]
        ms = lambda k: sum(e["ms"].get(k, 0) for e in progress)  # noqa: E731
        last_state = win_progress[-1] if win_progress else {}
        layers = {
            "stream.triggers": len(progress),
            "stream.input_rows": sum(e["rows"] for e in progress),
            "stream.add_batch_ms": ms("addBatch"),
            "stream.overhead_ms": ms("triggerExecution") - ms("addBatch"),
            "stream.query_planning_ms": ms("queryPlanning"),
            "stream.wal_commit_ms": ms("walCommit"),
            "stream.state_rows": last_state.get("state_rows", 0),
            "stream.state_memory_bytes": last_state.get("state_bytes", 0),
            "stream.state_commit_ms": sum(e["state_commit_ms"] for e in win_progress),
            "jvm.gc_s": gc1 - gc0,
        }
        if tr.enabled:
            layers["sinks.drain_s"] = (t1 - t0) + (t3 - t2)
        ops = [
            {"kind": "cdc_drain", "s": t1 - t0, "obs": sink_rows},
            {"kind": "window_drain", "s": t3 - t2, "obs": windows},
        ]
        return {
            "ops": ops, "pass_s": (t1 - t0) + (t3 - t2), "layers": layers,
            "unit_s": [t / 1000.0 for t in trig],
            "named": {"cdc_drain_s": t1 - t0, "window_drain_s": t3 - t2},
        }

    def expected(self) -> dict:
        con = duckdb.connect()
        con.execute(f"""
          CREATE VIEW ev AS
          SELECT payload.after AS a
          FROM read_json('{self.src}/*.json', format='newline_delimited',
               columns={{'payload': 'STRUCT(after STRUCT(tpep_pickup_datetime BIGINT, payment_type INTEGER))'}})""")
        rows = con.execute("SELECT count(*) FROM ev WHERE a IS NOT NULL").fetchone()[0]
        windows = set(con.execute("""
          SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, make_timestamp(a.tpep_pickup_datetime))),
                 a.payment_type, count(*)
          FROM ev WHERE a IS NOT NULL GROUP BY ALL""").fetchall())
        return {"rows": rows, "windows": windows}

    def check(self, passes: list[dict]) -> list[str]:
        want = self.expected()
        errors = []
        if want["rows"] != self.meta["rows"]:
            errors.append(f"generator wrote {self.meta['rows']} rows, DuckDB reads {want['rows']}")
        for p in passes:
            for op in p["ops"]:
                if op["kind"] == "cdc_drain":
                    op["ok"] = op["obs"] == want["rows"]
                    detail = f"{op['obs']} sink rows, want {want['rows']}"
                else:
                    op["ok"] = op["obs"] == want["windows"]
                    diff = op["obs"] ^ want["windows"]
                    detail = f"{len(diff)} differing (window, key, count) rows"
                if not op["ok"]:
                    errors.append(f"{op['kind']}: {detail}")
        return errors


WORKLOADS = {w.name: w for w in (EtlJobs, AdhocQueries, CdcStream)}
