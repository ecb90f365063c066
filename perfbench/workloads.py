"""The benchmark's workloads.

Each workload is one client in one process, in a closed loop: an operation
starts only after the previous one has finished. A workload

- ``prepare``s its inputs from the run's seed (no Spark; not timed),
- runs one untimed ``warmup`` pass (timed only as part of ``setup_s``),
  which also gathers what the output checks need,
- runs timed passes (``run_pass``) until the run's seconds are used up,
- ``check``s the outputs once, untimed, and
- turns its samples into metrics.

Every operation is recorded with :meth:`Run.op`; an operation that raises
is counted as failed and is not retried, and a failed check fails every
timed execution of the operations it covers.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os
import sqlite3
import statistics
import sys
import time
import uuid
from contextlib import closing

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import layer_totals


def force(df) -> None:
    """Evaluate every column of every row: a full noop-sink write."""
    df.write.format("noop").mode("overwrite").save()


def du(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def oracle_diff(run, name: str, df, sql: str) -> str | None:
    """None when ``df`` matches the DuckDB oracle ``sql`` over the run's
    tables, else why not. The comparison is the repository's oracle sweep
    (``tests/oracle_check.compare``): column names, dtype parity, row count
    and order-insensitive values; it collects ``df`` itself."""
    res = _oracle_check(run.root).compare(name, df, _oracle_answer(run, sql), run.sf_dir)
    return None if res.ok else "; ".join(res.errors) or "differs from oracle"


def _oracle_answer(run, sql: str) -> str:
    """SQL that reads the answer of the oracle ``sql`` from a parquet file
    under ``.perfbench/oracle-cache/``, named by a digest of the SQL and of
    the run's table files. The tables are the same in every run, so each
    oracle runs once per checkout: ``dedup_admission_evolution``'s takes
    about 24 s of DuckDB on 4 cores, a third of a run. Only DuckDB's
    answers are kept; the program's output is compared afresh every run."""
    key = hashlib.sha256(sql.encode() + _tables_digest(run.sf_dir)).hexdigest()
    path = os.path.join(run.state, "oracle-cache", f"{key}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con = _oracle_check(run.root)._duckdb_con(run.sf_dir)
        tmp = f"{path}.{os.getpid()}"
        con.sql(sql).write_parquet(tmp)
        con.close()
        os.replace(tmp, path)
    return f"SELECT * FROM read_parquet('{path}')"


@functools.cache
def _tables_digest(sf_dir: str) -> bytes:
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as f:
            h.update(name.encode() + hashlib.sha256(f.read()).digest())
    return h.digest()


class Collected:
    """Rows collected earlier, with the schema of the DataFrame they came
    from: what ``oracle_check.compare`` reads of a DataFrame (``columns``,
    ``schema``, ``collect()``), without running a Spark job."""

    def __init__(self, schema, rows) -> None:
        self.schema, self.columns, self._rows = schema, schema.names, rows

    def collect(self) -> list:
        return self._rows


@functools.cache
def _oracle_check(root: str):
    path = os.path.join(root, "tests", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses look their module up here
    spec.loader.exec_module(mod)
    return mod


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 100]) of all samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return s[int(k)]


# The 22 TPC-H shapes, one registered query per number (Q1..Q22), plus the
# wd2sql README query shapes.
TPCH22 = (
    "agg_pricing_summary",
    "subq_min_cost_supplier",
    "join_shipping_priority_topk",
    "subq_order_priority_check",
    "join_multiway_local_supplier_volume",
    "agg_forecast_revenue",
    "join_nation_pair_volume",
    "join_market_share",
    "join_profit_by_nation_year",
    "join_returned_item_ranking",
    "subq_important_supply_value",
    "agg_ship_priority_modes",
    "agg_customer_order_distribution",
    "agg_promo_revenue_ratio",
    "subq_top_supplier_revenue",
    "agg_supplier_variety",
    "subq_small_quantity_revenue",
    "subq_in_agg_large_orders",
    "join_disjunctive_predicate",
    "subq_excess_share_suppliers",
    "subq_sole_fault_suppliers",
    "subq_sales_opportunity_antijoin",
)
WD2SQL_SHAPES = ("flagship_semi_join_enrich", "wd_query_conjunctive", "wd_id_codec")

LLM_QUERIES = (
    "dedup_minhash_lsh",
    "sim_ivf_topk",
    "dedup_jaccard_prefix_filter",
    "semdedup_cluster_prune",
    "multimodal_phash_near_dup",
    "graph_pagerank_iter",
    "curation_pipeline_decontam",
    "pairs_contrastive_build",
)

QUERY_LAYER = {"queries.build", "queries.exec"}


def query_layer_metrics(run) -> dict[str, float]:
    """``queries.*`` per-layer metrics from the build/exec spans, per pass."""
    n = max(run.passes, 1)
    spans = run.timed_spans()
    both = layer_totals(spans, run.span_stats, QUERY_LAYER)
    build = layer_totals(spans, run.span_stats, {"queries.build"})
    execs = layer_totals(spans, run.span_stats, {"queries.exec"})
    st = both.stats
    return {
        "queries.build_s": build.wall_s / n,
        "queries.build_jobs": build.stats.jobs / n,
        "queries.exec_s": execs.wall_s / n,
        "queries.exec_jobs": execs.stats.jobs / n,
        "queries.stages": st.stages / n,
        "queries.tasks": st.tasks / n,
        "queries.tasks_per_stage": both.tasks_per_stage,
        "queries.sched_wait_s": both.sched_wait_s / n,
        "queries.core_util": both.core_util(run.cores),
        "queries.executor_run_s": st.run_s / n,
        "queries.executor_cpu_s": st.cpu_s / n,
        "queries.deserialize_s": st.deserialize_s / n,
        "queries.gc_s": st.gc_s / n,
        "queries.shuffle_write_bytes": st.shuffle_write_bytes / n,
        "queries.shuffle_read_bytes": st.shuffle_read_bytes / n,
        "queries.fetch_wait_s": st.fetch_wait_s / n,
        "queries.spill_bytes": st.spill_bytes / n,
        "queries.python_run_s": st.python_run_s / n,
        "queries.python_start_s": st.python_start_s / n,
        "queries.python_bytes_sent": st.python_bytes_sent / n,
    }


class QueryWorkload:
    """Shared shape of the two query workloads: each execution is the
    query's ``fn(spark, sf)`` call (span ``queries.build``) followed by a
    full noop-sink write (span ``queries.exec``).

    The output check compares two results of each query with its oracle:
    the rows the warm-up collected, which cover the executions of kind
    ``snapshot_kind``, and a fresh execution after the timed passes, on
    the state they left, which covers kind ``rerun_kind``."""

    snapshot_kind = rerun_kind = "exec"

    def __init__(self) -> None:
        self.results: dict[str, tuple] = {}

    def prepare(self, run) -> dict:
        counts = gen.write_tables(run.sf_dir)
        return {"table_rows": counts}

    def execute(self, run, name: str, kind: str) -> None:
        fn = run.registry[name].fn

        def body():
            with run.tracer.span("queries.build"):
                df = fn(run.spark, run.sf_dir)
            with run.tracer.span("queries.exec"):
                force(df)

        run.op(name, kind, body)

    def warmup(self, run) -> None:
        """One untimed execution of each query, collected: it pays JIT,
        codegen and Python-worker start, and gives the check its rows."""
        for name in self.mix:
            run.timed_setup(lambda n=name: run.op(n, "warmup", lambda: self.collect(run, n)))

    def collect(self, run, name: str) -> None:
        df = run.registry[name].fn(run.spark, run.sf_dir)
        self.results[name] = (df.schema, df.collect())

    def check(self, run) -> dict[str, str]:
        bad = {}
        for name in self.mix:
            q = run.registry[name]
            if name in self.results:
                why = oracle_diff(run, name, Collected(*self.results[name]), q.oracle)
                if why:
                    bad[f"{self.snapshot_kind}:{name}"] = why
            why = oracle_diff(run, name, q.fn(run.spark, run.sf_dir), q.oracle)
            if why:
                bad[f"{self.rerun_kind}:{name}"] = why
        return bad


class SqlInteractive(QueryWorkload):
    """Warm steady state over the 22 TPC-H shapes and the wd2sql README
    shapes, shuffled per pass by the seed."""

    name = "sql_interactive"
    mix = TPCH22 + WD2SQL_SHAPES

    def run_pass(self, run) -> None:
        order = list(self.mix)
        run.rng.shuffle(order)
        for name in order:
            self.execute(run, name, "exec")

    def detail(self, run) -> dict:
        lat = run.latencies()
        n = len(lat)
        return {
            "sql_p50_s": (percentile(lat, 50), "s"),
            "sql_p90_s": (percentile(lat, 90), "s"),
            "sql_samples_beyond_p90": (n - -(-n * 90 // 100), "count"),
            "sql_qps": (n / run.timed_wall if run.timed_wall else 0.0, "1/s"),
        }

    def layers(self, run) -> dict:
        return query_layer_metrics(run)


class LlmBatch(QueryWorkload):
    """Build-inclusive index-heavy LLM queries: every pass clears the
    session caches, then runs each query once (build) and once more
    (probe), in seeded order."""

    name = "llm_batch"
    mix = LLM_QUERIES
    snapshot_kind, rerun_kind = "build", "probe"

    def __init__(self) -> None:
        super().__init__()
        self.cached: list[int] = []

    def warmup(self, run) -> None:
        from wd2sql_spark import session_cache

        run.timed_setup(session_cache.clear_all_session_caches)
        super().warmup(run)

    def run_pass(self, run) -> None:
        from wd2sql_spark import session_cache

        session_cache.clear_all_session_caches()
        for kind in ("build", "probe"):
            order = list(self.mix)
            run.rng.shuffle(order)
            t0 = time.perf_counter()
            for name in order:
                self.execute(run, name, kind)
            run.sample(f"{kind}_pass", time.perf_counter() - t0)
            if run.traced:
                self.cached.append(session_cache.cached_relation_count(run.spark))

    def detail(self, run) -> dict:
        return {
            "llm_build_s": (median(run.samples["build_pass"]), "s"),
            "llm_probe_s": (median(run.samples["probe_pass"]), "s"),
        }

    def layers(self, run) -> dict:
        out = query_layer_metrics(run)
        out["session_cache.cached_relations"] = max(self.cached, default=0)
        return out


class Ingest:
    """The write path, each job once per pass: dump → ``wd2spark`` store →
    SQLite export; ``curate``; the admission loop; a CDC upsert stream."""

    name = "ingest"
    ENTITIES = 12_000
    SHARDS = 8
    STREAM_FILES = 6
    CURATE_SHARDS = 4
    # warm-up inputs: the same jobs and plans over a small slice
    WARM_ENTITIES = 2_000
    WARM_DOCS = 100
    WARM_EVENTS = 1_000
    # The first admission drop creates the LSH store and every later one
    # probes and appends to it, so two drops warm every path of the loop.
    WARM_DROPS = 2

    def __init__(self) -> None:
        self.outputs: dict[str, str] = {}
        self.manifests: list[dict] = []
        self.admitted: list[tuple[int, int]] = []
        self.progress: list[dict] = []
        self.cdc_start: list[float] = []
        self.sqlite_counts: dict[str, int] = {}
        self.sizes: dict[str, float] = {}

    # -- inputs --------------------------------------------------------------
    def prepare(self, run) -> dict:
        counts = gen.write_tables(run.sf_dir)
        docs = os.path.join(run.sf_dir, "documents.parquet")
        events = os.path.join(run.sf_dir, "events.parquet")
        self.main = self._inputs(run, "main", self.ENTITIES, docs, events, self.STREAM_FILES)
        warm = os.path.join(run.work, "warm")
        os.makedirs(warm)
        for name, rows in (("documents", self.WARM_DOCS), ("events", self.WARM_EVENTS)):
            src = os.path.join(run.sf_dir, f"{name}.parquet")
            pq.write_table(pq.read_table(src).slice(0, rows), os.path.join(warm, f"{name}.parquet"))
        self.warm = self._inputs(
            run, "warm", self.WARM_ENTITIES, os.path.join(warm, "documents.parquet"),
            os.path.join(warm, "events.parquet"), 2,
        )
        self.n_docs = counts["documents"]
        self.expected = expected_etl_counts(self.ENTITIES, self.SHARDS)
        return {
            "table_rows": counts,
            "dump_mb": self.main["dump_bytes"] / 1e6,
            "dump_entities": self.ENTITIES,
            "dump_shards": self.SHARDS,
            "stream_files": self.STREAM_FILES,
            "stream_rows": self.main["events"],
        }

    def _inputs(self, run, tag, entities, docs, events, n_files) -> dict:
        """A seeded dump and events split, plus the documents to curate."""
        from wd2sql_spark.etl import synthdump

        dump = os.path.join(run.work, tag, "dump")
        synthdump.write_dump(dump, n=entities, shards=self.SHARDS)
        stream = os.path.join(run.work, tag, "events-stream")
        per_file = gen.split_events(events, stream, run.seed, n_files)
        return {
            "dump": dump,
            "dump_bytes": gen.shuffle_dump(dump, run.seed, self.SHARDS),
            "docs": docs,
            "stream": stream,
            "events": sum(per_file),
        }

    # -- one pass ------------------------------------------------------------
    def warmup(self, run) -> None:
        """One untimed pass over the small inputs pays JIT, codegen and
        Python-worker start; what it produced is not checked."""
        run.timed_setup(lambda: self._pass(run, self.warm, "warmup"))
        self.manifests.clear()
        self.progress.clear()
        self.cdc_start.clear()

    def run_pass(self, run) -> None:
        self._pass(run, self.main, f"pass-{run.passes}")

    def _pass(self, run, inp: dict, tag: str) -> None:
        from pyspark.sql import functions as F

        from wd2sql_spark.curate import curate
        from wd2sql_spark.etl.pipeline import read_table, wd2spark
        from wd2sql_spark.queries.llm_dedup import ADMIT_DROPS, ADMIT_T
        from wd2sql_spark.queries.llm_sampling import md5_bucket
        from wd2sql_spark.sinks.sqlite import TABLE_DDL, export_sqlite
        from wd2sql_spark.streaming.admission import admit_batch
        from wd2sql_spark.streaming.cdc_sink import upsert_sink

        spark = run.spark
        root = os.path.join(run.work, tag)
        out = {k: os.path.join(root, k) for k in ("store", "curated", "lsh", "state", "ckpt")}
        out["db"] = os.path.join(root, "db.sqlite")
        os.makedirs(root)
        self.outputs = out

        def etl():
            with run.tracer.span("etl.wd2spark"):
                wd2spark(spark, inp["dump"], out["store"], layout="store")

        def sqlite_export():
            with run.tracer.span("sinks.sqlite.export"):
                views = {n: read_table(spark, out["store"], n) for n in TABLE_DDL}
                self.sqlite_counts = export_sqlite(views, out["db"])

        def curate_docs():
            with run.tracer.span("curate"):
                self.manifests.append(
                    curate(
                        spark,
                        inp["docs"],
                        out["curated"],
                        n_shards=self.CURATE_SHARDS,
                    )
                )

        def admission():
            docs = spark.read.parquet(inp["docs"]).select("doc_id", "text")
            admitted = []
            for b in range(self.WARM_DROPS if tag == "warmup" else ADMIT_DROPS):
                with run.tracer.span("streaming.admit_drop"):
                    drop = docs.filter(md5_bucket(F.col("doc_id"), ADMIT_DROPS) == b)
                    admitted += [
                        (d, b) for d in admit_batch(drop, out["lsh"], min_est_jaccard=ADMIT_T)
                    ]
            self.admitted = admitted

        def cdc():
            schema = spark.read.parquet(inp["stream"]).schema
            with run.tracer.span("streaming.cdc") as span:
                t0 = time.time()
                q = (
                    spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", "1")
                    .parquet(inp["stream"])
                    .writeStream.foreachBatch(upsert_sink(out["state"]))
                    .option("checkpointLocation", out["ckpt"])
                    .trigger(availableNow=True)
                    .queryName(f"perfbench_cdc_{uuid.uuid4().hex[:8]}")
                    .start()
                )
                run.tracer.add_group_alias(str(q.runId), span)
                run.tracer.add_group_alias(str(q.id), span)
                try:
                    q.awaitTermination()
                finally:
                    q.stop()
            progress = q.recentProgress
            self.progress.extend(progress)
            if progress:
                first = progress[0]["timestamp"]
                self.cdc_start.append(_iso_epoch(first) - t0)

        run.op("etl", "etl", etl)
        run.op("sqlite", "sqlite", sqlite_export)
        run.op("curate", "curate", curate_docs)
        run.op("admit", "admit", admission)
        run.op("cdc", "cdc", cdc)

    # -- checks --------------------------------------------------------------
    def check(self, run) -> dict[str, str]:
        from wd2sql_spark.etl.pipeline import (
            parse_entities,
            read_dump,
            read_table,
            unified_rows,
        )
        from wd2sql_spark.plans.audit import plan_report
        from wd2sql_spark.streaming.cdc_sink import batch_partials, read_state

        spark, out, bad = run.spark, self.outputs, {}
        store = {n: read_table(spark, out["store"], n).count() for n in self.expected}
        self.store_counts = store
        if store != self.expected:
            bad["etl"] = f"store rows {store} != template rows {self.expected}"
        self.etl_shuffles = plan_report(
            unified_rows(parse_entities(read_dump(spark, self.main["dump"])))
        ).shuffles
        if self.etl_shuffles:
            bad["etl"] = f"ETL plan has {self.etl_shuffles} shuffles"
        with closing(sqlite3.connect(out["db"])) as con:
            lite = {
                n: con.execute(f'SELECT COUNT(*) FROM "{n}"').fetchone()[0]
                for n in self.sqlite_counts
            }
        if any(lite[n] != store.get(n) for n in lite) or lite != self.sqlite_counts:
            bad["sqlite"] = f"sqlite rows {lite} != store rows {store}"
        why = self.check_curate(run)
        if why:
            bad["curate"] = why
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType([StructField(c, LongType()) for c in ("doc_id", "drop_id")])
        admitted = Collected(schema, self.admitted)
        why = oracle_diff(
            run, "admit", admitted, run.registry["dedup_admission_evolution"].oracle
        )
        if why:
            bad["admit"] = f"admitted set vs dedup_admission_evolution oracle: {why}"
        events = spark.read.parquet(os.path.join(run.sf_dir, "events.parquet"))
        state = read_state(spark, out["state"])
        got = sorted(tuple(r) for r in state.collect())
        want = sorted(tuple(r) for r in batch_partials(events).select(*state.columns).collect())
        if got != want:
            bad["cdc"] = "CDC state differs from batch_partials over all events"
        return bad

    def check_curate(self, run) -> str | None:
        """The last pass's written corpus, counted per (lang, split), against
        the DuckDB oracle of ``curation_pipeline_decontam`` (the same
        pipeline as a query); every pass's manifest against that corpus."""
        from pyspark.sql import functions as F

        corpus = run.spark.read.parquet(os.path.join(self.outputs["curated"], "corpus"))
        acct = corpus.groupBy("lang", "split").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
        )
        why = oracle_diff(
            run, "curate", acct, run.registry["curation_pipeline_decontam"].oracle
        )
        if why:
            return f"curated corpus vs curation_pipeline_decontam oracle: {why}"
        per_split = {r["split"]: (r["n"], r["t"]) for r in acct.groupBy("split").agg(
            F.sum("n_docs").alias("n"), F.sum("n_tokens").alias("t")
        ).collect()}
        errors = [e for m in self.manifests for e in manifest_errors(m, per_split)]
        if any(m["stages"] != self.manifests[0]["stages"] for m in self.manifests):
            errors.append("curate manifest differs between passes")
        return "; ".join(errors) or None

    # -- metrics -------------------------------------------------------------
    def measure_outputs(self, run) -> None:
        """Sizes of the last pass's outputs, taken before the checks."""
        self.sizes = {
            "store_bytes": du(self.outputs["store"]),
            "db_bytes": du(self.outputs["db"]),
            "lsh_bytes": du(self.outputs["lsh"]),
            "state_bytes": _newest_generation_bytes(self.outputs["state"]),
        }

    def detail(self, run) -> dict:
        w = {k: median(run.op_walls(k)) for k in ("etl", "sqlite", "curate", "admit", "cdc")}
        trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in self.progress]
        rows = sum(self.sqlite_counts.values())
        return {
            "etl_mb_per_s": (self.main["dump_bytes"] / 1e6 / w["etl"], "MB/s"),
            "store_bytes_per_dump_byte": (
                self.sizes["store_bytes"] / self.main["dump_bytes"],
                "ratio",
            ),
            "sqlite_rows_per_s": (rows / w["sqlite"], "rows/s"),
            "curate_docs_per_s": (self.n_docs / w["curate"], "docs/s"),
            "admit_rows_per_s": (self.n_docs / w["admit"], "rows/s"),
            "cdc_rows_per_s": (self.main["events"] / w["cdc"], "rows/s"),
            "cdc_batch_p50_s": (median(trig), "s"),
        }

    def layers(self, run) -> dict:
        n = max(run.passes, 1)
        spans, stats = run.timed_spans(), run.span_stats
        etl = layer_totals(spans, stats, {"etl.wd2spark"})
        lite = layer_totals(spans, stats, {"sinks.sqlite.export"})
        cur = layer_totals(spans, stats, {"curate"})
        adm = layer_totals(spans, stats, {"streaming.admit_drop"})
        dur = {
            k: median([p["durationMs"].get(k, 0) / 1e3 for p in self.progress])
            for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit")
        }
        parse_s = run.samples.get("etl.parse_s", [0.0])[0]
        stages = self.manifests[-1]["stages"] if self.manifests else {}
        final = stages.get("final", {})
        return {
            "etl.wd2spark_s": etl.wall_s / n,
            "etl.parse_s": parse_s,
            "etl.jobs": etl.stats.jobs / n,
            "etl.tasks_per_stage": etl.tasks_per_stage,
            "etl.sched_wait_s": etl.sched_wait_s / n,
            "etl.executor_cpu_s": etl.stats.cpu_s / n,
            "etl.gc_s": etl.stats.gc_s / n,
            "etl.rows_out": sum(v for k, v in self.store_counts.items() if k != "quarantine"),
            "etl.quarantine_rows": self.store_counts.get("quarantine", 0),
            "plans.etl_shuffles": self.etl_shuffles,
            "sinks.store_write_s": etl.wall_s / n - parse_s,
            "sinks.store_bytes": self.sizes["store_bytes"],
            "sinks.sqlite.export_s": lite.wall_s / n,
            "sinks.sqlite.jobs": lite.stats.jobs / n,
            "sinks.sqlite.rows": sum(self.sqlite_counts.values()),
            "sinks.sqlite.db_bytes": self.sizes["db_bytes"],
            "sinks.lsh_store.bytes": self.sizes["lsh_bytes"],
            "curate.s": cur.wall_s / n,
            "curate.jobs": cur.stats.jobs / n,
            "curate.shuffle_write_bytes": cur.stats.shuffle_write_bytes / n,
            "curate.docs_in": self.n_docs,
            "curate.docs_kept": stages.get("quality_kept", {}).get("n_docs", 0),
            "curate.docs_final": final.get("n_train", 0) + final.get("n_eval", 0),
            "streaming.admit_drop_s": adm.wall_s / max(adm.spans, 1),
            "streaming.admit_jobs": adm.stats.jobs / n,
            "streaming.admitted": len(self.admitted),
            "streaming.cdc_start_s": median(self.cdc_start),
            "streaming.cdc_trigger_s": dur["triggerExecution"],
            "streaming.cdc_add_batch_s": dur["addBatch"],
            "streaming.cdc_planning_s": dur["queryPlanning"],
            "streaming.cdc_wal_commit_s": dur["walCommit"],
            "streaming.cdc_batches": len(self.progress) / n,
            "streaming.cdc_state_bytes": self.sizes["state_bytes"],
        }

    def trace_extra(self, run) -> None:
        """Traced runs only: the parse half of the ETL on its own, forced to
        the noop sink, so the store write's share can be split off."""
        from wd2sql_spark.etl.pipeline import parse_entities, read_dump, unified_rows

        with run.tracer.span("etl.parse") as s:
            force(unified_rows(parse_entities(read_dump(run.spark, self.main["dump"]))))
        run.sample("etl.parse_s", s.wall)


def expected_etl_counts(n: int, shards: int) -> dict[str, int]:
    """Rows per output table that ``synthdump.write_dump(n, shards)``'s
    templates imply: one ``meta`` row per well-formed entity, one claim row
    in the template's table (none for a deprecated claim), one
    ``quarantine`` row per malformed line."""
    from wd2sql_spark.etl.pipeline import _FINAL_COLS
    from wd2sql_spark.etl.synthdump import CORRUPT_EVERY, TEMPLATE_TABLE

    counts = dict.fromkeys(_FINAL_COLS, 0)
    for i in range((n // shards) * shards):
        if i % CORRUPT_EVERY == 0:
            counts["quarantine"] += 1
            continue
        counts["meta"] += 1
        table = TEMPLATE_TABLE[i % 10]
        if table is not None:
            counts[table] += 1
    return counts


def manifest_errors(manifest: dict, per_split: dict[str, tuple[int, int]]) -> list[str]:
    """How a ``curate`` manifest disagrees with its corpus, given as split ->
    (docs, tokens): the final counters must equal the corpus's, and every
    stage may only remove documents."""
    st = manifest["stages"]
    fin = st["final"]
    errors = [
        f"manifest {split} counters {got} != corpus {per_split.get(split, (0, 0))}"
        for split, got in (
            ("train", (fin["n_train"], fin["train_tokens"])),
            ("eval", (fin["n_eval"], fin["eval_tokens"])),
        )
        if got != per_split.get(split, (0, 0))
    ]
    kept, clean = st["quality_kept"]["n_docs"], st["decontaminated"]["n_docs"]
    if not kept >= clean >= fin["n_train"] + fin["n_eval"]:
        errors.append(f"manifest stage counts grow: {kept}, {clean}, {fin}")
    return errors


def _iso_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _newest_generation_bytes(state_dir: str) -> int:
    from wd2sql_spark.streaming.cdc_sink import _generations

    gens = _generations(state_dir)
    return du(os.path.join(state_dir, f"v={gens[-1]}")) if gens else 0


WORKLOADS = {w.name: w for w in (SqlInteractive, LlmBatch, Ingest)}
