"""The benchmark's workloads: each is a closed loop with one client.

A workload prepares its inputs (excluded from every timing), sets the
program up (part of ``setup_s``), runs passes of operations, and checks
every output afterwards, outside the timed region.
"""

from __future__ import annotations

import dataclasses
import os
import time
from concurrent.futures import ThreadPoolExecutor

import gen
from measure import dir_usage


ANALYST_MIX = [
    "spend_trend_monthly", "top_categories", "spend_by_tier", "customer_rfm",
    "spending_habits", "fact_spending", "q1_pricing_summary",
    "q3_shipping_priority", "q5_local_volume", "q18_large_volume_customers",
    "top_orders_per_customer", "events_sessionize", "events_windowed",
]
ETL_CHARTS = ["spend_trend_monthly", "top_categories", "spend_by_tier"]
# Four of the thirteen corpus queries, so that the 48 runs of a full
# benchmark fit its time budget on a shared 4-vCPU host.
# semantic_dedup_clusters stands in for semantic_dedup and
# dedup_clusters: it trains the kmeans codebook, pairs within blocks
# (operators.ann), verifies with the package's Arrow (Python) kernel and
# runs connected components.  Left out, with where their layers still
# run: dedup_simhash, dedup_edit_distance, dedup_minhash_lsh and
# dedup_ngram_jaccard_pruned (operators.dedup runs in dedup_exact, the
# MinHash candidate -> verify self-join in media_frame_lsh_dedup),
# dedup_clusters, embedding_dedup, kmeans_clusters and ann_ivf_pq_topk
# (in semantic_dedup_clusters), doc_quality (a scan and aggregate, as in
# vocab_growth).
CORPUS_MIX = [
    "dedup_exact", "semantic_dedup_clusters", "media_frame_lsh_dedup", "vocab_growth",
]
STREAM_JOBS = [
    "stream_fact_into", "cdc_apply_stream", "stream_scd2_dim_maintenance",
    "maintain_trending_counts", "maintain_band_index", "dedup_stream",
]
WAREHOUSE_TABLES = [
    "dim_customer", "dim_account", "dim_location", "dim_merchant",
    "dim_date", "dim_date_daily", "fact_spending",
]
N_DROPS = 1  # one drop keeps a run near 50 s; the sinks grow from set-up state
WARM_PASS = 10**6  # permutation index of the warm-up copy


@dataclasses.dataclass
class Op:
    name: str
    latency_s: float
    exec_s: float
    input_rows: int
    pass_idx: int
    error: str | None = None
    output: object = None  # what the check compares, kept until checked
    sf_dir: str = ""


@dataclasses.dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


class Context:
    def __init__(self, spark, tracer, work: str, seed: int):
        import __spark_entry__

        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.ops: list[Op] = []
        self.checks: list[Check] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def query(self, name: str, sf_dir: str, pass_idx: int) -> Op:
        """Build + collect one query; clear the cache after it."""
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span(f"op:{name}"):
                with tr.span(f"plans.build:{name}"):
                    df = self.queries[name](self.spark, sf_dir)
                t1 = time.perf_counter()
                with tr.span(f"plans.exec:{name}") as idx:
                    rows = df.collect()
            t2 = time.perf_counter()
        except Exception as ex:  # an op failure is a measured outcome
            self.spark.catalog.clearCache()
            return self.add(Op(name, time.perf_counter() - t0, 0.0, 0, pass_idx,
                                error=f"{type(ex).__name__}: {ex}"[:300]))
        if tr.enabled:
            tr.note(idx, result_rows=len(rows))
            tr.keep_plan(idx, df)
        op = Op(name, t2 - t0, t2 - t1, _input_rows(df.inputFiles(), sf_dir),
                pass_idx, output=(df.columns, rows), sf_dir=sf_dir)
        self.spark.catalog.clearCache()
        return self.add(op)

    def add(self, op: Op) -> Op:
        self.ops.append(op)
        return op


def _input_rows(files: list[str], sf_dir: str) -> int:
    names = {os.path.basename(f.rstrip("/")).removesuffix(".parquet") for f in files
             if sf_dir.rstrip("/") in f}
    return sum(gen.SIZES.get(n, 0) for n in names)


# -- output checks (outside timing) ---------------------------------------
def _duck(sf_dir: str):
    import duckdb

    from bank_transaction_data_warehouse_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _same(cols_a, rows_a, cols_b, rows_b) -> str:
    """'' if equal as crosscheck.py compares them, else why not."""
    from crosscheck import table_sig

    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"rows {len(rows_a)} vs {len(rows_b)}"
    if table_sig(list(cols_a), [tuple(r) for r in rows_a]) != table_sig(
        list(cols_b), [tuple(r) for r in rows_b]
    ):
        return "value-hash mismatch"
    return ""


def check_queries(ctx: Context) -> None:
    """Each query op's rows against its DuckDB oracle on the same input."""
    cons = {}
    for op in ctx.ops:
        if op.error or not isinstance(op.output, tuple) or op.name not in ctx.oracles:
            continue
        con = cons.get(op.sf_dir) or cons.setdefault(op.sf_dir, _duck(op.sf_dir))
        rel = con.sql(ctx.oracles[op.name])
        why = _same(op.output[0], op.output[1], rel.columns, rel.fetchall())
        if why:
            op.error = f"output check: {why}"
        op.output = None
    for con in cons.values():
        con.close()


def check_warehouse(ctx: Context, op: Op, out_dir: str) -> None:
    """build_warehouse's written tables against the matching queries'
    DuckDB oracles."""
    con = _duck(op.sf_dir)
    for t in WAREHOUSE_TABLES:
        got = con.sql(
            f"SELECT * FROM read_parquet('{out_dir}/{t}/**/*.parquet', hive_partitioning=false)"
        )
        want = con.sql(ctx.oracles[t])
        why = _same(got.columns, got.fetchall(), want.columns, want.fetchall())
        if why:
            op.error = f"output check {t}: {why}"
            break
    con.close()


# -- workloads -------------------------------------------------------------
IO_METRICS = (
    "written_bytes", "plans.materialize.bytes_written", "plans.materialize.files_written",
    "plans.incremental.bytes_written", "plans.incremental.files_written",
    "streaming.checkpoint_bytes", "streaming.files_written",
)


class Workload:
    name = ""
    repeatable = True  # may the timed loop run a second pass
    warmup = "q1_pricing_summary"  # bench.py's warm-up query

    def __init__(self, content: dict):
        self.content = content
        self.input_sizes: dict[str, tuple[int, int]] = {}

    def prepare(self, work: str, seed: int) -> None:
        """Write the first pass's inputs to ``in-0`` and a differently
        permuted copy to ``warm`` for the warm-up query, so the warm-up
        leaves no memo behind for the pass."""
        self.input_sizes = gen.write_inputs(self.content, os.path.join(work, "in-0"), seed, 0)
        gen.write_inputs(self.content, os.path.join(work, "warm"), seed, WARM_PASS)

    def setup(self, ctx: Context) -> None:
        """The warm-up: one query on its own copy of the inputs."""
        with ctx.tracer.span("setup:warmup"):
            ctx.queries[self.warmup](ctx.spark, ctx.path("warm")).write.format("noop") \
                .mode("overwrite").save()
        ctx.spark.catalog.clearCache()

    def prepare_pass(self, ctx: Context, pass_idx: int) -> None:
        """Every later pass reads a fresh, differently permuted copy."""
        if pass_idx:
            gen.write_inputs(self.content, ctx.path(f"in-{pass_idx}"), ctx.seed, pass_idx)

    def run_pass(self, ctx: Context, pass_idx: int) -> None:
        raise NotImplementedError

    def check(self, ctx: Context) -> None:
        check_queries(ctx)

    def io(self, ctx: Context) -> dict[str, float]:
        """Bytes and files the program wrote, by layer."""
        return dict.fromkeys(IO_METRICS, 0.0)


class AnalystMix(Workload):
    """Warm read-only dashboard and OLAP queries on one input directory:
    plan build plus job count, no writes, no cold key collects."""

    name = "analyst_mix"

    def prepare_pass(self, ctx: Context, pass_idx: int) -> None:
        pass  # every pass reads the warm in-0

    def setup(self, ctx: Context) -> None:
        super().setup(ctx)
        # warm the sf_dir-keyed memos (frames, row counts, key stats)
        for q in ANALYST_MIX:
            ctx.queries[q](ctx.spark, ctx.path("in-0"))

    def run_pass(self, ctx: Context, pass_idx: int) -> None:
        for q in ANALYST_MIX:
            ctx.query(q, ctx.path("in-0"), pass_idx)


class CorpusCuration(Workload):
    """Dedup, clustering, ANN and text queries on a fresh corpus snapshot
    per pass: self-join expansions, kmeans/IVF/PQ, components, UDFs."""

    name = "corpus_curation"
    warmup = "dedup_exact"  # the cheapest of the mix that reads, shuffles and aggregates

    def run_pass(self, ctx: Context, pass_idx: int) -> None:
        for q in CORPUS_MIX:
            ctx.query(q, ctx.path(f"in-{pass_idx}"), pass_idx)


class EtlNightly(Workload):
    """The nightly build_warehouse (7 validated parquet tables) plus the
    3 dashboard charts, on new input each pass: cold memos, key
    collects, writes."""

    name = "etl_nightly"

    def run_pass(self, ctx: Context, pass_idx: int) -> None:
        from bank_transaction_data_warehouse_spark.plans import materialize

        sf_dir, out = ctx.path(f"in-{pass_idx}"), ctx.path(f"wh-{pass_idx}")
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("op:build_warehouse"):
                materialize.build_warehouse(ctx.spark, sf_dir, out)
            op = Op("build_warehouse", time.perf_counter() - t0, 0.0, 0, pass_idx,
                    output=out, sf_dir=sf_dir)
            op.exec_s = op.latency_s  # its writes are its actions
            op.input_rows = sum(gen.SIZES[t] for t in
                                ("region", "nation", "customer", "orders", "part", "lineitem"))
        except Exception as ex:
            op = Op("build_warehouse", time.perf_counter() - t0, 0.0, 0, pass_idx,
                    error=f"{type(ex).__name__}: {ex}"[:300])
        ctx.add(op)
        for q in ETL_CHARTS:
            ctx.query(q, sf_dir, pass_idx)

    def check(self, ctx: Context) -> None:
        for op in ctx.ops:
            if op.name == "build_warehouse" and not op.error:
                check_warehouse(ctx, op, op.output)
                op.output = None
        check_queries(ctx)

    def io(self, ctx: Context) -> dict[str, float]:
        out = super().io(ctx)
        for d in os.listdir(ctx.work):
            if d.startswith("wh-"):
                b, n = dir_usage(ctx.path(d))
                out["plans.materialize.bytes_written"] += b
                out["plans.materialize.files_written"] += n
        out["written_bytes"] = out["plans.materialize.bytes_written"]
        return out


class StreamIngest(Workload):
    """Drops land one at a time; after each, every job drains once
    (availableNow) and the trending top-k is read.  The next drop lands
    only after every job has committed.  One pass is the whole drop
    sequence, so state, sinks and checkpoints grow across it."""

    name = "stream_ingest"
    repeatable = False

    def prepare(self, work: str, seed: int) -> None:
        static, self.drops = gen.drops(self.content, seed, N_DROPS)
        self.input_sizes = gen.write_inputs(static, os.path.join(work, "in-0"), seed, 0)
        self.stage = os.path.join(work, "stage")
        for i, drop in enumerate(self.drops):
            for name, tbl in drop.items():
                os.makedirs(os.path.join(self.stage, name), exist_ok=True)
                gen.write_table(_stream_types(name, tbl),
                                os.path.join(self.stage, name, f"drop-{i}.parquet"))
        for name in self.drops[0]:
            rows = sum(dr[name].num_rows for dr in self.drops)
            size = sum(os.path.getsize(os.path.join(self.stage, name, f"drop-{i}.parquet"))
                       for i in range(N_DROPS))
            self.input_sizes[f"drops.{name}"] = (rows, size)

    def setup(self, ctx: Context) -> None:
        """The base warehouse and the initial CDC and SCD2 state.  The
        cold build_warehouse also warms the JVM, so this workload runs
        no separate warm-up query (~5 s of a run's time budget)."""
        from pyspark.sql import functions as F

        from bank_transaction_data_warehouse_spark.operators.scd import scd2_init
        from bank_transaction_data_warehouse_spark.plans import materialize
        from bank_transaction_data_warehouse_spark.sources.tables import load_table

        spark, sf_dir = ctx.spark, ctx.path("in-0")
        with ctx.tracer.span("setup:build_warehouse"):
            materialize.build_warehouse(spark, sf_dir, ctx.path("wh"))
        cust = load_table(spark, sf_dir, "customer")
        cust.select(F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal")) \
            .write.parquet(ctx.path("state", "cdc", "v=0"))
        scd2_init(cust.select("c_custkey", "c_mktsegment", "c_acctbal"), "2024-01-01") \
            .write.parquet(ctx.path("state", "scd2", "v=0"))
        for name in self.drops[0]:
            os.makedirs(ctx.path("src", name), exist_ok=True)
        self.lineitem_schema = load_table(spark, sf_dir, "lineitem").schema
        self.base = {d: dir_usage(ctx.path(d)) for d in ("wh", "state")}

    def _start(self, ctx: Context, job: str):
        from bank_transaction_data_warehouse_spark.plans import incremental
        from bank_transaction_data_warehouse_spark.streaming import jobs as J

        spark, src, cp = ctx.spark, ctx.path("src"), ctx.path("checkpoints", job)
        if job == "stream_fact_into":
            txn = spark.readStream.schema(self.lineitem_schema).parquet(os.path.join(src, "lineitem"))
            return incremental.stream_fact_into(
                txn, ctx.path("wh"), ctx.path("wh", "fact_spending"), cp)
        if job == "cdc_apply_stream":
            ev = spark.readStream.schema("k long, seq long, op string, bal double") \
                .parquet(os.path.join(src, "cdc"))
            return J.cdc_apply_stream(ev, ctx.path("state", "cdc"), cp, key="k",
                                      seq_col="seq", op_col="op", upsert_cols=["bal"])
        if job == "stream_scd2_dim_maintenance":
            snaps = spark.readStream.schema(
                "c_custkey long, c_mktsegment string, c_acctbal double, snap_date string"
            ).parquet(os.path.join(src, "snapshots"))
            return J.stream_scd2_dim_maintenance(
                snaps, ctx.path("state", "scd2"), cp, natural_key="c_custkey",
                tracked_cols=["c_mktsegment", "c_acctbal"], date_col="snap_date")
        if job == "maintain_trending_counts":
            return J.maintain_trending_counts(
                J.read_event_stream(spark, os.path.join(src, "events")),
                ctx.path("sinks", "trending"), cp)
        if job == "maintain_band_index":
            return J.maintain_band_index(
                J.read_doc_stream(spark, os.path.join(src, "documents")),
                ctx.path("sinks", "band_index"), cp)
        if job == "dedup_stream":
            plan = J.dedup_stream(J.read_event_stream(spark, os.path.join(src, "events")))
            return (plan.writeStream.format("parquet").outputMode("append")
                    .option("path", ctx.path("sinks", "dedup"))
                    .option("checkpointLocation", cp)
                    .trigger(availableNow=True).start())
        raise KeyError(job)

    def run_pass(self, ctx: Context, pass_idx: int) -> None:
        from bank_transaction_data_warehouse_spark.streaming import jobs as J

        tr = ctx.tracer
        for i in range(N_DROPS):
            rows = 0
            for name in self.drops[i]:  # land: atomic renames
                os.rename(os.path.join(self.stage, name, f"drop-{i}.parquet"),
                          ctx.path("src", name, f"drop-{i}.parquet"))
                rows += self.drops[i][name].num_rows
            t0 = time.perf_counter()
            exec_s, error = 0.0, None
            try:
                with tr.span(f"op:drop-{i}"):
                    for job in STREAM_JOBS:
                        d0 = time.perf_counter()
                        with tr.span(f"streaming.drain:{job}"):
                            q = self._start(ctx, job)
                            q.awaitTermination()
                        exec_s += time.perf_counter() - d0
                        if q.exception() is not None:
                            raise RuntimeError(f"{job}: {q.exception()}")
                        if tr.enabled:
                            tr.keep_progress(job, q)
                    d0 = time.perf_counter()
                    with tr.span("plans.exec:read_trending_topk") as idx:
                        df = J.read_trending_topk(ctx.spark, ctx.path("sinks", "trending"))
                        top = df.collect()
                    exec_s += time.perf_counter() - d0
                    if tr.enabled:
                        tr.note(idx, result_rows=len(top))
                        tr.keep_plan(idx, df)
            except Exception as ex:
                error = f"{type(ex).__name__}: {ex}"[:300]
            ctx.add(Op(f"drop-{i}", time.perf_counter() - t0, exec_s, rows, pass_idx,
                        error=error))

    def check(self, ctx: Context) -> None:
        """Every sink against its batch twin over the same rows: the fact
        sink and the trending read against their DuckDB oracles on the
        full content (events = the landed drops), the rest against the
        batch operator over the landed drop files."""
        import pyarrow as pa
        from pyspark.sql import functions as F

        from bank_transaction_data_warehouse_spark.operators.cdc import cdc_apply
        from bank_transaction_data_warehouse_spark.operators.dedup import minhash_band_keys
        from bank_transaction_data_warehouse_spark.operators.scd import scd2_init, scd2_merge
        from bank_transaction_data_warehouse_spark.streaming.jobs import (
            read_scd2_state,
            read_trending_topk,
        )

        spark, src = ctx.spark, ctx.path("src")
        twin_dir = ctx.path("twin")
        gen.write_inputs(self.content, twin_dir, ctx.seed, 0)
        gen.write_table(pa.concat_tables([d["events"] for d in self.drops]),
                        os.path.join(twin_dir, "events.parquet"))
        con = _duck(twin_dir)

        def duck_rows(sql: str):
            rel = con.cursor().sql(sql)  # a cursor per thread
            return rel.columns, rel.fetchall()

        def oracle(name: str):
            return duck_rows(ctx.oracles[name])

        def spark_rows(df):
            return df.columns, df.collect()

        def read(*parts: str):
            return spark.read.parquet(os.path.join(*parts))

        cust = read(ctx.path("in-0"), "customer.parquet")
        cdc_base = cust.select(F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal"))
        scd = scd2_init(cust.select("c_custkey", "c_mktsegment", "c_acctbal"), "2024-01-01")
        snaps = read(src, "snapshots")
        for d in sorted(r[0] for r in snaps.select("snap_date").distinct().collect()):
            scd = scd2_merge(scd, snaps.where(F.col("snap_date") == d).drop("snap_date"),
                             "c_custkey", ["c_mktsegment", "c_acctbal"], d)
        bands = minhash_band_keys(read(src, "documents"))
        pairs = {
            "stream_fact_into": (  # files hold no ym: it is the partition column
                lambda: duck_rows(f"SELECT * FROM read_parquet('{ctx.path('wh', 'fact_spending')}"
                                  "/**/*.parquet', hive_partitioning=false)"),
                lambda: oracle("fact_spending")),
            "cdc_apply_stream": (
                lambda: spark_rows(read_scd2_state(spark, ctx.path("state", "cdc"))),
                lambda: spark_rows(cdc_apply(cdc_base, read(src, "cdc"), "k", "seq", "op", ["bal"]))),
            "stream_scd2_dim_maintenance": (
                lambda: spark_rows(read_scd2_state(spark, ctx.path("state", "scd2"))),
                lambda: spark_rows(scd)),
            "maintain_trending_counts": (
                lambda: spark_rows(read_trending_topk(spark, ctx.path("sinks", "trending"))),
                lambda: oracle("trending_topk")),
            "maintain_band_index": (
                lambda: spark_rows(read(ctx.path("sinks", "band_index")).select(*bands.columns)),
                lambda: spark_rows(bands)),
            "dedup_stream": (
                lambda: spark_rows(read(ctx.path("sinks", "dedup"))),
                lambda: spark_rows(read(src, "events").dropDuplicates(["event_id"]))),
        }
        def compare(job: str) -> Check:
            got, want = pairs[job]
            try:
                why = _same(*got(), *want())
            except Exception as ex:
                why = f"{type(ex).__name__}: {ex}"[:300]
            return Check(f"sink:{job}", not why, why)

        # concurrent Spark jobs: the checks are outside every timed region
        with ThreadPoolExecutor(len(pairs)) as pool:
            ctx.checks.extend(pool.map(compare, pairs))
        con.close()

    def io(self, ctx: Context) -> dict[str, float]:
        """Growth over the set-up state: the fact sink, CDC/SCD2 state
        versions, sinks and checkpoints."""
        out = super().io(ctx)
        now = {d: dir_usage(ctx.path(d)) for d in ("wh", "state", "sinks", "checkpoints")}
        grown = {d: (b - self.base.get(d, (0, 0))[0], n - self.base.get(d, (0, 0))[1])
                 for d, (b, n) in now.items()}
        out["plans.materialize.bytes_written"], out["plans.materialize.files_written"] = self.base["wh"]
        out["plans.incremental.bytes_written"], out["plans.incremental.files_written"] = grown["wh"]
        out["streaming.checkpoint_bytes"] = now["checkpoints"][0]
        out["streaming.files_written"] = sum(n for _b, n in grown.values())
        out["written_bytes"] = sum(b for b, _n in grown.values())
        return out


def _stream_types(name: str, tbl):
    """Stream drops carry the program's stream schemas: event time as a
    UTC timestamp (streaming.jobs.EVENT_SCHEMA)."""
    import pyarrow as pa

    if name == "events":
        i = tbl.schema.get_field_index("ts")
        return tbl.set_column(i, "ts", tbl.column("ts").cast(pa.timestamp("us", tz="UTC")))
    return tbl


WORKLOADS = {w.name: w for w in (EtlNightly, AnalystMix, CorpusCuration, StreamIngest)}
