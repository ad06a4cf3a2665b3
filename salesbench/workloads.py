"""The workloads, their output checks and their per-layer readings.

Each workload is driven through the package's public functions only:

- ``backfill_rebuild``: closed loop, one client; an op is a full reload of
  the seeded history into a fresh lake (``plans.pipeline.run_sales_pipeline``
  plus ``sinks.overwrite_dimension`` of ``part`` and ``customer``).
- ``webhook_stream``: one streaming query (``streaming.pipeline.file_stream``
  -> ``sources.json_ingest.parse_and_explode`` -> ``operators.joins.lookup_join``
  -> ``sinks.append_snapshot``, driven by ``streaming.pipeline.run_multi_sink``)
  in two phases: ``replay`` drains a pre-landed backlog under
  Trigger.AvailableNow; ``live`` is an open loop landing one sale per file
  at a fixed rate.
- ``bi_audit``: closed loop, one dashboard client; an op is one query of a
  seeded mix over a lake and an append-segment table built at set-up with
  the package's own sinks: revenue and profit by category over day and
  month ranges, top orders by profit, a rollup through
  ``sinks.read_appended``, and the audits ``plans.reconcile.
  reconciliation_summary``, ``operators.setops.difference`` and
  ``operators.windows.dedup_keep_rule``.

Each checks its outputs against truth taken from the generated inputs.

A workload object owns its state between ``setup`` and ``close``; the
``Tracer`` it is handed decides whether layer spans are recorded.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import threading
import time
import traceback
from collections import Counter
from contextlib import contextmanager, suppress
from dataclasses import dataclass, field
from datetime import timedelta
from statistics import median

import numpy as np
import pyarrow.parquet as pq
from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from z316_sales_data_pipeline_spark import sinks
from z316_sales_data_pipeline_spark.operators import joins, setops, windows
from z316_sales_data_pipeline_spark.plans import pipeline, reconcile, sales_facts
from z316_sales_data_pipeline_spark.session import get_spark
from z316_sales_data_pipeline_spark.sources import json_ingest
from z316_sales_data_pipeline_spark.sources.tables import load_table
from z316_sales_data_pipeline_spark.streaming import pipeline as streaming

import inputs
from tracing import (
    CpuMeter,
    Tracer,
    file_latencies,
    max_backlog,
    percentile,
    source_log_batches,
    tail_percentile,
    without_steal,
)

# Two weeks of a busy shop's sales; day partitions, not rows, dominate
# the rebuild, as they do at larger scales.
SCALE = inputs.Scale(orders=3000, days=14, parts=2000, customers=1500)
# The same shop over a month. More than 32 day partitions would turn every
# query's partition listing into a Spark job of its own.
BI_SCALE = inputs.Scale(orders=3000, days=31, parts=2000, customers=1500)
WARM_UP_REBUILDS = 2
# Ops are counted, not timed, so every run takes the same percentiles of
# the same number of samples: enough to fill --seconds at about one
# rebuild, or one BI round, per this many seconds on a 4-core VM.
REBUILD_SECONDS = 3.5
ROUND_SECONDS = 3.3
WARM_UP_LIVE_FILES = 10
# Webhook retries: share of docs delivered twice. The reference gives no
# re-delivery rate; this is an assumption. Any share above 0 makes the
# exactly-once and keep-rule dedup checks see duplicates.
REDELIVERY_SHARE = 0.05
BACKLOG_DOCS_PER_FILE = 250
# files/s: the reference's replay publishes at most 5 msg/s
# (SLEEP_INTERVAL = 0.2 s in backfill/gcs_to_pupsub.py)
LIVE_RATE = 5.0
LIVE_GRACE_S = 10.0  # how long after the last due file the run waits for commits
TEXT_SCHEMA = T.StructType([T.StructField("value", T.StringType())])


# ---------------------------------------------------------------------------
# Shared helpers
# ---------------------------------------------------------------------------
def noop_count(df: DataFrame) -> int:
    """Materialize ``df`` into the ``noop`` sink; its row count comes from
    an observation on the same job."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


def materialize(tracer: Tracer, name: str, df: DataFrame) -> int:
    """Traced runs only: a ``noop``-sink materialization of a lazy layer's
    output, timed as span ``name``; returns its row count."""
    with tracer.span(name) as sp:
        rows = noop_count(df)
        sp.counts["rows"] = rows
    return rows


FACT_SPANS = {"pedidos": "plans.sales_facts.pedidos_fact", "itens_pedido": "plans.sales_facts.itens_fact"}


@contextmanager
def trace_writes(tracer: Tracer):
    """Traced runs: span every ``sinks.write_partitioned`` call the package
    makes, with a child span materializing the fact it is handed, so the
    write's self time is what sorting and writing files add. The
    package's function is restored on exit."""
    original = sinks.write_partitioned

    def traced(df, path, partition_col, cluster_cols=None, mode="append"):
        with tracer.span("sinks.write_partitioned"):
            fact = FACT_SPANS.get(os.path.basename(path.rstrip("/")))
            if fact and tracer.enabled:
                materialize(tracer, fact, df)
            original(df, path, partition_col, cluster_cols=cluster_cols, mode=mode)

    sinks.write_partitioned = traced
    try:
        yield
    finally:
        sinks.write_partitioned = original


def produto_dim(spark: SparkSession, src: str) -> DataFrame:
    """The produto lookup the stream enriches items with."""
    return sales_facts.with_categoria(load_table(spark, src, "part")).select(
        F.col("p_partkey").alias("produto_id"),
        "categoria",
        F.col("p_retailprice").alias("preco_custo"),
    )


def sale_docs(spark: SparkSession, src: str) -> list[str]:
    """Every sale as its webhook JSON document, in order-id order."""
    rows = json_ingest.synthesize_pedido_json(spark, src).collect()
    return sorted((r.payload for r in rows), key=inputs.doc_order_id)


def doc_items(docs: list[str]) -> Counter:
    """Multiset of (numero, linha, produto_id, valor, quantidade) item rows."""
    out: Counter = Counter()
    for d in docs:
        doc = json.loads(d)
        for it in doc["itens"]:
            out[(doc["numero"], it["linha"], it["idProduto"], float(it["valor"]), float(it["quantidade"]))] += 1
    return out


def dir_stats(path: str) -> tuple[int, int, int]:
    """(data files, bytes, partition directories) under a written table."""
    files = nbytes = parts = 0
    for dirpath, _, names in os.walk(path):
        if os.path.basename(dirpath).count("=") == 1:
            parts += 1
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    return files, nbytes, parts


def source_bytes(src: str, tables: list[str]) -> int:
    return sum(os.path.getsize(os.path.join(src, f"{t}.parquet")) for t in tables)


def engine_snapshot(spark: SparkSession) -> dict[str, float]:
    """Executor-summary totals from Spark's status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = store.executorList(True)
    tot = dict(shuffle_write_bytes=0.0, input_bytes=0.0, tasks=0.0, task_time_s=0.0, gc_s=0.0)
    for i in range(execs.size()):
        e = execs.apply(i)
        tot["shuffle_write_bytes"] += e.totalShuffleWrite()
        tot["input_bytes"] += e.totalInputBytes()
        tot["tasks"] += e.totalTasks()
        tot["task_time_s"] += e.totalDuration() / 1000.0
        tot["gc_s"] += e.totalGCTime() / 1000.0
    return tot


def jvm_peak_rss_mb() -> float:
    """Peak resident set size of the Spark JVM (VmHWM)."""
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


@dataclass
class Measured:
    """What one measured phase produced."""

    latencies: list[float] = field(default_factory=list)  # per-op latency, s
    work: float = 0.0  # units of work done (rebuilds, docs)
    busy_s: float = 0.0  # time that work took
    attempted: int = 0
    failed: int = 0
    tail_pct: float = 100.0
    # ticks over the windows the latencies and the work were timed in; one
    # meter unless a workload times them in different windows
    lat_cpu: CpuMeter = field(default_factory=CpuMeter)
    work_cpu: CpuMeter | None = None

    def __post_init__(self) -> None:
        if self.work_cpu is None:
            self.work_cpu = self.lat_cpu

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"[salesbench] FAILED: {what}", file=sys.stderr, flush=True)

    def e2e(self, adjusted: bool = True) -> dict[str, float]:
        """Median, tail and throughput. Adjusted, the stolen share of each
        figure's own window is taken out: what it would read on an
        unshared machine. Unadjusted, they are the measured times."""
        lat = self.latencies or [0.0]  # every op failed: the run is reported incorrect
        self.tail_pct = tail_percentile(len(lat))
        keep_lat = without_steal(1.0, self.lat_cpu.share) if adjusted else 1.0
        keep_work = without_steal(1.0, self.work_cpu.share) if adjusted else 1.0
        return {
            "op_p50_s": median(lat) * keep_lat,
            "op_tail_s": percentile(lat, self.tail_pct) * keep_lat,
            "ops_per_s": self.work / (self.busy_s * keep_work) if self.busy_s > 0 else 0.0,
        }


class Workload:
    name = ""
    SCALE = SCALE
    # source tables an op reads, for sources.tables.input_bytes
    tables: list[str] = []

    def __init__(self, root: str, seed: int, factor: float = 1.0):
        self.root = root
        self.seed = seed
        self.scale = self.SCALE.scaled(factor)
        self.spark: SparkSession | None = None
        self.tracer = Tracer(self.name, enabled=False)
        self.op_id = 0

    # -- lifecycle -----------------------------------------------------
    def setup(self) -> None:
        """The complete set-up: session, inputs, workload state, warm-up."""
        self.dir = os.path.join(self.root, "work")
        os.makedirs(self.dir)
        self.tracer.op = -1
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"salesbench-{self.name}")
        self.src = os.path.join(self.dir, "src")
        self.counts = inputs.write_tables(self.src, self.seed, self.scale)
        self.prepare()
        self.warm_up()

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def load_truth(self) -> None:
        """Compute what the output checks compare against. Runs once, after
        the set-ups and outside their timing: it is the benchmark's work,
        not the system's."""

    def measure(self, seconds: float, phase: str) -> Measured:
        raise NotImplementedError

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def new_op(self) -> int:
        self.op_id += 1
        self.tracer.op = self.op_id
        return self.op_id

    # -- per-layer readings that only this workload can take ------------
    def layer_counts(self) -> dict[str, float]:
        return {}

    def source_input_bytes(self) -> int:
        """Bytes of the source tables one op reads."""
        return source_bytes(self.src, self.tables)


# ---------------------------------------------------------------------------
# backfill_rebuild
# ---------------------------------------------------------------------------
class BackfillRebuild(Workload):
    name = "backfill_rebuild"
    tables = ["orders", "lineitem", "part", "customer"]

    def prepare(self) -> None:
        self.layout: list[tuple[int, int, int]] = []

    def warm_up(self) -> None:
        # the JIT keeps compiling through the first rebuilds of a session
        for i in range(WARM_UP_REBUILDS):
            out = os.path.join(self.dir, f"lake-warm{i}")
            self.rebuild(out)
            shutil.rmtree(out)

    def rebuild(self, out: str) -> dict[str, int]:
        spark, tr = self.spark, self.tracer
        with tr.span("plans.pipeline.run_sales_pipeline"):
            counts = pipeline.run_sales_pipeline(spark, self.src, out)
        produto = sales_facts.with_categoria(load_table(spark, self.src, "part"))
        with tr.span("sinks.overwrite_dimension"):
            sinks.overwrite_dimension(produto, os.path.join(out, "part"))
            sinks.overwrite_dimension(load_table(spark, self.src, "customer"), os.path.join(out, "customer"))
        return counts

    def check(self, out: str, counts: dict[str, int], m: Measured) -> None:
        want = {"pedidos": self.counts["orders_with_items"], "itens_pedido": self.counts["lineitem"]}
        if counts != want:
            m.fail(f"row counts {counts} != {want}")
            return
        spark = self.spark
        itens = spark.read.parquet(os.path.join(out, "itens_pedido"))
        pedidos = spark.read.parquet(os.path.join(out, "pedidos"))
        alloc = itens.groupBy("pedido_id").agg(F.sum("desconto_pedido_alocado").alias("alocado"))
        bad = (
            pedidos.join(alloc, "pedido_id", "left")
            .filter(
                F.col("alocado").isNull()
                | (F.abs(F.col("alocado") - F.col("desconto_pedido")) > 1e-3 + 1e-9 * F.abs("desconto_pedido"))
            )
            .count()
        )
        if bad:
            m.fail(f"{bad} orders whose allocated discount does not sum to desconto_pedido")
            return
        dims = (
            spark.read.parquet(os.path.join(out, "part")).count(),
            spark.read.parquet(os.path.join(out, "customer")).count(),
        )
        if dims != (self.counts["part"], self.counts["customer"]):
            m.fail(f"dimension rows {dims}")

    def measure(self, seconds: float, phase: str) -> Measured:
        m = Measured()
        for _ in range(math.ceil(seconds / REBUILD_SECONDS)):
            op = self.new_op()
            out = os.path.join(self.dir, f"lake-{op}")
            m.attempted += 1
            try:
                with self.tracer.span("op.rebuild"), m.lat_cpu.window():
                    t0 = time.perf_counter()
                    counts = self.rebuild(out)
                    took = time.perf_counter() - t0
                m.latencies.append(took)
                m.work += 1
                m.busy_s += took
                if self.tracer.enabled:
                    self.layout.append(dir_stats(os.path.join(out, "pedidos")))
                    self.layout.append(dir_stats(os.path.join(out, "itens_pedido")))
                self.check(out, counts, m)
            except Exception:
                m.fail(traceback.format_exc())
            shutil.rmtree(out, ignore_errors=True)
        return m

    def layer_counts(self) -> dict[str, float]:
        n_ops = max(1, len(self.layout) // 2)
        return {
            "sinks.files_written": sum(f for f, _, _ in self.layout) / n_ops,
            "sinks.bytes_written": sum(b for _, b, _ in self.layout) / n_ops,
            "sinks.partitions_written": sum(p for _, _, p in self.layout) / n_ops,
        }


# ---------------------------------------------------------------------------
# webhook_stream
# ---------------------------------------------------------------------------
class WebhookStream(Workload):
    name = "webhook_stream"
    tables = ["part"]

    def prepare(self) -> None:
        spark = self.spark
        docs = sale_docs(spark, self.src)
        rng = np.random.default_rng(self.seed)
        # a seeded set of sales is held out of the backlog to arrive live:
        # enough distinct ones for a 60-second live phase
        n_live = min(len(docs) // 4, math.ceil(LIVE_RATE * 60))
        live_idx = set(rng.choice(len(docs), n_live, replace=False).tolist())
        self.live_pool = [d for i, d in enumerate(docs) if i in live_idx]
        self.backlog = inputs.redelivered(
            [d for i, d in enumerate(docs) if i not in live_idx], self.seed, REDELIVERY_SHARE
        )
        self.in_dir = os.path.join(self.dir, "landing")
        self.backlog_files = inputs.write_batches(self.backlog, self.in_dir, BACKLOG_DOCS_PER_FILE)
        self.produto = produto_dim(spark, self.src)
        self.live_used = 0
        self.commits: dict[int, float] = {}  # epoch -> when its append returned
        self.runs: Counter = Counter()  # epoch -> times the sink ran it, per query
        self._reset_readings()

    def _reset_readings(self) -> None:
        """Per-layer readings cover one measured phase."""
        self.progress: list[dict] = []
        self.live_stats: dict[str, list[float]] = {"late": [], "backlog": []}
        self.docs_in = self.items_out = self.join_in = self.join_out = 0

    # one micro-batch: parse -> enrich -> exactly-once append
    def _sink(self, table: str, checkpoint: str):
        tr = self.tracer

        def write(batch: DataFrame) -> None:
            epoch = max(int(n) for n in os.listdir(os.path.join(checkpoint, "offsets")) if n.isdigit())
            docs_seen = Observation()
            items = json_ingest.parse_and_explode(
                batch.observe(docs_seen, F.count(F.lit(1)).alias("n")) if tr.enabled else batch
            )
            rows = joins.lookup_join(items, self.produto, "produto_id")
            if tr.enabled:
                # the join's span holds the parse span: its self time is
                # what enriching adds on top of parsing
                with tr.span("operators.joins.lookup_join"):
                    n_items = materialize(tr, "sources.json_ingest.parse_and_explode", items)
                    n_rows = noop_count(rows)
                self.docs_in += int(docs_seen.get["n"])
                self.items_out += n_items
                self.join_in += n_items
                self.join_out += n_rows
            with tr.span("sinks.append_snapshot"):
                sinks.append_snapshot(rows, table, txn_key=f"epoch-{epoch}")
            self.commits[epoch] = time.perf_counter()
            self.runs[epoch] += 1

        return write

    def _query(self, table: str, checkpoint: str, available_now: bool):
        raw = streaming.file_stream(self.spark, self.in_dir, TEXT_SCHEMA, fmt="text")
        stream = raw.withColumnRenamed("value", "payload")
        return streaming.run_multi_sink(
            stream, {"segments": self._sink(table, checkpoint)}, checkpoint, available_now=available_now
        )

    def _replay(self, m: Measured | None) -> tuple[str, str]:
        """Drain the whole backlog once into a fresh table; returns the
        (table, checkpoint) the drain left behind."""
        op = self.new_op()
        table = os.path.join(self.dir, f"segments-{op}")
        ckpt = os.path.join(self.dir, f"checkpoint-{op}")
        self.commits, self.runs = {}, Counter()
        with self.tracer.span("op.replay"), self._streaming_span(), (m.work_cpu if m else CpuMeter()).window():
            t0 = time.perf_counter()
            q = self._query(table, ckpt, available_now=True)
            q.awaitTermination()
            took = (max(self.commits.values()) if self.commits else time.perf_counter()) - t0
        self.last_segments = sinks.committed_segment_count(table)
        if m is not None:
            m.attempted += 1
            m.work += len(self.backlog)
            m.busy_s += took
            self._check(table, self.backlog, m, "replay")
        return table, ckpt

    @contextmanager
    def _streaming_span(self):
        """Span over a running query; micro-batch spans, opened on Spark's
        callback thread, become its children."""
        with self.tracer.span("streaming.pipeline.run_multi_sink") as sp:
            self.tracer.foster = sp.id if sp is not None else None
            try:
                yield
            finally:
                self.tracer.foster = None

    def _check(self, table: str, docs: list[str], m: Measured, what: str) -> None:
        rows = (
            sinks.read_appended(self.spark, table)
            .select("numero", "linha", "produto_id", "valor", "quantidade")
            .collect()
        )
        got = Counter((r.numero, r.linha, r.produto_id, r.valor, r.quantidade) for r in rows)
        want = doc_items(docs)
        if got != want:
            m.fail(
                f"{what}: committed item rows differ from landed ones "
                f"({sum((got - want).values())} extra, {sum((want - got).values())} missing)"
            )

    def warm_up(self) -> None:
        """One drain, then a short live phase: the small-batch path warms
        separately from the drain's one large batch."""
        table, ckpt = self._replay(None)
        self._live(table, ckpt, WARM_UP_LIVE_FILES, "warm", Measured())
        self._clear(table, ckpt)

    def _clear(self, table: str, ckpt: str) -> None:
        """Drop a drain's table and checkpoint, and the live files, so the
        landing directory holds the backlog alone again."""
        shutil.rmtree(table, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        for n in os.listdir(self.in_dir):
            if n.startswith("live-"):
                os.remove(os.path.join(self.in_dir, n))

    def measure(self, seconds: float, phase: str) -> Measured:
        """One drain of the backlog, then ``seconds`` of live traffic."""
        # latencies come from the live phase, throughput from the drain:
        # each is adjusted by the stolen share of its own window
        m = Measured(work_cpu=CpuMeter())
        self._reset_readings()
        try:
            table, ckpt = self._replay(m)
        except Exception:
            m.attempted += 1
            m.fail(traceback.format_exc())
            return m
        # a fixed file count keeps the tail percentile the same on every run
        docs = self._live(table, ckpt, int(LIVE_RATE * seconds), phase, m)
        self._check(table, self.backlog + docs, m, "live")
        self._clear(table, ckpt)
        return m

    @staticmethod
    def _uncommit_last_epoch(ckpt: str) -> int:
        """Delete the newest entry of the checkpoint's commit log, as a
        crash between a micro-batch's sink write and its commit would
        leave it: the restarted query must run that epoch again."""
        commits = os.path.join(ckpt, "commits")
        last = max(int(n) for n in os.listdir(commits) if n.isdigit())
        os.remove(os.path.join(commits, str(last)))
        with suppress(FileNotFoundError):
            os.remove(os.path.join(commits, f".{last}.crc"))
        return last

    def _live(self, table: str, ckpt: str, n: int, phase: str, m: Measured) -> list[str]:
        """Restart the drained query on its checkpoint with its last epoch
        uncommitted, so the query replays it (its append must be a no-op),
        then land ``n`` docs, one per file, on the open-loop schedule;
        returns the docs landed."""
        docs = [self.live_pool[(self.live_used + i) % len(self.live_pool)] for i in range(n)]
        sched = inputs.arrival_schedule(n, LIVE_RATE, self.seed + self.live_used)
        self.live_used += n
        names = [f"live-{phase}-{i:05d}.json" for i in range(n)]
        due: dict[str, float] = {}
        landed: dict[str, float] = {}
        self.commits, self.runs = {}, Counter()
        replayed = self._uncommit_last_epoch(ckpt)
        q = self._query(table, ckpt, available_now=False)
        try:
            deadline = time.perf_counter() + 60
            while time.perf_counter() < deadline and not (
                replayed in self.commits and q.status["message"] == "Waiting for data to arrive"
            ):
                time.sleep(0.05)
            if self.runs[replayed] == 1:
                print(f"[salesbench] {phase}: epoch {replayed} re-run on restart", file=sys.stderr, flush=True)
            else:
                m.fail(f"{phase}: epoch {replayed} ran {self.runs[replayed]} times on restart, not once")

            def generate() -> None:
                t0 = time.perf_counter()
                for name, doc, at in zip(names, docs, sched):
                    due[name] = t0 + at
                    delay = due[name] - time.perf_counter()
                    if delay > 0:
                        time.sleep(delay)
                    tmp = os.path.join(self.in_dir, f".{name}.tmp")
                    with open(tmp, "w") as f:
                        f.write(doc + "\n")
                    os.replace(tmp, os.path.join(self.in_dir, name))
                    landed[name] = time.perf_counter()

            gen = threading.Thread(target=generate, name="salesbench-live-generator")
            self.new_op()
            with self.tracer.span("op.live"), self._streaming_span(), m.lat_cpu.window():
                gen.start()
                gen.join(timeout=n / LIVE_RATE + 60)
                stop_at = time.perf_counter() + LIVE_GRACE_S
                while time.perf_counter() < stop_at:
                    lat, missing = file_latencies(due, source_log_batches(ckpt), self.commits)
                    if not missing:
                        break
                    time.sleep(0.05)
        finally:
            q.stop()
        self.progress.extend(p for p in q.recentProgress if p["numInputRows"] > 0)
        lat, missing = file_latencies(due, source_log_batches(ckpt), self.commits)
        m.attempted += n
        m.latencies.extend(lat.values())
        for name in missing:
            m.fail(f"live file {name} not committed by the end of the run")
        for name in names:
            if name in landed:
                self.live_stats["late"].append(landed[name] - due[name])
        ordered = [x for x in names if x in lat]
        self.live_stats["backlog"].append(
            max_backlog([landed[x] for x in ordered], [due[x] + lat[x] for x in ordered]) if ordered else 0
        )
        self.last_segments = sinks.committed_segment_count(table)
        return docs

    def layer_counts(self) -> dict[str, float]:
        def p50(key: str) -> float:
            vals = [p["durationMs"].get(key, 0) for p in self.progress]
            return median(vals) if vals else 0.0

        return {
            "sources.json_ingest.docs_in": self.docs_in,
            "sources.json_ingest.items_out": self.items_out,
            "operators.joins.lookup_hit_ratio": self.join_out / self.join_in if self.join_in else 0.0,
            "sinks.segments": self.last_segments,
            "streaming.batches": len(self.progress),
            "streaming.trigger_p50_ms": p50("triggerExecution"),
            "streaming.add_batch_p50_ms": p50("addBatch"),
            "streaming.wal_commit_p50_ms": p50("walCommit"),
            "streaming.commit_offsets_p50_ms": p50("commitOffsets"),
            "streaming.query_planning_p50_ms": p50("queryPlanning"),
            "streaming.latest_offset_p50_ms": p50("latestOffset"),
            "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in self.progress]) if self.progress else 0.0,
            "streaming.backlog_files_max": max(self.live_stats["backlog"], default=0),
            "streaming.generator_late_p95_s": percentile(self.live_stats["late"], 95) if self.live_stats["late"] else 0.0,
        }



# ---------------------------------------------------------------------------
# bi_audit
# ---------------------------------------------------------------------------
START = inputs.START_DAY.astype(object)  # day 0 of the history, a datetime.date
TOP_N = 10


def same(got, want) -> bool:
    """Equal answers, floats equal up to summation-order rounding."""
    if isinstance(want, dict):
        return isinstance(got, dict) and got.keys() == want.keys() and all(same(got[k], want[k]) for k in want)
    if isinstance(want, (list, tuple)):
        return isinstance(got, (list, tuple)) and len(got) == len(want) and all(map(same, got, want))
    if isinstance(want, float):
        return isinstance(got, (int, float)) and math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-6)
    return got == want


class BiAudit(Workload):
    name = "bi_audit"
    SCALE = BI_SCALE
    tables = ["orders", "lineitem", "customer"]  # what the audits read; dashboards read the lake

    def prepare(self) -> None:
        spark, tr = self.spark, self.tracer
        self.lake = os.path.join(self.dir, "lake")
        with tr.span("plans.pipeline.run_sales_pipeline"):
            pipeline.run_sales_pipeline(spark, self.src, self.lake)
        # the item rows as an append-segment table, one segment per half of
        # the history, then a seeded share of orders delivered again
        # (webhook retries)
        ids = np.unique(pq.read_table(os.path.join(self.src, "lineitem.parquet"), columns=["l_orderkey"]).column(0).to_numpy())
        rng = np.random.default_rng([self.seed, 2])
        self.redelivered = sorted(int(i) for i in rng.choice(ids, round(len(ids) * REDELIVERY_SHARE), replace=False))
        self.segments = os.path.join(self.dir, "segments")
        itens = self.lake_table("itens_pedido")
        late = F.col("pedido_dia") >= F.lit(START + timedelta(days=self.scale.days // 2))
        sinks.append_snapshot(itens.filter(~late), self.segments, txn_key="first-half")
        sinks.append_snapshot(itens.filter(late), self.segments, txn_key="second-half")
        sinks.append_snapshot(itens.filter(F.col("pedido_id").isin(self.redelivered)), self.segments, txn_key="retries")
        self.rounds = inputs.query_rounds(self.seed, self.scale.days)
        self._reset_readings()

    def load_truth(self) -> None:
        """The facts straight from ``plans.sales_facts`` over the source
        tables, and the source key sets, that every answer is held against."""
        spark = self.spark
        day = load_table(spark, self.src, "orders").select(
            F.col("o_orderkey").alias("pedido_id"), F.datediff(F.to_date("o_orderdate"), F.lit(START)).alias("day")
        )
        self.itens = sales_facts.itens_fact(spark, self.src).join(day, "pedido_id").toPandas()
        self.pedidos = sales_facts.pedidos_fact(spark, self.src).join(day, "pedido_id").toPandas()

        def keys(table: str, col: str) -> set[int]:
            return set(pq.read_table(os.path.join(self.src, f"{table}.parquet"), columns=[col]).column(0).to_pylist())

        self.order_keys, self.line_keys = keys("orders", "o_orderkey"), keys("lineitem", "l_orderkey")
        self.cust_keys, self.order_custs = keys("customer", "c_custkey"), keys("orders", "o_custkey")

    def _reset_readings(self) -> None:
        self.kept_in = self.kept_out = 0

    def lake_table(self, table: str) -> DataFrame:
        # read afresh on every query, as a dashboard's SQL would: the
        # partition listing is part of the answer time
        return self.spark.read.parquet(os.path.join(self.lake, table))

    def deduped(self) -> tuple[DataFrame, DataFrame]:
        """The segment table through ``sinks.read_appended``, and its rows
        with re-delivered items resolved by the keep-rule dedup."""
        tr = self.tracer
        seg = sinks.read_appended(self.spark, self.segments)
        # copies of one re-delivered item are identical rows, so any order keeps the same one
        kept = windows.dedup_keep_rule(seg, ["pedido_id", "linha"], [F.col("uuid")])
        if tr.enabled:
            with tr.span("operators.windows.dedup_keep_rule"):
                n_in = materialize(tr, "sinks.read_appended", seg)
                n_out = noop_count(kept)
            self.kept_in += n_in
            self.kept_out += n_out
        return seg, kept

    def answer(self, kind: str, first: int, n_days: int):
        spark, tr = self.spark, self.tracer
        in_range = F.col("pedido_dia").between(
            F.lit(START + timedelta(days=first)), F.lit(START + timedelta(days=first + n_days - 1))
        )
        if kind in ("day_revenue", "month_revenue"):
            rows = (
                self.lake_table("itens_pedido").filter(in_range).groupBy("categoria_principal")
                .agg(F.sum("valor_liquido"), F.sum("lucro_item")).collect()
            )
            return {r[0]: (r[1], r[2]) for r in rows}
        if kind == "top_orders":
            top = self.lake_table("pedidos").filter(in_range).orderBy(F.desc("lucro_bruto"), "pedido_id")
            return [(r.pedido_id, r.lucro_bruto) for r in top.select("pedido_id", "lucro_bruto").limit(TOP_N).collect()]
        if kind == "segment_rollup":
            rows = self.deduped()[1].groupBy("categoria_principal").agg(F.sum("valor_liquido"), F.count(F.lit(1))).collect()
            return {r[0]: (r[1], r[2]) for r in rows}
        if kind == "dedup":
            seg, kept = self.deduped()
            return (seg.count(), kept.count())
        if kind == "reconcile":
            with tr.span("plans.reconcile.reconciliation_summary"):
                return reconcile.reconciliation_summary(spark, self.src).collect()[0].asDict()
        if kind == "difference":
            ids = load_table(spark, self.src, "orders").select(F.col("o_orderkey").alias("id"))
            landed = self.lake_table("pedidos").select(F.col("pedido_id").alias("id"))
            with tr.span("operators.setops.difference"):
                return {r.id for r in setops.difference(ids, landed).collect()}
        raise ValueError(f"unknown query kind {kind!r}")

    def truth(self, kind: str, first: int, n_days: int):
        """The answer computed in pandas from the facts and key sets."""
        it, ped = self.itens, self.pedidos
        if kind in ("day_revenue", "month_revenue"):
            sel = it[(it.day >= first) & (it.day < first + n_days)]
            g = sel.groupby("categoria_principal").agg(r=("valor_liquido", "sum"), l=("lucro_item", "sum"))
            return {k: (float(r), float(l)) for k, r, l in g.itertuples()}
        if kind == "top_orders":
            sel = ped[(ped.day >= first) & (ped.day < first + n_days)]
            top = sel.sort_values(["lucro_bruto", "pedido_id"], ascending=[False, True]).head(TOP_N)
            return [(int(p), float(v)) for p, v in zip(top.pedido_id, top.lucro_bruto)]
        if kind == "segment_rollup":
            g = it.groupby("categoria_principal").agg(v=("valor_liquido", "sum"), n=("valor_liquido", "size"))
            return {k: (float(v), int(n)) for k, v, n in g.itertuples()}
        if kind == "dedup":
            return (len(it) + int(it.pedido_id.isin(self.redelivered).sum()), len(it))
        if kind == "reconcile":
            a, b, c, o = self.order_keys, self.line_keys, self.cust_keys, self.order_custs
            return {
                "ord_only_a": len(a - b), "ord_only_b": len(b - a), "ord_common": len(a & b), "ord_union": len(a | b),
                "cust_only_a": len(c - o), "cust_only_b": len(o - c), "cust_common": len(c & o), "cust_union": len(c | o),
            }
        if kind == "difference":
            return self.order_keys - self.line_keys
        raise ValueError(f"unknown query kind {kind!r}")

    def query(self, q: tuple[str, int, int], m: Measured) -> None:
        self.new_op()
        m.attempted += 1
        try:
            with self.tracer.span(f"op.{q[0]}"), m.lat_cpu.window():
                t0 = time.perf_counter()
                got = self.answer(*q)
                took = time.perf_counter() - t0
        except Exception:
            m.fail(f"{q}: {traceback.format_exc()}")
            return
        m.latencies.append(took)
        m.work += 1
        m.busy_s += took
        want = self.truth(*q)
        if not same(got, want):
            m.fail(f"{q}: answer {got!r} != {want!r}")

    def warm_up(self) -> None:
        """One query of each kind."""
        for q in {q[0]: q for q in next(self.rounds)}.values():
            self.answer(*q)

    def measure(self, seconds: float, phase: str) -> Measured:
        """Whole rounds only, so every run asks the same mix."""
        m = Measured()
        self._reset_readings()
        for _ in range(math.ceil(seconds / ROUND_SECONDS)):
            for q in next(self.rounds):
                self.query(q, m)
        return m

    def layer_counts(self) -> dict[str, float]:
        layout = [dir_stats(os.path.join(self.lake, t)) for t in ("pedidos", "itens_pedido")]
        return {
            "operators.windows.dedup_kept_ratio": self.kept_out / self.kept_in if self.kept_in else 0.0,
            "sinks.segments": sinks.committed_segment_count(self.segments),
            "sinks.files_written": sum(f for f, _, _ in layout),
            "sinks.bytes_written": sum(b for _, b, _ in layout),
            "sinks.partitions_written": sum(p for _, _, p in layout),
        }


WORKLOADS = {w.name: w for w in (BackfillRebuild, WebhookStream, BiAudit)}
