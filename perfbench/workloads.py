"""The benchmark's workloads and the layer accounting of a traced op.

Each workload is one closed-loop client: it starts op ``i + 1`` only
after op ``i`` returned. ``run_op(i)`` performs op ``i`` of the seeded
sequence and returns None when its result checks out, or a one-line
reason when it does not.

Layers are named after the package's modules: ``session``,
``catalog``, ``registry``, ``action``, ``kernels``, ``snapshots`` and
``index``. Spans are recorded around the calls this file makes into
them; nothing inside the package is changed.
"""

from __future__ import annotations

import copy
import os
import shutil
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from plan import ingest_plan, median, query_sequence, tail_percentile
from probes import STAGE_METRICS, ProcTree, SparkProbe
from spans import Tracer, self_times

INTERACTIVE_MIX = [
    "q_agg_group", "q_topk", "q_tpch_q01", "q_win_rank",
    "q_llm_exact_dedup", "q_llm_cosine_topk", "q_stream_tumble",
]
HEAVY_ANALYTICS = [
    "q_llm_corpus_pipeline", "q_graph_pagerank", "q_llm_ann_pq",
    "q_llm_minhash_verified", "q_profile_table", "q_tpch_q18",
]

# name -> (unit, which direction is better). BENCHMARK.json lists the
# same metrics; tests/test_harness.py keeps the two in step.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "jobs_per_op": ("count", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
# Per-layer metrics of the traced run. A workload that does not
# exercise a layer reports 0 for it.
LAYER_METRICS = {
    "session.import_s": ("s", "lower"),
    "session.get_spark_s": ("s", "lower"),
    "catalog.load_tables_calls": ("count", "lower"),
    "catalog.load_tables_s": ("s", "lower"),
    "catalog.jobs": ("count", "lower"),
    "registry.builder_self_s": ("s", "lower"),
    "registry.builder_jobs": ("count", "lower"),
    "registry.builder_stages": ("count", "lower"),
    "action.plan_s": ("s", "lower"),
    "action.s": ("s", "lower"),
    "action.jobs": ("count", "lower"),
    "action.stages": ("count", "lower"),
    "action.tasks": ("count", "lower"),
    "action.executor_run_s": ("s", "lower"),
    "action.executor_cpu_s": ("s", "lower"),
    "action.gc_s": ("s", "lower"),
    "action.shuffle_write_bytes": ("bytes", "lower"),
    "action.shuffle_read_bytes": ("bytes", "lower"),
    "action.shuffle_fetch_wait_s": ("s", "lower"),
    "action.spill_bytes": ("bytes", "lower"),
    "action.cpu_busy_ratio": ("ratio", "higher"),
    "kernels.python_worker_cpu_s": ("s", "lower"),
    "snapshots.append_s": ("s", "lower"),
    "snapshots.delete_keys_s": ("s", "lower"),
    "snapshots.rewrite_s": ("s", "lower"),
    "snapshots.read_s": ("s", "lower"),
    "snapshots.plan_files_s": ("s", "lower"),
    "snapshots.files_planned": ("count", "lower"),
    "snapshots.files_pruned_ratio": ("ratio", "higher"),
    "snapshots.metadata_bytes_per_commit": ("bytes", "lower"),
    "snapshots.data_files_live": ("count", "lower"),
    "snapshots.commit_p50_s": ("s", "lower"),
    "snapshots.storage_amp": ("ratio", "lower"),
    "index.near_dup_s": ("s", "lower"),
    "index.minhash_append_s": ("s", "lower"),
    "index.pq_append_s": ("s", "lower"),
    "index.pq_search_s": ("s", "lower"),
    "index.pairs_found": ("count", "higher"),
    "index.docs_dropped": ("count", "higher"),
    "index.bytes_on_disk": ("bytes", "lower"),
    "proc.jvm_rss_mb": ("MB", "lower"),
    "proc.python_rss_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.spans": ("count", "lower"),
    # wall-clock latency and throughput of the run's untraced loop
    "loop.op_p50_s": ("s", "lower"),
    "loop.ops_per_s": ("1/s", "higher"),
}


class Ctx:
    """What every workload gets: the session, the data, its own
    scratch dir, the tracer and the probes."""

    def __init__(self, spark, sf_dir: str, work: str, seed: int, cores: int) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.work = work
        self.seed = seed
        self.cores = cores
        self.probe = SparkProbe(spark)
        self.tracer = Tracer(enabled=False, mark=self.probe.mark)
        self.procs = ProcTree()


def _sum_jobs(jobs: dict[int, dict], lo: int, hi: int) -> dict[str, float]:
    acc = dict.fromkeys(STAGE_METRICS, 0.0)
    for j in range(lo, hi):
        for k, v in jobs.get(j, {}).items():
            acc[k] += v
    return acc


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# ---------------------------------------------------------------------------
# Registered-query workloads (interactive_mix, heavy_analytics)

class QueryMix:
    """One op is one registered query, built through its registry
    builder and run to completion: large results go to the noop sink
    (rows counted by an observation), the rest are collected."""

    def __init__(self, ctx: Ctx, names: list[str]) -> None:
        from bench import _NOOP_SINK

        self.ctx = ctx
        self.names = names
        self.noop = _NOOP_SINK
        self.expected: dict[str, int] = {}
        self.warmup_s: dict[str, float] = {}
        self.op_stats: list[dict] = []
        self._pending: list[tuple[dict, float]] = []

    def setup(self) -> list[str]:
        """Take every query's row count from its DuckDB oracle, then run
        one warm-up pass that must reproduce every row count. (The full
        value comparison runs before, in its own process: oracle.py.)"""
        from iceberg_twist_spark.registry import REGISTRY
        from tools.check import duck_connection

        con = duck_connection(self.ctx.sf_dir)
        try:
            for name in self.names:
                sql = f"SELECT count(*) FROM ({REGISTRY[name].oracle})"
                self.expected[name] = con.execute(sql).fetchone()[0]
        finally:
            con.close()
        errors = []
        for name in self.names:
            t = time.perf_counter()
            err = self._check(name, self._execute(name))
            self.warmup_s[name] = time.perf_counter() - t
            if err:
                errors.append(f"warm-up: {err}")
        self.pass_len = len(self.names)
        self.max_ops = 100 * self.pass_len
        self.sequence = query_sequence(self.names, self.ctx.seed, self.max_ops)
        return errors

    def _check(self, name: str, rows: int) -> str | None:
        if rows != self.expected[name]:
            return f"{name}: {rows} rows, its oracle has {self.expected[name]}"
        return None

    def _execute(self, name: str) -> int:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from iceberg_twist_spark.registry import REGISTRY

        ctx = self.ctx
        with ctx.tracer.span("registry.builder", query=name):
            df = REGISTRY[name].builder(ctx.spark, ctx.sf_dir)
        with ctx.tracer.span("action", query=name) as rec:
            if rec is not None:
                with ctx.tracer.span("action.plan"):
                    df._jdf.queryExecution().executedPlan()
            if name in self.noop:
                obs = Observation()
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop"
                ).mode("overwrite").save()
                return int(obs.get["n"])
            return len(df.collect())

    def run_op(self, i: int) -> str | None:
        name = self.sequence[i]
        return self._check(name, self.run_query(name, i))

    def run_query(self, name: str, op_id: int) -> int:
        """Run one query as op ``op_id``; returns its row count."""
        ctx = self.ctx
        traced = ctx.tracer.enabled
        cpu0 = ctx.procs.python_worker_cpu() if traced else 0.0
        ctx.tracer.op = op_id
        with ctx.tracer.span("op", query=name) as op:
            rows = self._execute(name)
        if traced:
            self._pending.append((op, ctx.procs.python_worker_cpu() - cpu0))
        return rows

    def _account(self, op: dict, py_cpu: float) -> None:
        """Split one traced op into per-layer numbers (after the loop,
        so reading the status store is not billed to the op)."""
        ctx = self.ctx
        spans = [s for s in ctx.tracer.spans if s["op"] == op["op"]]
        jobs = ctx.probe.job_stages(op["job_lo"], op["job_hi"])
        selfs = self_times(spans)
        cat = [s for s in spans if s["name"] == "catalog.load_tables"]
        builder = next(s for s in spans if s["name"] == "registry.builder")
        action = next(s for s in spans if s["name"] == "action")
        plan = [s for s in spans if s["name"] == "action.plan"]
        cat_work = [_sum_jobs(jobs, s["job_lo"], s["job_hi"]) for s in cat]
        b_work = _sum_jobs(jobs, builder["job_lo"], builder["job_hi"])
        a_work = _sum_jobs(jobs, action["job_lo"], action["job_hi"])
        a_s = _dur(action)
        self.op_stats.append(
            {
                "query": op["query"],
                "catalog.load_tables_calls": len(cat),
                "catalog.load_tables_s": sum(_dur(s) for s in cat),
                "catalog.jobs": sum(w["jobs"] for w in cat_work),
                "registry.builder_self_s": selfs[builder["id"]],
                "registry.builder_jobs": b_work["jobs"] - sum(w["jobs"] for w in cat_work),
                "registry.builder_stages": b_work["stages"] - sum(w["stages"] for w in cat_work),
                "action.plan_s": sum(_dur(s) for s in plan),
                "action.s": a_s,
                **{f"action.{k}": v for k, v in a_work.items()},
                "action.cpu_busy_ratio": a_work["executor_cpu_s"] / (a_s * ctx.cores),
                "kernels.python_worker_cpu_s": py_cpu,
            }
        )

    def start_tracing(self) -> None:
        """Wrap ``catalog.load_tables`` wherever a module bound it."""
        import iceberg_twist_spark.catalog as catalog

        ctx = self.ctx
        original = catalog.load_tables
        traced = ctx.tracer.wrap("catalog.load_tables", original)
        self._patched = []
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("iceberg_twist_spark") and getattr(
                mod, "load_tables", None
            ) is original:
                mod.load_tables = traced
                self._patched.append(mod)
        self._original = original
        ctx.tracer.enabled = True

    def stop_tracing(self) -> None:
        for mod in self._patched:
            mod.load_tables = self._original
        self.ctx.tracer.enabled = False

    def restore(self) -> None:
        """Queries leave no state behind; a replay needs no reset."""

    def split_ops(self) -> list[dict]:
        """Per-layer numbers of every traced op so far, in op order."""
        for op, py_cpu in self._pending:
            self._account(op, py_cpu)
        self._pending.clear()
        return self.op_stats

    def layer_metrics(self) -> dict[str, float]:
        ops = self.split_ops()
        if not ops:
            return {}
        return {k: sum(s[k] for s in ops) / len(ops) for k in ops[0] if k != "query"}

    def summary(self) -> dict:
        return {
            "expected_rows": self.expected,
            "warmup_s": self.warmup_s,
            "sequence": self.sequence[: len(self.names) * 3],
        }


# ---------------------------------------------------------------------------
# daily_ingest

@dataclass
class IngestState:
    """What the day loop has done so far (copied to replay days)."""

    docs_rows: int = 0  # rows appended minus rows deleted
    event_rows: int = 0
    live: set = field(default_factory=set)  # doc_ids in the documents table
    history: list = field(default_factory=list)  # (snapshot id, docs rows) per day


class DailyIngest:
    """One op is one simulated day of the README daily-ingest recipe
    against a documents table, a telemetry table, a MinHash/LSH index
    and a PQ index, all under the run's own scratch dir."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "lake")
        self.pristine = os.path.join(ctx.work, "lake-pristine")
        self.samples: dict[str, list[float]] = {}
        self.counts: dict[str, list[float]] = {}

    # -- helpers -----------------------------------------------------------
    def _sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def _count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(value)

    @contextmanager
    def _timed(self, layer: str):
        """A layer span plus an always-on wall-clock sample."""
        t0 = time.perf_counter()
        with self.ctx.tracer.span(layer) as rec:
            yield rec
        self._sample(layer, time.perf_counter() - t0)

    def _commit(self, layer: str, table, fn) -> int:
        """Run one SnapshotTable commit; record its time and the
        metadata bytes it wrote."""
        meta = os.path.join(table.path, "metadata")
        t0 = time.time()
        start = time.perf_counter()
        with self.ctx.tracer.span(layer):
            sid = fn()
        self._sample(layer, time.perf_counter() - start)
        self._sample("commit", time.perf_counter() - start)
        written = 0
        for f in os.listdir(meta):
            st = os.stat(os.path.join(meta, f))
            if st.st_mtime >= t0 - 0.01:
                written += st.st_size
        self._count("metadata_bytes", written)
        return sid

    def _open(self) -> None:
        from iceberg_twist_spark.sources.snapshots import SnapshotTable

        self.docs = SnapshotTable(self.ctx.spark, os.path.join(self.root, "documents"))
        self.events_tbl = SnapshotTable(self.ctx.spark, os.path.join(self.root, "telemetry"))
        self.lsh = os.path.join(self.root, "lsh_idx")
        self.pq = os.path.join(self.root, "pq_idx")

    # -- set-up: day 0 -----------------------------------------------------------
    def setup(self) -> list[str]:
        import pyarrow.dataset as ds
        from pyspark.sql import functions as F

        from iceberg_twist_spark.api import Engine

        spark = self.ctx.spark
        parts = self.setup_parts = {}
        t = time.perf_counter()
        sf = self.ctx.sf_dir
        docs = ds.dataset(f"{sf}/documents.parquet").to_table(columns=["doc_id", "text"])
        vecs = ds.dataset(f"{sf}/embeddings.parquet").to_table(columns=["vec_id", "embedding"])
        self.text = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        self.vec = dict(zip(vecs["vec_id"].to_pylist(), vecs["embedding"].to_pylist()))
        n_events = ds.dataset(f"{sf}/events.parquet").count_rows()
        self.events = spark.read.parquet(f"{sf}/events.parquet")
        self.plan = ingest_plan(list(self.text), list(self.vec), n_events, self.ctx.seed)
        self.pass_len = 1
        self.max_ops = len(self.plan.days)
        parts["inputs_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self._open()
        corpus = self._docs_df([(d, self.text[d]) for d in self.plan.corpus_ids])
        self.state = IngestState()
        self.docs.append(corpus)
        self.state.docs_rows = len(self.plan.corpus_ids)
        self.state.live = set(self.plan.corpus_ids)
        lo, hi = self.plan.base_events
        self.events_tbl.append(self.events.filter(F.col("event_id").between(lo, hi - 1)))
        self.state.event_rows = hi - lo
        self.state.history.append((self.docs.current_snapshot_id(), self.state.docs_rows))
        Engine.build_minhash_index(corpus, "text", "doc_id", self.lsh, tau=0.5)
        Engine.build_pq_ann_index(
            self._vec_df(self.plan.base_vec_ids), "embedding", "vec_id", self.pq
        )
        parts["day0_s"] = time.perf_counter() - t
        shutil.copytree(self.root, self.pristine)
        self._pristine_state = copy.deepcopy(self.state)
        return []

    def restore(self) -> None:
        """Put the lake back as it was after set-up, so a traced replay
        runs the same days on the same state."""
        shutil.rmtree(self.root)
        shutil.copytree(self.pristine, self.root)
        self._open()
        self.state = copy.deepcopy(self._pristine_state)
        self.samples.clear()
        self.counts.clear()

    def _docs_df(self, rows):
        return self.ctx.spark.createDataFrame(rows, "doc_id long, text string")

    def _vec_df(self, ids):
        return self.ctx.spark.createDataFrame(
            [(v, self.vec[v]) for v in ids], "vec_id long, embedding array<float>"
        )

    # -- one day ---------------------------------------------------------------
    def run_op(self, i: int) -> str | None:
        ctx = self.ctx
        traced = ctx.tracer.enabled
        ctx.tracer.op = i
        cpu0 = ctx.procs.python_worker_cpu() if traced else 0.0
        with ctx.tracer.span("op", day=i + 1):
            err = self._day(self.plan.days[i])
        if traced:
            self._count("python_worker_cpu", ctx.procs.python_worker_cpu() - cpu0)
        return err

    def _day(self, day) -> str | None:
        from pyspark.sql import functions as F

        from iceberg_twist_spark.api import Engine

        spark, st, errors = self.ctx.spark, self.state, []
        rows = [(d, self.text[d]) for d in day.doc_ids]
        rows += [(new, self.text[src]) for new, src in day.inject]
        batch = self._docs_df(rows)
        # 1. near-dups against the stored index, then the README drop rule
        with self._timed("index.near_dup"):
            pairs = Engine.near_dup_pairs_against_index(batch, "text", "doc_id", self.lsh).collect()
        ids = {r[0] for r in rows}
        drop = {p.doc_b if p.doc_b in ids else p.doc_a for p in pairs}
        self._count("pairs", len(pairs))
        self._count("dropped", len(drop))
        missed = [new for new, _ in day.inject if new not in drop]
        if missed:
            errors.append(f"injected copies {missed} not dropped")
        keep = [r for r in rows if r[0] not in drop]
        keep_df = self._docs_df(keep)
        # 2. survivors into the documents table and the LSH index
        self._commit("snapshots.append", self.docs, lambda: self.docs.append(keep_df))
        st.docs_rows += len(keep)
        st.live.update(r[0] for r in keep)
        with self._timed("index.minhash_append"):
            Engine.minhash_index_append(keep_df, "text", "doc_id", self.lsh)
        # 3. telemetry micro-batches
        for lo, hi in day.event_ranges:
            mb = self.events.filter(F.col("event_id").between(lo, hi - 1))
            self._commit("snapshots.append", self.events_tbl, lambda: self.events_tbl.append(mb))
            st.event_rows += hi - lo
        # 4. new vectors into the PQ index
        with self._timed("index.pq_append"):
            Engine.pq_index_append(self._vec_df(day.vec_ids), "embedding", "vec_id", self.pq)
        # 5. probe: a stored vector must be its own top-1
        for p in day.probes:
            with self._timed("index.pq_search"):
                hits = Engine.pq_ann_search(spark, self.pq, self.vec[p], k=10).collect()
            if not hits or hits[0].vec_id != p:
                errors.append(f"probe {p}: top-1 is {hits[0].vec_id if hits else None}")
        # 6. maintenance: retract, pruned read, time travel, compaction
        keys = spark.createDataFrame([(k,) for k in day.deletes], "doc_id long")
        self._commit("snapshots.delete_keys", self.docs, lambda: self.docs.delete_keys(keys, "doc_id"))
        st.docs_rows -= len(st.live & set(day.deletes))
        st.live -= set(day.deletes)
        with self._timed("index.minhash_remove"):
            Engine.minhash_index_remove(spark, self.lsh, day.deletes)
        lo, hi = day.event_ranges[0]
        with self._timed("snapshots.plan_files"):
            planned = self.events_tbl.plan_files(skip=("event_id", lo, hi - 1))
        total = len(self.events_tbl.plan_files())
        self._count("files_planned", len(planned))
        self._count("files_pruned_ratio", 1 - len(planned) / total)
        with self._timed("snapshots.read"):
            n = self.events_tbl.read(skip=("event_id", lo, hi - 1)).count()
        if n != hi - lo:
            errors.append(f"pruned read: {n} rows, expected {hi - lo}")
        sid, want = st.history[-1]
        with self._timed("snapshots.read"):
            n = self.docs.read(snapshot_id=sid).count()
        if n != want:
            errors.append(f"time travel to {sid}: {n} rows, expected {want}")
        for t in (self.docs, self.events_tbl):
            self._commit("snapshots.rewrite", t, t.rewrite_data_files)
        for t, want in ((self.docs, st.docs_rows), (self.events_tbl, st.event_rows)):
            got = t.row_count()
            if got != want:
                errors.append(f"{os.path.basename(t.path)}: {got} rows, expected {want}")
        st.history.append((self.docs.current_snapshot_id(), st.docs_rows))
        return "; ".join(errors) or None

    # -- reporting -------------------------------------------------------------
    def start_tracing(self) -> None:
        self.ctx.tracer.enabled = True

    def stop_tracing(self) -> None:
        self.ctx.tracer.enabled = False

    def _storage(self) -> tuple[int, int, int]:
        live_files = self.docs.plan_files() + self.events_tbl.plan_files()
        live_bytes = sum(os.path.getsize(f) for f in live_files)
        return _dir_bytes(self.root), live_bytes, len(live_files)

    def layer_metrics(self) -> dict[str, float]:
        s, c = self.samples, self.counts
        on_disk, live_bytes, live_files = self._storage()

        def med(name):
            return median(s[name]) if s.get(name) else 0.0

        def mean(name):
            return sum(c[name]) / len(c[name]) if c.get(name) else 0.0

        return {
            "kernels.python_worker_cpu_s": mean("python_worker_cpu"),
            "snapshots.append_s": med("snapshots.append"),
            "snapshots.delete_keys_s": med("snapshots.delete_keys"),
            "snapshots.rewrite_s": med("snapshots.rewrite"),
            "snapshots.read_s": med("snapshots.read"),
            "snapshots.plan_files_s": med("snapshots.plan_files"),
            "snapshots.files_planned": mean("files_planned"),
            "snapshots.files_pruned_ratio": mean("files_pruned_ratio"),
            "snapshots.metadata_bytes_per_commit": mean("metadata_bytes"),
            "snapshots.data_files_live": live_files,
            "snapshots.commit_p50_s": med("commit"),
            "snapshots.storage_amp": on_disk / live_bytes,
            "index.near_dup_s": med("index.near_dup"),
            "index.minhash_append_s": med("index.minhash_append"),
            "index.pq_append_s": med("index.pq_append"),
            "index.pq_search_s": med("index.pq_search"),
            "index.pairs_found": mean("pairs"),
            "index.docs_dropped": mean("dropped"),
            "index.bytes_on_disk": _dir_bytes(self.lsh) + _dir_bytes(self.pq),
        }

    def summary(self) -> dict:
        search = self.samples.get("index.pq_search", [])
        return {
            **self.setup_parts,
            "commit_p50_s": median(self.samples["commit"]) if self.samples.get("commit") else None,
            "search_p50_s": median(search) if search else None,
            "search_p90_s": tail_percentile(search, 0.9),
            "search_samples": len(search),
            "storage_amp": self.layer_metrics()["snapshots.storage_amp"],
        }
