"""The benchmark workloads, both closed loops with one client. Each one
builds its seeded inputs and warms up in ``setup`` (counted in
``setup_s``); ``measure`` then runs operations until ``seconds`` have
passed and returns each one's wall time and CPU time; ``check`` runs
after measuring, outside every timed figure, and counts failed output
checks into ``Context.failed``."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import fixtures
from perfbench.tracing import STREAM_PHASES, TRACED_FUNCTIONS, ProgressCollector, Tracer


@dataclass
class Context:
    work: str
    seed: int
    seconds: float
    spark: object = None
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    # per part of the last op: time window, call/materialize split and
    # the job-group job count (the group is set only when tracing)
    parts: dict[str, dict] = field(default_factory=dict)

    def check(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(msg)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def part(self, name: str, make_df, finish):
        """One timed part of an op: ``make_df()`` builds the DataFrame
        (some operators run jobs here), ``finish(df)`` materializes it;
        returns what ``finish`` returns."""
        sc = self.spark.sparkContext
        if self.tracer:
            sc.setJobGroup(name, name)
        t0 = time.time()
        with self.span(f"{name}.fn_call"):
            df = make_df()
        t1 = time.time()
        with self.span(f"{name}.materialize"):
            out = finish(df)
        t2 = time.time()
        group_jobs = 0
        if self.tracer:
            sc.setLocalProperty("spark.jobGroup.id", None)
            group_jobs = len(sc.statusTracker().getJobIdsForGroup(name))
        self.parts[name] = {"start": t0, "end": t2, "fn_call_s": t1 - t0, "materialize_s": t2 - t1,
                            "group_jobs": group_jobs}
        return out


@dataclass
class OpStats:
    """Per-op wall time and CPU time."""

    wall_s: list[float] = field(default_factory=list)
    cpu_s: list[float] = field(default_factory=list)


# JVM threads that compile hot code: warm-up work that a long-running
# process amortizes, and the least repeatable part of a short run's CPU.
# The session pins their number (run.py), so none exits mid-run and
# takes its CPU time out of the subtraction.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, None if it is gone."""
    try:
        with open(path, encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def tree_cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and every live
    descendant (the JVM, its Python workers, their reaped children), less
    the JVM's JIT compiler threads."""
    procs = {}
    for pid in os.listdir("/proc"):
        st = _stat(f"/proc/{pid}/stat") if pid.isdigit() else None
        if st is not None:
            # fields[1] is the ppid; [11..14] are utime, stime, cutime, cstime
            procs[int(pid)] = (int(st[1][1]), sum(int(x) for x in st[1][11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
        with contextlib.suppress(OSError):
            for tid in os.listdir(f"/proc/{pid}/task"):
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st is not None and st[0].startswith(_JIT_THREADS):
                    ticks -= int(st[1][11]) + int(st[1][12])
    return ticks / os.sysconf("SC_CLK_TCK")


def measure(wl, ctx: Context, min_ops: int = 2, max_ops: int | None = None) -> OpStats:
    """Run ``wl.op`` back to back until ``ctx.seconds`` have passed, at
    least ``min_ops`` times (a median of one op is as noisy as the op) and
    at most ``max_ops`` times."""
    stats, t_end = OpStats(), time.time() + ctx.seconds
    while len(stats.wall_s) < min_ops or (time.time() < t_end and (max_ops is None or len(stats.wall_s) < max_ops)):
        t, c = time.time(), tree_cpu_seconds()
        wl.op(ctx)
        stats.wall_s.append(time.time() - t)
        stats.cpu_s.append(tree_cpu_seconds() - c)
    ctx.attempted += len(stats.wall_s)
    return stats


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _release(spark) -> None:
    from stock_price_prediction_using_stream_and_batch_processing_spark import release_query_scratch

    release_query_scratch(spark)


def _oracle_problems(sf_dir: str, tables: tuple[str, ...], sql: str, actual) -> list[str]:
    """``tests/oracle_check.compare_frames`` of ``actual`` against ``sql``
    run by DuckDB over the Parquet tables in ``sf_dir``."""
    import duckdb

    from tests.oracle_check import compare_frames

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return compare_frames(actual, con.execute(sql).fetchdf())
    finally:
        con.close()


# --------------------------------------------------------------------------
# batch_predict: the reference batch job scaled out


class BatchPredict:
    name = "batch_predict"
    n_ticks = 150_000
    n_symbols = 50
    seq_len = 60
    # calls right after JVM start run up to a third slower than later ones
    warm_calls = 3

    def setup(self, ctx: Context) -> None:
        self.path = os.path.join(ctx.work, "ticks")
        self.ticks = fixtures.write_batch_ticks(self.path, ctx.seed, self.n_ticks, self.n_symbols)
        for _ in range(self.warm_calls):
            materialize(self._call(ctx))

    def _call(self, ctx: Context):
        from stock_price_prediction_using_stream_and_batch_processing_spark import batch

        df = batch.run_once(ctx.spark, self.path, k=self.n_ticks, seq_len=self.seq_len)
        if df is None:
            raise RuntimeError("run_once returned no predictions (min-rows gate)")
        return df

    def op(self, ctx: Context) -> None:
        ctx.part("batch", lambda: self._call(ctx), materialize)

    def check(self, ctx: Context) -> None:
        """One more call, collected, against a numpy recompute of
        ``LinearWindowModel`` over the same ticks."""
        from stock_price_prediction_using_stream_and_batch_processing_spark.functions.scaling import (
            REFERENCE_SCALER_MAX as MX,
            REFERENCE_SCALER_MIN as MN,
        )
        from stock_price_prediction_using_stream_and_batch_processing_spark.ml.predictor import LinearWindowModel

        preds = self._call(ctx).select("symbol", "timestamp", "predicted_price").toArrow()
        t = self.ticks.to_pandas().sort_values(["symbol", "timestamp"])
        w = LinearWindowModel(self.seq_len).weights
        exp_ts, exp_pred, exp_sym = [], [], []
        for sym, g in t.groupby("symbol"):
            p = g["price"].to_numpy()
            if len(p) < self.seq_len:
                continue
            win = np.lib.stride_tricks.sliding_window_view((p - MN) / (MX - MN), self.seq_len)
            exp_pred.append((win @ w) * (MX - MN) + MN)
            exp_ts.append(g["timestamp"].to_numpy()[self.seq_len - 1:])
            exp_sym.append(np.full(len(win), sym, dtype=object))
        got = preds.to_pandas().sort_values(["symbol", "timestamp"])
        exp_n = sum(len(x) for x in exp_pred)
        if len(got) != exp_n:
            ctx.check(False, f"batch_predict: {len(got)} prediction rows, expected {exp_n}")
            return
        ok = (np.array_equal(got["symbol"].to_numpy(dtype=object), np.concatenate(exp_sym))
              and np.array_equal(got["timestamp"].to_numpy(), np.concatenate(exp_ts))
              and np.allclose(got["predicted_price"].to_numpy(), np.concatenate(exp_pred), rtol=0, atol=1e-9))
        ctx.check(ok, "batch_predict: predictions differ from the numpy recompute")

    def untraced_layers(self, ctx: Context) -> None:
        """Time each stage of ``run_once`` by materializing its prefix."""
        from stock_price_prediction_using_stream_and_batch_processing_spark.ml.inference import predict_over_windows
        from stock_price_prediction_using_stream_and_batch_processing_spark.operators import topk, windows

        spark = ctx.spark
        recent = topk.latest_k(spark.read.parquet(self.path), "timestamp", self.n_ticks, tiebreak="timestamp")
        t = time.time()
        materialize(recent)
        ctx.layer["operators.topk.latest_k_s"] = time.time() - t
        t = time.time()
        recent.count()
        ctx.layer["batch.min_rows_gate_s"] = time.time() - t
        win = windows.trailing_collect(recent, "symbol", "timestamp", "price", self.seq_len,
                                       tiebreak="timestamp", full_only=True)
        t = time.time()
        materialize(win)
        ctx.layer["operators.windows.trailing_collect_s"] = time.time() - t
        t = time.time()
        materialize(predict_over_windows(win, "window_values", seq_len=self.seq_len))
        ctx.layer["ml.inference.predict_over_windows_s"] = time.time() - t


# --------------------------------------------------------------------------
# snapshot_nightly: one night of the snapshot store's write and curation
# side — a CDC upsert stream, a near-dup admission, a semantic dedup


class SnapshotNightly:
    name = "snapshot_nightly"
    upsert = "stream_snapshot_upsert_orders"
    near_dup = "incremental_near_dup_docs"
    orders_sf = 0.02
    n_docs = 450
    n_vectors = 450
    # the registered queries' operator settings
    near_dup_kw = dict(num_hashes=8, bands=4, max_bucket_size=64, writer_id="nightly")
    semantic_kw = dict(threshold=0.4, dim=64, n_cells=16, kmeans_max_iter=8)

    def setup(self, ctx: Context) -> None:
        import pyspark.sql.functions as F

        from stock_price_prediction_using_stream_and_batch_processing_spark import plans
        from stock_price_prediction_using_stream_and_batch_processing_spark.operators import dedup, similarity
        from stock_price_prediction_using_stream_and_batch_processing_spark.plans import workdirs
        from stock_price_prediction_using_stream_and_batch_processing_spark.sources.tables import load_table

        spark = ctx.spark
        # the upsert query's private scratch stores go under this run's work dir
        workdirs._ROOT = os.path.join(ctx.work, "results")
        self.sf_dir = os.path.join(ctx.work, "sf")
        fixtures.write_orders(self.sf_dir, ctx.seed, self.orders_sf)
        fixtures.write_documents(self.sf_dir, ctx.seed, self.n_docs)
        fixtures.write_embeddings(self.sf_dir, ctx.seed, self.n_vectors, self.semantic_kw["dim"])
        # the corpus arrives in three batches (doc_id % 3), as in the
        # registered incremental_near_dup_docs; nights 0 and 1 build the
        # store every op starts from, night 2 is the measured admission
        docs = load_table(spark, self.sf_dir, "documents")
        self.batches = [docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b) for b in range(3)]
        self.base_store = os.path.join(ctx.work, "store_base")
        with _shuffle_partitions(spark, 8):
            self.admitted_base = [
                dedup.incremental_near_dup(spark, self.batches[b], self.base_store, batch_id=b,
                                           **self.near_dup_kw).toPandas()
                for b in range(2)
            ]
        self.embeddings = load_table(spark, self.sf_dir, "embeddings")
        # warm-up: the two nights above warmed the near-dup path; the first
        # upsert and semantic dedup are cold
        plans.get(self.upsert).fn(spark, self.sf_dir).toPandas()
        similarity.semantic_dedup(self.embeddings, **self.semantic_kw).toPandas()
        _release(spark)

    def op(self, ctx: Context) -> None:
        from stock_price_prediction_using_stream_and_batch_processing_spark import plans
        from stock_price_prediction_using_stream_and_batch_processing_spark.operators import dedup, similarity

        spark = ctx.spark
        store = os.path.join(ctx.work, "store")
        shutil.copytree(self.base_store, store)
        self.upserted = ctx.part(f"plans.{self.upsert}", lambda: plans.get(self.upsert).fn(spark, self.sf_dir),
                                 lambda df: df.toPandas())
        with _shuffle_partitions(spark, 8):  # as the registered query runs its nights
            self.admitted = ctx.part(
                "curation.near_dup_night",
                lambda: dedup.incremental_near_dup(spark, self.batches[2], store, batch_id=2, **self.near_dup_kw),
                lambda df: df.toPandas())
        self.semantic = ctx.part("curation.semantic_dedup",
                                 lambda: similarity.semantic_dedup(self.embeddings, **self.semantic_kw),
                                 lambda df: df.toPandas())
        _release(spark)
        shutil.rmtree(store)

    def check(self, ctx: Context) -> None:
        """The last op's results: the upsert and the three nights of
        admissions against their registered queries' DuckDB oracles, the
        semantic dedup against an exact numpy pair search."""
        import pandas as pd

        from stock_price_prediction_using_stream_and_batch_processing_spark import plans

        p = _oracle_problems(self.sf_dir, ("orders",), plans.get(self.upsert).oracle, self.upserted)
        ctx.check(not p, f"{self.upsert}: differs from its DuckDB oracle: {'; '.join(p)[:300]}")
        admitted = pd.concat(self.admitted_base + [self.admitted], ignore_index=True)
        p = _oracle_problems(self.sf_dir, ("documents",), plans.get(self.near_dup).oracle, admitted)
        ctx.check(not p, f"near-dup nights: differ from the {self.near_dup} oracle: {'; '.join(p)[:300]}")
        problem = self._semantic_problem()
        ctx.check(problem is None, f"semantic_dedup: {problem}")

    def _semantic_problem(self) -> str | None:
        """The invariants ``semantic_dedup_embeddings`` certifies: every
        clustered component lies inside one exact component (its pairs are
        a subset of the true pairs), is named by its min id, keeps exactly
        that id, and recovers at least 0.15 of the true pairs."""
        import pyarrow.parquet as pq

        e = pq.read_table(os.path.join(self.sf_dir, "embeddings.parquet")).to_pandas().sort_values("vec_id")
        ids = e["vec_id"].to_numpy()
        x = np.stack(e["embedding"].to_numpy()).astype(np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        # a hair under the threshold, so float32 rounding at the boundary
        # cannot split an exact component the operator joined
        a, b = np.nonzero(np.triu(x @ x.T >= self.semantic_kw["threshold"] - 1e-6, 1))
        parent = list(range(len(ids)))

        def find(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for i, j in zip(a, b):
            parent[find(i)] = find(j)
        exact = {int(ids[i]): find(i) for i in range(len(ids))}
        got = self.semantic.sort_values("vec_id")
        if got["vec_id"].tolist() != ids.tolist():
            return f"{len(got)} rows, not one per vector"
        if not (got["keep"] == (got["vec_id"] == got["sem_cluster_id"])).all():
            return "keep is not vec_id == sem_cluster_id"
        for cid, g in got.groupby("sem_cluster_id"):
            if g["vec_id"].min() != cid or len({exact[v] for v in g["vec_id"]}) != 1:
                return f"cluster {cid} is not a min-id-named subset of one exact component"
        sem = dict(zip(got["vec_id"], got["sem_cluster_id"]))
        recovered = sum(sem[int(ids[i])] == sem[int(ids[j])] for i, j in zip(a, b))
        if not len(a) or recovered / len(a) < 0.15:
            return f"recovered {recovered} of {len(a)} duplicate pairs"
        return None


@contextlib.contextmanager
def _shuffle_partitions(spark, n: int):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


WORKLOADS = {w.name: w for w in (BatchPredict, SnapshotNightly)}


# --------------------------------------------------------------------------
# per-layer roll-ups for the traced run


def stream_layers(ctx: Context, progress: ProgressCollector) -> None:
    """Micro-batch phases from the progress events of batches that ran
    (idle triggers report no ``addBatch``)."""
    batches = [p for p in progress.progress if "addBatch" in p["duration_ms"]]
    for ph in STREAM_PHASES:
        vals = [p["duration_ms"].get(ph, 0) for p in batches]
        ctx.layer[f"streaming.{ph}_ms_p50"] = statistics.median(vals) if vals else 0.0
    ctx.layer["streaming.batches"] = len(batches)
    ctx.layer["streaming.rows_per_batch_p50"] = statistics.median([p["rows"] for p in batches]) if batches else 0.0


def span_layers(ctx: Context, log) -> None:
    tr = ctx.tracer
    for mod_name, fn_name in TRACED_FUNCTIONS:
        name = f"{mod_name}.{fn_name}"
        idx = [i for i, s in enumerate(tr.spans) if s.name == name and s.end is not None]
        ctx.layer[f"{name}.calls"] = len(idx)
        ctx.layer[f"{name}.self_s"] = sum(tr.self_seconds(i) for i in idx)
        ctx.layer[f"{name}.jobs"] = sum(len(log.jobs_in(tr.spans[i].start, tr.spans[i].end)) for i in idx)


def part_layers(ctx: Context, log) -> None:
    """Event-log totals (jobs by time window, whatever thread ran them),
    the job-group count and the call split for each part of the traced op."""
    for name, r in ctx.parts.items():
        summ = log.summary(r["start"], r["end"])
        wall = r["end"] - r["start"]
        ctx.layer.update({
            f"{name}.jobs": summ["jobs"], f"{name}.group_jobs": r["group_jobs"],
            f"{name}.stages": summ["stages"], f"{name}.tasks": summ["tasks"],
            f"{name}.executor_run_ms": summ["executor_run_ms"], f"{name}.gc_ms": summ["gc_ms"],
            f"{name}.shuffle_bytes": summ["shuffle_write_bytes"], f"{name}.spill_bytes": summ["spill_bytes"],
            f"{name}.driver_gap_s": wall - summ["job_busy_s"], f"{name}.fn_call_s": r["fn_call_s"],
            f"{name}.materialize_s": r["materialize_s"], f"{name}.wall_s": wall,
        })
