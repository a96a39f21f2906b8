"""The benchmark's workloads.

``run.py`` drives one run: one process, one Spark application on
``local[<cores>]`` and a single client in a closed loop (each operation
starts when the previous one has finished).  A run has three phases:

* set-up: start a Spark application, run a warm-up job, generate the
  inputs from the seed and run the workload's one-off preparation; all of
  it is ``setup_s``;
* the timed region: whole passes of the workload until ``--seconds`` have
  passed, and at least one;
* checks, outside any timing.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import check
import datagen
import ledger as ledger_mod

CUBE_QUERIES = [
    "cube_table", "agg_revenue_year_country", "agg_rollup_year_type",
    "agg_lineitem_stats", "window_topk_products", "window_monthly_growth",
    "subquery_above_avg", "dim_date", "dim_client_scd3", "insert_if_not_exists",
    "cdc_upsert_latest", "orders_profile", "orders_daily_gapfill",
    "orders_trailing_window", "asof_join_events", "events_funnel_suite",
    "session_funnel", "sql_lateral_topk",
]
LLM_QUERIES = [
    "corpus_survivors", "dedup_minhash_lsh", "dedup_near_jaccard",
    "incremental_near_dup", "docs_semantic_dedup", "planted_recall_suite",
    "similarity_retrieval_suite", "media_dedup_suite",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's marker and checksum files
    are not data."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def _count_rows(path: str) -> int | None:
    """Rows of the parquet table at ``path`` (None if there is none)."""
    if not os.path.isdir(path):
        return None
    return ds.dataset(path, format="parquet").count_rows()


class Bench:
    """State of one run: the work directory, the ledger (traced runs only)
    and what the timed region measured."""

    def __init__(self, work: str, seed: int, trace: bool) -> None:
        self.work = work
        self.seed = seed
        self.ledger = ledger_mod.Ledger() if trace else None
        self.failures: list[str] = []
        # workload-reported per-layer figures (bytes on disk, rejects, ...)
        self.layer: dict[str, float] = {}

    def span(self, name: str):
        return self.ledger.span(name) if self.ledger else contextlib.nullcontext()

    def paused(self):
        return self.ledger.pause() if self.ledger else contextlib.nullcontext()

    def fail(self, what: str) -> None:
        log(f"FAILED: {what}")
        self.failures.append(what)


class Workload:
    """Defaults for the steps a workload may leave out."""

    def verify_prepared(self, b: Bench) -> None:
        """Check what ``prepare`` produced (outside any timing)."""

    def check(self, spark, b: Bench) -> int:
        """Check the timed region's outputs (outside any timing); returns
        how many operations of the last pass the checks failed."""
        return 0

    def written(self) -> tuple[int, int, int]:
        """(data files, bytes) one pass left on disk, and the input bytes
        landed for it."""
        return 0, 0, 0


class QueryWorkload(Workload):
    """Registry queries in seeded order, each forced through the ``noop``
    sink.  Preparation runs every query once with ``collect`` (warming the
    session and the memoized warehouse) and checks each result against its
    goldens; a query that fails there fails every timed run of it."""

    sf = 0.01

    def __init__(self, name: str, names: list[str], seed: int, goldens: dict | None = None):
        self.name = name
        rng = np.random.default_rng([seed, 2])
        self.order = [names[i] for i in rng.permutation(len(names))]
        self.goldens = check.load_goldens() if goldens is None else goldens
        self.bad: set[str] = set()

    def make_inputs(self, b: Bench) -> None:
        self.sf_dir = os.path.join(b.work, "inputs")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        datagen.write_tables(datagen.generate(b.seed, self.sf), self.sf_dir)

    def _registry(self):
        from datawarehouse_code_spark.plans.registry import QUERIES, SUPPLEMENTARY_QUERIES

        return {**QUERIES, **SUPPLEMENTARY_QUERIES}

    def prepare(self, spark, b: Bench) -> None:
        reg = self._registry()
        results = {}
        for name in self.order:
            try:
                with b.span(f"op:{name}"):
                    with b.span("plans.build"):
                        df = reg[name].fn(spark, self.sf_dir)
                    with b.span("bench.collect"):
                        results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception:
                traceback.print_exc()
                self.bad.add(name)
                b.fail(f"{self.name}/{name}: raised")
        self.results = results

    def verify_prepared(self, b: Bench) -> None:
        reg = self._registry()
        # a recorded golden agreed with the oracle when it was recorded
        # (record_goldens.py), so the oracle runs only where there is none
        recorded = self.goldens.get(self.name, {}).get(str(b.seed), {})
        unrecorded = [name for name in self.order if name not in recorded]
        oracle = check.oracle_summaries(reg, unrecorded, self.sf_dir)
        expected = check.expected_for(self.name, b.seed, self.order, self.goldens, oracle)
        for name in self.results:
            got = check.summarize(*self.results[name])
            if got[0] == 0:
                self.bad.add(name)
                b.fail(f"{self.name}/{name}: empty result")
            for exp in expected[name]:
                if tuple(exp) != got:
                    self.bad.add(name)
                    b.fail(f"{self.name}/{name}: got {got}, expected {tuple(exp)}")
        self.results = {}

    def iteration(self, spark, b: Bench, i: int) -> tuple[list[float], int]:
        reg = self._registry()
        lat, failed = [], 0
        for name in self.order:
            t0 = time.perf_counter()
            try:
                with b.span(f"op:{name}"):
                    with b.span("plans.build"):
                        df = reg[name].fn(spark, self.sf_dir)
                    if b.ledger:
                        from datawarehouse_code_spark.plans.audit import audit_plan

                        with b.span("plans.plan"):
                            a = audit_plan(df)
                        b.layer["plans.exchanges"] = b.layer.get("plans.exchanges", 0) + a["n_exchanges"]
                        b.layer["plans.broadcasts"] = b.layer.get("plans.broadcasts", 0) + a["n_broadcasts"]
                    with b.span("plans.exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception:
                traceback.print_exc()
                b.fail(f"{self.name}/{name}: raised")
                failed += 1
            else:
                failed += name in self.bad
            lat.append(time.perf_counter() - t0)
        return lat, failed


class WarehouseEtl(Workload):
    """The reference's own job.  Set-up writes a "previous load" (the full
    source minus a seeded 10 % of orders and their lineitems) and
    materializes a base warehouse from it.  One pass: leg 1 rebuilds the
    warehouse from the full source into a fresh directory; leg 2 loads the
    full source incrementally into a fresh copy of the base warehouse."""

    name = "warehouse_etl"
    sf = 0.005

    def make_inputs(self, b: Bench) -> None:
        root = os.path.join(b.work, "inputs")
        shutil.rmtree(root, ignore_errors=True)
        full = datagen.generate(b.seed, self.sf)
        prev, held = datagen.hold_out_orders(full, b.seed)
        self.full_dir, self.prev_dir = os.path.join(root, "full"), os.path.join(root, "prev")
        datagen.write_tables(full, self.full_dir)
        datagen.write_tables(prev, self.prev_dir)
        self.expected = datagen.expected_delta(full, held)
        self.expected_full = datagen.expected_full(full)

    def prepare(self, spark, b: Bench) -> None:
        from datawarehouse_code_spark import pipeline

        self.base = os.path.join(b.work, "base")
        with b.span("op:base_build"):
            pipeline.run_pipeline(spark, self.prev_dir, self.base)

    def iteration(self, spark, b: Bench, i: int) -> tuple[list[float], int]:
        from datawarehouse_code_spark import pipeline

        it = os.path.join(b.work, f"it{i}")
        shutil.rmtree(os.path.join(b.work, f"it{i - 1}"), ignore_errors=True)
        out_full, out_inc = os.path.join(it, "full"), os.path.join(it, "inc")
        shutil.copytree(self.base, out_inc)
        lat, failed = [], 0
        t0 = time.perf_counter()
        try:
            with b.span("op:full_rebuild"):
                pipeline.run_pipeline(spark, self.full_dir, out_full)
        except Exception:
            traceback.print_exc()
            b.fail("warehouse_etl/full_rebuild: raised")
            failed += 1
        t1 = time.perf_counter()
        lat.append(t1 - t0)
        try:
            with b.span("op:incremental"):
                wh = pipeline.build_warehouse(spark, self.full_dir)
                reports = pipeline.run_pipeline_incremental(spark, wh, out_inc)
        except Exception:
            traceback.print_exc()
            b.fail("warehouse_etl/incremental: raised")
            return lat + [time.perf_counter() - t1], failed + 1
        lat.append(time.perf_counter() - t1)
        got = {k: v["inserted"] for k, v in reports.items()}
        if got != self.expected:
            b.fail(f"warehouse_etl/incremental: inserted {got}, expected {self.expected}")
            failed += 1
        self.last = (out_full, out_inc)
        return lat, failed

    def check(self, spark, b: Bench) -> int:
        from datawarehouse_code_spark import pipeline

        if not hasattr(self, "last"):
            return 0
        # both legs must leave the full warehouse behind, table by table
        # (counted by Arrow, which skips the same hidden files Spark does)
        bad = set()
        for leg, out in zip(("full_rebuild", "incremental"), self.last):
            got = {t: _count_rows(os.path.join(out, t)) for t in self.expected_full}
            if got != self.expected_full:
                bad.add(leg)
                b.fail(f"warehouse_etl/{leg}: rows {got}, expected {self.expected_full}")
        try:
            reports = pipeline.run_pipeline_incremental(
                spark, pipeline.build_warehouse(spark, self.full_dir), self.last[1]
            )
        except Exception:
            traceback.print_exc()
            b.fail("warehouse_etl: repeated incremental load raised")
            return len(bad | {"incremental"})
        again = {k: v["inserted"] for k, v in reports.items() if v["inserted"]}
        if again:
            bad.add("incremental")
            b.fail(f"warehouse_etl: repeated incremental load inserted {again}")
        return len(bad)

    def written(self) -> tuple[int, int, int]:
        if not hasattr(self, "last"):
            return 0, 0, 0
        f1, b1 = _dir_stats(self.last[0])
        f2, b2 = _dir_stats(self.last[1])
        f0, b0 = _dir_stats(self.base)
        return f1 + f2 - f0, b1 + b2 - b0, _dir_stats(self.full_dir)[1]


class DocsIngest(Workload):
    """Gated streaming ingest: the corpus is split into ``n_files`` equal
    landing files (arrival order from the seed) and drained by
    ``run_cdc_gated_ingest`` one file per micro-batch into a fresh,
    16-bucket target and chunk index.  One pass = one full drain."""

    name = "docs_ingest"
    sf = 0.02
    n_files = 2

    def make_inputs(self, b: Bench) -> None:
        docs = datagen.generate(b.seed, self.sf)["documents"].select(["doc_id", "text"])
        rng = np.random.default_rng([b.seed, 3])
        docs = docs.take(rng.permutation(docs.num_rows))
        n = docs.num_rows
        # equal-size files: how many docs a batch carries (and so how much
        # of the bucketed target it rewrites) stays the same across seeds
        cuts = [n * k // self.n_files for k in range(1, self.n_files)]
        self.land = os.path.join(b.work, "landing")
        shutil.rmtree(self.land, ignore_errors=True)
        os.makedirs(self.land)
        t0 = time.time() - 3600
        for k, (a, z) in enumerate(zip([0, *cuts], [*cuts, n])):
            path = os.path.join(self.land, f"part-{k:03d}.parquet")
            pq.write_table(docs.slice(int(a), int(z - a)), path)
            os.utime(path, (t0 + 60 * k, t0 + 60 * k))
        self.doc_ids = set(docs["doc_id"].to_pylist())

    def prepare(self, spark, b: Bench) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        class Batches(StreamingQueryListener):
            def __init__(self):
                self.progress: dict[str, list[float]] = {}
                self.done: set[str] = set()

            def onQueryStarted(self, event):
                self.progress.setdefault(str(event.runId), [])

            def onQueryProgress(self, event):
                p = event.progress
                self.progress.setdefault(str(p.runId), []).append(
                    p.durationMs.get("triggerExecution", 0) / 1000.0
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                self.done.add(str(event.runId))

        self.listener = Batches()
        spark.streams.addListener(self.listener)

    def _drain(self, spark, out: str) -> None:
        from datawarehouse_code_spark.streaming import jobs

        stream = (
            spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.land)
        )
        jobs.run_cdc_gated_ingest(
            stream, os.path.join(out, "corpus"), os.path.join(out, "index"),
            checkpoint_dir=os.path.join(out, "ck"), n_buckets=16,
        )

    def _batches(self, spark, known: set[str]) -> tuple[str, list[float]]:
        """The latest query's micro-batch durations, once its listener
        events have all arrived."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        deadline = time.time() + 30
        while True:
            new = [r for r in self.listener.done if r not in known]
            if new or time.time() > deadline:
                break
            time.sleep(0.05)
        if not new:
            return "", []
        return new[0], list(self.listener.progress.get(new[0], []))

    def iteration(self, spark, b: Bench, i: int) -> tuple[list[float], int]:
        shutil.rmtree(os.path.join(b.work, f"it{i - 1}"), ignore_errors=True)
        out = os.path.join(b.work, f"it{i}")
        known = set(self.listener.done)
        try:
            with b.span("op:drain") as sp:
                self._drain(spark, out)
                run_id, lat = self._batches(spark, known)
                if sp is not None and run_id:
                    sp.extra_groups.append(run_id)
        except Exception:
            traceback.print_exc()
            b.fail("docs_ingest/drain: raised")
            return [], self.n_files
        if len(lat) != self.n_files:
            b.fail(f"docs_ingest: {len(lat)} micro-batches, expected {self.n_files}")
            return lat, len(lat) or 1
        self.last = out
        b.layer["streaming.batch_s"] = b.layer.get("streaming.batch_s", 0.0) + sum(lat)
        b.layer["streaming.batches"] = b.layer.get("streaming.batches", 0) + len(lat)
        return lat, 0

    def _state(self, spark):
        out = self.last
        corpus = sorted(r.doc_id for r in spark.read.parquet(os.path.join(out, "corpus"))
                        .select("doc_id").collect())
        index = spark.read.parquet(os.path.join(out, "index")).select("doc_id", "chunk_hash")
        return corpus, sorted(tuple(r) for r in index.collect())

    def check(self, spark, b: Bench) -> int:
        from collections import Counter
        from itertools import combinations

        if not hasattr(self, "last"):
            return 0
        n_failures = len(b.failures)
        corpus, index = self._state(spark)
        if len(set(corpus)) != len(corpus) or not set(corpus) <= self.doc_ids or not corpus:
            b.fail("docs_ingest: ingested doc ids are not a non-empty subset of the input")
        # the gate's invariant: no two ingested docs share >= min_shared
        # chunk rows (occurrence grain, as the gate counts them)
        by_chunk: dict[str, list[int]] = {}
        for doc, h in index:
            by_chunk.setdefault(h, []).append(doc)
        shared: Counter = Counter()
        for docs in by_chunk.values():
            for a, z in combinations(sorted(docs), 2):
                if a != z:
                    shared[a, z] += 1
        over = [p for p, k in shared.items() if k >= 2]
        if over:
            b.fail(f"docs_ingest: {len(over)} ingested pairs share >= 2 chunks, e.g. {over[0]}")
        n_in = len(self.doc_ids)
        b.layer["streaming.reject_frac"] = (n_in - len(corpus)) / n_in
        # replaying the drain from its checkpoint is a no-op
        self._drain(spark, self.last)
        if self._state(spark) != (corpus, index):
            b.fail("docs_ingest: replaying the drain changed the corpus or index")
        # a wrong target fails the drain, and so each of its micro-batches
        return self.n_files if len(b.failures) > n_failures else 0

    def written(self) -> tuple[int, int, int]:
        if not hasattr(self, "last"):
            return 0, 0, 0
        f1, b1 = _dir_stats(os.path.join(self.last, "corpus"))
        f2, b2 = _dir_stats(os.path.join(self.last, "index"))
        return f1 + f2, b1 + b2, _dir_stats(self.land)[1]


def make(workload: str, seed: int):
    if workload == "cube_queries":
        return QueryWorkload(workload, CUBE_QUERIES, seed)
    if workload == "llm_dedup":
        return QueryWorkload(workload, LLM_QUERIES, seed)
    if workload == "warehouse_etl":
        return WarehouseEtl()
    if workload == "docs_ingest":
        return DocsIngest()
    raise SystemExit(f"unknown workload {workload!r}")
