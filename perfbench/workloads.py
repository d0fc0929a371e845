"""The benchmark workloads: closed loops with one client each.

A workload object gets a SparkSession, prepares (part of set-up), runs
an untimed ``before_timed`` step, then ``op(i)`` repeatedly inside the
timed window, and finally ``check`` recomputes its headline outputs in
DuckDB.  ``op`` returns the latency samples it produced (milliseconds,
by kind) and the input rows it consumed.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import sys
import time

import duckdb
from pyspark.sql import functions as F

import gen
from spans import Tracer, catalyst_phases

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (ROOT, os.path.join(ROOT, "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)


def now() -> float:
    return time.perf_counter()


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total


class Workload:
    """One closed loop.  The timed window runs whole rounds of
    ``round_size`` ops; every op has a kind, and the end-to-end op
    latency is the mean over kinds of each kind's median, so the
    statistic does not depend on how many ops of each kind a window
    holds."""

    name = ""
    round_size = 1
    window_rounds = 1  # the fewest rounds a timed window holds

    def __init__(self, data: str, work: str, seed: int, tracer: Tracer):
        self.data = data
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.counters: dict[str, float] = {}

    def bump(self, key: str, v: float = 1.0) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + v

    # -- actions ----------------------------------------------------------
    def act(self, df, name: str, collect: bool = False):
        """Force ``df``.  Traced runs run the count as an aggregate
        Dataset they hold, so its Catalyst phases can be read after."""
        if not self.tracer.enabled:
            return df.collect() if collect else df.count()
        with self.tracer.span(name, "spark", kind="action") as sp:
            if collect:
                res, jdf = df.collect(), df._jdf
            else:
                agg = df.groupBy().count()
                res, jdf = agg.collect()[0][0], agg._jdf
            try:
                sp["catalyst"] = catalyst_phases(jdf)
            except Exception as e:  # pragma: no cover - py4j shape drift
                sp["catalyst_error"] = repr(e)[:200]
        return res

    # -- lifecycle --------------------------------------------------------
    def prepare(self, spark) -> None:
        """Set-up work, repeated for every set-up rep."""

    def before_timed(self, spark) -> None:
        pass

    def op(self, spark, i: int) -> tuple[str, int]:
        """Run op ``i``; return its kind and the input rows it read."""
        raise NotImplementedError

    def exhausted(self, i: int) -> bool:
        return False

    def mark(self) -> None:
        """Start of the traced window: per-layer counters restart."""
        self.counters.clear()

    def check(self, spark) -> list[str]:
        return []

    def layer_metrics(self) -> dict[str, float]:
        return {}


class RegistryWorkload(Workload):
    """Registry queries (``pedsnetdcc_spark.queries``) in a seed-permuted
    order, each forced by a count; one round runs every query once.

    ``QUERY_TABLES`` maps each query to the tables it reads, fixed here
    so the input-row count of a query does not depend on how the library
    spells its reads."""

    QUERY_TABLES: dict[str, tuple[str, ...]] = {}

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from pedsnetdcc_spark import queries

        self.queries = queries
        order = list(self.QUERY_TABLES)
        random.Random(self.seed).shuffle(order)
        self.order = order
        self.round_size = len(order)
        sizes = gen.table_sizes(self.data)
        rows = {k[: -len(".parquet")]: v["rows"] for k, v in sizes.items()}
        self.rows_in = {q: sum(rows[t] for t in ts) for q, ts in self.QUERY_TABLES.items()}
        self.mismatches: list[str] = []

    def prepare(self, spark) -> None:
        """Resolve every table the queries read (parquet footers, no job)."""
        from pedsnetdcc_spark.sources.io import read_table

        for t in sorted({t for ts in self.QUERY_TABLES.values() for t in ts}):
            read_table(spark, self.data, t).schema

    def before_timed(self, spark) -> None:
        """One untimed round: warms every plan shape and checks each
        query's output against its DuckDB oracle (order-insensitive
        value hash, tests/oracle.py)."""
        import oracle

        con = oracle.duck_connection(self.data)
        try:
            for name in self.order:
                try:
                    df = self.queries.QUERIES[name](spark, self.data)
                    probs = oracle.compare(df, con, self.queries.ORACLES[name])
                except Exception as e:  # a failing query is a mismatch, the round goes on
                    probs = [f"raised {type(e).__name__}: {str(e)[:300]}"]
                spark.catalog.clearCache()
                if probs:
                    self.mismatches.append(f"{name}: {probs[0][:300]}")
        finally:
            con.close()

    def op(self, spark, i):
        name = self.order[i % len(self.order)]
        with self.tracer.span(f"queries.{name}", "queries", kind="call"):
            df = self.queries.QUERIES[name](spark, self.data)
        self.act(df, f"action.{name}")
        spark.catalog.clearCache()
        return name, self.rows_in[name]

    def check(self, spark):
        return list(self.mismatches)


# ---------------------------------------------------------------------------
# clinical_interactive
# ---------------------------------------------------------------------------


class ClinicalInteractive(RegistryWorkload):
    """An analyst / DCC QA session in one warm SparkSession.  One round
    runs the relational surface (integrity, id mapping, eras and
    roll-ups, the lab LOINC swap with its staged TableStore publish) and
    the corpus-curation chain (MinHash-LSH pairs, exact-dedup cluster
    survivors, the quality classifier trained on Gopher-rule labels)
    over the same generated namespace."""

    name = "clinical_interactive"
    # Two timed rounds: the JIT still compiles through the first warm
    # executions, and a per-query median over two rounds halves its swing.
    window_rounds = 2
    QUERY_TABLES = {
        "integrity_counts": ("lineitem", "orders", "part", "supplier"),
        "id_mapping": ("customer", "orders"),
        "rollup_eras": ("lineitem", "nation", "orders", "supplier"),
        "lab_loinc_swap": ("events",),
        "minhash_lsh_portable": ("documents",),
        "dedup_survivors": ("documents",),
        "quality_classifier": ("documents",),
    }


# ---------------------------------------------------------------------------
# incremental_ingest
# ---------------------------------------------------------------------------

ERA_GAP = 2

SPAN_K = 8
STREAM_SCHEMA = "doc_id long, user_id long, ts timestamp, text string"


class IncrementalIngest(Workload):
    """Micro-batches of new documents, vectors and events appended to a
    persisted span index and IVF index plus a stateful era stream, with
    index reads between the appends.

    One cycle (``CYCLE`` ops) consumes the four batches of
    ``gen.CYCLE_KINDS`` (fresh, duplicate-heavy, fresh, empty): each is
    appended to the span index and staged into the two stream sources;
    one drain commits the staged vectors and events through both
    long-running streams; both compaction policies run once and fold
    every delta the cycle wrote; the span index is read between the
    appends and the IVF index after the drain."""

    name = "incremental_ingest"
    CYCLE = ("append", "append", "read_span", "append", "append", "drain", "read_ivf", "compact")
    round_size = len(CYCLE)
    # Thresholds below one cycle's deltas (three or four span-index
    # generations, one or more IVF epochs), so each policy fires once
    # per cycle, at the cycle's compact op.
    MAX_GENERATIONS = 2
    MAX_EPOCHS = 0

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.batch_mark = -1

    def batch_of(self, i: int) -> int:
        """Micro-batch appended by op ``i`` (an append slot)."""
        cycle, slot = divmod(i, self.round_size)
        return cycle * len(gen.CYCLE_KINDS) + self.CYCLE[:slot].count("append")

    def exhausted(self, i):
        return i // self.round_size >= gen.INGEST_BATCHES // len(gen.CYCLE_KINDS)

    def prepare(self, spark):
        from pedsnetdcc_spark.datapipe.dedup import build_span_index
        from pedsnetdcc_spark.datapipe.similarity import build_ivf_index

        base = os.path.join(self.work, "ingest")
        shutil.rmtree(base, ignore_errors=True)
        self.span_idx = f"{base}/span_idx"
        self.ivf_idx = f"{base}/ivf_idx"
        self.vec_src, self.vec_ckpt = f"{base}/vec_src", f"{base}/vec_ckpt"
        self.ev_src, self.ev_ckpt, self.ev_sink = f"{base}/ev_src", f"{base}/ev_ckpt", f"{base}/ev_sink"
        for p in (self.vec_src, self.ev_src):
            os.makedirs(p)
        docs = spark.read.parquet(f"{self.data}/base_documents.parquet")
        vecs = spark.read.parquet(f"{self.data}/base_embeddings.parquet")
        with self.tracer.span("index.build_span_index", "index", kind="call"):
            build_span_index(docs, self.span_idx, "doc_id", "text", k=SPAN_K, digest="xxh64")
        with self.tracer.span("index.build_ivf_index", "index", kind="call"):
            build_ivf_index(
                vecs, self.ivf_idx, "vec_id", "embedding", n_centroids=16, assign="flat", seed=0,
                iters=3,
            )
        self.base_index_bytes = dir_bytes(self.span_idx) + dir_bytes(self.ivf_idx)
        self.appended_docs = [f"{self.data}/base_documents.parquet"]
        self.appended_vecs = [f"{self.data}/base_embeddings.parquet"]
        self.appended_events = []
        self.staged: list[tuple[str, str]] = []
        self.queries_docs = docs.limit(50)
        self.queries_vecs = vecs.where(F.col("vec_id") < 16)

    def before_timed(self, spark):
        """Start the two long-running streams (IVF append sink, stateful
        era derivation)."""
        from pedsnetdcc_spark.datapipe.similarity import stream_ivf_index_append
        from pedsnetdcc_spark.streaming.incremental import (
            scoped_stream_shuffle_partitions,
            streaming_interval_eras,
        )

        with scoped_stream_shuffle_partitions(spark):
            self.ivf_q = stream_ivf_index_append(
                spark.readStream.schema("vec_id long, embedding array<float>").parquet(
                    self.vec_src
                ),
                self.ivf_idx,
                epoch_offset=0,
                checkpoint=self.vec_ckpt,
            ).start()
            iv = spark.readStream.schema(STREAM_SCHEMA).parquet(self.ev_src).select(
                "user_id",
                F.col("ts").alias("start_ts"),
                (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("end_ts"),
            )
            self.eras_q = (
                streaming_interval_eras(
                    iv, ["user_id"], "start_ts", "end_ts", gap_days=ERA_GAP, watermark="3 days"
                )
                .writeStream.format("parquet")
                .option("path", self.ev_sink)
                .option("checkpointLocation", self.ev_ckpt)
                .outputMode("append")
                .start()
            )

    def op(self, spark, i):
        kind = self.CYCLE[i % self.round_size]
        rows = getattr(self, f"_{kind}")(spark, i)
        spark.catalog.clearCache()
        return kind, rows

    def _append(self, spark, i):
        """Append one micro-batch's documents to the span index and stage
        its vectors and events for the next drain."""
        from pedsnetdcc_spark.datapipe.dedup import append_span_index
        from pedsnetdcc_spark.util import IndexWriterLocked

        b = f"{self.batch_of(i):03d}"
        docs_p = f"{self.data}/batches/docs_{b}.parquet"
        vecs_p = f"{self.data}/batches/vecs_{b}.parquet"
        ev_p = f"{self.data}/events/batch_{b}.parquet"
        t0 = now()
        try:
            with self.tracer.span("index.append_span_index", "index", kind="call"):
                append_span_index(spark.read.parquet(docs_p), self.span_idx)
        except IndexWriterLocked:
            self.bump("lock_conflicts")
            raise
        self.appended_docs.append(docs_p)
        self.staged.append((vecs_p, ev_p))
        self.bump("append_ms", (now() - t0) * 1000)
        self.bump("commits")
        self.bump("input_bytes", sum(os.path.getsize(p) for p in (docs_p, vecs_p, ev_p)))
        return sum(parquet_rows(p) for p in (docs_p, vecs_p, ev_p))

    def _drain(self, spark, i):
        """Commit every staged vector and event through the two streams.
        The cycle's rows reach each stream source only here, as one file
        renamed into place, so the streams stay idle while the other ops
        run and every drain is exactly one micro-batch per stream."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        t0 = now()
        name = f"cycle_{i // self.round_size:03d}.parquet"
        for src, paths in ((self.vec_src, [v for v, _ in self.staged]),
                           (self.ev_src, [e for _, e in self.staged])):
            tables = [pq.read_table(p) for p in paths]
            pq.write_table(pa.concat_tables([t.cast(tables[0].schema) for t in tables]),
                           f"{src}/.{name}")  # hidden from the file source
            os.rename(f"{src}/.{name}", f"{src}/{name}")
        with self.tracer.span("index.stream_ivf_index_append", "index", kind="call"):
            self.ivf_q.processAllAvailable()
        with self.tracer.span("streaming.streaming_interval_eras", "streaming", kind="call"):
            self.eras_q.processAllAvailable()
        self.appended_vecs += [v for v, _ in self.staged]
        self.appended_events += [e for _, e in self.staged]
        self.staged = []
        self.bump("append_ms", (now() - t0) * 1000)
        self.bump("commits", 2)
        return 0

    def _compact(self, spark, i):
        from pedsnetdcc_spark.datapipe.dedup import maybe_compact_span_index
        from pedsnetdcc_spark.datapipe.similarity import maybe_compact_ivf_index

        for label, fn, path, kw in (
            ("index.maybe_compact_span_index", maybe_compact_span_index, self.span_idx,
             {"max_generations": self.MAX_GENERATIONS}),
            ("index.maybe_compact_ivf_index", maybe_compact_ivf_index, self.ivf_idx,
             {"max_epochs": self.MAX_EPOCHS}),
        ):
            c0 = now()
            with self.tracer.span(label, "index", kind="call"):
                rep = fn(spark, path, **kw)
            if rep.get("triggered"):
                self.bump("compactions")
                self.bump("compact_ms", (now() - c0) * 1000)
        return 0

    def _read_span(self, spark, i):
        from pedsnetdcc_spark.datapipe.dedup import duplicate_spans_against_index

        q0 = now()
        with self.tracer.span("index.duplicate_spans_against_index", "index", kind="call"):
            found = duplicate_spans_against_index(self.queries_docs, self.span_idx)
        self.act(found, "action.duplicate_spans")
        self.bump("query_ms", (now() - q0) * 1000)
        return 0

    def _read_ivf(self, spark, i):
        from pedsnetdcc_spark.datapipe.similarity import open_ivf_index

        q0 = now()
        with self.tracer.span("index.IvfIndexHandle.query", "index", kind="call"):
            got = open_ivf_index(spark, self.ivf_idx).query(self.queries_vecs, k=5, nprobe=4)
        self.act(got, "action.ivf_query", collect=True)
        self.bump("query_ms", (now() - q0) * 1000)
        return 0

    def mark(self):
        super().mark()
        last = self.eras_q.lastProgress
        self.batch_mark = last["batchId"] if last else -1

    def stop_streams(self):
        for q in (self.ivf_q, self.eras_q):
            q.stop()

    def check(self, spark):
        """Exactly-once checks in DuckDB: the span index's total shingle
        count equals the shingles of every document indexed (base plus
        appended generations); the IVF index holds every appended vector
        exactly once; emitted eras never overlap within a key and never
        count more events than were consumed."""
        self.stop_streams()
        con = duckdb.connect()
        probs = []
        try:
            files = ", ".join(f"'{p}'" for p in self.appended_docs)
            want = con.execute(
                f"""SELECT COALESCE(SUM(GREATEST(len(string_split(text, ' ')) - {SPAN_K - 1}, 0)), 0)
                    FROM read_parquet([{files}])"""
            ).fetchone()[0]
            idx_files = visible_parquet(f"{self.span_idx}", ("keys", "keys_delta"))
            got = con.execute(
                f"SELECT COALESCE(SUM(cnt), 0) FROM read_parquet({idx_files!r})"
            ).fetchone()[0]
            if int(got) != int(want):
                probs.append(f"span index holds {got} shingles, corpus has {want}")
            vfiles = ", ".join(f"'{p}'" for p in self.appended_vecs)
            want_n, want_d = con.execute(
                f"SELECT COUNT(*), COUNT(DISTINCT vec_id) FROM read_parquet([{vfiles}])"
            ).fetchone()
            cells = visible_parquet(self.ivf_idx, ("cells", "cells_delta"))
            got_n, got_d = con.execute(
                f"SELECT COUNT(*), COUNT(DISTINCT vec_id) FROM read_parquet({cells!r}, union_by_name=true)"
            ).fetchone()
            if (got_n, got_d) != (want_d, want_d):
                probs.append(f"IVF index rows/distinct {(got_n, got_d)}, appended {(want_n, want_d)}")
            sink = glob.glob(f"{self.ev_sink}/*.parquet")
            if sink:
                efiles = ", ".join(f"'{p}'" for p in self.appended_events)
                consumed = con.execute(f"SELECT COUNT(*) FROM read_parquet([{efiles}])").fetchone()[0]
                emitted, overlaps = con.execute(
                    f"""WITH e AS (SELECT * FROM read_parquet({sink!r}))
                        SELECT (SELECT COALESCE(SUM(era_count), 0) FROM e),
                               (SELECT COUNT(*) FROM e a JOIN e b ON a.user_id = b.user_id
                                  AND a.era_start_ts < b.era_start_ts
                                  AND b.era_start_ts <= a.era_end_ts)"""
                ).fetchone()
                if emitted > consumed or overlaps:
                    probs.append(f"eras emitted {emitted} of {consumed} events, {overlaps} overlaps")
        finally:
            con.close()
        return probs

    def layer_metrics(self):
        c = self.counters
        live = 0
        for d in (f"{self.span_idx}/keys_delta", f"{self.ivf_idx}/cells_delta"):
            if os.path.isdir(d):
                live += sum(1 for x in os.listdir(d) if not x.startswith((".", "_")))
        on_disk = dir_bytes(self.span_idx) + dir_bytes(self.ivf_idx)
        progress = [p for p in self.eras_q.recentProgress if p["batchId"] > self.batch_mark]
        progs = [p for p in progress if p.get("numInputRows", 0) > 0]
        dur = lambda k: sum(p.get("durationMs", {}).get(k, 0) for p in progs)  # noqa: E731
        last_state = (progress[-1].get("stateOperators") or [{}]) if progress else [{}]
        return {
            "index.commits": c.get("commits", 0.0),
            "index.append_ms": c.get("append_ms", 0.0),
            "index.compactions": c.get("compactions", 0.0),
            "index.compact_ms": c.get("compact_ms", 0.0),
            "index.live_generations": float(live),
            "index.bytes_on_disk": float(on_disk),
            "index.bytes_written_per_input_byte": (
                (on_disk - self.base_index_bytes) / c["input_bytes"] if c.get("input_bytes") else 0.0
            ),
            "index.query_ms": c.get("query_ms", 0.0),
            "index.lock_conflicts": c.get("lock_conflicts", 0.0),
            "streaming.batch_ms": float(dur("triggerExecution")),
            "streaming.addBatch_ms": float(dur("addBatch")),
            "streaming.queryPlanning_ms": float(dur("queryPlanning")),
            "streaming.walCommit_ms": float(dur("walCommit")),
            "streaming.state_rows": float(sum(s.get("numRowsTotal", 0) for s in last_state)),
            "streaming.state_mem_bytes": float(sum(s.get("memoryUsedBytes", 0) for s in last_state)),
        }


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def visible_parquet(root: str, subdirs: tuple[str, ...]) -> list[str]:
    """Parquet files under ``root/<subdir>`` that Spark would read: no
    path component below ``root`` starts with ``.`` or ``_``."""
    out = []
    for sub in subdirs:
        for f in glob.glob(os.path.join(root, sub, "**", "*.parquet"), recursive=True):
            parts = os.path.relpath(f, root).split(os.sep)
            if not any(p.startswith((".", "_")) for p in parts):
                out.append(f)
    return sorted(out)


WORKLOADS = {w.name: w for w in (ClinicalInteractive, IncrementalIngest)}
