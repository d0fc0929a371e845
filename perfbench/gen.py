"""Seeded input generator for the benchmark workloads.

Every table a workload reads is written here from ``(seed, scale)``;
the library only ever sees these generated files.  The clinical and
corpus synthesizers of ``scripts/scale_probe.py`` are reused by import
(the 20 % near-copy rule for documents, the 10 % noised-copy rule for
embeddings, the time-ordered event micro-batch files); ``scale_probe`` derives its document vocabulary from
a checked-in dataset, so here that profile is replaced by a seeded
Zipf vocabulary before its generators run.

Output lands under ``<work>/data/<workload>-s<seed>-x<scale>/`` with a
``.complete`` marker, so a repeated (workload, seed, scale) reuses it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.join(ROOT, "scripts") not in sys.path:
    sys.path.insert(0, os.path.join(ROOT, "scripts"))

import scale_probe  # noqa: E402  (scripts/ is not a package)

# Base sizes at scale 1.0 (the row counts of the sf0.01 reference set,
# whose schemas the clinical tables copy column for column).
CLINICAL_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
COLORS = ["red", "blue", "green", "small", "big", "old", "new", "hot"]
PART_WORDS = ["bolt", "gear", "plate", "ring", "widget", "anvil", "nut", "pipe"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "the a of and to in is it data table query spark row column key value "
    "join scan sort hash merge batch stream window group order filter agg "
    "line part customer fast slow big small index plan stage task "
    "shuffle cache record field schema era cohort person visit drug "
    "condition measurement site concept domain"
).split()


def zipf_profile(seed: int, vocab: int = 400) -> tuple[list[str], np.ndarray, int, int]:
    """(words, probabilities, min_len, max_len) — a seeded Zipf(1.1)
    unigram vocabulary in the shape ``scale_probe._corpus_profile``
    returns, with the stop words of ``datapipe.text`` at the head so
    the Gopher rules see realistic stop-word rates."""
    rng = np.random.default_rng(seed * 7 + 3)
    extra = []
    while len(WORDS) + len(extra) < vocab:
        n = int(rng.integers(3, 9))
        extra.append("".join(chr(97 + c) for c in rng.integers(0, 26, n)))
    words = list(dict.fromkeys(WORDS + extra))[:vocab]
    ranks = np.arange(1, len(words) + 1, dtype=np.float64)
    probs = 1.0 / ranks**1.1
    return words, probs / probs.sum(), 30, 90


def with_short_docs(texts: list[str], rng, share: float = 0.25) -> list[str]:
    """Cut a seeded ``share`` of the documents to 8-24 words, below the
    Gopher minimum of 30: a corpus with low-quality documents, so the
    rule labels the quality classifier learns from hold both classes."""
    out = list(texts)
    for i in np.flatnonzero(rng.random(len(out)) < share):
        out[i] = " ".join(out[i].split(" ")[: int(rng.integers(8, 25))])
    return out


def _use_profile(seed: int) -> None:
    prof = zipf_profile(seed)
    scale_probe._corpus_profile = lambda: prof


def _ts_ns(us: np.ndarray) -> pa.Array:
    """Micro-precision instants stored as parquet TIMESTAMP(NANOS)."""
    return pa.array(us.astype("datetime64[ns]"), pa.timestamp("ns"))


def _write(tbl: pa.Table, path: str) -> None:
    pq.write_table(tbl, path, version="2.6")


def gen_clinical(seed: int, scale: float, d: str) -> None:
    """The ten tables of the sf-shaped clinical namespace, same schemas
    as the reference sf sets, events.ts stored as TIMESTAMP(NANOS)."""
    n = {k: max(5, int(v * scale)) for k, v in CLINICAL_ROWS.items()}
    rng = np.random.default_rng(seed)
    _write(
        pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        f"{d}/region.parquet",
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        f"{d}/nation.parquet",
    )
    nc, ns, np_, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"]
    )
    _write(
        pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
            "c_mktsegment": pa.array(np.array(SEGMENTS, object)[rng.integers(0, 5, nc)], pa.string()),
        }),
        f"{d}/customer.parquet",
    )
    _write(
        pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
        }),
        f"{d}/supplier.parquet",
    )
    names = np.char.add(
        np.char.add(np.array(COLORS)[rng.integers(0, len(COLORS), np_)], " "),
        np.array(PART_WORDS)[rng.integers(0, len(PART_WORDS), np_)],
    )
    _write(
        pa.table({
            "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
            "p_name": pa.array(names.astype(object), pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
            "p_type": pa.array(np.array(P_TYPES, object)[rng.integers(0, 6, np_)], pa.string()),
            "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(np_) % 1000) / 10.0),
        }),
        f"{d}/part.parquet",
    )
    day = np.int64(86_400_000_000)
    t95 = np.datetime64("1995-01-01", "us").astype(np.int64)
    odate = t95 + rng.integers(0, 2405, no) * day
    _write(
        pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"], object)[rng.integers(0, 3, no)], pa.string()),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
            "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES, object)[rng.integers(0, 5, no)], pa.string()),
        }),
        f"{d}/orders.parquet",
    )
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(
        pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"], object)[rng.integers(0, 3, nl)], pa.string()),
            "l_linestatus": pa.array(np.array(["F", "O"], object)[rng.integers(0, 2, nl)], pa.string()),
            "l_shipdate": pa.array(
                (t95 + rng.integers(1, 2499, nl) * day).astype("datetime64[us]"), pa.timestamp("us")
            ),
        }),
        f"{d}/lineitem.parquet",
    )
    t24 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ets = np.sort(t24 + rng.integers(0, 30 * day, ne))
    _write(
        pa.table({
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": _ts_ns(ets.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, nc, ne).astype(np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES, object)[rng.integers(0, 5, ne)], pa.string()),
            "value": pa.array(np.round(rng.exponential(40.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }),
        f"{d}/events.parquet",
    )
    _use_profile(seed)
    scale_probe.gen_documents(n["documents"], seed + 11, f"{d}/documents.parquet")
    docs = pq.read_table(f"{d}/documents.parquet")
    langs = np.array(["en", "de", "fr", "es", "zh"], object)[rng.integers(0, 5, docs.num_rows)]
    docs = docs.set_column(docs.schema.get_field_index("lang"), "lang", pa.array(langs, pa.string()))
    docs = docs.set_column(
        docs.schema.get_field_index("text"), "text",
        pa.array(with_short_docs(docs.column("text").to_pylist(), rng), pa.string()),
    )
    _write(docs, f"{d}/documents.parquet")
    scale_probe.gen_embeddings(n["embeddings"], seed + 12, f"{d}/embeddings.parquet")


# The incremental-ingest shape: a base corpus indexed during set-up,
# then micro-batches of new documents / embeddings / events, taken in
# cycles of ``len(CYCLE_KINDS)`` batches.
INGEST_BASE_DOCS = 500
INGEST_BASE_VECS = 1_000
CYCLE_KINDS = ("fresh", "dup", "fresh", "empty")
INGEST_BATCHES = 8 * len(CYCLE_KINDS)


def batch_kind(b: int) -> str:
    """Kind of micro-batch ``b``: every cycle of four holds two fresh
    batches, one duplicate-heavy and one empty, at fixed positions, so
    every seed and every cycle times the same mix of kinds; the seed
    changes their contents."""
    return CYCLE_KINDS[b % len(CYCLE_KINDS)]


def gen_ingest(seed: int, scale: float, d: str) -> None:
    """Base corpus plus ``INGEST_BATCHES`` seeded micro-batches of the
    kinds ``batch_kind`` assigns: duplicate-heavy batches carry
    near-copies of base documents and noised copies of base vectors.
    Events come from ``scale_probe``'s time-ordered micro-batch files
    (3-on/4-off bursts per user)."""
    _use_profile(seed)
    rng = np.random.default_rng(seed)
    n_docs = max(20, int(INGEST_BASE_DOCS * scale))
    n_vecs = max(40, int(INGEST_BASE_VECS * scale))
    per_docs = max(5, n_docs // 20)
    per_vecs = max(5, n_vecs // 20)
    total_docs = n_docs + per_docs * INGEST_BATCHES
    total_vecs = n_vecs + per_vecs * INGEST_BATCHES
    os.makedirs(f"{d}/all", exist_ok=True)
    scale_probe.gen_documents(total_docs, seed + 1, f"{d}/all/documents.parquet")
    scale_probe.gen_embeddings(total_vecs, seed + 2, f"{d}/all/embeddings.parquet")
    docs = pq.read_table(f"{d}/all/documents.parquet").select(["doc_id", "text"])
    vecs = pq.read_table(f"{d}/all/embeddings.parquet").select(["vec_id", "embedding"])
    _write(docs.slice(0, n_docs), f"{d}/base_documents.parquet")
    _write(vecs.slice(0, n_vecs), f"{d}/base_embeddings.parquet")
    base_texts = docs.column("text").to_pylist()[:n_docs]
    base_v = np.array(vecs.column("embedding").to_pylist()[:n_vecs], dtype=np.float32)
    kinds = [batch_kind(b) for b in range(INGEST_BATCHES)]
    os.makedirs(f"{d}/batches", exist_ok=True)
    for b, kind in enumerate(kinds):
        lo_d, lo_v = n_docs + b * per_docs, n_vecs + b * per_vecs
        bd = docs.slice(lo_d, per_docs)
        bv = vecs.slice(lo_v, per_vecs)
        if kind == "dup":
            texts = []
            for t in (base_texts[i] for i in rng.integers(0, n_docs, per_docs)):
                toks = t.split(" ")
                k = int(rng.integers(0, len(toks)))
                toks[k] = "dup" + toks[k]
                texts.append(" ".join(toks))
            bd = bd.set_column(1, "text", pa.array(texts, pa.string()))
            v = base_v[rng.integers(0, n_vecs, per_vecs)]
            v = v + 0.02 * rng.standard_normal(v.shape).astype(np.float32)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            bv = bv.set_column(1, "embedding", pa.array(list(v), pa.list_(pa.float32())))
        elif kind == "empty":
            bd, bv = bd.slice(0, 0), bv.slice(0, 0)
        _write(bd, f"{d}/batches/docs_{b:03d}.parquet")
        _write(bv, f"{d}/batches/vecs_{b:03d}.parquet")
    users = max(5, int(200 * scale))
    scale_probe.gen_stream_batches(users, INGEST_BATCHES, seed + 3, f"{d}/events")
    for b, kind in enumerate(kinds):
        if kind == "empty":
            p = f"{d}/events/batch_{b:03d}.parquet"
            _write(pq.read_table(p).slice(0, 0), p)
    shutil.rmtree(f"{d}/all")


GENERATORS = {
    "clinical_interactive": gen_clinical,
    "incremental_ingest": gen_ingest,
}


def table_sizes(d: str) -> dict[str, dict[str, int]]:
    """Rows and bytes of every parquet file under ``d``, keyed by its
    path relative to ``d``."""
    out = {}
    for dirpath, _, files in os.walk(d):
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, d)] = {
                    "rows": pq.ParquetFile(p).metadata.num_rows,
                    "bytes": os.path.getsize(p),
                }
    return out


def digest(d: str) -> str:
    """Content digest of every parquet file's decoded rows (independent
    of writer metadata such as timestamps)."""
    h = hashlib.sha256()
    for rel in sorted(table_sizes(d)):
        h.update(rel.encode())
        tbl = pq.read_table(os.path.join(d, rel))
        for col in tbl.columns:
            h.update(str(col.to_pylist()).encode())
    return h.hexdigest()


def ensure(work: str, workload: str, seed: int, scale: float, keep: int = 6) -> str:
    """Generated input directory for (workload, seed, scale), built on
    first use; at most ``keep`` generated sets stay cached."""
    root = os.path.join(work, "data")
    d = os.path.join(root, f"{workload}-s{seed}-x{scale:g}")
    if os.path.exists(os.path.join(d, ".complete")):
        os.utime(d)
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    GENERATORS[workload](seed, scale, d)
    open(os.path.join(d, ".complete"), "w").close()
    cached = sorted(
        (os.path.join(root, x) for x in os.listdir(root)), key=os.path.getmtime
    )
    for old in cached[:-keep]:
        shutil.rmtree(old, ignore_errors=True)
    return d
