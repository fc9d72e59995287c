"""Deterministic benchmark inputs, made from a seed.

Everything the program under test reads is generated here: the TPC-H-like
star schema plus the ``events``, ``documents`` and ``embeddings`` tables
(the row counts, schemas and value domains of the engine's sf0.01 test
tables), and a FASTQ and a SAM file for the source/sink operations. The same seed gives
byte-identical files; the generator also returns the aggregates a correct
reader must reproduce, so the file operations are checked against the
generator rather than against the program itself.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the engine's sf0.01 tables.
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
ADJECTIVES = ["blue", "red", "green", "small", "large", "shiny", "old", "new"]
NOUNS = ["anvil", "widget", "ring", "bolt", "gear", "spring", "valve", "lever"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EMB_DIM = 64
EMB_LABELS = 10
SAM_FLAGS = (0, 16, 4, 99, 147, 83, 163, 256, 272, 2048, 1024, 512)
SAM_REFS = 24
SAM_REF_LEN = 1_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream), so adding a stream
    never changes the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _dates(rng: np.random.Generator, start: dt.date, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span_days + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int) -> dict[str, pa.Table]:
    """The relational tables plus ``events``."""
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n)],
    })
    r = _rng(seed, "supplier")
    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n),
    })
    r = _rng(seed, "part")
    n = ROWS["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [
            f"{ADJECTIVES[a]} {NOUNS[b]}"
            for a, b in zip(r.integers(0, 8, n), r.integers(0, 8, n))
        ],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
    })
    r = _rng(seed, "orders")
    n = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _dates(r, dt.date(1995, 1, 1), 2404, n),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n)],
    })
    r = _rng(seed, "lineitem")
    n = ROWS["lineitem"]
    qty = r.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n)],
        "l_shipdate": _dates(r, dt.date(1995, 1, 2), 2498, n),
    })
    r = _rng(seed, "events")
    n = ROWS["events"]
    gaps = np.maximum(1, np.round(r.exponential(259e6, n))).astype(np.int64)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": _money(r, 0.01, 490.0, n),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })
    return out


def documents(seed: int) -> pa.Table:
    """500 documents of 10-99 random words. About 5% are near-duplicates:
    an earlier text plus " dup"."""
    r = _rng(seed, "documents")
    n = ROWS["documents"]
    texts: list[str] = []
    for _ in range(n):
        if texts and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, len(texts)))] + " dup")
        else:
            words = r.integers(0, len(VOCAB), int(r.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": ["en" if r.random() < 0.44 else LANGS[int(r.integers(1, 5))] for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int) -> pa.Table:
    """500 unit vectors around ten label centres."""
    r = _rng(seed, "embeddings")
    n = ROWS["embeddings"]
    centres = r.normal(0.0, 0.0175, (EMB_LABELS, EMB_DIM))
    labels = r.integers(0, EMB_LABELS, n)
    v = centres[labels] + r.normal(0.0, 0.124, (n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).reshape(-1), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, EMB_DIM)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table as ``<name>.parquet`` under ``out_dir`` and return
    their sizes in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(seed)
    tables["documents"] = documents(seed)
    tables["embeddings"] = embeddings(seed)
    sizes = {}
    for name in TABLES:
        t = tables[name]
        sizes[name] = _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return sizes


def fastq(path: str, seed: int, n_reads: int) -> dict:
    """Write ``n_reads`` single-end reads of 40-80 bases and return the
    aggregates a reader must reproduce: reads, bases and the sum of the
    decoded (offset-33) quality scores."""
    r = _rng(seed, "fastq")
    lens = r.integers(40, 81, n_reads)
    total = int(lens.sum())
    seq = np.frombuffer(b"ACGT", np.uint8)[r.integers(0, 4, total)].tobytes()
    qual_codes = r.integers(0, 41, total).astype(np.uint8)
    qual = (qual_codes + 33).tobytes()
    ends = np.cumsum(lens)
    starts = ends - lens
    with open(path, "wb") as fh:
        for i in range(n_reads):
            a, b = int(starts[i]), int(ends[i])
            fh.write(b"@read%08d\n%s\n+\n%s\n" % (i, seq[a:b], qual[a:b]))
    return {"n": n_reads, "bases": total, "qsum": int(qual_codes.sum(dtype=np.int64)),
            "bytes": os.path.getsize(path)}


def sam(path: str, seed: int, n_records: int) -> dict:
    """Write a header plus ``n_records`` SEQ/QUAL-less alignments and
    return the reference lengths, the record count, the count per flag
    value and the sum of 1-based positions of mapped records."""
    r = _rng(seed, "sam")
    flags = np.array(SAM_FLAGS)[r.integers(0, len(SAM_FLAGS), n_records)]
    refs = r.integers(0, SAM_REFS, n_records)
    pos = r.integers(1, SAM_REF_LEN - 200, n_records)
    mlen = r.integers(30, 150, n_records)
    mapq = r.integers(0, 61, n_records)
    ref_lengths = [(f"ref{i:02d}", SAM_REF_LEN) for i in range(SAM_REFS)]
    by_flag: dict[int, int] = {}
    pos_sum = 0
    with open(path, "w") as fh:
        fh.write("@HD\tVN:1.6\tSO:unsorted\n")
        for name, ln in ref_lengths:
            fh.write(f"@SQ\tSN:{name}\tLN:{ln}\n")
        for i in range(n_records):
            f = int(flags[i])
            by_flag[f] = by_flag.get(f, 0) + 1
            if f & 0x4:
                fh.write(f"q{i:08d}\t{f}\t*\t0\t0\t*\t*\t0\t0\t*\t*\n")
                continue
            p = int(pos[i])
            pos_sum += p
            fh.write(
                f"q{i:08d}\t{f}\t{ref_lengths[refs[i]][0]}\t{p}\t{int(mapq[i])}\t"
                f"{int(mlen[i])}M\t*\t0\t0\t*\t*\tNM:i:{i % 4}\n"
            )
    return {"n": n_records, "by_flag": by_flag, "pos_sum": pos_sum,
            "ref_lengths": ref_lengths, "bytes": os.path.getsize(path)}
