"""Answer checking: a canonical digest of a result, and the references
it is compared against (the registry's DuckDB oracle, and the aggregates
the generator knows for the file operations)."""

from __future__ import annotations

import datetime as dt
import decimal
import gzip
import hashlib
import math
import os
import struct


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        # 9 significant digits: engines sum floats in different orders
        return float(f"{f:.9g}")
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon_value(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical(rows, columns) -> list[tuple]:
    """Rows as tuples with columns ordered by name, values normalised
    across engines, and rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def digest_rows(rows, columns) -> str:
    cols = tuple(sorted(columns))
    h = hashlib.sha256(repr(cols).encode())
    h.update(repr(canonical(rows, columns)).encode())
    return h.hexdigest()[:16]


def digest_arrow(table) -> str:
    cols = table.column_names
    data = [table.column(i).to_pylist() for i in range(len(cols))]
    return digest_rows(list(zip(*data)) if cols else [], cols)


def oracle_digests(sf_dir: str, threads: int, tables, queries: dict[str, str]) -> dict[str, str]:
    """Digest of each query's DuckDB oracle answer over the tables in
    ``sf_dir``. The connection is closed before returning, so no DuckDB
    thread runs while an operation is timed."""
    import duckdb

    con = duckdb.connect(config={"threads": threads})
    try:
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in queries.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[name] = digest_rows(res.fetchall(), cols)
        return out
    finally:
        con.close()


def bam_profile(path: str) -> dict:
    """Re-read a BAM file without the program: record count, count per
    flag value and the sum of 1-based positions of mapped records."""
    with open(path, "rb") as fh:
        data = gzip.decompress(fh.read())  # BGZF is multi-member gzip
    if data[:4] != b"BAM\x01":
        raise ValueError(f"{path}: not a BAM file")
    (l_text,) = struct.unpack_from("<i", data, 4)
    off = 8 + l_text
    (n_ref,) = struct.unpack_from("<i", data, off)
    off += 4
    for _ in range(n_ref):
        (l_name,) = struct.unpack_from("<i", data, off)
        off += 4 + l_name + 4
    n, pos_sum, by_flag = 0, 0, {}
    end = len(data)
    while off < end:
        block_size, _ref_id, pos = struct.unpack_from("<iii", data, off)
        (flag,) = struct.unpack_from("<H", data, off + 18)
        by_flag[flag] = by_flag.get(flag, 0) + 1
        if not flag & 0x4:
            pos_sum += pos + 1
        n += 1
        off += 4 + block_size
    return {"n": n, "by_flag": by_flag, "pos_sum": pos_sum}
