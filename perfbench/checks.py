"""Output checks and seeded lookup keys.

The table digest is order-independent and cannot overflow: Spark 4.1 runs
in ANSI mode, where ``sum(xxhash64(...))`` over bigint raises
ARITHMETIC_OVERFLOW, so each row hash is widened to decimal before the sum.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COLUMNS = ("doc_id", "tokens", "n_tok", "source")
# the token table's manifest sub-columns (engine._sub_columns shredding)
SUB_COLUMNS = ("doc_id", "tokens#lengths", "tokens#values", "n_tok", "source")
MISS_FRAC = 0.2
ZIPF_A = 1.2


def digest(df) -> tuple:
    """(rows, tokens, sum of per-row xxhash64 as decimal) of a token table."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.size("tokens").cast("bigint")),
        F.sum(F.xxhash64(*COLUMNS).cast("decimal(20,0)")),
    ).collect()[0]
    return tuple(row)


def data_files(ckpt_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(ckpt_dir, "part-*.parquet")))


def manifest_totals(ckpt_dir: str) -> dict:
    """Per sub-column value counts and stored bytes, and per-codec chunk
    counts, from the persisted manifest's metadata columns."""
    t = pa.concat_tables(
        pq.read_table(f, columns=["column", "codec", "n_values", "bytes_out"])
        for f in data_files(ckpt_dir))
    cols = t.column("column").to_pylist()
    n = t.column("n_values").to_numpy()
    b = t.column("bytes_out").to_numpy()
    values: dict[str, int] = {}
    stored: dict[str, int] = {}
    for c, nv, bo in zip(cols, n, b):
        values[c] = values.get(c, 0) + int(nv)
        stored[c] = stored.get(c, 0) + int(bo)
    codecs: dict[str, int] = {}
    for c in t.column("codec").to_pylist():
        codecs[c] = codecs.get(c, 0) + 1
    return {"values": values, "bytes": stored, "codecs": codecs,
            "files": len(data_files(ckpt_dir))}


def manifest_ok(totals: dict, rows: int, tokens: int) -> bool:
    """Every sub-column of the token table holds exactly the source's
    value count."""
    want = {c: rows for c in SUB_COLUMNS}
    want["tokens#values"] = tokens
    return totals["values"] == want


def checkpoint_matches(ckpt_dir: str, source: pa.Table) -> bool:
    """Decode every data file of a persisted checkpoint with the engine's
    per-file decode (the function the Spark decode tasks run), in this
    process, and compare it row for row with the source."""
    from wills_columnar_format_spark.engine import (
        make_file_decode_fn, read_checkpoint_schema)

    fn = make_file_decode_fn(read_checkpoint_schema(ckpt_dir), None, None, False)
    paths = pa.RecordBatch.from_pydict({"path": data_files(ckpt_dir)})
    got = pa.Table.from_batches(list(fn(iter([paths])))).select(COLUMNS)
    want = source.select(COLUMNS)
    return (got.num_rows == want.num_rows
            and got.cast(want.schema).sort_by("doc_id").equals(want.sort_by("doc_id")))


def lookup_plan(source: pa.Table, seed: int, n_ops: int):
    """Seeded closed-loop key sequence over ``source``.

    Hits are Zipf-skewed over a random ranking of the rows, so hot keys
    repeat. Misses (``MISS_FRAC``) swap a row's source prefix for another
    source's, inside that source's doc-number range: the id is absent (each
    doc number belongs to one source) but sorts between stored ids, so the
    zone maps cannot reject it. Returns (keys, expected) where expected maps
    each hit key to its source row.
    """
    rng = np.random.default_rng([seed, 0x5EED])
    doc_ids = source.column("doc_id").to_pylist()
    sources = source.column("source").to_pylist()
    n = len(doc_ids)
    # bounded Zipf over ranks 1..n, ranks assigned to rows at random
    cdf = np.cumsum(np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_A)
    hits = rng.permutation(n)[np.searchsorted(cdf / cdf[-1], rng.random(n_ops))]
    is_miss = rng.random(n_ops) < MISS_FRAC
    source_of = {int(d.rpartition("-")[2]): s for d, s in zip(doc_ids, sources)}
    span: dict[str, tuple[int, int]] = {}
    for num, s in source_of.items():
        lo, hi = span.get(s, (num, num))
        span[s] = (min(lo, num), max(hi, num))
    names = sorted(span)
    keys = []
    for hit, miss in zip(hits, is_miss):
        if not miss:
            keys.append(doc_ids[hit])
            continue
        while True:
            s = names[rng.integers(len(names))]
            num = int(rng.integers(span[s][0], span[s][1] + 1))
            if source_of[num] != s:
                break
        keys.append(f"{s}-{num:09d}")
    want = set(keys)
    idx = [i for i, d in enumerate(doc_ids) if d in want]
    expected = {r["doc_id"]: r for r in source.take(idx).to_pylist()}
    return keys, expected


def lookup_ok(rows, key: str, expected: dict) -> bool:
    """A hit returns exactly its source row; a miss returns nothing."""
    want = expected.get(key)
    if want is None:
        return len(rows) == 0
    return len(rows) == 1 and rows[0].asDict() == want
