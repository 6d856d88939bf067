"""Single-thread kernel replays, outside Spark, for the traced run.

Each replay runs a fixed sample REPS times and reports the median, so the
per-core kernel rate can be set against what Spark achieves on the same
table (``engine.encode.spark_overhead``).
"""

from __future__ import annotations

import statistics
import time

import pyarrow as pa
import pyarrow.compute as pc

REPS = 3
SAMPLE_SLICES = 4
SLICE_ROWS = 4096


def sorted_sample(source: pa.Table) -> list[pa.Table]:
    """SAMPLE_SLICES runs of SLICE_ROWS key-sorted rows, evenly spaced over
    the sort order — the shape of the chunks a range-partitioned encode
    task sees."""
    srt = source.sort_by("doc_id")
    step = srt.num_rows // SAMPLE_SLICES
    last = max(0, srt.num_rows - SLICE_ROWS)
    return [srt.slice(min(last, max(0, i * step + (step - SLICE_ROWS) // 2)), SLICE_ROWS)
            for i in range(SAMPLE_SLICES)]


def _tokens(tables) -> int:
    return sum(int(pc.sum(pc.list_value_length(t.column("tokens"))).as_py() or 0)
               for t in tables)


def _median_s(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def encode_fn_rate(sample: list[pa.Table]) -> float:
    """Tokens per second through ``engine.make_encode_fn`` (the mapInArrow
    closure the encode job runs), one thread, no Spark."""
    from wills_columnar_format_spark.engine import make_encode_fn

    fn = make_encode_fn(key_col="doc_id", codec="auto")

    def run():
        for t in sample:
            for _ in fn(iter(t.to_batches())):
                pass

    return _tokens(sample) / _median_s(run)


def column_rates(sample: list[pa.Table]) -> dict:
    """``column.encode_column`` / ``decode_column`` token rates on the
    sample's token values, and the share of encode time spent in
    ``selector.choose_codec``."""
    from wills_columnar_format_spark.codecs import ColumnValues
    from wills_columnar_format_spark.column import decode_column, encode_column
    from wills_columnar_format_spark.format import DEFAULT_TARGET_PAGE_SIZE
    from wills_columnar_format_spark.selector import choose_codec

    cols = [ColumnValues.from_arrow(pc.list_flatten(t.column("tokens")).combine_chunks())
            for t in sample]
    n = sum(c.n for c in cols)
    blobs = [encode_column(c)[0] for c in cols]
    enc_s = _median_s(lambda: [encode_column(c) for c in cols])
    choose_s = _median_s(lambda: [choose_codec(c, DEFAULT_TARGET_PAGE_SIZE) for c in cols])
    dec_s = _median_s(lambda: [decode_column(b) for b in blobs])
    return {"encode": n / enc_s, "decode": n / dec_s, "choose_share": choose_s / enc_s}


def file_decode_rate(ckpt_file: str, out_schema: pa.Schema) -> float:
    """Tokens per second through ``engine.make_file_decode_fn`` over one
    manifest file, one thread, no Spark."""
    from wills_columnar_format_spark.engine import make_file_decode_fn

    fn = make_file_decode_fn(out_schema, None, None, False)
    arg = pa.RecordBatch.from_pydict({"path": [ckpt_file]})
    counted = []

    def run():
        tok = 0
        for rb in fn(iter([arg])):
            tok += int(pc.sum(pc.list_value_length(rb.column("tokens"))).as_py() or 0)
        counted.append(tok)

    sec = _median_s(run)
    return counted[-1] / sec
