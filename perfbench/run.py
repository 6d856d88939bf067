"""Benchmark of the columnar engine through its public entry points.

    python3 perfbench/run.py --workload bulk_encode --seed 1 --seconds 8 --trace 0

One process, one Spark session on local[<usable cores>], three workloads
(README.md says why each exists and which layer each metric belongs to):

  bulk_encode   encode_table + write_checkpoint of the seeded token table
                into a fresh directory per pass
  full_scan     decode_checkpoint of a checkpoint built in set-up, all
                columns, consumed by an order-independent digest
  point_lookup  closed loop, one client: spark.read.format("wcfs") with
                pushdown, one doc_id equality per operation

Every operation's output is checked. Standard output ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}; ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones. The line before
it holds the run's context (machine, versions, worker-zip hash, sizes).
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not __package__:  # run as a script: perfbench/ is on sys.path, not ROOT
    sys.path.insert(0, ROOT)

from perfbench import checks, kernels, tracing  # noqa: E402

PKG = "wills_columnar_format_spark"
WORKLOADS = ("bulk_encode", "full_scan", "point_lookup")
ROWS = 40_000
INPUT_FILES = 8
# explicit, because get_spark's default heap (48g) exceeds small machines
DRIVER_MEMORY = "3g"
TAIL_PCT = 75
# lookup keys planned per run: more than any run sends
LOOKUP_PLAN = 4000
# untimed passes before the loop (bulk_encode's first one is the build):
# the first two or three operations after a cold start run up to 1.5x slower
WARMUP_PASSES = 2
WARMUP_LOOKUPS = 3
PROBE_LOOKUPS = 4


def pin_environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``. TMPDIR also decides where ``session.build_package_zip``
    builds the worker zip, which it never rebuilds once present: a fresh
    directory per invocation makes the workers run this checkout's code."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_TMPFS_SHUFFLE"] = "0"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


def zip_content_hash(path: str) -> str:
    """sha256 over the zip's member names and bytes (not its timestamps)."""
    h = hashlib.sha256()
    with zipfile.ZipFile(path) as zf:
        for name in sorted(zf.namelist()):
            h.update(name.encode() + b"\0" + zf.read(name))
    return h.hexdigest()


def percentile(values, pct: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1] \
        if len(values) > 1 else values[0]


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tracer = tracing.Tracer(bool(args.trace))
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.stages = None
        self.attempted = 0
        self.failed = 0
        self.phase = "setup"
        self.samples: dict[str, dict[str, list]] = {}
        self.ops: list[tuple[float, bool]] = []
        self.summary: dict = {}
        self.context: dict = {}

    # -- bookkeeping ---------------------------------------------------------

    def record(self, name: str, value: float) -> None:
        self.samples.setdefault(self.phase, {}).setdefault(name, []).append(value)

    def layer_value(self, name: str) -> float:
        """Median over the timed loop's traced operations; layers the loop
        does not exercise fall back to the post-loop probes, then set-up."""
        return statistics.median(self.phase_values(name))

    def phase_values(self, name: str) -> list:
        for phase in ("loop", "post", "setup"):
            vals = self.samples.get(phase, {}).get(name)
            if vals:
                return vals
        raise KeyError(name)

    def attempt(self, fn, *a, traced: bool | None = None):
        """Run one operation and return its latency. ``fn`` returns the
        check of its output, which runs after the clock stops; a raise or
        a wrong output counts as failed. ``traced`` defaults to the run's
        ``--trace``."""
        self.tracer.enabled = bool(self.args.trace) if traced is None else traced
        if self.tracer.enabled:
            self.stages.delta()  # drop what ran since the last traced operation
        self.attempted += 1
        self.tracer.op = f"{self.phase}-{self.attempted}"
        t0 = time.perf_counter()
        lat = None
        try:
            with self.tracer.span(fn.__name__):
                verify = fn(*a)
            lat = time.perf_counter() - t0
            ok = verify()
        except Exception:  # noqa: BLE001 - counted, reported, run continues
            traceback.print_exc()
            ok = False
        if lat is None:
            lat = time.perf_counter() - t0
        if not ok:
            self.failed += 1
            print(f"incorrect or failed operation: {fn.__name__}{a!r}",
                  file=sys.stderr)
        return lat

    # -- set-up --------------------------------------------------------------

    def setup(self) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            from wills_columnar_format_spark import datasource
            from wills_columnar_format_spark.session import get_spark

            self.spark = get_spark(app="perfbench", cores=self.cores,
                                   driver_memory=DRIVER_MEMORY)
            datasource.register(self.spark)
        self.record("session.start_s", time.perf_counter() - t0)
        self.stages = tracing.StageReader(self.spark.sparkContext)

        t1 = time.perf_counter()
        with self.tracer.span("data.ensure_token_table"):
            from wills_columnar_format_spark.data import ensure_token_table

            src = ensure_token_table(
                os.path.join(self.work, "tokens"), self.args.rows,
                seed=self.args.seed,
                rows_per_file=max(1, self.args.rows // INPUT_FILES))
        self.record("input.gen_s", time.perf_counter() - t1)
        self.source = pq.read_table(src)
        self.df = self.spark.read.parquet(src)
        self.tokens = pc.sum(self.source.column("n_tok")).as_py()
        self.context.update(
            input_files=len(checks.data_files(src)),
            input_bytes=sum(os.path.getsize(f) for f in checks.data_files(src)))
        w = self.args.workload
        t2 = time.perf_counter()
        # the first encode pass builds the checkpoint the other workloads
        # read, and warms bulk_encode; it is never timed
        self.ckpt = os.path.join(self.work, "ckpt")
        self.attempt(self.encode_op, self.ckpt)
        self.context["ckpt_bytes"] = sum(
            os.path.getsize(f) for f in checks.data_files(self.ckpt))
        t3 = time.perf_counter()
        if w == "full_scan" or self.args.trace:
            # the reference every Spark decode is checked against
            self.ref = checks.digest(self.df)
            if self.ref[:2] != (self.args.rows, self.tokens):
                raise RuntimeError(f"source digest {self.ref} disagrees with "
                                   "the generated table")
        if w == "bulk_encode":
            for i in range(1, WARMUP_PASSES):
                self.attempt(self.encode_op, os.path.join(self.work, f"warm-{i}"))
        if w == "full_scan":
            for _ in range(WARMUP_PASSES):
                self.attempt(self.scan_op, self.ckpt)
            plan = self.scan_df._jdf.queryExecution().executedPlan().toString()
            if "Exchange" in plan:
                raise RuntimeError("full_scan decode plan is not zero-Exchange")
        if w == "point_lookup" or self.args.trace:
            self.keys, self.expected = checks.lookup_plan(
                self.source, self.args.seed, LOOKUP_PLAN + WARMUP_LOOKUPS)
        if w == "point_lookup":
            for key in self.keys[-WARMUP_LOOKUPS:]:
                self.attempt(self.lookup_op, key)
        self.setup_s = time.perf_counter() - t0
        self.context["setup_parts_s"] = {
            "session": t1 - t0, "input": t2 - t1, "build": t3 - t2,
            "warmup": self.setup_s - (t3 - t0)}

    # -- operations ----------------------------------------------------------

    def encode_op(self, dest: str):
        from wills_columnar_format_spark.engine import encode_table, write_checkpoint

        with self.tracer.span("engine.encode_table"):
            m = encode_table(self.df, key_col="doc_id", codec="auto")
        with self.tracer.span("engine.write_checkpoint"):
            write_checkpoint(m, dest, schema=self.df.schema)
        end = time.time()
        if self.tracer.enabled:
            stages, _ = self.stages.delta()
            self.record("engine.encode.exec_run_s", sum(s["run_s"] for s in stages))
            self.record("engine.encode.exec_cpu_s", sum(s["cpu_s"] for s in stages))
            self.record("engine.encode.gc_s", sum(s["gc_s"] for s in stages))
            self.record("engine.encode.shuffle_write_bytes",
                        sum(s["shuffle_write_bytes"] for s in stages))
            self.record("engine.encode.tasks", sum(s["tasks"] for s in stages))
            done = [s["completed"] for s in stages if s["completed"]]
            if done:
                self.record("engine.persist_s", end - max(done))
        return lambda: self.check_encoded(dest)

    def check_encoded(self, dest: str) -> bool:
        from wills_columnar_format_spark.codecs import ALL_CODECS

        tot = checks.manifest_totals(dest)
        self.record("bytes_per_tok", sum(tot["bytes"].values()) / self.tokens)
        self.record("engine.persist_files", tot["files"])
        self.record("engine.persist_bytes",
                    sum(os.path.getsize(f) for f in checks.data_files(dest)))
        for c in ALL_CODECS:
            self.record(f"codecs.chosen.{c.name}", tot["codecs"].get(c.name, 0))
        for sub, b in tot["bytes"].items():
            # metric names allow no '#'
            self.record(f"codecs.bytes_per_tok.{sub.replace('#', '.')}", b / self.tokens)
        return checks.manifest_ok(tot, self.args.rows, self.tokens)

    def scan_op(self, ckpt: str):
        from wills_columnar_format_spark.engine import decode_checkpoint

        t0 = time.perf_counter()
        with self.tracer.span("engine.decode_checkpoint"):
            d = self.scan_df = decode_checkpoint(self.spark, ckpt)
        if self.tracer.enabled:
            self.record("engine.decode.plan_s", time.perf_counter() - t0)
            self.stages.delta()  # the planning's metadata jobs
        with self.tracer.span("spark.digest"):
            got = checks.digest(d)
        if self.tracer.enabled:
            stages, _ = self.stages.delta()
            self.record("engine.decode.exec_run_s", sum(s["run_s"] for s in stages))
            self.record("engine.decode.exec_cpu_s", sum(s["cpu_s"] for s in stages))
            self.record("engine.decode.gc_s", sum(s["gc_s"] for s in stages))
            self.record("engine.decode.tasks", sum(s["tasks"] for s in stages))
        return lambda: got == self.ref

    def lookup_op(self, key: str):
        from pyspark.sql import functions as F

        t0 = time.time()
        with self.tracer.span("datasource.load"):
            q = (self.spark.read.format("wcfs").option("pushdown", "true")
                 .load(self.ckpt).where(F.col("doc_id") == key))
        with self.tracer.span("datasource.collect"):
            rows = q.collect()
        if self.tracer.enabled:
            stages, jobs = self.stages.delta()
            subs = [s["submitted"] for s in stages if s["submitted"]]
            self.record("datasource.plan_s", (min(subs) if subs else time.time()) - t0)
            self.record("datasource.exec_run_s", sum(s["run_s"] for s in stages))
            self.record("datasource.files_per_lookup", sum(s["tasks"] for s in stages))
            self.record("spark.jobs_per_lookup", jobs)
            self.record("rows_scanned", tracing.scan_output_rows(q))
            self.record("rows_returned", len(rows))
        return lambda: checks.lookup_ok(rows, key, self.expected)

    # -- the run -------------------------------------------------------------

    def loop(self) -> None:
        """Closed loop: the next operation starts when the previous one
        returns, until ``--seconds`` have passed. A traced run alternates
        traced and untraced operations to measure the tracing overhead."""
        self.phase = "loop"
        w = self.args.workload
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while True:
            on = bool(self.args.trace) and i % 2 == 1
            if w == "bulk_encode":
                dest = os.path.join(self.work, f"enc-{i}")
                lat = self.attempt(self.encode_op, dest, traced=on)
                # keep only the newest pass on disk; it is verified below
                shutil.rmtree(os.path.join(self.work, f"enc-{i - 1}"),
                              ignore_errors=True)
                self.last_dest = dest
            elif w == "full_scan":
                lat = self.attempt(self.scan_op, self.ckpt, traced=on)
            else:
                lat = self.attempt(self.lookup_op, self.keys[i % LOOKUP_PLAN],
                                   traced=on)
            self.ops.append((lat, on))
            i += 1
            if time.perf_counter() >= deadline:
                break

    def post(self) -> None:
        """Untimed: verify bulk_encode's last persisted checkpoint against
        the source; a traced run also replays the kernels and probes the
        layers the workload's loop does not exercise."""
        self.phase = "post"
        w = self.args.workload
        if w == "bulk_encode" and not checks.checkpoint_matches(self.last_dest, self.source):
            print(f"persisted checkpoint {self.last_dest} differs from the source",
                  file=sys.stderr)
            self.failed += 1
        if not self.args.trace:
            return
        if w != "full_scan":
            self.attempt(self.scan_op, self.ckpt)
        if w != "point_lookup":
            for key in self.keys[:PROBE_LOOKUPS]:
                self.attempt(self.lookup_op, key)
        self.replays(self.last_dest if w == "bulk_encode" else self.ckpt)

    def replays(self, ckpt: str) -> None:
        from wills_columnar_format_spark.engine import read_checkpoint_schema

        sample = kernels.sorted_sample(self.source)
        with self.tracer.span("engine.make_encode_fn.replay"):
            enc_fn = kernels.encode_fn_rate(sample)
        with self.tracer.span("column.replay"):
            col = kernels.column_rates(sample)
        biggest = max(checks.data_files(ckpt), key=os.path.getsize)
        with self.tracer.span("engine.make_file_decode_fn.replay"):
            file_dec = kernels.file_decode_rate(
                biggest, read_checkpoint_schema(ckpt))
        self.record("engine.encode_fn_tok_per_core_s", enc_fn)
        self.record("column.encode_tok_per_core_s", col["encode"])
        self.record("column.decode_tok_per_core_s", col["decode"])
        self.record("selector.choose_share", col["choose_share"])
        self.record("engine.file_decode_tok_per_core_s", file_dec)

    def run(self) -> dict:
        # the sampler's /proc walks compete for the driver's CPU: traced
        # runs only
        rss = tracing.RssSampler() if self.args.trace else contextlib.nullcontext()
        with rss:
            self.setup()
            self.loop()
            self.post()
        self.context.update(self.describe())
        lat = [t for t, _ in self.ops]
        ok = self.attempted - self.failed
        tok = self.tokens
        self.summary = {
            "workload": self.args.workload,
            "ops": len(lat),
            "latencies_ms": [round(t * 1e3, 1) for t in lat],
            "failed_frac": self.failed / self.attempted,
            "op_p50_ms": statistics.median(lat) * 1e3,
            f"op_p{TAIL_PCT}_ms": percentile(lat, TAIL_PCT) * 1e3,
        }
        if self.args.workload == "bulk_encode":
            self.summary["encode_tok_per_s"] = tok * len(lat) / sum(lat)
            self.summary["encode_bytes_per_tok"] = self.layer_value("bytes_per_tok")
        elif self.args.workload == "full_scan":
            self.summary["scan_tok_per_s"] = tok * len(lat) / sum(lat)
        if self.args.trace:
            metrics = self.layer_metrics(rss.peak_bytes)
        else:
            metrics = {
                "setup_s": (self.setup_s, "s"),
                "op_p50_ms": (self.summary["op_p50_ms"], "ms"),
                f"op_p{TAIL_PCT}_ms": (self.summary[f"op_p{TAIL_PCT}_ms"], "ms"),
                "bytes_per_tok": (self.layer_value("bytes_per_tok"), "B/tok"),
                "ok_frac": (ok / self.attempted, "ratio"),
            }
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, peak_rss: int) -> dict:
        from wills_columnar_format_spark.codecs import ALL_CODECS

        v = self.layer_value
        m = {
            "session.start_s": (v("session.start_s"), "s"),
            "input.gen_s": (v("input.gen_s"), "s"),
            "column.encode_tok_per_core_s": (v("column.encode_tok_per_core_s"), "tok/s"),
            "column.decode_tok_per_core_s": (v("column.decode_tok_per_core_s"), "tok/s"),
            "selector.choose_share": (v("selector.choose_share"), "ratio"),
            "engine.encode_fn_tok_per_core_s": (v("engine.encode_fn_tok_per_core_s"), "tok/s"),
            "engine.file_decode_tok_per_core_s": (v("engine.file_decode_tok_per_core_s"), "tok/s"),
        }
        for c in ALL_CODECS:
            m[f"codecs.chosen.{c.name}"] = (v(f"codecs.chosen.{c.name}"), "count")
        for sub in checks.SUB_COLUMNS:
            name = f"codecs.bytes_per_tok.{sub.replace('#', '.')}"
            m[name] = (v(name), "B/tok")
        pred = self.tokens / v("engine.encode_fn_tok_per_core_s")
        for layer in ("encode", "decode"):
            # a share, not seconds: a short stage often spends 0 ms in GC
            m[f"engine.{layer}.gc_share"] = (
                v(f"engine.{layer}.gc_s") / v(f"engine.{layer}.exec_run_s"), "ratio")
        for name, unit in (("exec_run_s", "s"), ("exec_cpu_s", "s"),
                           ("shuffle_write_bytes", "B"), ("tasks", "count")):
            m[f"engine.encode.{name}"] = (v(f"engine.encode.{name}"), unit)
        m["engine.encode.kernel_pred_s"] = (pred, "s")
        m["engine.encode.spark_overhead"] = (v("engine.encode.exec_run_s") / pred, "ratio")
        m["engine.persist_s"] = (v("engine.persist_s"), "s")
        m["engine.persist_bytes"] = (v("engine.persist_bytes"), "B")
        m["engine.persist_files"] = (v("engine.persist_files"), "count")
        for name, unit in (("plan_s", "s"), ("exec_run_s", "s"), ("exec_cpu_s", "s"),
                           ("tasks", "count")):
            m[f"engine.decode.{name}"] = (v(f"engine.decode.{name}"), unit)
        for name, unit in (("plan_s", "s"), ("exec_run_s", "s"),
                           ("files_per_lookup", "count")):
            m[f"datasource.{name}"] = (v(f"datasource.{name}"), unit)
        m["spark.jobs_per_lookup"] = (v("spark.jobs_per_lookup"), "count")
        scanned = sum(self.phase_values("rows_scanned"))
        returned = sum(self.phase_values("rows_returned"))
        m["datasource.rows_scanned_per_row_returned"] = (scanned / max(returned, 1), "ratio")
        m["proc.peak_rss_mb"] = (peak_rss / 2**20, "MB")
        traced = [t for t, on in self.ops if on]
        plain = [t for t, on in self.ops if not on]
        m["trace.overhead_frac"] = (statistics.median(traced) / statistics.median(plain) - 1
                                    if traced and plain else 0.0, "ratio")
        return m

    def describe(self) -> dict:
        import numpy
        import pyarrow
        import pyspark

        zip_path = os.path.join(os.environ["TMPDIR"], f"{PKG}.zip")
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "cores": self.cores,
            "ram_gb": os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": sys.version.split()[0],
            "worker_zip_sha256": zip_content_hash(zip_path),
            "rows": self.args.rows, "tokens": self.tokens,
            "tail_percentile": TAIL_PCT,
        }

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it forked)
        to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        # the Python workers are the JVM's children: once it exits they are
        # re-parented away, so collect their pids first
        started = tracing.descendants()
        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        # a later get_spark in this process launches a new JVM
        SparkContext._gateway = SparkContext._jvm = None
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        deadline = time.monotonic() + 30
        for pid in started:
            while _alive(pid):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    deadline = time.monotonic() + 5
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rpartition(")")[2].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=ROWS,
                    help="token-table rows (the benchmark uses the default)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"{PKG}/ not found next to perfbench/ in {ROOT}: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    pin_environment(work)
    bench = Bench(args, work)
    try:
        result = bench.run()
        if args.trace:
            bench.tracer.dump(os.path.join(
                work_root, f"trace-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": bench.context, "summary": bench.summary}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
