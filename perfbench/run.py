"""Benchmark of the MIINT-on-Spark engine (``duckdb_miint_spark``).

One closed-loop client runs one workload's operations back to back and
times each the way a caller waits for it: DataFrame build (graft serve
decisions included) plus Catalyst planning, execution and a full Arrow
collect, or the whole eager call for a sink. Every answer is checked.

Workloads (see ``BENCHMARK.json`` for why each exists):

- ``graft_serve``: the graft layout its queries serve (12 of the catalog's
  18 grafts) over generated sf0.01-shaped tables; cycles a fixed list of
  17 short graft-served registry queries.
- ``batch_compute``: no layout; a split-scan FASTQ
  aggregate, a split-scan SAM flag profile, ``copy_fastq`` and a
  distributed ``copy_bam`` over generated files (10k reads, 30k records).

Set-up (``setup_s``) runs from the library import to the first timed op:
session start, first job, layout build and one checked warm-up pass, so
the timed ops see a warm JIT, warm codegen caches and running Python
workers. Spark gets ``nproc - 1`` task slots. The timed ops then cycle
until each has run once and ``--seconds`` have passed; each op's latency
is the median of its timed runs.

Usage, from the checkout root::

    python3 perfbench/run.py --workload graft_serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --steady 10 --workload batch_compute

A run prints one JSON object as the last line of stdout: the end-to-end
metrics with ``--trace 0``, the per-layer metrics (from a run with the
layer wrappers installed) with ``--trace 1``. ``--steady N`` repeats each
named workload N times untraced and once traced, with seeds 1..N, and
prints each metric's median, quartiles and range, the box context of
every run and the tracing overhead.

Each run works under a fresh directory ``.perfbench-run/<workload>-<pid>``
of the checkout (Spark warehouse, ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the
generated inputs) and deletes it at the end. Detail records (per-op
latencies, set-up phases, box context, spans) go to ``.perfbench-out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench-out")
RUN_DIR = os.path.join(ROOT, ".perfbench-run")
PACKAGE = "duckdb_miint_spark"

GRAFT_SERVE_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "window_top_parts_per_brand", "window_running_user_value", "distinct_counts",
    "explode_word_counts", "json_event_props", "events_hourly", "having_big_orders",
    "sam_flags_profile", "compress_intervals_flat", "woltka_ogu_per_sample",
    "genome_coverage", "dedup_exact_groups", "token_stats", "dedup_incremental_exact",
)
# The grafts those queries serve (12 of the catalog's 18). Only these are
# built: the other six took about 10 s more set-up on a shared 4-core VM,
# for tables no timed op reads.
GRAFT_SERVE_GRAFTS = (
    "graft_b_lineitem", "graft_b_orders", "graft_b_aln_ranked", "graft_b_woltka_base",
    "graft_b_lineitem_cnat", "graft_b_events_parsed", "graft_b_events_hourly",
    "graft_b_orders_prio_cust", "graft_b_lineitem_pricing", "graft_b_word_counts",
    "graft_b_doc_hashes", "graft_b_doc_tokens",
)
BATCH_FASTQ_READS = 10_000
BATCH_SAM_RECORDS = 30_000
# byte-range split target for the split scans: two splits per task slot
SPLITS_PER_SLOT = 2

QUIESCE_S = 1.0
END_TO_END = ("latency_geomean_s", "throughput_mb_s", "setup_s")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task slots: one core fewer than the machine has, so the driver,
    the JVM's compiler and GC threads and the client do not queue behind the
    tasks on a shared host."""
    return max(1, nproc() - 1)


# --- box context (recorded, never used to normalise a metric) ---------------


def cpu_calibration_ms(reps: int = 7) -> float:
    """Median time of a fixed single-thread integer loop."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# --- process accounting ------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU time of ``pids`` and of their reaped children."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ticks += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the kernel-tracked peak resident set (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# --- operations --------------------------------------------------------------


@dataclass
class Op:
    """One timed operation. ``build`` returns a DataFrame that is collected
    to Arrow inside the timer; ``run`` is an eager call (a sink). ``check``
    receives the collected table or the call's result, after the timer."""

    name: str
    kind: str  # "query" | "scan" | "copy"
    input_bytes: int
    check: Callable[[object], bool]
    build: Callable | None = None
    run: Callable | None = None
    prepare: Callable | None = None
    output_path: str | None = None


def _oracle_tables(sql: str, tables) -> list[str]:
    return [t for t in tables if re.search(rf"\b{t}\b", sql)]


def registry_ops(reg, names, sf_dir, sizes, reference: dict[str, str]) -> list[Op]:
    from check import digest_arrow

    ops = []
    for name in names:
        qd = reg[name]

        def build(spark, qd=qd):
            return qd.spark_fn(spark, sf_dir)

        def check(table, name=name):
            return digest_arrow(table) == reference[name]

        in_bytes = sum(sizes.get(t, 0) for t in _oracle_tables(qd.oracle, sizes))
        ops.append(Op(name, "query", in_bytes, check, build=build))
    return ops


def file_ops(sources, sinks, fq: dict, fq_path: str, sm: dict, sam_path: str,
             out_dir: str, slots: int) -> list[Op]:
    """The four source/sink operations, checked against the generator."""
    import hashlib

    from check import bam_profile
    from pyspark.sql import functions as F

    fq_split = max(64 << 10, fq["bytes"] // (SPLITS_PER_SLOT * slots))
    sam_split = max(64 << 10, sm["bytes"] // (SPLITS_PER_SLOT * slots))
    with open(fq_path, "rb") as fh:
        fq_sha = hashlib.sha256(fh.read()).hexdigest()

    def fastx_build(spark):
        df = sources.read_fastx(spark, fq_path, max_split_bytes=fq_split)
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.length("sequence1")).alias("bases"),
            F.sum(F.aggregate("qual1", F.lit(0).cast("long"), lambda a, x: a + x)).alias("qsum"),
        )

    def fastx_check(table):
        row = table.to_pylist()[0]
        return (row["n"], row["bases"], row["qsum"]) == (fq["n"], fq["bases"], fq["qsum"])

    def sam_build(spark):
        df = sources.read_alignments(spark, sam_path, max_split_bytes=sam_split)
        return df.groupBy("flags").agg(
            F.count("*").alias("n"),
            F.sum(F.when((F.col("flags").bitwiseAND(4)) == 0, F.col("position"))).alias("pos"),
        )

    def sam_check(table):
        rows = table.to_pylist()
        got = {r["flags"]: r["n"] for r in rows}
        return got == sm["by_flag"] and sum(r["pos"] or 0 for r in rows) == sm["pos_sum"]

    fq_out = os.path.join(out_dir, "copy.fastq")
    bam_out = os.path.join(out_dir, "copy.bam")

    def remove(path):
        def prepare():
            if os.path.exists(path):
                os.remove(path)
        return prepare

    def copy_fastq_run(spark):
        df = sources.read_fastx(spark, fq_path, max_split_bytes=fq_split)
        sinks.copy_fastq(df.select("sequence_index", "read_id", "comment", "sequence1", "qual1"), fq_out)

    def copy_fastq_check(_):
        with open(fq_out, "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest() == fq_sha

    def copy_bam_run(spark):
        df = sources.read_alignments(spark, sam_path, max_split_bytes=sam_split)
        return sinks.copy_bam(df, bam_out, sm["ref_lengths"], distributed=True)

    def copy_bam_check(distributed):
        prof = bam_profile(bam_out)
        return (bool(distributed) and prof["n"] == sm["n"] and prof["by_flag"] == sm["by_flag"]
                and prof["pos_sum"] == sm["pos_sum"])

    return [
        Op("fastx_split_scan", "scan", fq["bytes"], fastx_check, build=fastx_build),
        Op("sam_split_flag_profile", "scan", sm["bytes"], sam_check, build=sam_build),
        Op("copy_fastq", "copy", fq["bytes"], copy_fastq_check, run=copy_fastq_run,
           prepare=remove(fq_out), output_path=fq_out),
        Op("copy_bam_distributed", "copy", sm["bytes"], copy_bam_check, run=copy_bam_run,
           prepare=remove(bam_out), output_path=bam_out),
    ]


# --- the run -----------------------------------------------------------------


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.slots = task_slots()
        self.phases: dict[str, float] = {}
        self.records: list[dict] = []  # one per timed op
        self.warmup: list[dict] = []  # one per op of the untimed first pass
        self.layer: dict[str, float] = {}
        self.tracer = None
        self.spark = None
        self.jvm_pid = None
        self.set_env: dict[str, str] = {}

    def span(self, name):
        if self.tracer is None or not self.tracer.enabled:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    # set-up -----------------------------------------------------------------

    def prepare_state(self) -> None:
        self.root = os.path.join(RUN_DIR, f"{self.workload}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        for sub in ("tmp", "local", "inputs", "outputs"):
            os.makedirs(os.path.join(self.root, sub))
        env = {
            "SPARK_LOCAL_DIRS": os.path.join(self.root, "local"),
            "TMPDIR": os.path.join(self.root, "tmp"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(self.root, 'tmp')} -XX:-UsePerfData",
            # task slots fixed at nproc - 1; every other library setting is default
            "SPARK_GRAFT_CPUS": str(self.slots),
        }
        for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
            del os.environ[k]
        os.environ.update(env)
        self.set_env = {k: v for k, v in env.items() if k.startswith("SPARK_GRAFT_")}
        import tempfile

        tempfile.tempdir = None
        os.chdir(self.root)  # the warehouse defaults to cwd/spark-warehouse

    def import_library(self) -> None:
        t = time.perf_counter()
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        import duckdb_miint_spark.session as session
        from duckdb_miint_spark import sinks, sources, storage
        from duckdb_miint_spark.registry import load_all

        self.session, self.storage = session, storage
        self.sources, self.sinks = sources, sinks
        self.reg = load_all()
        self.phases["import_s"] = time.perf_counter() - t
        if self.traced:
            from tracing import Tracer

            self.tracer = Tracer()
            self.tracer.install(self.reg)

    def start_session(self) -> None:
        t = time.perf_counter()
        spark = self.session.get_spark("perfbench", cpus=self.slots)
        self.phases["session_start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        spark.range(1).count()  # the first job: scheduler and executor warm-up
        self.phases["session_warm_s"] = time.perf_counter() - t
        self.spark = spark
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def engine_pids(self) -> list[int]:
        """This process (the driver), the JVM and the JVM's Python workers."""
        return [os.getpid(), self.jvm_pid, *descendants(self.jvm_pid)]

    # timing -----------------------------------------------------------------

    def run_op(self, op: Op, seq: int) -> dict:
        if op.prepare is not None:
            op.prepare()
        spark = self.spark
        tracer = self.tracer if self.tracer is not None and self.tracer.enabled else None
        if tracer is not None:
            group = f"perfbench-op-{seq}"
            spark.sparkContext.setJobGroup(group, op.name, False)
            tracer.op = f"{seq}:{op.name}"
            from tracing import executor_totals

            before = executor_totals(spark)
        df = result = error = None
        t0 = time.perf_counter()
        try:
            with self.span("op"):
                if op.run is None:
                    with self.span("build"):
                        df = op.build(spark)
                    with self.span("collect"):
                        result = df.toArrow()
                else:
                    with self.span("run"):
                        result = op.run(spark)
        except Exception:  # a failed op is counted, and the run goes on
            error = traceback.format_exc()
            print(f"{op.name} (op {seq}) failed:\n{error}", file=sys.stderr)
        latency = time.perf_counter() - t0
        rec = {"op": op.name, "kind": op.kind, "seq": seq, "latency_s": latency,
               "input_bytes": op.input_bytes}
        if tracer is not None:
            from tracing import (catalyst_phases, executor_totals, group_counts,
                               python_metrics)

            tracer.op = None
            after = executor_totals(spark)
            rec["exec"] = {k: after[k] - before[k] for k in after}
            rec["exec"].update(group_counts(spark, group))
            if df is not None and error is None:
                rec["plan"] = catalyst_phases(df)
                rec["python"] = python_metrics(df)
            if op.output_path and error is None:
                rec["output_bytes"] = os.path.getsize(op.output_path)
        rec["ok"] = False
        if error is None:
            try:
                rec["ok"] = bool(op.check(result))
            except Exception:  # a check that cannot run is a wrong answer
                print(f"check of {op.name} raised:\n{traceback.format_exc()}", file=sys.stderr)
        if not rec["ok"]:
            print(f"WRONG ANSWER: {op.name} (op {seq})", file=sys.stderr)
        return rec

    def quiesce(self) -> None:
        """Collect garbage in the driver JVM and here, and give the JIT's
        background compiles a moment, so every run starts timing from the
        same kind of state."""
        import gc

        self.spark.sparkContext._jvm.System.gc()
        gc.collect()
        time.sleep(QUIESCE_S)

    def timed_ops(self, ops: list[Op]) -> None:
        """One checked, untraced warm-up pass over ``ops`` that ends set-up:
        the JIT, codegen caches and Python workers (and the modules each
        worker imports on first use) are cold before it. Then ``ops`` in a
        fixed cycle until every op has run once and ``seconds`` have been
        measured."""
        if self.tracer is not None:
            self.tracer.enabled = False
        t = time.perf_counter()
        self.warmup = [self.run_op(op, -1) for op in ops]
        self.quiesce()
        self.phases["warmup_s"] = time.perf_counter() - t
        self.phases["setup_s"] += self.phases["warmup_s"]
        if self.tracer is not None:
            self.tracer.enabled = True
        t_start = time.perf_counter()
        steal0, cpu0 = steal_s(), cpu_s(self.engine_pids())
        seq = 0
        while seq < len(ops) or time.perf_counter() - t_start < self.seconds:
            self.records.append(self.run_op(ops[seq % len(ops)], seq))
            seq += 1
        self.phases["timed_s"] = time.perf_counter() - t_start
        self.phases["timed_steal_s"] = steal_s() - steal0
        self.phases["timed_cpu_s"] = cpu_s(self.engine_pids()) - cpu0

    # workloads --------------------------------------------------------------

    def graft_serve(self) -> None:
        import gen
        from check import oracle_digests

        sf = os.path.join(self.root, "inputs", "sf")
        t = time.perf_counter()
        sizes = gen.write_tables(sf, self.seed)
        self.phases["generate_s"] = time.perf_counter() - t
        self.import_library()
        self.start_session()
        t = time.perf_counter()
        self.storage.build_graft_layout(self.spark, sf, tables=list(GRAFT_SERVE_GRAFTS))
        self.phases["graft_build_s"] = time.perf_counter() - t
        self.spark.conf.set("spark.graft.bucketedLayout", "true")
        self.phases["setup_s"] = (self.phases["import_s"] + self.phases["session_start_s"]
                                  + self.phases["session_warm_s"]
                                  + self.phases["graft_build_s"])
        t = time.perf_counter()
        ref = oracle_digests(sf, nproc(), gen.TABLES,
                             {q: self.reg[q].oracle for q in GRAFT_SERVE_QUERIES})
        self.phases["reference_s"] = time.perf_counter() - t
        ops = registry_ops(self.reg, GRAFT_SERVE_QUERIES, sf, sizes, ref)
        self.timed_ops(ops)
        if self.traced:
            self.layout_counters(sizes)

    def batch_compute(self) -> None:
        import gen

        inputs = os.path.join(self.root, "inputs")
        t = time.perf_counter()
        fq_path, sam_path = os.path.join(inputs, "reads.fastq"), os.path.join(inputs, "aln.sam")
        fq = gen.fastq(fq_path, self.seed, BATCH_FASTQ_READS)
        sm = gen.sam(sam_path, self.seed, BATCH_SAM_RECORDS)
        self.phases["generate_s"] = time.perf_counter() - t
        self.import_library()
        self.start_session()
        self.phases["setup_s"] = (self.phases["import_s"] + self.phases["session_start_s"]
                                  + self.phases["session_warm_s"])
        out = os.path.join(self.root, "outputs")
        self.timed_ops(file_ops(self.sources, self.sinks, fq, fq_path, sm, sam_path,
                                out, self.slots))

    def layout_counters(self, sizes: dict) -> None:
        """Graft-layout shape after the build (traced run, after timing)."""
        warehouse = os.path.join(self.root, "spark-warehouse")
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(warehouse) for f in fs)
        self.layer["storage.bytes_written_per_input_byte"] = written / max(1, sum(sizes.values()))
        files_max = 0
        for name in self.storage.graft_catalog():
            census = self.storage.bucket_file_census(self.spark, name)
            files_max = max([files_max, *census.values()])
        self.layer["storage.bucket_files_max"] = files_max

    # results ----------------------------------------------------------------

    def op_medians(self) -> dict[str, tuple[float, int]]:
        """Each op's median latency over its timed runs, and its input bytes."""
        runs: dict[str, list[dict]] = {}
        for r in self.records:
            runs.setdefault(r["op"], []).append(r)
        return {op: (statistics.median(r["latency_s"] for r in rs), rs[0]["input_bytes"])
                for op, rs in runs.items()}

    def end_to_end(self) -> dict[str, float]:
        """The typical op wait is the geometric mean of the ops' median
        latencies (every op weighs the same, and each op's noise is averaged
        with the others'); throughput is the input of one pass over the ops
        divided by the sum of their median latencies."""
        med = self.op_medians().values()
        return {
            "latency_geomean_s": statistics.geometric_mean(lat for lat, _ in med),
            "throughput_mb_s": sum(b for _, b in med) / 1e6 / sum(lat for lat, _ in med),
            "setup_s": self.phases["setup_s"],
        }

    def per_layer(self) -> dict[str, float]:
        """Per-op means of each layer's work, from the spans and Spark's
        counters. A layer a workload never reaches reads 0; its time is
        reported as a share of op wall time (or of set-up), so no time
        reads the same 0 on every run."""
        from tracing import self_times

        spans = self.tracer.spans
        selfs = self_times(spans)
        by_id = {s["id"]: s for s in spans}
        timed = [s for s in spans if s["op"] is not None]
        n_ops = len(self.records)
        op_wall = sum(r["latency_s"] for r in self.records)

        def dur(s):
            return s["end"] - s["start"]

        def in_build(s):
            while s["parent"] is not None:
                s = by_id[s["parent"]]
                if s["name"] == "build":
                    return True
            return False

        def rec_sum(section, key):
            return sum(r.get(section, {}).get(key, 0.0) for r in self.records)

        serve = [s for s in timed if s["name"] == "storage.serve"]
        if self.workload == "graft_serve" and not serve:
            raise RuntimeError(
                "traced graft_serve recorded no serve calls: storage.serve_bucketed "
                "is no longer reached through the storage module attribute"
            )
        # DataFrame build work outside the serve and source layers
        build_self = sum(selfs[s["id"]] for s in timed
                         if (s["name"] == "build" or in_build(s))
                         and not s["name"].startswith(("storage.", "sources.")))
        collect_s = sum(dur(s) for s in timed if s["name"] == "collect")
        roots = [s for s in timed if s["name"] == "op"]
        scans = [r for r in self.records if r["kind"] == "scan"]
        scan_s = sum(r["latency_s"] for r in scans)
        sink_s = sum(dur(s) for s in timed if s["name"].startswith("sinks."))
        sink_bytes = sum(r.get("output_bytes", 0) for r in self.records)
        setup = [s for s in spans if s["op"] is None]
        setup_s = self.phases["setup_s"]

        def python_share(key):
            return rec_sum("python", key) / 1e3 / collect_s

        layer = {
            "session.start_s": self.phases["session_start_s"],
            "session.warm_s": self.phases["session_warm_s"],
            "peak_rss_mb": self.phases["peak_rss_mb"],
            "engine.cpu_s_per_op": self.phases["timed_cpu_s"] / n_ops,
            "storage.serve_calls": len(serve) / n_ops,
            "storage.serve_share": sum(dur(s) for s in serve) / op_wall,
            "storage.serve_hit_ratio": (sum(1 for s in serve if s["attrs"].get("hit")) / len(serve)
                                        if serve else 0.0),
            "storage.build_share": sum(dur(s) for s in setup if s["name"] == "storage.build") / setup_s,
            "storage.write_share": sum(dur(s) for s in setup if s["name"] == "storage.write") / setup_s,
            "storage.bytes_written_per_input_byte": 0.0,
            "storage.bucket_files_max": 0.0,
            "query.build_ms": build_self * 1e3 / n_ops,
            "plan.analysis_ms": rec_sum("plan", "analysis") / n_ops,
            "plan.optimization_ms": rec_sum("plan", "optimization") / n_ops,
            "plan.planning_ms": rec_sum("plan", "planning") / n_ops,
            "exec.collect_ms": collect_s * 1e3 / n_ops,
            "exec.jobs": rec_sum("exec", "jobs") / n_ops,
            "exec.stages": rec_sum("exec", "stages") / n_ops,
            "exec.tasks": rec_sum("exec", "tasks") / n_ops,
            "exec.task_ms": rec_sum("exec", "task_ms") / n_ops,
            "exec.gc_ms": rec_sum("exec", "gc_ms") / n_ops,
            "exec.shuffle_write_bytes": rec_sum("exec", "shuffle_write_bytes") / n_ops,
            "exec.input_bytes": rec_sum("exec", "input_bytes") / n_ops,
            "exec.failed_tasks": rec_sum("exec", "failed_tasks") / n_ops,
            "python.boot_share": python_share("pythonBootTime"),
            "python.init_share": python_share("pythonInitTime"),
            "python.total_share": python_share("pythonTotalTime"),
            "python.bytes_sent": rec_sum("python", "pythonDataSent") / n_ops,
            "python.bytes_received": rec_sum("python", "pythonDataReceived") / n_ops,
            "sources.read_share": scan_s / op_wall,
            "sources.mb_per_s": sum(r["input_bytes"] for r in scans) / 1e6 / scan_s if scans else 0.0,
            "sinks.write_share": sink_s / op_wall,
            "sinks.mb_per_s": sink_bytes / 1e6 / sink_s if sink_s else 0.0,
            "latency_p50_s": statistics.median(r["latency_s"] for r in self.records),
            "latency_p90_s": statistics.quantiles([r["latency_s"] for r in self.records], n=10)[-1],
            "trace.span_coverage_min": min(1.0 - selfs[s["id"]] / dur(s) for s in roots),
        }
        layer.update(self.layer)
        e2e = self.end_to_end()
        layer["traced.latency_geomean_s"] = e2e["latency_geomean_s"]
        layer["traced.throughput_mb_s"] = e2e["throughput_mb_s"]
        return layer

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        pids = [self.jvm_pid, *descendants(self.jvm_pid)]
        gateway = SparkContext._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.time() + 30
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, 9)
        self.spark = None

    def execute(self) -> dict:
        box = {"nproc": nproc(), "task_slots": self.slots, "loadavg_start": list(os.getloadavg()),
               "cpu_calibration_ms": cpu_calibration_ms()}
        self.prepare_state()
        try:
            getattr(self, self.workload)()
            self.phases["peak_rss_mb"] = peak_rss_mb([self.jvm_pid, *descendants(self.jvm_pid)])
            metrics = self.per_layer() if self.traced else self.end_to_end()
        finally:
            self.stop()
            os.chdir(ROOT)
            shutil.rmtree(self.root, ignore_errors=True)
            if os.path.isdir(RUN_DIR) and not os.listdir(RUN_DIR):
                os.rmdir(RUN_DIR)
        box["loadavg_end"] = list(os.getloadavg())
        checked = self.warmup + self.records
        failed = sum(1 for r in checked if not r["ok"])
        self.write_detail(box, metrics)
        return {
            "correct": failed == 0,
            "attempted": len(checked),
            "failed": failed,
            "metrics": metrics,
        }

    def write_detail(self, box: dict, metrics: dict) -> None:
        os.makedirs(OUT_DIR, exist_ok=True)
        stem = os.path.join(OUT_DIR, f"{self.workload}-seed{self.seed}-trace{int(self.traced)}")
        detail = {"workload": self.workload, "seed": self.seed, "seconds": self.seconds,
                  "box": box, "env_set": self.set_env, "phases": self.phases,
                  "warmup": self.warmup, "ops": self.records, "metrics": metrics}
        with open(stem + ".json", "w") as fh:
            json.dump(detail, fh, indent=1, default=str)
        if self.tracer is not None:
            with open(stem + "-spans.json", "w") as fh:
                json.dump(self.tracer.spans, fh, default=str)


# --- output ------------------------------------------------------------------


def metric_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def result_line(result: dict) -> str:
    units = metric_units()
    result = dict(result)
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    return json.dumps(result)


def steady(workloads: list[str], n: int, seconds: int) -> None:
    """Repeat each workload ``n`` times untraced and once traced; print
    each metric's median, quartiles and range and the box context."""
    for w in workloads:
        rows, boxes = [], []
        for seed in range(1, n + 2):
            traced = seed == n + 1
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(traced))]
            t = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True, check=True)
            wall = time.perf_counter() - t
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            with open(os.path.join(OUT_DIR, f"{w}-seed{seed}-trace{int(traced)}.json")) as fh:
                detail = json.load(fh)
            boxes.append((seed, traced, wall, res["correct"], detail["box"],
                          detail["phases"]["timed_steal_s"]))
            if traced:
                traced_res = res
            else:
                rows.append(res)
        print(f"\n== {w}: {n} untraced runs (seeds 1..{n}), {seconds} s each")
        print(f"{'metric':18s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'min':>10s} "
              f"{'max':>10s} {'iqr/med':>8s}")
        for m in END_TO_END:
            vals = [r["metrics"][m]["value"] for r in rows]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"{m:18s} {med:10.4f} {q1:10.4f} {q3:10.4f} {min(vals):10.4f} "
                  f"{max(vals):10.4f} {(q3 - q1) / med:8.3f}")
        lm = traced_res["metrics"]
        for m in ("latency_geomean_s", "throughput_mb_s"):
            untraced = statistics.median(r["metrics"][m]["value"] for r in rows)
            print(f"tracing overhead {m}: traced {lm['traced.' + m]['value']:.4f} - "
                  f"untraced median {untraced:.4f} = {lm['traced.' + m]['value'] - untraced:+.4f}")
        print("runs (seed, traced, wall s, correct, nproc, load start, load end, "
              "calib ms, steal s while timed):")
        for seed, traced, wall, ok, box, steal in boxes:
            print(f"  {seed:3d} {int(traced)} {wall:7.1f} {ok} {box['nproc']} "
                  f"{box['loadavg_start'][0]:.2f} {box['loadavg_end'][0]:.2f} "
                  f"{box['cpu_calibration_ms']:.2f} {steal:.2f}")


WORKLOADS = ("graft_serve", "batch_compute")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="repeat each workload N times and print the spread")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    if args.steady:
        steady(args.workload or list(WORKLOADS), args.steady, args.seconds)
        return 0
    if not args.workload or len(args.workload) != 1:
        ap.error("give exactly one --workload")
    run = Run(args.workload[0], args.seed, args.seconds, bool(args.trace))
    line = result_line(run.execute())
    sys.stdout.flush()
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
