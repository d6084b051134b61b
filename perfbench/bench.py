"""One benchmark run: inputs, timed set-up, the closed-loop op stream,
answer checks, and the metrics of ``BENCHMARK.json``."""

from __future__ import annotations

import os
import time

from perfbench import datagen
from perfbench.trace import (
    NO_TRACE,
    Tracer,
    dir_bytes,
    median,
    spark_job_counts,
)
from perfbench.workloads import (
    WORKLOADS,
    Context,
    UpsertMixed,
    census_operators,
    census_pruned,
    census_write,
)

CPUS = len(os.sched_getaffinity(0))
SETUP_REPS = 3


_T0 = time.perf_counter()


def log(msg: str) -> None:
    import sys

    print(f"# [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def rss_mb(pids: list[int], field: str) -> float:
    """Sum of one /proc status memory field (VmRSS, VmHWM) over ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(field + ":"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


class Run:
    def __init__(self, args, work_dir: str, trace_dir: str) -> None:
        self.args = args
        self.work_dir = work_dir
        self.trace_dir = trace_dir
        self.tr = Tracer() if args.trace else NO_TRACE
        self.spark = None
        self.ctx: Context | None = None
        self.attempted = 0
        self.failed = 0

    # -- bookkeeping -------------------------------------------------------

    def _fail(self, what: str) -> None:
        self.failed += 1
        log(f"FAILED {what}")

    def _checked(self, wl, op, result, err) -> None:
        self.attempted += 1
        bad = err or wl.check(op, result)
        if bad:
            self._fail(f"{op['kind']}: {bad}")

    # -- phases --------------------------------------------------------------

    def _setup(self, wl_cls, ops):
        """Session start + private store build + one warm op, timed
        SETUP_REPS times.  The first repetition also launches the JVM."""
        from spark_dynamodb_spark.session import get_spark

        times, wl = [], None
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            with self.tr.span("session.get_spark", rep=rep):
                self.spark = get_spark("perfbench", cpus=CPUS)
            if wl is None:
                self.ctx = Context(self.spark, self.work_dir)
                wl = wl_cls(self.ctx)
            wl.build(self.tr)
            warm = wl.run(ops[0])
            times.append(time.perf_counter() - t0)
            self._checked(wl, ops[0], warm, None)
        log(f"setup reps (s): {[round(t, 3) for t in times]}")
        return wl, times

    def _loop(self, wl, ops, start: int):
        """Closed loop: the next op is sent when the previous one returns.
        A traced run traces alternate kind cycles, so traced and
        untraced ops interleave over one run.  Returns the loop's wall
        time and one (op, result, error, seconds, traced) per op."""
        sc = self.spark.sparkContext
        cycle = len(wl.kinds)
        done = []
        t_start = time.perf_counter()
        deadline = t_start + self.args.seconds
        # A traced run needs one untraced and one traced cycle at least.
        min_ops = 2 * cycle if self.tr.enabled else 0
        i = start
        # Whole kind cycles only, so every run times the same mix of kinds.
        while i < len(ops) and (
            (i - start) % cycle or i - start < min_ops or time.perf_counter() < deadline
        ):
            op = ops[i]
            traced = self.tr.enabled and ((i - start) // cycle) % 2 == 1
            tr = self.tr if traced else NO_TRACE
            if traced:
                tr.op = i
                sc.setJobGroup(f"op-{i}", op["kind"])
            span = None
            t0 = time.perf_counter()
            try:
                with tr.span("op", kind=op["kind"]) as span:
                    result = wl.run(op, tr)
                err = None
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
                result, err = None, f"{type(e).__name__}: {e}"
            done.append((op, result, err, time.perf_counter() - t0, traced))
            if traced:
                span.attrs["jobs"], span.attrs["tasks"] = spark_job_counts(sc, f"op-{i}")
                sc.setLocalProperty("spark.jobGroup.id", None)
                try:
                    wl.direct(op, tr)
                except Exception as e:  # noqa: BLE001 - counted like a failed op
                    self.attempted += 1
                    self._fail(f"direct {op['kind']}: {type(e).__name__}: {e}")
            i += 1
        wall = time.perf_counter() - t_start
        log("op ms: " + " ".join(f"{d[0]['kind']}:{d[3] * 1000:.0f}" for d in done))
        return wall, done

    def execute(self) -> dict:
        args = self.args
        wl_cls = WORKLOADS[args.workload]
        names = list(wl_cls.stores)
        if args.trace:
            names += ["documents", "embeddings"]
        t0 = time.perf_counter()
        datagen.write_sources(args.seed, os.path.join(self.work_dir, "src"), names)
        ops = datagen.OP_LISTS[args.workload](args.seed)
        log(f"inputs for seed {args.seed}: {time.perf_counter() - t0:.2f}s, {len(ops)} ops")

        wl, setup = self._setup(wl_cls, ops)
        cycle = len(wl.kinds)
        for op in ops[1:cycle]:  # first run of every other kind, untimed
            self._checked(wl, op, wl.run(op), None)
        log("first op of every kind done")

        wall, done = self._loop(wl, ops, cycle)
        lat = {False: [], True: []}
        rows = 0
        for op, result, err, seconds, traced in done:
            lat[traced].append(seconds)
            self._checked(wl, op, result, err)
            if err is None:
                rows += wl.rows_read(op, result)
        if isinstance(wl, UpsertMixed):
            self.attempted += 1
            bad = wl.final_check()
            if bad:
                self._fail(bad)
        log(f"{len(done)} ops in {wall:.2f}s; attempted {self.attempted}, failed {self.failed}")

        store_bytes = dir_bytes(self.ctx.store_dir)
        if args.trace:
            self._census(wl)
            metrics = layer_metrics(self.tr, lat, store_bytes)
        else:
            metrics = end_to_end_metrics(
                setup, lat[False], rows, wall, store_bytes / wl.live_arrow_bytes(),
                self._mem_mb(),
            )
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _mem_mb(self) -> float:
        """Peak RSS of this (driver) process + what the JVM still holds
        after a full GC.  The JVM's own RSS tracks when G1 last collected
        more than what the program keeps, so it is logged, not reported."""
        from pyspark import SparkContext

        jvm_rss = rss_mb([SparkContext._gateway.proc.pid], "VmHWM")
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        held = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        driver = rss_mb([os.getpid()], "VmHWM")
        log(f"driver peak rss {driver:.0f} MB, JVM peak rss {jvm_rss:.0f} MB, "
            f"JVM heap+non-heap after GC {held / 2**20:.0f} MB")
        return driver + held / 2**20

    # -- traced run ----------------------------------------------------------

    def _census(self, wl) -> None:
        """Reach, once each, the layers the workload's own ops never
        call, then write the spans out."""
        tr = self.tr
        tr.op = -1
        names = {s.name for s in tr.spans}
        steps = [census_operators]
        if "pruning.with_pruned_scans" not in names:
            steps.append(census_pruned)
        if "sources.write_dynamo" not in names:
            steps.append(census_write)
        for step in steps:
            self.attempted += 1
            bad = step(wl, tr)
            if bad:
                self._fail(f"census: {bad}")
        os.makedirs(self.trace_dir, exist_ok=True)
        path = os.path.join(self.trace_dir, f"{self.args.workload}-seed{self.args.seed}.jsonl")
        tr.dump(path)
        log(f"{len(tr.spans)} spans written to {path}")

    def close(self, shutdown) -> None:
        if self.ctx is not None:
            self.ctx.close()
        if self.spark is not None:
            shutdown(self.spark)


# ---------------------------------------------------------------------------
# Metrics (names and units as in BENCHMARK.json)
# ---------------------------------------------------------------------------

def end_to_end_metrics(setup, lat, rows, wall, space_amp, mem_mb) -> dict:
    """``setup``: seconds per set-up repetition; ``lat``: seconds per op
    of the timed loop, which ran ``wall`` seconds and read ``rows``
    store items."""
    return {
        "setup_s": (median(setup), "s"),
        "op_p50_ms": (median(lat) * 1000, "ms"),
        "ops_per_s": (len(lat) / wall, "1/s"),
        "rows_per_s": (rows / wall, "1/s"),
        "space_amp": (space_amp, "ratio"),
        "mem_mb": (mem_mb, "MB"),
    }


OPERATOR_SPANS = (
    "operators.dedup.exact",
    "operators.dedup.minhash_lsh",
    "operators.similarity.ann_topk",
    "operators.text_analysis.token_stats",
)


def layer_metrics(tr: Tracer, lat: dict, store_bytes: int) -> dict:
    """Per-layer metrics from a traced run's spans.  ``lat`` maps
    traced (True) / untraced (False) to the op latencies in seconds."""

    def ms(values):
        return median(values) * 1000

    def spans(name):
        return [s for s in tr.spans if s.name == name]

    reads = spans("dynamo.read")
    pushes = [s for s in spans("dynamo.pushFilters") if s.attrs["offered"]]
    writes = spans("sources.write_dynamo")
    ops = spans("op")
    out = {
        "session.get_spark_s": (tr.durations("session.get_spark")[0], "s"),
        "keyed_store.create_table_s": (median(create_table_per_rep(tr)), "s"),
        "sources.read_dynamo_ms": (ms(tr.self_times("sources.read_dynamo")), "ms"),
        "dynamo.schema_ms": (ms(tr.durations("dynamo.schema")), "ms"),
        "dynamo.partitions_ms": (ms(tr.durations("dynamo.partitions")), "ms"),
        "dynamo.segments_per_op": (median(tr.attr_values("dynamo.partitions", "segments")), "count"),
        "dynamo.files_per_op": (median(tr.attr_values("dynamo.partitions", "files")), "count"),
        "spark.jobs_per_op": (median([s.attrs["jobs"] for s in ops]), "count"),
        "spark.tasks_per_op": (median([s.attrs["tasks"] for s in ops]), "count"),
        "dynamo.read_ms": (ms([s.duration for s in reads]), "ms"),
        "dynamo.read_rows_per_s": (
            sum(s.attrs["rows"] for s in reads) / sum(s.duration for s in reads), "1/s"),
        "dynamo.pushed_filter_frac": (
            sum(s.attrs["pushed"] for s in pushes) / max(1, sum(s.attrs["offered"] for s in pushes)),
            "ratio"),
        "spark.action_ms": (ms(tr.self_times("spark.action")), "ms"),
        "pruning.with_pruned_scans_ms": (ms(tr.durations("pruning.with_pruned_scans")), "ms"),
        "pruning.columns_read_frac": (
            median(tr.attr_values("pruning.with_pruned_scans", "columns_read_frac")), "ratio"),
        "sources.write_dynamo_ms": (ms([s.duration for s in writes]), "ms"),
        "dynamo.writer_write_ms": (ms(tr.durations("dynamo.writer_write")), "ms"),
        "dynamo.commit_ms": (ms(tr.durations("dynamo.commit")), "ms"),
        "keyed_store.bytes_rewritten_per_user_byte": (
            sum(s.attrs["bytes"] for s in writes) / sum(s.attrs["user_bytes"] for s in writes),
            "ratio"),
        "keyed_store.files_rewritten_per_write": (
            median([s.attrs["files"] for s in writes]), "count"),
        "keyed_store.store_bytes": (store_bytes, "B"),
        "trace.untraced_op_p50_ms": (ms(lat[False]), "ms"),
        "trace.traced_op_p50_ms": (ms(lat[True]), "ms"),
        "trace.op_self_ms": (ms(tr.self_times("op")), "ms"),
    }
    for name in OPERATOR_SPANS:
        out[f"{name}_ms"] = (ms(tr.durations(name)), "ms")
    return out


def create_table_per_rep(tr: Tracer) -> list[float]:
    """Total store-build time of each set-up repetition (a repetition
    starts at its ``session.get_spark`` span)."""
    totals: list[float] = []
    for s in tr.spans:
        if s.name == "session.get_spark":
            totals.append(0.0)
        elif s.name == "keyed_store.create_table" and totals:
            totals[-1] += s.duration
    return totals
