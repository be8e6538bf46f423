"""One benchmark run: set-up, the timed loop, the traced layers, the checks."""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import statistics
import time
import traceback

from pyspark import SparkContext

from tfx_addons_feast_examplegen_spark.functions.tfexample import encode_example
from tfx_addons_feast_examplegen_spark.operators.pit_join import materialize_features
from tfx_addons_feast_examplegen_spark.operators.split import hash_split
from tfx_addons_feast_examplegen_spark.operators.stats import column_stats
from tfx_addons_feast_examplegen_spark.registry import testdata_registry
from tfx_addons_feast_examplegen_spark.session import get_spark, register_tables
from tfx_addons_feast_examplegen_spark.sources.examplegen import (
    FORMAT_PARQUET,
    FORMAT_TF_EXAMPLE,
    encode_examples,
    generate_examples,
)
from tfx_addons_feast_examplegen_spark.sources.tfrecord import (
    write_partitioned_tfrecords,
)

from perfbench import checks, fixtures
from perfbench.trace import Counters, Tracer

FEATURES = [
    "user_events:value",
    "user_events:event_type",
    "user_events:props",
    "user_events_renamed:activity_value",
    "customer_profile:c_acctbal",
    "customer_profile:c_mktsegment",
]
ENTITY_QUERY = "SELECT user_id, c_custkey, event_timestamp FROM spine"

# name -> (label-event spine, output format is TFRecord, emit_artifacts)
WORKLOADS = {
    "examplegen_snapshot_tfrecord": (False, True, False),
    "examplegen_events_parquet_stats": (True, False, True),
}
SETUP_REPEATS = 3
WARMUP_ITERATIONS = 2
# Start no iteration after this much of the process's 180 s is used.
DEADLINE_S = 150.0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _process_tree(root: int) -> set[int]:
    """``root`` and every process below it: the JVM, and the Python workers
    the JVM starts."""
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we listed
            continue
        # The field after the command name and state is the parent pid.
        parents[int(name)] = int(raw[raw.rfind(")") + 2 :].split()[1])
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo += children.get(pid, [])
    return tree


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rfind(")") + 2] != "Z"


def _host_steal_s() -> float:
    """Time the hypervisor ran something else while this machine's CPUs
    wanted to run, summed over CPUs (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); the maximum when there are ten samples or fewer."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    k = n - 11  # index with exactly ten samples above it
    return 100.0 * (k + 1) / n, xs[k]


class Bench:
    """One workload in one process. ``work`` is the checkout's scratch
    directory; everything the run writes goes under it."""

    def __init__(self, work: str, workload: str, seed: int, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.label_events, self.tfrecord, self.artifacts = WORKLOADS[workload]
        self.registry = testdata_registry()
        self.work = work
        self.tables = os.path.join(work, "tables")
        self.out_dir = os.path.join(work, "out", workload)
        self.copies = os.path.join(work, "copies")
        self.spine_path = os.path.join(work, f"spine-{workload}-{seed}.parquet")
        self.n_rows = fixtures.SPINE_ROWS
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.notes: list[tuple[str, float, str, str]] = []
        self.layer: dict[str, list[float]] = {}
        self.spark = None

    def setup(self) -> dict[str, float]:
        fixtures.ensure_tables(self.tables)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        start_s = time.perf_counter() - t0
        # Each repeat registers the tables and the spine on a new session of
        # the same context. The sessions are kept, so no session id (the key
        # of register_tables' memo) is reused.
        self.sessions, reg, total = [], [], []
        for _ in range(SETUP_REPEATS):
            spark = self.spark.newSession()
            self.sessions.append(spark)
            t0 = time.perf_counter()
            register_tables(spark, self.tables)
            t1 = time.perf_counter()
            fixtures.write_spine(self.spine_path, self.seed, self.label_events)
            spark.read.parquet(self.spine_path).createOrReplaceTempView("spine")
            t2 = time.perf_counter()
            reg.append(t1 - t0)
            total.append(t2 - t0)
        self.spark = self.sessions[-1]
        return {
            "setup_s": start_s + statistics.median(total),
            "session.start_s": start_s,
            "session.register_tables_s": statistics.median(reg),
        }

    def generate(self) -> None:
        generate_examples(
            self.spark,
            registry=self.registry,
            entity_query=ENTITY_QUERY,
            features=FEATURES,
            sf_dir=self.tables,
            output_dir=self.out_dir,
            output_format=FORMAT_TF_EXAMPLE if self.tfrecord else FORMAT_PARQUET,
            emit_artifacts=self.artifacts,
        )

    def iteration(self, body) -> float | None:
        """Run ``body`` once, timed, then check the output untimed. Returns
        the wall time, or None when the iteration raised or its check
        failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            body()
        except Exception as exc:  # an iteration that raises counts as failed
            traceback.print_exc()
            self.failed += 1
            self.errors.append(f"iteration {self.attempted}: {exc!r}"[:500])
            return None
        wall = time.perf_counter() - t0
        errors = checks.quick_check(self.out_dir, self.n_rows, self.tfrecord)
        if errors:
            self.failed += 1
            self.errors += errors
            return None
        return wall

    def _copy(self, df, name: str):
        """Materialize ``df`` as parquet and read it back, untimed, so the
        next span measures its own layer alone."""
        path = os.path.join(self.copies, name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def traced_iteration(self, tracer: Tracer) -> None:
        """The full call, then each layer on a copy of its input, all under
        one root span."""
        tracer.new_trace()
        with tracer.span("iteration"):
            values = self._traced_layers(tracer.span)
        for k, v in values.items():
            self.layer.setdefault(k, []).append(float(v))

    def _traced_layers(self, span) -> dict[str, float]:
        with span("examplegen") as full:
            self.generate()
        with span("pit_join.build") as build:
            joined = materialize_features(
                self.spark,
                entity_query=ENTITY_QUERY,
                features=FEATURES,
                registry=self.registry,
                sf_dir=self.tables,
            )
        with span("pit_join.plan") as plan:
            joined._jdf.queryExecution().executedPlan()
        with span("pit_join.exec") as pj:
            _noop(joined)
        joined = self._copy(joined, "joined")
        with span("stats.column_stats") as stats:
            column_stats(joined).collect()
        with span("examplegen.encode") as encode:
            _noop(encode_examples(joined))
        encoded = self._copy(encode_examples(joined), "encoded")
        with span("split.hash_split") as split:
            _noop(hash_split(encoded, ["example"]))
        split_encoded = self._copy(hash_split(encoded, ["example"]), "split_encoded")
        split_joined = self._copy(hash_split(joined, joined.columns), "split_joined")
        tfr_dir = os.path.join(self.copies, "tfrecord_out")
        with span("tfrecord.write") as tfr:
            write_partitioned_tfrecords(
                split_encoded, tfr_dir, bytes_col="example", split_col="split"
            )
        with span("parquet_sink.write") as sink:
            split_joined.write.mode("overwrite").partitionBy("split").parquet(
                os.path.join(self.copies, "parquet_out")
            )

        def dur(s: dict) -> float:
            return s["end"] - s["start"]

        return {
            "examplegen.call_s": dur(full),
            "examplegen.jobs": full["jobs"],
            "examplegen.stages": full["stages"],
            "examplegen.tasks": full["tasks"],
            "examplegen.driver_gap_s": full["driver_gap_s"],
            "examplegen.codegen_compiles": full["codegen_compiles"],
            "examplegen.jit_compile_s": full["jit_compile_s"],
            "examplegen.scan_amplification": full["input_rows"] / pj["input_rows"],
            "pit_join.build_s": dur(build),
            "pit_join.plan_s": dur(plan),
            "pit_join.exec_s": dur(pj),
            "pit_join.jobs": pj["jobs"],
            "pit_join.tasks": pj["tasks"],
            "pit_join.task_cpu_s": pj["task_cpu_s"],
            "pit_join.shuffle_write_bytes": pj["shuffle_write_bytes"],
            "pit_join.shuffle_read_rows": pj["shuffle_read_rows"],
            "pit_join.spill_bytes": pj["spill_bytes"],
            "stats.column_stats_s": dur(stats),
            "stats.jobs": stats["jobs"],
            "examplegen.encode_s": dur(encode),
            "examplegen.encode_task_s": encode["task_s"],
            "split.hash_split_s": dur(split),
            "tfrecord.write_s": dur(tfr),
            "tfrecord.jobs": tfr["jobs"],
            "tfrecord.bytes_written": _dir_bytes(tfr_dir),
            "parquet_sink.write_s": dur(sink),
        }

    def encode_us_per_row(self) -> float:
        """In-process ``encode_example`` over a fixed sample of join rows:
        the per-row codec cost without Spark or Arrow around it."""
        rows = [
            r.asDict()
            for r in self.spark.read.parquet(os.path.join(self.copies, "joined"))
            .orderBy("user_id", "event_timestamp")
            .limit(2000)
            .collect()
        ]
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            for row in rows:
                encode_example(row)
            times.append((time.perf_counter() - t0) / len(rows) * 1e6)
        return statistics.median(times)

    def run(self, seconds: float) -> dict[str, float]:
        """Returns the metrics; figures that are printed but not reported
        go to ``self.notes``."""
        t_begin = time.perf_counter()
        metrics = self.setup()
        expected = checks.oracle_rows(self.spine_path, self.tables)
        tracer = Tracer(Counters(self.spark)) if self.trace else None

        cold = self.iteration(self.generate)
        for _ in range(WARMUP_ITERATIONS):
            self.iteration(self.generate)
        body = (lambda: self.traced_iteration(tracer)) if self.trace else self.generate
        samples: list[float] = []
        steal0 = _host_steal_s()
        t_measure = time.perf_counter()
        # Start no iteration the last one says would end past ``seconds``.
        while time.perf_counter() - t_begin < DEADLINE_S:
            last = samples[-1] if samples else 0.0
            if time.perf_counter() - t_measure + last > seconds:
                break
            sample = self.iteration(body)
            if sample is not None:
                samples.append(sample)
        steal = _host_steal_s() - steal0

        full_check = (
            checks.full_check_tfrecord if self.tfrecord else checks.full_check_parquet
        )
        errors = full_check(self.out_dir, expected)
        if errors:
            self.failed += 1
            self.errors += errors

        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb(os.getpid())
        self.notes = [
            ("failed_frac", self.failed / self.attempted, "ratio", ""),
            ("host_steal_s", steal, "s", "CPU time taken by the hypervisor"),
        ]
        if self.trace:
            out = {k: v for k, v in metrics.items() if k != "setup_s"}
            out.update({k: statistics.median(v) for k, v in self.layer.items()})
            out["tfexample.encode_us_per_row"] = self.encode_us_per_row()
            out["trace.overhead_s"] = tracer.overhead_s / max(len(samples), 1)
            self.notes.insert(0, ("peak_rss_mb", peak_rss_mb, "MB", ""))
            os.makedirs(os.path.join(self.work, "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(self.work, "traces", f"{self.workload}-{self.seed}.json")
            )
            return out

        if cold is None or not samples:
            raise RuntimeError("no successful iteration to measure")
        run_s = statistics.median(samples)
        pct, tail_s = tail(samples)
        self.notes += [
            ("cold_run_s", cold, "s", ""),
            ("run_s_tail", tail_s, "s", f"p{pct:g} of {len(samples)} samples"),
            ("samples", len(samples), "count", " ".join(f"{w:.3f}" for w in samples)),
        ]
        return {
            "setup_s": metrics["setup_s"],
            "run_s": run_s,
            "examples_per_s": self.n_rows / run_s,
            "bytes_per_example": _dir_bytes(self.out_dir) / self.n_rows,
            "peak_rss_mb": peak_rss_mb,
        }

    def close(self) -> None:
        """Stop the session, wait for the JVM and the Python workers it
        started to exit, and delete the run's outputs."""
        started = _process_tree(os.getpid()) - {os.getpid()}
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        # Workers outlive the JVM briefly: they exit when their stdin closes.
        deadline = time.monotonic() + 30
        while any(_running(p) for p in started):
            if time.monotonic() > deadline:
                for p in started:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(p, signal.SIGKILL)
                break
            time.sleep(0.1)
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)
        shutil.rmtree(self.copies, ignore_errors=True)
        if os.path.exists(self.spine_path):
            os.remove(self.spine_path)
