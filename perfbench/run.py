#!/usr/bin/env python3
"""Repeatable end-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload floor --seed 1 --seconds 12 --trace 0

Runs one workload as a closed loop with one client on
``get_spark(cpus=nproc)``, checks every answer, and prints a report
followed, as the last line, by one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` gives
the end-to-end metrics (on ``floor`` scaled by an in-run Spark
yardstick to a reference host speed); ``--trace 1`` alternates untraced and traced
passes and gives the per-layer metrics, and writes every span to
``.perfbench_out/``. See perfbench/README.md for the workloads and
what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from kvlog import KV_BATCHES, KV_GETS_PER_BATCH, KV_OPS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DIGESTS = os.path.join(HERE, "oracle_digests.json")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
SPEC = os.path.join(ROOT, "BENCHMARK.json")  # the metric names and units printed

# floor: the repository's fixed seed-42 sf0.01 test tables (answers
# are checked against stored oracle digests), query order shuffled by
# the workload seed every pass
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
FLOOR_MIX = (
    "word_count_top10", "inverted_index", "kv_state", "semi_anti_orders",
    "multimodal_jpeg_decode",
)

SETUP_ROUNDS = 3
# The end-to-end times are scaled to a host on which the yardstick
# takes this long (about its median on an uncontended 4-vCPU VM).
YARDSTICK_REF_S = 0.5
YARDSTICK_WARMUP = 4  # untimed yardstick runs before the measured ones
YARDSTICK_TAIL = 3  # measured yardstick runs after the last pass
CPUS = len(os.sched_getaffinity(0))
P_MIN_TAIL = 10  # a percentile needs this many samples beyond it

RUN_SPANS = {"run", "kv_stream.apply", "sinks.merge_state", "sinks.merge_hw", "kv.get", "kv.replay"}


def answer_digest(rows, cols) -> str:
    """Order-insensitive digest of a result, normalized as the
    correctness gate does (tools/check_correctness.py)."""
    import hashlib

    from tools.check_correctness import multiset

    body = json.dumps([sorted(cols), multiset([tuple(r) for r in rows], list(cols))])
    return hashlib.sha256(body.encode()).hexdigest()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def upper_pct(xs, p):
    """The p-th percentile, or None with fewer than P_MIN_TAIL samples beyond it."""
    xs = sorted(xs)
    if len(xs) * (1 - p / 100) < P_MIN_TAIL:
        return None
    return xs[min(len(xs) - 1, math.ceil(p / 100 * len(xs)) - 1)]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ session


class Session:
    """The Spark session and the JVM behind it, confined to ``tmp``."""

    def __init__(self, tmp: str) -> None:
        self.tmp = tmp
        self.spark = None
        self.proc = None
        self.start_times: list[float] = []

    def start(self):
        from distributed_computing_spark.registry import clear_kv_cache
        from distributed_computing_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            # the KV cache is keyed on id(session), which a new session may reuse
            clear_kv_cache()
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=CPUS,
            extra_conf={
                "spark.local.dir": self.tmp,
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.proc is None:
            self.proc = self.spark.sparkContext._gateway.proc
        self.start_times.append(time.perf_counter() - t0)
        return self.spark

    def settings(self) -> dict:
        conf = self.spark.conf
        keys = ("spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory",
                "spark.io.compression.codec", "spark.driver.maxResultSize",
                "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
        return {"cpus": CPUS, "spark": self.spark.version,
                **{k: conf.get(k, None) for k in keys}}

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM and every process
        under it (the Python workers), reaped children included."""
        stats = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:  # the process ended meanwhile
                    continue
                stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        total, todo = 0, [self.proc.pid]
        while todo:
            pid = todo.pop()
            total += stats.get(pid, (0, 0))[1]
            todo.extend(kids.get(pid, ()))
        return total / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM for the driver JVM")

    def close(self) -> None:
        try:
            if self.spark is not None:
                self.spark.stop()
                self.spark.sparkContext._gateway.shutdown()
        finally:
            if self.proc is not None:
                self.proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    self.proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    self.proc.kill()
                    self.proc.wait()


def pin_environment(tmp: str) -> None:
    """Engine defaults for every SPARK_GRAFT_* knob, the checkout on the
    Python workers' path, and every temp file under ``tmp``."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CROSSOVER_DIR"] = os.path.join(tmp, "crossover")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def yardstick_session(spark):
    """A session of its own for the yardstick, so that the engine's SQL
    settings do not change the yardstick's plan."""
    ys = spark.newSession()
    ys.conf.set("spark.sql.shuffle.partitions", "4")
    ys.conf.set("spark.sql.adaptive.enabled", "false")
    return ys


def yardstick(ys) -> float:
    """Time one run of a fixed Spark SQL job that calls no engine code.

    The host's speed drifts by up to 2x within an hour (other tenants'
    load), and Spark work slows with it. The ratio of a pass to this
    job, timed in the same run, stayed within 3 % while two CPU-bound
    processes beside the benchmark slowed the pass by about half."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    rows = (ys.range(0, 300_000, 1, 4).selectExpr("id % 997 AS k", "id * 7 % 1013 AS v")
            .groupBy("k").agg(F.sum("v"), F.countDistinct("v")).orderBy("k").collect())
    dt = time.perf_counter() - t0
    if len(rows) != 997:
        raise RuntimeError(f"yardstick returned {len(rows)} rows, not 997")
    return dt


# ------------------------------------------------------------------ tracing hooks


def install_hooks(tracer) -> None:
    """Spans and counters inside the engine's public functions."""
    from distributed_computing_spark import caching, registry, sinks
    from distributed_computing_spark.sources import catalog
    from tracing import patch

    patch(catalog, "load_table", lambda fn: tracer.wrap("catalog.load", fn))

    def persist_counter(fn):
        def track_persist(*a, **kw):
            tracer.count("caching.tracked_persists")
            return fn(*a, **kw)
        return track_persist

    patch(caching, "track_persist", persist_counter)

    def kv_cache_counter(fn):
        def _kv_cached(spark_, sf_dir, what, build):
            hit = (id(spark_), sf_dir, what) in registry._KV_CACHE
            tracer.count("kv_cache.hits" if hit else "kv_cache.misses")
            return fn(spark_, sf_dir, what, build)
        return _kv_cached

    patch(registry, "_kv_cached", kv_cache_counter)

    def merge_span(name):
        def wrap(fn):
            def merge(spark_, path, df):
                with tracer.span(name):
                    fn(spark_, path, df)
                if tracer.enabled:
                    tracer.count("sinks.bytes_written", dir_bytes(path))
            return merge
        return wrap

    patch(sinks, "merge_kv_state", merge_span("sinks.merge_state"))
    patch(sinks, "merge_high_water", merge_span("sinks.merge_hw"))


def layer_metrics(spans: list[dict], counters: dict) -> dict:
    """Per-layer numbers of one traced pass."""
    from tracing import self_time, subtree

    def named(n):
        return [s for s in spans if s["name"] == n]

    def jobs(ss):
        return sum(s["spark"]["jobs"] for s in ss)

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    m = {}
    loads = named("catalog.load")
    m["catalog.load_calls"] = len(loads)
    m["catalog.load_s"] = sum(self_time(spans, s) for s in loads)
    m["catalog.load_jobs"] = jobs(loads)
    builds = named("registry.build")
    m["registry.build_s"] = sum(self_time(spans, s) for s in builds)
    m["registry.build_jobs"] = sum(jobs(subtree(spans, s)) for s in builds)
    m["plans.plan_s"] = dur(named("plans.plan"))

    run = [s for s in spans if s["name"] in RUN_SPANS]
    by_id = {s["id"]: s for s in spans}
    top = [s for s in run if by_id.get(s["parent"], {}).get("name") not in RUN_SPANS]
    m["run.run_s"] = dur(top)
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"run.{k}"] = sum(s["spark"][k] for s in run)
    for k in ("exec_cpu_s", "shuffle_write_MB", "shuffle_read_MB", "spill_MB"):
        m[f"run.{k}"] = sum(s["spark"][k] for s in run)
    exec_run = sum(s["spark"]["exec_run_s"] for s in run)
    m["run.busy_frac"] = exec_run / (m["run.run_s"] * CPUS) if m["run.run_s"] else 0.0
    m["run.task_skew"] = max((s["spark"]["task_skew"] for s in run), default=1.0)

    for b in builds:
        q = b["query"]
        m[f"q.{q}.build_s"] = b["end"] - b["start"]
        m[f"q.{q}.build_jobs"] = jobs(subtree(spans, b))
    for r in named("run"):
        m[f"q.{r['query']}.run_s"] = r["end"] - r["start"]

    m["caching.tracked_persists"] = counters.get("caching.tracked_persists", 0)
    m["caching.release_s"] = dur(named("caching.release"))
    m["caching.cached_MB_peak"] = counters.get("caching.cached_MB_peak", 0.0)
    hits, misses = counters.get("kv_cache.hits", 0), counters.get("kv_cache.misses", 0)
    m["caching.kv_cache_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0

    applies = named("kv_stream.apply")
    m["kv_stream.apply_jobs"] = sum(jobs(subtree(spans, s)) for s in applies)
    m["kv_stream.dedup_fold_s"] = sum(self_time(spans, s) for s in applies)
    m["sinks.merge_state_s"] = dur(named("sinks.merge_state"))
    m["sinks.merge_hw_s"] = dur(named("sinks.merge_hw"))
    written = counters.get("sinks.bytes_written", 0)
    m["sinks.bytes_written_MB"] = written / 2**20
    payload = counters.get("kv.payload_bytes", 0)
    m["sinks.write_amp"] = written / payload if payload else 0.0
    m["sinks.state_MB"] = counters.get("sinks.state_bytes", 0) / 2**20
    m["kv.get_jobs"] = jobs(named("kv.get"))
    m["kv.replay_jobs"] = jobs(named("kv.replay"))
    return m


def decode_mbps(decode, blobs: list[bytes], min_s: float = 0.3) -> float:
    """Single-thread decode throughput over ``blobs``."""
    size = sum(len(b) for b in blobs)
    n, t0 = 0, time.perf_counter()
    while True:
        for b in blobs:
            decode(b)
        n += 1
        el = time.perf_counter() - t0
        if el >= min_s:
            return n * size / el / 2**20


def function_throughput(doc_ids) -> dict:
    """The decode kernels on the blobs the multimodal queries build
    for these documents (the same pixel recipes as
    ``multimodal.jpeg_blobs`` and ``multimodal.textured_blobs``)."""
    import numpy as np

    from distributed_computing_spark.functions.codecs import decode_bmp, encode_bmp
    from distributed_computing_spark.functions.jpeg import Q_FLAT16, decode_jpeg, encode_jpeg
    from distributed_computing_spark.operators.multimodal import textured_pixels

    jpegs, bmps = [], []
    for did in doc_ids:
        px = np.zeros((16, 16, 3), np.uint8)
        px[..., 0], px[..., 1], px[..., 2] = (did * 7) % 256, (did * 13) % 256, (did * 29) % 256
        jpegs.append(encode_jpeg(px, qtables=(Q_FLAT16, Q_FLAT16)))
        bmps.append(encode_bmp(textured_pixels(did)))
    return {
        "functions.decode_jpeg_MBps": decode_mbps(decode_jpeg, jpegs),
        "functions.decode_bmp_MBps": decode_mbps(decode_bmp, bmps),
    }


# ------------------------------------------------------------------ workloads


class Workload:
    """Set-up rounds, warm-up passes, then passes for ``seconds``;
    subclasses define the inputs and one pass."""

    # The JIT keeps compiling for many passes after the first (five
    # floor passes in one run fell from 5.8 to 4.3 s), so several
    # passes warm up. They count in setup_s.
    warmup_passes = 3
    min_passes = 3
    scaled = True  # the end-to-end times are scaled by the yardstick

    def __init__(self, sess: Session, args) -> None:
        self.sess = sess
        self.args = args
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}

    def geomean_s(self) -> float:
        """Geomean over operation kinds of each kind's median latency."""
        return geomean([median(xs) for xs in self.samples.values()])

    def record(self, kind: str, dt: float) -> None:
        self.samples.setdefault(kind, []).append(dt)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"failed: {what}")

    def op(self, kind: str | None, what: str, fn, ok=lambda out: True, span: str | None = None):
        """One operation of a pass, in a trace span if ``span`` is given.
        Its latency counts under ``kind`` when ``ok`` accepts the answer;
        an exception or a wrong answer counts in ``failed`` and the pass
        goes on. Returns the answer, or None after an exception."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span) if span else contextlib.nullcontext():
                out = fn()
            dt = time.perf_counter() - t0
            good = ok(out)
        except Exception as e:
            log(f"{what} raised {type(e).__name__}: {e}")
            out, good = None, False
        self.check(good, what)
        if good and kind:
            self.record(kind, dt)
        return out

    def run(self) -> dict:
        from tracing import Tracer

        rounds, gens = [], []
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            self.spark = self.sess.start()
            t1 = time.perf_counter()
            self.make_inputs(r)
            gens.append(time.perf_counter() - t1)
            rounds.append(time.perf_counter() - t0)
        self.tracer = Tracer(self.spark, self.args.workload)
        self.prepare()
        t0 = time.perf_counter()
        for _ in range(self.warmup_passes):
            self.one_pass()
        warmup = time.perf_counter() - t0
        if self.scaled:
            self.ys = yardstick_session(self.spark)
            for _ in range(YARDSTICK_WARMUP):
                yardstick(self.ys)
        log(f"set-up rounds {[round(r, 3) for r in rounds]} s, warm-up {warmup:.3f} s")
        self.samples.clear()
        self.setup = {
            "setup_s": median(rounds) + warmup,
            "session.start_s": self.sess.start_times[0],
            "session.warmup_s": warmup,
            "gen.data_s": median(gens),
        }
        return self.measure_traced() if self.args.trace else self.measure()

    def measure(self) -> dict:
        passes, cpus, yards = [], [], []
        t_end = time.perf_counter() + self.args.seconds
        # min_passes, then another pass only while it is expected to end
        # within --seconds; the yardstick runs after every pass
        while self.more() and (len(passes) < self.min_passes or time.perf_counter()
                               + median(passes) + median(yards) <= t_end):
            t0, c0 = time.perf_counter(), self.sess.cpu_s()
            self.one_pass()
            passes.append(time.perf_counter() - t0)
            cpus.append(self.sess.cpu_s() - c0)
            if self.scaled:
                yards.append(yardstick(self.ys))
            log(f"pass {len(passes)}: {passes[-1]:.3f} s, {cpus[-1]:.2f} cpu-s"
                + (f", yardstick {yards[-1]:.3f} s" if yards else ""))
        self.passes = passes
        m = {"setup_s": self.setup["setup_s"], "pass_s": median(passes),
             "op_s.geomean": self.geomean_s()}
        if self.scaled:
            # a few more, so that one slow yardstick run cannot move the median
            yards += [yardstick(self.ys) for _ in range(YARDSTICK_TAIL)]
            self.yards = yards
            scale = YARDSTICK_REF_S / median(yards)
            m = {**{k: v * scale for k, v in m.items()},
                 **{f"{k}.raw": v for k, v in m.items()},
                 "yardstick_s": median(yards)}
        m["pass_cpu_s"] = median(cpus)
        m["peak_rss_MB"] = self.sess.peak_rss_mb()
        return m

    def measure_traced(self) -> dict:
        install_hooks(self.tracer)
        plain, traced, layers = [], [], []
        t_end = time.perf_counter() + self.args.seconds
        while self.more() and (len(traced) < 1 or time.perf_counter() < t_end):
            on = len(plain) > len(traced)
            tr = self.tracer
            tr.enabled, tr.counters, first = on, {}, len(tr.spans)
            tr.pass_no = len(plain) + len(traced)
            t0 = time.perf_counter()
            self.one_pass()
            (traced if on else plain).append(time.perf_counter() - t0)
            tr.enabled = False
            if on:
                spans = tr.spans[first:]
                tr.resolve(spans)
                layers.append(layer_metrics(spans, tr.counters))
        self.passes = plain
        m = {k: median([lm[k] for lm in layers]) for k in layers[0]}
        m.update(self.setup)
        m.update(self.layer_extras())
        m["session.peak_rss_MB"] = self.sess.peak_rss_mb()
        m["trace.overhead_ratio"] = median(traced) / median(plain)
        return m

    def make_inputs(self, r: int) -> None:
        """Generate the inputs of set-up round ``r`` (none by default)."""

    def more(self) -> bool:
        """Whether another pass has input left."""
        return True

    def layer_extras(self) -> dict:
        return {}


class Floor(Workload):
    """The fixed test tables; the oracle-gated query mix in a seeded order."""

    def prepare(self) -> None:
        self.sf_dir = DATA_DIR
        with open(DIGESTS) as f:
            self.expected = json.load(f)["queries"]

    def one_pass(self) -> None:
        from distributed_computing_spark.caching import release_tracked
        from distributed_computing_spark.registry import QUERIES

        tr = self.tracer

        def query(q):
            with tr.span("registry.build"):
                df = QUERIES[q](self.spark, self.sf_dir)
            if tr.enabled:
                with tr.span("plans.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("run"):
                rows = df.collect()
            if tr.enabled:
                cached = sum(i.memSize() + i.diskSize()
                             for i in self.spark.sparkContext._jsc.sc().getRDDStorageInfo())
                peak = tr.counters.get("caching.cached_MB_peak", 0.0)
                tr.counters["caching.cached_MB_peak"] = max(peak, cached / 2**20)
            return rows, df.columns

        order = list(FLOOR_MIX)
        self.rng.shuffle(order)
        for q in order:
            tr.query = q
            exp = self.expected[q]
            self.op(q, q, lambda: query(q),
                    lambda out: len(out[0]) == exp["rows"] and answer_digest(*out) == exp["sha256"])
            with tr.span("caching.release"):
                release_tracked()
        tr.query = None

    def report(self) -> dict:
        allq = [x for xs in self.samples.values() for x in xs]
        return {
            "query_s.p50": (median(allq), "s", len(allq)),
            "query_s.geomean": (self.geomean_s(), "s", len(self.samples)),
            "query_s.p90": (upper_pct(allq, 90), "s", len(allq)),
        }

    def layer_extras(self) -> dict:
        return function_throughput(range(64))


def batch_bounds() -> list[tuple[int, int]]:
    """The seq range [lo, hi) of each micro-batch of the ops log."""
    cuts = [b * KV_OPS // KV_BATCHES for b in range(KV_BATCHES + 1)]
    return list(zip(cuts, cuts[1:]))


class KVLog(Workload):
    """A seeded client ops log, applied to one store a micro-batch per
    pass; each batch is followed by point reads, a replay of the whole
    log and a read of the store's state, all checked against the
    in-order fold."""

    # JIT compile time per pass fell from 20 s in the first pass to
    # 4 s in the fifth and 1.5 s in the fifteenth
    warmup_passes = 5
    # After a kv_log pass the JVM is still busy (garbage, compiler
    # backlog): yardstick runs right after kv_log passes read 0.9 s
    # where they read 0.57 s after floor passes, and scaling widened the
    # spread over runs instead of narrowing it.
    scaled = False

    def make_inputs(self, r: int) -> None:
        import pyarrow.parquet as pq

        from kvlog import make_ops_log

        self.ops = make_ops_log(self.args.seed)
        d = os.path.join(self.sess.tmp, f"ops{r}")
        # the whole log, and each micro-batch as a file of its own: a
        # filter on seq would put new literals into the generated code,
        # and Spark would compile it again for every batch
        os.makedirs(os.path.join(d, "log"))
        pq.write_table(self.ops, os.path.join(d, "log", "ops.parquet"))
        for b, (lo, hi) in enumerate(batch_bounds()):
            os.makedirs(os.path.join(d, f"batch{b:02d}"))
            pq.write_table(self.ops.slice(lo, hi - lo), os.path.join(d, f"batch{b:02d}", "ops.parquet"))
        if r:
            shutil.rmtree(os.path.join(self.sess.tmp, f"ops{r - 1}"))
        self.ops_dir = d

    def prepare(self) -> None:
        from distributed_computing_spark.streaming.kv_stream import KVTableStore
        from kvlog import fold_ops

        self.snapshots = fold_ops(self.ops, [hi for _, hi in batch_bounds()])
        keys = self.ops.column("key").to_pylist()
        self.get_keys = [[self.rng.choice(keys) for _ in range(KV_GETS_PER_BATCH)]
                         for _ in range(KV_BATCHES)]
        d = self.ops.to_pydict()
        sizes = [len(k) + len(v) if v else 0 for k, v in zip(d["key"], d["value"])]
        self.payload = [sum(sizes[lo:hi]) for lo, hi in batch_bounds()]
        read = self.spark.read.parquet
        self.ops_df = read(os.path.join(self.ops_dir, "log"))
        self.batch_dfs = [read(os.path.join(self.ops_dir, f"batch{b:02d}"))
                          for b in range(KV_BATCHES)]
        self.store = KVTableStore(self.spark, os.path.join(self.sess.tmp, "store"))
        self.batch = 0

    def more(self) -> bool:
        return self.batch < KV_BATCHES

    def one_pass(self) -> None:
        from distributed_computing_spark.operators import kv

        def as_dict(rows):
            return {r["key"]: r["value"] for r in rows}

        tr = self.tracer
        b = self.batch
        self.batch += 1
        batch = self.batch_dfs[b]
        self.op("apply", f"apply batch {b}", lambda: self.store.apply_batch(batch),
                span="kv_stream.apply")
        want = self.snapshots[b]
        state = self.op(None, f"read state after batch {b}", self.store.state)
        for key in self.get_keys[b]:
            self.op("get", f"get {key} after batch {b}", lambda: kv.kv_get(state, key),
                    lambda v: v == want.get(key, ""), span="kv.get")
        # the whole log, so that every replay does the same work
        final = self.snapshots[-1]
        self.op("replay", f"replay after batch {b}", lambda: kv.replay(self.ops_df).collect(),
                lambda rows: as_dict(rows) == final, span="kv.replay")
        self.op(None, f"store state after batch {b}", lambda: self.store.state().collect(),
                lambda rows: as_dict(rows) == want)
        if tr.enabled:
            tr.counters["kv.payload_bytes"] = self.payload[b]
            tr.counters["sinks.state_bytes"] = dir_bytes(self.store.state_dir)

    def report(self) -> dict:
        s = {k: self.samples.get(k, []) for k in ("apply", "get", "replay")}
        ops_per_s = [KV_OPS / KV_BATCHES / t for t in s["apply"]]
        return {
            "apply_s.p50": (median(s["apply"]), "s", len(s["apply"])),
            "apply_s.p90": (upper_pct(s["apply"], 90), "s", len(s["apply"])),
            "get_s.p50": (median(s["get"]), "s", len(s["get"])),
            "get_s.p90": (upper_pct(s["get"], 90), "s", len(s["get"])),
            "ops_per_s": (median(ops_per_s), "1/s", len(ops_per_s)),
            "replay_s": (median(s["replay"]), "s", len(s["replay"])),
        }


WORKLOADS = {"floor": Floor, "kv_log": KVLog}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "distributed_computing_spark", "session.py")):
        log(f"engine sources not found under {ROOT}; run from a checkout of the repository")
        return 2

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_root, f"run-{os.getpid()}")
    os.makedirs(tmp)
    pin_environment(tmp)
    sess = Session(tmp)
    try:
        wl = WORKLOADS[args.workload](sess, args)
        metrics = wl.run()
        settings = sess.settings()
    finally:
        sess.close()
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(tmp_root)

    with open(SPEC) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    print("settings " + json.dumps(settings, sort_keys=True))
    if args.trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "layers": metrics,
                       "spans": wl.tracer.spans}, f)
        print(f"spans {os.path.relpath(path, ROOT)} ({len(wl.tracer.spans)} spans)")
        # a layer this workload never calls reads 0
        metrics = {k: metrics.get(k, 0.0) for k in units}
        for k, unit in units.items():
            print(f"layer {k:<40} {metrics[k]:>12.4f} {unit}")
    else:
        rep = {
            "setup_s": (metrics["setup_s"], "s", SETUP_ROUNDS),
            "pass_s": (metrics["pass_s"], "s", len(wl.passes)),
            "op_s.geomean": (metrics["op_s.geomean"], "s", len(wl.samples)),
            **({
                "yardstick_s": (metrics["yardstick_s"], "s", len(wl.yards)),
                "setup_s.raw": (metrics["setup_s.raw"], "s", SETUP_ROUNDS),
                "pass_s.raw": (metrics["pass_s.raw"], "s", len(wl.passes)),
                "op_s.geomean.raw": (metrics["op_s.geomean.raw"], "s", len(wl.samples)),
            } if wl.scaled else {}),
            "pass_cpu_s": (metrics["pass_cpu_s"], "s", len(wl.passes)),
            **wl.report(),
            "fail_frac": (wl.failed / wl.attempted, "ratio", wl.attempted),
            "peak_rss_MB": (metrics["peak_rss_MB"], "MB", 1),
        }
        for k, (v, unit, n) in rep.items():
            shown = "n/a (too few samples)" if v is None else f"{v:.4f}"
            print(f"metric {args.workload} {k:<18} {shown:>12} {unit:<5} n={n}")
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
