"""perfbench — the repository's self-checking benchmark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload queries --seed 1 --seconds 15 --trace 0

One closed-loop client drives one workload on ``local[<cpus>]`` with the
program's own session defaults (``session.get_spark``).  It sends the next
operation only after the previous one has finished; between operations,
outside every timed region, it drops its references and runs the Python GC
and a JVM ``System.gc()``.

Workloads:

``queries``
    Twelve registry queries over the bundled sf0.01 tables: single-pass
    SQL (scan, join, as-of, window, resample, MinHash, text), one iterative
    loop that checkpoints every round (``graph_bfs``) and four
    Python-worker queries (scalar, Arrow and grouped-map UDFs, PNG decode).
    One operation is one query: ``Query.spark(...)`` builds the frame, then
    the ``noop`` sink runs it.  The seed shuffles the query order of every
    pass.
``tickstore``
    Seeded synthetic ticks (``ticks.py``).  A pass writes a fresh store,
    appends a batch that touches existing uids and adds new ones, runs
    single-uid ranged reads with a column subset, and ends with
    ``list_uids``.  One operation is one ``TickStore`` call.

Each run sets up ``SETUP_ROUNDS`` times (session start, registry import,
warm-up; the first round also launches the JVM) and reports the median.
Pass 0 is untimed: it builds every query (or runs a small tick pass) and
checks every output, which also warms the JIT.  Then whole passes run as
long as another one fits in ``--seconds`` (at least one).  Query results
are checked against ``expected.json`` (row count plus
``bit_xor(xxhash64(all columns))``, or row count plus ``inv_ok`` for
rows-only queries); every tick read and ``list_uids`` is checked against
the pandas expectation of the generator.  A wrong or failed operation is
named on stderr, makes ``correct`` false and the exit code 1.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones (``END_TO_END``):

- ``setup_s``: median set-up round;
- ``pass_s``: median over passes of the summed operation latencies;
- ``pass_cpu_s``: median CPU seconds this process, its JVM and the Python
  workers spend over a pass (between-operation GC included);
- ``op_s.gmean``: geometric mean of the operation latencies (queries, or
  tick reads);
- ``rss_peak_mb``: peak resident set of this process plus its JVM.

With ``--trace 1`` the run measures half its time untraced, restarts the
session with the Spark event log and the ``perf`` UDF profiler on, labels
every call with its span id as the Spark job group, measures the other
half, and reports the per-layer metrics (per pass), among them
``trace.overhead_s``, the traced minus the untraced ``pass_s``.  It writes
``perfbench/out/layers_c<cpus>_<workload>_s<seed>.json`` with every span
and the per-query / per-step breakdown.

The line before the last is a report under the workload's own names
(``query_s.p50``, ``query_s.p90``, ``read_s.*``, ``write_s``,
``append_s``, ``list_uids_s``, ``store_bytes_ratio``, ``fail_ratio``,
sample counts, phase wall times and the hypervisor steal share).
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import ticks  # noqa: E402
from perfbench.trace import Totals, Tracer, catalyst_ms, parse_event_log  # noqa: E402

SF_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
SETUP_ROUNDS = 3

QUERY_SET = (
    "agg_basic",
    "join_inner",
    "join_asof",
    "window_vwap",
    "resample_ohlc",
    "dedup_minhash",
    "text_quality",
    "graph_bfs",
    "udf_scalar",
    "udf_arrow",
    "udf_grouped_map",
    "multimodal_decode_png",
)
READS_PER_PASS = 8
CHECK_READS = 4  # reads in the untimed check pass of ``tickstore``
TAIL_PCT = 90


def tail(values: list[float]) -> tuple[float, int]:
    """(nearest-rank TAIL_PCT percentile, samples); (0.0, 0) when empty."""
    v = sorted(values)
    if not v:
        return 0.0, 0
    return v[max(0, math.ceil(TAIL_PCT / 100 * len(v)) - 1)], len(v)


def median(values):
    return statistics.median(values) if values else 0.0


def gmean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds of process ``root`` and all its live descendants, with
    the time of children they have reaped (utime+stime+cutime+cstime)."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return total / _CLK_TCK


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


class RssSampler(threading.Thread):
    """Peak resident set of this process plus its JVM, sampled from /proc."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.pids = [os.getpid()]
        self.peak_kb = 0
        self._done = threading.Event()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self._done.wait(0.05):
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_kb / 1024.0


class Client:
    """The closed-loop client: session lifecycle, operation accounting and
    the between-operation hygiene."""

    def __init__(self, work: str, traced_session_conf: dict | None = None) -> None:
        self.work = work
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.persistent_max = 0
        self.rss = RssSampler()
        self.traced = False
        self.spark_cpus = 0
        self._trace_conf = traced_session_conf or {}

    def start_session(self, traced: bool = False):
        from corintick_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench", extra_conf=self._trace_conf if traced else None
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.traced = traced
        self.tracer.sc = self.spark.sparkContext if traced else None
        if not self.rss.is_alive():
            self.rss.pids.append(self.spark.sparkContext._gateway.proc.pid)
            self.rss.start()
        return self.spark

    def fail(self, op: str, why: str) -> None:
        self.failures.append(f"{op}: {why}")
        print(f"perfbench: FAILED {op}: {why}", file=sys.stderr, flush=True)
        if sys.exc_info()[0] is not None:
            traceback.print_exc()

    def between_ops(self) -> None:
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        n = self.spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        self.persistent_max = max(self.persistent_max, n)

    def python_worker_s(self) -> float:
        """Cumulative Python UDF time from the ``perf`` UDF profiler."""
        results = self.spark._profiler_collector._perf_profile_results
        return sum(s.total_tt for s in results.values())


# -- queries workload --------------------------------------------------------


def result_check(df) -> dict:
    """Row count, order-free fingerprint and (when present) the ``inv_ok``
    invariant of a result frame, in one aggregate job."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import MapType

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        # maps are not hashable in Spark; their sorted entries are
        if isinstance(f.dataType, MapType):
            c = F.array_sort(F.map_entries(c))
        cols.append(c)
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.expr("bit_xor(h)").alias("fp"),
    ]
    if "inv_ok" in df.columns:
        aggs.append(F.min(F.col("inv_ok").cast("int")).alias("inv_ok"))
    keep = [F.col("inv_ok")] if "inv_ok" in df.columns else []
    r = df.select(F.xxhash64(*cols).alias("h"), *keep).agg(*aggs).first()
    out = {"rows": int(r["rows"]), "fp": None if r["fp"] is None else int(r["fp"])}
    if "inv_ok" in df.columns:
        out["inv_ok"] = r["inv_ok"]
    return out


def check_against(expected: dict, got: dict) -> str | None:
    if got["rows"] != expected["rows"]:
        return f"rows {got['rows']} != expected {expected['rows']}"
    if "fp" in expected and got["fp"] != expected["fp"]:
        return f"fingerprint {got['fp']} != expected {expected['fp']}"
    if "inv_ok" in expected and got.get("inv_ok") != 1:
        return "inv_ok is false in some row"
    return None


class QueriesWorkload:
    name = "queries"

    def __init__(self, client: Client, seed: int) -> None:
        self.client = client
        self.rng = random.Random(seed)
        self.registry = None
        with open(EXPECTED) as fh:
            self.expected = json.load(fh)["queries"]
        self.latencies: dict[str, list[float]] = {n: [] for n in QUERY_SET}
        self.catalyst: dict[str, list[float]] = {n: [] for n in QUERY_SET}
        self.python_s: dict[str, list[float]] = {n: [] for n in QUERY_SET}
        self.op_latencies: list[float] = []

    def load(self) -> None:
        from corintick_spark.registry import load_all

        self.registry = load_all()

    def warmup(self) -> None:
        import pyspark.sql.functions as F
        from corintick_spark.catalog import table

        spark = self.client.spark
        for t in ("lineitem", "orders", "events", "documents", "embeddings"):
            table(spark, SF_DIR, t).write.format("noop").mode("overwrite").save()
        (
            table(spark, SF_DIR, "lineitem")
            .groupBy("l_returnflag")
            .agg(F.sum(F.round(F.col("l_quantity") * 1_000_000).cast("bigint")))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def run_pass(self, check: bool) -> float:
        names = list(QUERY_SET)
        if not check:
            self.rng.shuffle(names)
        return sum(self._op(n, check) for n in names)

    def _op(self, name: str, check: bool) -> float:
        """One query: build its frame, then run it through the ``noop``
        sink (timed) or through the result check (check pass)."""
        c, tr = self.client, self.client.tracer
        c.attempted += 1
        df = None
        took = 0.0
        try:
            py0 = c.python_worker_s() if c.traced else 0.0
            with tr.span(f"{name}.build", query=name, phase="build") as b:
                df = self.registry[name].spark(c.spark, SF_DIR)
            if check:  # the result check is the action of the check pass
                why = check_against(self.expected[name], result_check(df))
                if why:
                    c.fail(name, why)
                return 0.0
            with tr.span(f"{name}.action", query=name, phase="action") as a:
                df.write.format("noop").mode("overwrite").save()
            took = b.seconds + a.seconds
            self.latencies[name].append(took)
            self.op_latencies.append(took)
            if c.traced:
                self.python_s[name].append(c.python_worker_s() - py0)
                self.catalyst[name].append(catalyst_ms(df))
        except Exception as e:  # noqa: BLE001 — any failure is a failed operation
            c.fail(name, f"{type(e).__name__}: {str(e)[:300]}")
        finally:
            df = None
            c.between_ops()
        return took

    def report(self, passes: list[float]) -> dict:
        t, n = tail(self.op_latencies)
        return {
            "pass_s": median(passes),
            "query_s.p50": median(self.op_latencies),
            f"query_s.p{TAIL_PCT}": t,
            "query_s.samples": n,
            "query_s.per_query_p50": {k: median(v) for k, v in self.latencies.items()},
        }


# -- tickstore workload ------------------------------------------------------


class TickstoreWorkload:
    name = "tickstore"

    def __init__(self, client: Client, seed: int) -> None:
        self.client = client
        # enough schedule for far more passes than a run can make
        self.ticks = ticks.make_ticks(seed, n_reads=READS_PER_PASS * 64)
        self.all = self.ticks.all
        self.raw_bytes = ticks.raw_bytes(self.all)
        self.passes_done = 0
        self.step_s: dict[str, list[float]] = {"write": [], "append": [], "list_uids": []}
        self.op_latencies: list[float] = []
        self.files: list[int] = []
        self.bytes: list[int] = []

    def load(self) -> None:
        pass  # the tick store needs no registry

    def warmup(self) -> None:
        from corintick_spark.storage import TickStore

        spark = self.client.spark
        root = os.path.join(self.client.work, "ticks-warmup")
        shutil.rmtree(root, ignore_errors=True)
        store = TickStore(spark, root)
        store.write(spark.createDataFrame(self.ticks.append.head(400)))
        r = self.ticks.reads[0]
        store.read([r.uid], r.start, r.end, list(r.columns)).toPandas()
        store.list_uids().toPandas()
        shutil.rmtree(root, ignore_errors=True)

    def run_pass(self, check: bool) -> float:
        from corintick_spark.storage import TickStore

        c, T = self.client, ticks
        spark = c.spark
        k = self.passes_done
        self.passes_done += 1
        root = os.path.join(c.work, f"ticks-{k}")
        store = TickStore(spark, root)
        total = 0.0
        for step, pdf in (("write", self.ticks.base), ("append", self.ticks.append)):
            sdf = spark.createDataFrame(pdf)
            total += self._op(step, lambda sdf=sdf: store.write(sdf), None, check)
            sdf = None
        first = READS_PER_PASS * k
        reads = self.ticks.reads[first : first + (CHECK_READS if check else READS_PER_PASS)]
        for r in reads:
            total += self._op(
                "read",
                lambda r=r: store.read([r.uid], r.start, r.end, list(r.columns)),
                lambda pdf, r=r: _same(
                    T.fingerprint(pdf), T.fingerprint(T.expected_read(self.all, r))
                ),
                check,
            )
        total += self._op(
            "list_uids",
            store.list_uids,
            lambda pdf: _same_uids(pdf, T.expected_uids(self.all)),
            check,
        )
        files = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
        self.files.append(len(files))
        self.bytes.append(sum(os.path.getsize(f) for f in files))
        shutil.rmtree(root, ignore_errors=True)
        return total

    def _op(self, step: str, build, verify, check: bool) -> float:
        """One TickStore call.  Reads and list_uids build a lazy frame (the
        build span) and collect it to pandas (the action span); writes are
        a single action span."""
        c, tr = self.client, self.client.tracer
        c.attempted += 1
        took = 0.0
        try:
            if verify is None:
                with tr.span(f"tickstore.{step}", step=step, phase="action") as a:
                    build()
                took = a.seconds
            else:
                with tr.span(f"tickstore.{step}.build", step=step, phase="build") as b:
                    df = build()
                with tr.span(f"tickstore.{step}.action", step=step, phase="action") as a:
                    pdf = df.toPandas()
                df = None
                took = b.seconds + a.seconds
                why = verify(pdf)
                if why:
                    c.fail(f"tickstore.{step}", why)
            if not check:
                if step == "read":
                    self.op_latencies.append(took)
                else:
                    self.step_s[step].append(took)
        except Exception as e:  # noqa: BLE001 — any failure is a failed operation
            c.fail(f"tickstore.{step}", f"{type(e).__name__}: {str(e)[:300]}")
        finally:
            c.between_ops()
        return took

    def report(self, passes: list[float]) -> dict:
        t, n = tail(self.op_latencies)
        return {
            "pass_s": median(passes),
            "write_s": median(self.step_s["write"]),
            "append_s": median(self.step_s["append"]),
            "read_s.p50": median(self.op_latencies),
            f"read_s.p{TAIL_PCT}": t,
            "read_s.samples": n,
            "list_uids_s": median(self.step_s["list_uids"]),
            "store_bytes_ratio": median(self.bytes) / self.raw_bytes,
        }


def _same(got: tuple, want: tuple) -> str | None:
    return None if got == want else f"(rows, hash) {got} != expected {want}"


def _same_uids(pdf, want) -> str | None:
    got = pdf.sort_values("uid", ignore_index=True)[list(want.columns)]
    if len(got) != len(want):
        return f"{len(got)} uids != expected {len(want)}"
    return None if got.equals(want) else "per-uid count/first/last differ"


WORKLOADS = {"queries": QueriesWorkload, "tickstore": TickstoreWorkload}


# -- the run -----------------------------------------------------------------


def setup(client: Client, wl) -> dict:
    """SETUP_ROUNDS full set-ups; the first also launches the JVM and
    imports the registry.  Returns per-round timings."""
    rounds = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        client.start_session()
        t1 = time.perf_counter()
        wl.load()
        t2 = time.perf_counter()
        wl.warmup()
        t3 = time.perf_counter()
        client.between_ops()
        rounds.append(
            {"session": t1 - t0, "registry": t2 - t1, "warmup": t3 - t2, "total": t3 - t0}
        )
    return {
        "setup_s": median([r["total"] for r in rounds]),
        "session.start_s": median([r["session"] for r in rounds]),
        # the registry import happens once per process, in round 1
        "registry.load_s": rounds[0]["registry"],
        "warmup_s": median([r["warmup"] for r in rounds]),
        "rounds": rounds,
    }


@dataclass
class Pass:
    id: str  # the pass span
    latency: float  # sum of its operations' latencies
    wall: float
    cpu: float  # CPU seconds of this process tree over the pass


def timed_passes(client: Client, wl, seconds: float) -> list[Pass]:
    """Whole passes within ``seconds``; at least one."""
    out: list[Pass] = []
    deadline = time.perf_counter() + seconds
    # a pass starts only if a pass of median length still fits
    while not out or time.perf_counter() + median([p.wall for p in out]) <= deadline:
        cpu0 = tree_cpu_s(os.getpid())
        with client.tracer.span("pass") as s:
            took = wl.run_pass(check=False)
        out.append(Pass(s.id, took, s.seconds, tree_cpu_s(os.getpid()) - cpu0))
    return out


DETAIL_KEYS = (
    "calls",
    "build_s",
    "action_s",
    "build_jobs",
    "action_jobs",
    "stages",
    "tasks",
    "python.bytes_to_worker_mb",
)


def layer_metrics(
    client: Client, wl, passes: list[Pass], totals_by_group, setup_info, overhead
) -> tuple[dict, dict]:
    """Per-layer metrics (per pass, the same names on every workload) and
    the per-query / per-step breakdown (per call) for the layer file."""
    pass_ids = {p.id for p in passes}
    n_pass = len(passes)
    build, action = Totals(), Totals()
    build_s = action_s = 0.0
    detail: dict[str, dict] = {}
    for s in client.tracer.spans:
        if s.parent not in pass_ids:
            continue
        t = totals_by_group.get(s.id, Totals())
        key = s.attrs.get("query") or f"tickstore.{s.attrs['step']}"
        d = detail.setdefault(key, dict.fromkeys(DETAIL_KEYS, 0.0))
        phase = s.attrs["phase"]
        if phase == "build":
            build += t
            build_s += s.seconds
        else:
            action += t
            action_s += s.seconds
        # every call has exactly one action span
        d["calls"] += phase == "action"
        d[f"{phase}_s"] += s.seconds
        d[f"{phase}_jobs"] += t.jobs
        d["stages"] += t.stages
        d["tasks"] += t.tasks
        d["python.bytes_to_worker_mb"] += t.python_bytes_mb
    for d in detail.values():
        for k in d:
            if k != "calls":
                d[k] /= max(1.0, d["calls"])  # a call that failed early has no action
    both = Totals()
    both += build
    both += action
    wall = sum(p.wall for p in passes)
    queries = wl.name == "queries"
    # on tickstore the reader's schema jobs are storage work (tickstore.read.jobs)
    m = {
        "session.start_s": setup_info["session.start_s"],
        "registry.load_s": setup_info["registry.load_s"],
        "warmup_s": setup_info["warmup_s"],
        "catalog.schema_jobs": build.schema_jobs / n_pass if queries else 0.0,
        "catalog.schema_s": build.schema_s / n_pass if queries else 0.0,
        "build_s": build_s / n_pass,
        "action_s": action_s / n_pass,
        "build_jobs": build.jobs / n_pass,
        "action_jobs": action.jobs / n_pass,
        "stages": both.stages / n_pass,
        "tasks": both.tasks / n_pass,
        "executor_run_s": both.executor_run_s / n_pass,
        "executor_cpu_s": both.executor_cpu_s / n_pass,
        "cpu_util": both.executor_cpu_s / (wall * client.spark_cpus),
        "shuffle_read_mb": both.shuffle_read_mb / n_pass,
        "shuffle_write_mb": both.shuffle_write_mb / n_pass,
        "spill_mb": both.spill_mb / n_pass,
        "jvm_gc_s": both.jvm_gc_s / n_pass,
        "catalyst_ms": 0.0,
        "python.bytes_to_worker_mb": both.python_bytes_mb / n_pass,
        "python.worker_s": 0.0,
        "persistent_rdds_max": float(client.persistent_max),
        "tickstore.write.jobs": 0.0,
        "tickstore.read.jobs": 0.0,
        "tickstore.list_uids.jobs": 0.0,
        "tickstore.files": 0.0,
        "tickstore.bytes": 0.0,
        "trace.overhead_s": overhead,
    }
    if queries:
        m["catalyst_ms"] = sum(median(v) for v in wl.catalyst.values())
        m["python.worker_s"] = sum(median(v) for v in wl.python_s.values())
        for q, d in detail.items():
            d["catalyst_ms"] = median(wl.catalyst[q])
            d["python.worker_s"] = median(wl.python_s[q])
    else:
        for step in ("write", "read", "list_uids"):
            d = detail.get(f"tickstore.{step}", {})
            m[f"tickstore.{step}.jobs"] = sum(d.get(k, 0.0) for k in ("build_jobs", "action_jobs"))
        m["tickstore.files"] = median(wl.files)
        m["tickstore.bytes"] = median(wl.bytes)
    return m, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The program is imported first: a checkout without it fails here,
    # before any JVM starts or any result is printed.
    try:
        import corintick_spark.session  # noqa: F401
        import corintick_spark.storage  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable: {e}", file=sys.stderr)
        return 2

    # Keep every byte the JVM prints off stdout: fd 1 goes to stderr and the
    # result lines go to a private duplicate of the real stdout.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = os.fdopen(os.dup(1), "w", buffering=1)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    trace_conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.pyspark.udf.profiler": "perf",
    }
    client = Client(work, trace_conf)
    try:
        return _run(args, client, real_stdout)
    finally:
        if client.spark is not None:
            client.spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))


def _stop_jvm() -> None:
    """End the py4j JVM and wait for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.close()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _run(args, client: Client, real_stdout: int) -> int:
    wl = WORKLOADS[args.workload](client, args.seed)
    setup_info = setup(client, wl)
    client.spark_cpus = client.spark.sparkContext.defaultParallelism
    with client.tracer.span("check-pass") as check_span:
        wl.run_pass(check=True)

    steal0 = cpu_steal()
    if args.trace:
        untraced = timed_passes(client, wl, args.seconds / 2)
        client.start_session(traced=True)
        wl.warmup()
        client.between_ops()
        app_id = client.spark.sparkContext.applicationId
        with client.tracer.span("workload", workload=wl.name) as root:
            passes = timed_passes(client, wl, args.seconds / 2)
        client.tracer.sc = None
        client.spark.stop()
        client.spark = None
        with open(os.path.join(client.work, "eventlog", app_id)) as fh:
            totals = parse_event_log(fh)
    else:
        with client.tracer.span("workload", workload=wl.name) as root:
            passes = timed_passes(client, wl, args.seconds)
    steal1 = cpu_steal()
    rss_mb = client.rss.stop()

    rep = wl.report([p.latency for p in passes])
    failed = len(client.failures)
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "cpus": client.spark_cpus,
        "passes": len(passes),
        "wall_s": {
            "setup": sum(r["total"] for r in setup_info["rounds"]),
            "check_pass": check_span.seconds,
            "timed": sum(p.wall for p in passes),
        },
        # CPU time the hypervisor gave to other guests while this run
        # measured; a high share means the figures are contended
        "steal_pct": 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "setup_s": setup_info["setup_s"],
        "pass_cpu_s": median([p.cpu for p in passes]),
        "op_s.gmean": gmean(wl.op_latencies),
        "rss_peak_mb": rss_mb,
        "fail_ratio": failed / client.attempted,
        "wrong": client.failures,
        **rep,
    }
    if args.trace:
        overhead = rep["pass_s"] - median([p.latency for p in untraced])
        layers, detail = layer_metrics(client, wl, passes, totals, setup_info, overhead)
        if wl.name == "tickstore":
            layers.update({f"tickstore.{k}": rep[k] for k in TICKSTORE_STEPS})
        else:
            layers.update(dict.fromkeys((f"tickstore.{k}" for k in TICKSTORE_STEPS), 0.0))
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layers.items()}
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        name = f"layers_c{client.spark_cpus}_{wl.name}_s{args.seed}.json"
        path = os.path.join(HERE, "out", name)
        report["layer_file"] = os.path.relpath(path, ROOT)
        report["trace.overhead_s"] = overhead
        with open(path, "w") as fh:
            json.dump(
                {
                    "report": report,
                    "per_layer": layers,
                    "detail": detail,
                    "setup_rounds": setup_info["rounds"],
                    "spans": client.tracer.dump(),
                    "root_span": root.id,
                },
                fh,
                indent=1,
            )
    else:
        metrics = {k: {"value": report[k], "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": failed == 0,
        "attempted": client.attempted,
        "failed": failed,
        "metrics": metrics,
    }
    os.write(real_stdout, (json.dumps({"report": report}) + "\n").encode())
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0 if failed == 0 else 1


END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "op_s.gmean": "s",
    "rss_peak_mb": "MB",
}
TICKSTORE_STEPS = ("write_s", "append_s", "list_uids_s", "store_bytes_ratio")


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name in ("cpu_util", "tickstore.store_bytes_ratio"):
        return "ratio"
    if name == "tickstore.bytes":
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
