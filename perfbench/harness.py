"""Run-environment pinning, Spark lifecycle, spans, memory sampling,
checks and event-log parsing shared by the perfbench workloads."""

from __future__ import annotations

import json
import os
import shlex
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

# Layers with the generic per-layer metrics, named after the module whose
# public functions the span wraps.
LAYERS = (
    "sources.zarr",
    "sources.readers",
    "sources.sinks",
    "operators.qc",
    "operators.filters",
    "operators.filters.pack",
    "ml.hvg",
    "operators.normalize",
    "ml.reduction",
    "operators.knn",
    "ml.cluster",
    "operators.markers",
    "ml.embed",
    "operators.text",
    "operators.dedup",
    "plans.registry",
    "catalog",
)
GENERIC = ("wall_s", "task_s", "slot_util", "jobs", "shuffle_write_bytes", "gc_s")
# Layer-specific counts; every workload reports every name, 0 where idle.
SPECIFIC = (
    "session.start_s",
    "sources.zarr.chunks_decoded",
    "sources.zarr.bytes_read",
    "sources.zarr.nnz",
    "sources.sinks.bytes_written",
    "sources.sinks.bytes_per_nnz",
    "operators.knn.edges",
    "ml.cluster.ari",
    "ml.embed.driver_s",
    "operators.dedup.candidate_pairs",
    "operators.dedup.pair_precision",
    "operators.dedup.cluster_ari",
    "plans.registry.hash_s",
    "plans.registry.lookup_s",
    "plans.registry.publish_s",
    "plans.registry.hit_ratio",
    "plans.registry.log_entries",
    "catalog.sql_s",
    "requests.count",
    "requests.latency_p50_ms",
    "requests.latency_tail_ms",
    "spark.spill_bytes",
    "spark.failed_tasks",
    "trace.untraced_pass_s",
    "trace.traced_pass_s",
    "trace.overhead_ratio",
)
PER_LAYER = tuple(f"{l}.{m}" for l in LAYERS for m in GENERIC) + SPECIFIC


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem() -> str:
    """Driver heap: 1 GiB, or a quarter of physical RAM when that is
    smaller, so the JVM heap stays well below RAM on a box without swap."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(1024, phys_mb // 4)}m"


def pin_env(root: str, work: str, event_dir: str | None) -> dict:
    """Set the environment the Spark JVM and its Python workers inherit.
    Must run before pyspark launches the gateway. Returns what was set."""
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    submit = []
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir={shlex.quote(event_dir)}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SCARF_DRIVER_MEM": driver_mem(),
        # executor Python workers import scarf_spark from the checkout
        "PYTHONPATH": root,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM of the run (launcher and driver): temp files in the work
        # dir, and no hsperfdata file under the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }
    os.environ.update(pinned)
    return pinned


# ---------------------------------------------------------------------------
# process-tree RSS
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (driver JVM, Python workers) every ``interval`` seconds and keeps the
    peak of the sum. Memory is PSS: forked Python workers share pages with
    their daemon, which plain RSS would count once per process."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            parts: dict[str, float] = {}
            for p in [pid] + descendants(pid):
                name = _comm(p)
                parts[name] = parts.get(name, 0) + _pss_bytes(p)
            total = sum(parts.values())
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark lifecycle
# ---------------------------------------------------------------------------


def start_spark():
    """Start the engine's session through its public factory; returns
    (spark, seconds until the first job has run)."""
    t0 = time.perf_counter()
    from scarf_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for every process
    this run started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# spans and counters
# ---------------------------------------------------------------------------


class Tracer:
    """Wall-clock spans around calls into the program's layers.

    With ``enabled`` the span also sets the Spark job description to the
    layer name, so the event log attributes each job to the layer whose
    call submitted it."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, float] = {}

    @contextmanager
    def span(self, layer: str):
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobDescription(layer)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((layer, t0, time.time()))
            if self.enabled:
                sc.setJobDescription(None)

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + value

    def set(self, name: str, value: float) -> None:
        self.counts[name] = value

    def wall(self, layer: str) -> float:
        return sum(b - a for l, a, b in self.spans if l == layer)


def materialize(df):
    """Persist and count a DataFrame, so its work lands in the current span."""
    df = df.persist()
    df.count()
    return df


# ---------------------------------------------------------------------------
# event log → per-layer metrics
# ---------------------------------------------------------------------------


def _event_files(event_dir: str) -> list[str]:
    out = []
    for name in sorted(os.listdir(event_dir)):
        p = os.path.join(event_dir, name)
        if os.path.isdir(p):
            out += sorted(
                os.path.join(p, f) for f in os.listdir(p) if f.startswith("events_")
            )
        elif not name.endswith(".inprogress"):
            out.append(p)
    return out


def parse_event_log(event_dir: str) -> dict:
    """Aggregate task metrics per job description, plus job intervals.

    Returns ``{"layers": {desc: {...}}, "jobs": [(desc, start_ms, end_ms)],
    "spill_bytes": int, "failed_tasks": int}``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    layers: dict[str, dict] = {}
    spill = failed = 0
    for path in _event_files(event_dir):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    jobs[ev["Job ID"]] = {"desc": desc, "start": ev["Submission Time"]}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    desc = job["desc"] if job else ""
                    agg = layers.setdefault(
                        desc, {"task_ms": 0, "gc_ms": 0, "shuffle_write": 0}
                    )
                    agg["task_ms"] += m.get("Executor Run Time", 0)
                    agg["gc_ms"] += m.get("JVM GC Time", 0)
                    agg["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    spill += m.get("Disk Bytes Spilled", 0)
                    if info.get("Failed") or info.get("Killed"):
                        failed += 1
    for j in jobs.values():
        layers.setdefault(j["desc"], {"task_ms": 0, "gc_ms": 0, "shuffle_write": 0})
        layers[j["desc"]]["jobs"] = layers[j["desc"]].get("jobs", 0) + 1
    return {
        "layers": layers,
        "jobs": [(j["desc"], j["start"], j.get("end", j["start"])) for j in jobs.values()],
        "spill_bytes": spill,
        "failed_tasks": failed,
    }


def _covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(tracer: Tracer, log: dict, cores: int) -> dict:
    """Per-layer metrics from the traced spans and the parsed event log."""
    out: dict[str, float] = {name: 0.0 for name in PER_LAYER}
    for layer in LAYERS:
        wall = tracer.wall(layer)
        agg = log["layers"].get(layer, {})
        task_s = agg.get("task_ms", 0) / 1000.0
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.task_s"] = task_s
        out[f"{layer}.slot_util"] = task_s / (wall * cores) if wall > 0 else 0.0
        out[f"{layer}.jobs"] = agg.get("jobs", 0)
        out[f"{layer}.shuffle_write_bytes"] = agg.get("shuffle_write", 0)
        out[f"{layer}.gc_s"] = agg.get("gc_ms", 0) / 1000.0
    # driver-side share of the embed layer: span time with no job running
    job_iv = [(a / 1000.0, b / 1000.0) for _d, a, b in log["jobs"]]
    out["ml.embed.driver_s"] = sum(
        (b - a) - _covered_s(job_iv, a, b)
        for l, a, b in tracer.spans
        if l == "ml.embed"
    )
    out["spark.spill_bytes"] = log["spill_bytes"]
    out["spark.failed_tasks"] = log["failed_tasks"]
    for name, v in tracer.counts.items():
        if name in out:
            out[name] = v
    return out


# ---------------------------------------------------------------------------
# checks and statistics
# ---------------------------------------------------------------------------


class Check:
    """Collects correctness results; a failed check is a failed operation."""

    def __init__(self):
        self.failures: list[str] = []
        self.n = 0

    def __call__(self, ok: bool, what: str) -> None:
        self.n += 1
        if not ok:
            self.failures.append(what)


def tail(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile). With fewer than eleven samples: the maximum."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def ari(a, b) -> float:
    """Adjusted Rand index of two labelings (numpy, contingency form)."""
    import numpy as np

    a = np.asarray(a)
    b = np.asarray(b)
    _, ai = np.unique(a, return_inverse=True)
    _, bi = np.unique(b, return_inverse=True)
    cont = np.zeros((ai.max() + 1, bi.max() + 1), dtype=np.int64)
    np.add.at(cont, (ai, bi), 1)

    def c2(x):
        x = x.astype(np.float64)
        return (x * (x - 1) / 2).sum()

    sum_ij = c2(cont)
    sum_a = c2(cont.sum(axis=1))
    sum_b = c2(cont.sum(axis=0))
    expected = sum_a * sum_b / (len(a) * (len(a) - 1) / 2)
    max_idx = (sum_a + sum_b) / 2
    return float((sum_ij - expected) / (max_idx - expected)) if max_idx != expected else 0.0


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _s, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
