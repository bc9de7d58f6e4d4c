"""Shared plumbing for the benchmark: paths, host weather, process-tree
CPU and memory, spans, statistics, Spark session set-up, and the
result line.

Everything the benchmark writes goes under ``<checkout>/.perfbench``:
scratch files under ``tmp-<pid>``, removed when the run ends, and the
spans of traced runs.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
PACKAGE = "document_extraction_service_spark"


class GateFailure(Exception):
    """An output check failed: the run prints no result line."""


def require_program() -> None:
    """Import the engine from this checkout only, never from elsewhere on
    the path; without it there is nothing to measure."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise SystemExit(f"perfbench: no {PACKAGE}/ in {ROOT}; nothing to measure")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def run_dir() -> Path:
    """This run's scratch directory; runs side by side do not share one."""
    return WORK / f"tmp-{os.getpid()}"


def scratch_dir(name: str) -> Path:
    d = run_dir() / name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

# page kinds the edge and adversarial fixture builders choose by index
KINDS = {"edge": 6, "adversarial": 5}


def page_ids(n: int, seed: int) -> list[int]:
    """Indexes of about ``n`` fixture pages of ``seed`` whose counts per
    family, and per kind within the edge and adversarial families, are the
    expected counts of the standard mix.  In a plain sample of the mix the
    number of ~1 MB edge pages, and with it a run's work, varies twofold
    between seeds."""
    from document_extraction_service_spark import fixtures

    quota, lo = {}, 0.0
    for cum, fam in fixtures._FAMILY_CUM:
        kinds = KINDS.get(fam, 1)
        for k in range(kinds):
            quota[fam, k] = round(n * (min(cum, 1.0) - lo) / kinds)
        lo = cum
    ids, i = [], 0
    while any(quota.values()):
        fam = fixtures.family_of(i, seed)
        key = (fam, i % KINDS.get(fam, 1))
        if quota[key]:
            quota[key] -= 1
            ids.append(i)
        i += 1
    return ids


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    s = sorted(xs)
    k = max(0, math.ceil(q / 100.0 * len(s)) - 1)
    return float(s[k])


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# ---------------------------------------------------------------------------
# reference probe
# ---------------------------------------------------------------------------

_WORDS = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
_REF_DOC = "<html><body>" + "".join(
    f"<div class='c{i % 7}'><h2>Section {i}</h2><p>"
    + " ".join(_WORDS[(i + j) % 8] for j in range(40))
    + f"</p><a href='/x/{i}'>link</a></div>" for i in range(60)) + "</body></html>"


def ref_probe() -> float:
    """Thread-CPU seconds of a fixed reference workload: the standard
    library's html.parser over a fixed 20 kB document.  It shares no code
    with the engine, so its time moves with the host's speed alone."""
    from html.parser import HTMLParser

    c0 = time.thread_time()
    p = HTMLParser()
    p.feed(_REF_DOC)
    p.close()
    return time.thread_time() - c0


class ProbeSampler:
    """``ref_probe`` every ``interval`` seconds on a background thread, to
    read the host's speed while another process tree does the work."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.samples: list[tuple[float, float]] = []  # (perf_counter, probe s)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.samples.append((time.perf_counter(), ref_probe()))

    def __enter__(self) -> "ProbeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def fastest(self, t0: float, t1: float) -> float:
        """The fastest probe taken between perf_counter times t0 and t1."""
        return min(p for t, p in self.samples if t0 <= t <= t1)


# ---------------------------------------------------------------------------
# host weather and the process tree (/proc)
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostWeather:
    """/proc/stat CPU split over an interval: hypervisor steal and system
    share make a slow run on a noisy host visible beside its numbers."""

    def __init__(self) -> None:
        self.t0 = _cpu_ticks()

    def split(self) -> dict[str, float]:
        d = [b - a for a, b in zip(self.t0, _cpu_ticks())]
        total = sum(d) or 1
        # user nice system idle iowait irq softirq steal
        return {"user_pct": 100.0 * (d[0] + d[1]) / total,
                "sys_pct": 100.0 * d[2] / total,
                "steal_pct": 100.0 * (d[7] if len(d) > 7 else 0) / total,
                "idle_pct": 100.0 * (d[3] + d[4]) / total}


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces: the fields after it start past the last ')'
    return s[s.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its whole process tree (Linux
    prctl): a descendant whose parent exits, such as the PySpark worker
    daemon once the driver JVM has gone, is re-parented here rather than
    to init, so ``end_descendants`` can wait for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_descendants(grace_s: float = 20.0) -> None:
    """Return once every descendant of this process has ended and been
    reaped.  Those still running after ``grace_s`` seconds are killed."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return  # no children: with adopt_orphans, no descendants either
        if time.monotonic() > deadline:
            for pid in process_tree()[1:]:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.02)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants: the
    Spark driver JVM and its Python workers.  Reaped children count via
    their parent's cutime/cstime."""
    ticks = 0
    for pid in process_tree():
        st = _proc_stat(pid)
        if st is not None:  # utime stime cutime cstime
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _CLK


def tree_hwm_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) in MiB of the driver JVM, and summed over
    the Python processes of the tree (this driver and the Spark workers)."""
    out = {"mem.jvm_hwm_mb": 0.0, "mem.python_hwm_mb": 0.0}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if comm == "java":
                key = "mem.jvm_hwm_mb"
            elif comm.startswith("python"):
                key = "mem.python_hwm_mb"
            else:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[key] += int(line.split()[1]) / 1024.0
                        break
        except OSError:
            pass
    return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans around calls into the engine's public functions.

    A span is (name, parent index, wall start, wall end, thread-CPU start,
    thread-CPU end), in nanoseconds.  A layer's self time is its duration
    minus the time its child spans cover.  Spans are written out once, by
    ``dump``, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        rec = [name, parent, time.perf_counter_ns(), 0, time.thread_time_ns(), 0]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec[3] = time.perf_counter_ns()
            rec[5] = time.thread_time_ns()
            self._stack.pop()

    def self_cpu_times(self, start: int = 0) -> list[float]:
        """Self thread-CPU seconds of the spans from index ``start`` on,
        whose parents must lie in that range too."""
        spans = self.spans[start:]
        own = [r[5] - r[4] for r in spans]
        for r in spans:
            if r[1] >= start:  # children run one after another: durations add up
                own[r[1] - start] -= r[5] - r[4]
        return [x / 1e9 for x in own]

    def extend(self, spans: list[list]) -> None:
        """Append spans recorded by another tracer, e.g. in a child process."""
        off = len(self.spans)
        self.spans.extend([r[0], r[1] + off if r[1] >= 0 else -1, *r[2:]] for r in spans)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            json.dump({"fields": ["name", "parent", "wall_start_ns", "wall_end_ns",
                                  "cpu_start_ns", "cpu_end_ns"],
                       "spans": self.spans}, f)


# ---------------------------------------------------------------------------
# Spark
# ---------------------------------------------------------------------------

DRIVER_MEMORY = "4g"


def start_spark(app: str, work: Path, event_log: Path | None = None):
    """Session at local[nproc] whose scratch paths lie under ``work``.
    ``event_log`` turns Spark's event log on, uncompressed, for a traced
    run only."""
    from document_extraction_service_spark.session import build_session

    local = work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    extra = {
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_log.as_uri(),
                      "spark.eventLog.compress": "false"})
    return build_session(master=f"local[{nproc()}]", app_name=app,
                         driver_memory=DRIVER_MEMORY, extra=extra)


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit;
    the JVM goes even when stopping the session fails part way."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            if gateway is not None:
                gateway.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:  # the JVM exits when its stdin closes
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def noop(df) -> None:
    """Materialize every column of ``df`` into Spark's noop sink."""
    df.write.format("noop").mode("overwrite").save()


def set_phase(spark, phase: str | None) -> None:
    """Tag the jobs that follow; the event-log reader groups tasks by it."""
    spark.sparkContext.setLocalProperty("perfbench.phase", phase)


# ---------------------------------------------------------------------------
# result
# ---------------------------------------------------------------------------

def load_declared() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def result_line(declared: dict, trace: bool, values: dict[str, float],
                correct: bool, attempted: int, failed: int) -> str:
    """The last stdout line.  Untraced runs carry exactly the end-to-end
    metrics; traced runs exactly the per-layer metrics, with 0 for a layer
    this workload does not run through."""
    known = {m["name"] for m in declared["end_to_end"] + declared["per_layer"]}
    if set(values) - known:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(set(values) - known)}")
    metrics = {}
    for m in declared["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        if name not in values:
            if not trace:
                raise KeyError(f"end-to-end metric {name} was not measured")
            values[name] = 0.0
        metrics[name] = {"value": float(values[name]), "unit": m["unit"]}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
