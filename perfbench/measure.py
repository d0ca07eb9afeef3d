"""Metric code of the benchmark: percentiles, pair recall/precision,
span tracing, event-log attribution, host CPU steal, and the CPU time
and RSS of a process tree.

Nothing here imports Spark at module level, so the unit tests run
without a session.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


# ---------------------------------------------------------------- timings

def tail_percentile(n_samples: int) -> float | None:
    """The highest of p90/p95/p99/p99.9 that has at least ten samples
    beyond it, or None when even p90 has fewer (then only the median is
    reported)."""
    best = None
    for p, beyond in ((90.0, 0.1), (95.0, 0.05), (99.0, 0.01), (99.9, 0.001)):
        if n_samples * beyond >= 10:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (an observed sample, never interpolated)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))  # ceil(n * p / 100)
    return ordered[int(rank) - 1]


# ---------------------------------------------------------- cluster checks

def _pairs(counts) -> int:
    return sum(c * (c - 1) // 2 for c in counts)


def pair_scores(planted: list, found: list) -> tuple[float, float]:
    """Pair-counting recall and precision of a clustering.

    ``planted[i]`` and ``found[i]`` are the planted group and the output
    cluster of item ``i``. A planted pair is two items of one planted
    group; recall is the share of planted pairs that share an output
    cluster, precision the share of same-cluster pairs that are planted.
    With no pairs on a side the ratio is 1.0 (nothing to miss)."""
    if len(planted) != len(found):
        raise ValueError("planted and found label different item counts")
    both = _pairs(Counter(zip(planted, found)).values())
    planted_pairs = _pairs(Counter(planted).values())
    found_pairs = _pairs(Counter(found).values())
    recall = both / planted_pairs if planted_pairs else 1.0
    precision = both / found_pairs if found_pairs else 1.0
    return recall, precision


# ------------------------------------------------------------------ spans

class Tracer:
    """Nested spans recorded in memory. The open span path is mirrored
    into a Spark local property, so every job a span launches carries
    the path in the event log and can be attributed back to it.

    ``set_property`` is ``SparkContext.setLocalProperty`` (or a stub in
    tests); ``None`` as the value clears the property."""

    def __init__(self, set_property=None) -> None:
        self._set_property = set_property
        self._stack: list[str] = []
        self._open: dict[str, float] = {}
        self.spans: list[tuple[str, float]] = []   # (path, seconds)

    def _path(self) -> str:
        return "/".join(self._stack)

    def _mirror(self) -> None:
        if self._set_property is not None:
            self._set_property(SPAN_PROPERTY, self._path() or None)

    def open(self, name: str) -> None:
        self._stack.append(name)
        self._open[self._path()] = time.monotonic()
        self._mirror()

    def close(self, name: str) -> None:
        if not self._stack or self._stack[-1] != name:
            raise RuntimeError(f"closing span {name!r} but open is {self._stack}")
        path = self._path()
        self.spans.append((path, time.monotonic() - self._open.pop(path)))
        self._stack.pop()
        self._mirror()

    def unwind(self) -> None:
        """Drop every open span unrecorded (after a failed op)."""
        self._stack.clear()
        self._open.clear()
        self._mirror()

    def is_open(self, name: str) -> bool:
        return bool(self._stack) and self._stack[-1] == name

    @contextmanager
    def span(self, name: str):
        self.open(name)
        try:
            yield
        finally:
            self.close(name)


# ------------------------------------------------------ event-log attribution

def read_event_log(lines) -> dict[str, dict[str, float]]:
    """Per span path: Spark jobs launched, executor run time, shuffle
    bytes written and output bytes written, from Spark event-log lines
    (uncompressed JSON, one event per line). Jobs and stages are
    attributed through the span property the tracer set when they were
    submitted; work without the property is ignored."""
    stage_path: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"jobs": 0, "task_s": 0.0, "shuffle_write_mb": 0.0,
                 "output_mb": 0.0}
    )
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            path = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            if path:
                out[path]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            path = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            if path:
                stage_path[ev["Stage Info"]["Stage ID"]] = path
        elif kind == "SparkListenerTaskEnd":
            path = stage_path.get(ev.get("Stage ID"))
            metrics = ev.get("Task Metrics")
            if path is None or not metrics:
                continue
            acc = out[path]
            acc["task_s"] += metrics.get("Executor Run Time", 0) / 1000.0
            acc["shuffle_write_mb"] += (
                metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                / 1e6
            )
            acc["output_mb"] += (
                metrics.get("Output Metrics", {}).get("Bytes Written", 0) / 1e6
            )
    return dict(out)


def layer_totals(spans: list[tuple[str, float]],
                 per_path: dict[str, dict[str, float]]) -> dict[str, dict[str, dict[str, float]]]:
    """Group span time and attributed Spark work by root span (one op)
    and layer name: ``{root: {layer: {busy_s, jobs, task_s, ...}}}``.
    A path ``op1/pipeline/signatures/checkpoint`` counts toward every
    layer on it (spans nest), and its busy time toward its own layer."""
    out: dict = defaultdict(lambda: defaultdict(
        lambda: {"busy_s": 0.0, "jobs": 0, "task_s": 0.0,
                 "shuffle_write_mb": 0.0, "output_mb": 0.0}
    ))
    for path, seconds in spans:
        root, *layers = path.split("/")
        if layers:
            out[root][layers[-1]]["busy_s"] += seconds
    for path, work in per_path.items():
        root, *layers = path.split("/")
        for layer in set(layers):
            acc = out[root][layer]
            for k, v in work.items():
                acc[k] += v
    return {r: dict(v) for r, v in out.items()}


def root_totals(per_path: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Attributed Spark work summed per root span (one op), over every
    span nested in it."""
    out: dict = defaultdict(lambda: defaultdict(float))
    for path, work in per_path.items():
        acc = out[path.split("/", 1)[0]]
        for k, v in work.items():
            acc[k] += v
    return {r: dict(v) for r, v in out.items()}


def median_over_roots(totals: dict, roots: list[str], layer: str,
                      key: str) -> float:
    """Median of one layer metric over the given root spans (ops)."""
    vals = [totals.get(r, {}).get(layer, {}).get(key, 0.0) for r in roots]
    return statistics.median(vals) if vals else 0.0


# ------------------------------------------------------------ host CPU

def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from /proc/stat.
    Steal is time the hypervisor ran someone else on our virtual CPUs;
    its share over a run says how much of the wall time is contention."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


# ---------------------------------------------- process tree CPU and RSS

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # pid (comm) state ppid ... — comm may contain spaces
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_ticks(stat_path: str) -> int:
    """User + system CPU of a process (its exited threads and reaped
    children included) or of one thread, in clock ticks."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # fields[11:15] are utime, stime, cutime, cstime
    return sum(int(v) for v in fields[11:15])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a HotSpot JVM's JIT compiler threads (named
    ``C1 CompilerThre...``/``C2 CompilerThre...``)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
            total += _cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU seconds used so far by a process tree,
    without the root JVM's JIT compiler threads. Time the hypervisor
    stole from the virtual CPUs is not in it, unlike wall time; JIT
    compilation is left out because how much of it lands in a given
    interval of a young JVM varies from run to run, and it is the JVM's
    work, not the program's. Compiler threads must not exit (the JVM
    runs with ``-XX:-UseDynamicNumberOfCompilerThreads``), or their time
    would move into the process total."""
    ticks = -_jit_ticks(root)
    for pid in process_tree(root):
        try:
            ticks += _cpu_ticks(f"/proc/{pid}/stat")
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class RssSampler:
    """Samples the RSS of each Python process below a process (the
    Python workers the Spark driver JVM forks) on a background thread
    and keeps the largest single-process peak. Neither the JVM, whose
    RSS follows its configured heap, nor the sum over workers, which
    follows how many workers the scheduler happened to fork, is counted;
    nor is a child the JVM is spawning, which shares the JVM's pages
    until it runs its own program."""

    def __init__(self, root_pid: int, interval: float = 0.2) -> None:
        self._root = root_pid
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)
        self.peak_bytes = 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            for pid in process_tree(self._root):
                if pid != self._root and _is_python(pid):
                    self.peak_bytes = max(self.peak_bytes, _rss_bytes(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
