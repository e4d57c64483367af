"""Pure helpers for the benchmark: no Spark, no JVM.

Everything here is plain Python so that ``perfbench/tests`` can check it
without starting a SparkSession: the environment guard, percentile
summaries, order-independent fingerprints, span arithmetic and the
process-tree RSS sampler.
"""

from __future__ import annotations

import hashlib
import math
import os
import threading
from dataclasses import dataclass, field

# Environment knobs from earlier A/B experiments. Each one changes the
# physical plan or the partitioner's round structure, so a run with any of
# them set measures a different program.
PLAN_CHANGING_PREFIXES = ("TILER_",)
PLAN_CHANGING_NAMES = (
    "SPARK_GRAFT_TOPK_THRESHOLD",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_MAX_PLAN_STRING",
    "SPARK_MASTER_URL",
)


def plan_changing_env(environ) -> list[str]:
    """Names of set variables that would change what the benchmark runs."""
    return sorted(
        k
        for k in environ
        if k in PLAN_CHANGING_NAMES or k.startswith(PLAN_CHANGING_PREFIXES)
    )


# ---------------------------------------------------------------------------
# timing summaries
# ---------------------------------------------------------------------------

SUPPORTED_PERCENTILES = (50, 75, 90, 95, 99)


def median(values) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no values")
    mid = len(s) // 2
    return float(s[mid]) if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def nearest_rank(values, p: float) -> float:
    """The p-th percentile by the nearest-rank rule."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    return float(s[max(math.ceil(p / 100.0 * len(s)), 1) - 1])


def tail_percentile(values) -> tuple[int, float]:
    """The highest percentile the sample supports, and its value.

    A percentile p is supported when at least one sample lies beyond it,
    i.e. n >= 100 / (100 - p). A single sample supports only its median.
    """
    n = len(values)
    supported = [p for p in SUPPORTED_PERCENTILES if n * (100 - p) >= 100]
    p = supported[-1] if supported else 50
    return p, nearest_rank(values, p)


def summarize(values) -> dict:
    p, v = tail_percentile(values)
    return {"median": median(values), "tail_p": p, "tail": v, "n": len(values)}


# ---------------------------------------------------------------------------
# fingerprints
# ---------------------------------------------------------------------------

_MASK64 = (1 << 64) - 1


def canonical_value(v):
    """A hashable, engine-neutral form of one cell: floats rounded to 6 dp
    (with -0.0 folded into 0.0), numpy scalars unwrapped, timestamps as
    ISO strings, arrays as tuples."""
    if v is None:
        return None
    if hasattr(v, "item") and not hasattr(v, "__len__"):  # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, 6)
        return 0.0 if r == 0 else r
    if isinstance(v, (int, str)):
        return v
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "tolist"):  # numpy array
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(canonical_value(x) for x in v)
    return str(v)


def row_hash(values) -> int:
    payload = repr(tuple(canonical_value(v) for v in values)).encode()
    return int.from_bytes(hashlib.blake2b(payload, digest_size=8).digest(), "little")


def fingerprint_rows(rows) -> tuple[int, int]:
    """Order-independent (count, sum of row hashes mod 2^64)."""
    count, total = 0, 0
    for r in rows:
        count += 1
        total = (total + row_hash(r)) & _MASK64
    return count, total


def fingerprint_frame(pdf) -> tuple[int, int]:
    """Fingerprint of a pandas frame: columns by name, rows in any order."""
    cols = sorted(pdf.columns)
    return fingerprint_rows(pdf[cols].itertuples(index=False, name=None))


def fold_hash_sum(count: int, hash_sum) -> tuple[int, int]:
    """Normalize a (count, exact sum of signed 64-bit hashes) pair, as a
    Spark ``sum(xxhash64(...))`` over decimals returns it, to the same
    (count, sum mod 2^64) form as ``fingerprint_rows``."""
    return int(count), int(hash_sum or 0) & _MASK64


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

SPAN_FIELDS = ("wall_s", "task_s", "tasks", "jobs", "shuffle_mb", "failed_tasks", "idle_core_s")


@dataclass
class Span:
    """One call into a layer, with the Spark work attributed to it.

    ``task_s`` and the counts cover only the jobs of this span's own job
    group; a child span's jobs run under the child's group, so the
    numbers here are already self numbers. Wall time nests, so
    ``self_wall_s`` subtracts the children.
    """

    name: str
    wall_s: float = 0.0
    task_s: float = 0.0
    tasks: int = 0
    jobs: int = 0
    shuffle_bytes: int = 0
    failed_tasks: int = 0
    children: list["Span"] = field(default_factory=list)

    @property
    def self_wall_s(self) -> float:
        return self.wall_s - sum(c.wall_s for c in self.children)

    def idle_core_s(self, cores: int) -> float:
        """Core-seconds the span held but no task used: wall x cores - task."""
        return self.wall_s * cores - self.task_s

    def fields(self, cores: int) -> dict:
        return {
            "wall_s": self.wall_s,
            "task_s": self.task_s,
            "tasks": self.tasks,
            "jobs": self.jobs,
            "shuffle_mb": self.shuffle_bytes / 1e6,
            "failed_tasks": self.failed_tasks,
            "idle_core_s": self.idle_core_s(cores),
        }


# ---------------------------------------------------------------------------
# memory: peak RSS of this process and everything it started
# ---------------------------------------------------------------------------


def descendants(parents: dict[int, int], root: int) -> set[int]:
    """``root`` and every pid whose parent chain reaches it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = set(), [root]
    while stack:
        pid = stack.pop()
        if pid in out:
            continue
        out.add(pid)
        stack.extend(children.get(pid, ()))
    return out


def proc_parents() -> dict[int, int]:
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ")"
        parents[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parents


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class TreeRssSampler:
    """Samples the RSS of this process tree on a background thread. Keeps
    three peaks, in bytes: the JVM, the sum over the Python processes
    (this process and the Spark Python workers), and the largest single
    Python worker."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peaks = {"jvm": 0, "python": 0, "max_worker": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        jvm, python, worker = 0, 0, 0
        for pid in descendants(proc_parents(), me):
            rss = _rss_bytes(pid)
            if _comm(pid) == "java":
                jvm += rss
            else:
                python += rss
                if pid != me:
                    worker = max(worker, rss)
        for key, value in (("jvm", jvm), ("python", python), ("max_worker", worker)):
            self.peaks[key] = max(self.peaks[key], value)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        """Stop sampling; returns the peaks in MB."""
        self._stop.set()
        self._thread.join()
        return {k: v / 1e6 for k, v in self.peaks.items()}
