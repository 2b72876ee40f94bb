"""Shared plumbing: host sizing, run stamp, statistics, memory, HTTP."""

from __future__ import annotations

import hashlib
import json
import os
import resource
import statistics
import subprocess
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        total = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1]) * 1024
    try:  # a container's own limit, when it has one
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            total = min(total, int(raw))
    except OSError:
        pass
    return total


def size_to_host(work: str) -> dict:
    """Environment for a Spark session sized to this host, with every
    scratch location inside the run's work directory. The session's
    48g default driver memory exceeds many hosts; an eighth of host
    memory (1-8 GB) holds these workloads' data many times over."""
    gb = max(1, min(8, host_mem_bytes() // (8 << 30)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_DRIVER_MEMORY": f"{gb}g",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        # no console progress bars interleaved with the report
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    os.environ.update(env)
    return env


def source_sha() -> str:
    """Hash of the program's sources: the checkout a run measures need
    not be a git repository, so this identifies the code either way."""
    h = hashlib.sha256()
    for base in ("fluxdb_spark", "tools"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, base)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fn in sorted(files):
                if fn.endswith(".py"):
                    p = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def rss_peak_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for ln in f:
                    if ln.startswith("VmHWM:"):
                        jvm = int(ln.split()[1]) / 1024.0
        except OSError:
            pass
    return py + jvm


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def http_get_json(url: str, timeout: float = 120.0) -> dict:
    with urllib.request.urlopen(url, timeout=timeout) as resp:
        return json.loads(resp.read())


def data_file_sizes(path: str, suffix: str = ".parquet") -> dict[str, int]:
    out = {}
    for dirpath, _d, files in os.walk(path):
        for fn in files:
            if fn.endswith(suffix) and not fn.startswith("."):
                p = os.path.join(dirpath, fn)
                out[p] = os.path.getsize(p)
    return out


def cpu_probe_ms(n: int = 300_000) -> float:
    """Wall time of a fixed pure-Python loop: a host-speed reading
    stamped on each run, to tell a slower program from a slower host."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1000.0


def cpu_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) CPU ticks of this machine since boot; busy
    is user + nice + system + irq + softirq."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[i] for i in (0, 1, 2, 5, 6)), fields[7], sum(fields)


def busy_ms(before: tuple, after: tuple) -> float:
    """CPU time the machine spent busy between two cpu_ticks() readings.
    Unlike wall time it leaves out time the hypervisor gave to other
    guests, so it stays comparable on a contended host."""
    return (after[0] - before[0]) * 1000.0 / os.sysconf("SC_CLK_TCK")


class Clock:
    """Monotonic deadline for a run's measured phase."""

    def __init__(self, seconds: float):
        self.start = time.monotonic()
        self.deadline = self.start + seconds

    def expired(self) -> bool:
        return time.monotonic() >= self.deadline

    def elapsed(self) -> float:
        return time.monotonic() - self.start


END_TO_END = (
    ("setup_s", "s"),
    ("success_ratio", "ratio"),
    ("peak_rss_mb", "MB"),
    ("op_latency_ms", "ms"),
    ("throughput_per_s", "1/s"),
)


def e2e(setup_s, attempted, failed, peak_rss_mb, op_latency_ms, throughput_per_s):
    """The end-to-end metrics every workload reports, with units."""
    values = {
        "setup_s": setup_s,
        "success_ratio": (attempted - failed) / attempted,
        "peak_rss_mb": peak_rss_mb,
        "op_latency_ms": op_latency_ms,
        "throughput_per_s": throughput_per_s,
    }
    return {name: (values[name], unit) for name, unit in END_TO_END}
