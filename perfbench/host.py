"""Host-state stamp, Spark-JVM guard, memory probe and JVM shutdown.

None of this is gated: the stamp (load average, CPU/IO pressure, a
short delivered-CPU probe) is printed next to the result so a reader
can tell a quiet host from a contended one.
"""

from __future__ import annotations

import hashlib
import os
import resource
import signal
import subprocess
import time
from concurrent.futures import ThreadPoolExecutor


def _read(path: str) -> str | None:
    try:
        with open(path, encoding="utf-8") as f:
            return f.read().strip()
    except OSError:
        return None


def _pressure(kind: str) -> dict[str, float] | None:
    """``some avg10/avg60`` of ``/proc/pressure/<kind>``."""
    text = _read(f"/proc/pressure/{kind}")
    if text is None:
        return None
    for line in text.splitlines():
        fields = line.split()
        if fields and fields[0] == "some":
            kv = dict(f.split("=", 1) for f in fields[1:])
            return {"avg10": float(kv["avg10"]), "avg60": float(kv["avg60"])}
    return None


def _hash_unit() -> None:
    h = hashlib.sha256()
    b = b"x" * 65536
    for _ in range(100):
        h.update(b)


def _units_per_s(threads: int, units: int) -> float:
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=threads) as ex:
        for f in [ex.submit(_hash_unit) for _ in range(units)]:
            f.result()
    return units / (time.perf_counter() - t0)


def cpu_probe(threads: int) -> dict[str, float]:
    """Delivered parallel CPU: sha256 (GIL-free) on 1 and N threads,
    about a quarter second in all."""
    one = _units_per_s(1, 8)
    many = _units_per_s(threads, 8 * threads)
    return {"single_units_per_s": round(one, 1), "delivered_cores": round(many / one, 2)}


def _cpu_ticks() -> list[int]:
    """Aggregate ``/proc/stat`` cpu ticks: [total, steal]."""
    fields = [int(x) for x in (_read("/proc/stat") or "cpu 0").splitlines()[0].split()[1:]]
    return [sum(fields[:8]), fields[7] if len(fields) > 7 else 0]


def stamp(threads: int) -> dict:
    load = _read("/proc/loadavg")
    return {
        "loadavg": [float(x) for x in load.split()[:3]] if load else None,
        "pressure_cpu": _pressure("cpu"),
        "pressure_io": _pressure("io"),
        "cpu_ticks": _cpu_ticks(),
        "cpu_probe": cpu_probe(threads),
    }


def steal_pct(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor stole between two stamps."""
    (t0, s0), (t1, s1) = start["cpu_ticks"], end["cpu_ticks"]
    return 100.0 * (s1 - s0) / max(t1 - t0, 1)


def spark_jvm_pids() -> list[int]:
    """PIDs of running Spark driver JVMs (spark-submit launched)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        raw = _read_bytes(f"/proc/{name}/cmdline")
        if raw and b"java" in raw.split(b"\0", 1)[0] and b"org.apache.spark.deploy.SparkSubmit" in raw:
            pids.append(int(name))
    return pids


def _read_bytes(path: str) -> bytes | None:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return None


def wait_for_no_spark_jvm(timeout_s: float) -> list[int]:
    """Wait up to ``timeout_s`` for other Spark JVMs to exit (one that
    is shutting down is given time); return those still running."""
    deadline = time.monotonic() + timeout_s
    while True:
        pids = spark_jvm_pids()
        if not pids or time.monotonic() >= deadline:
            return pids
        time.sleep(0.5)


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (``VmHWM``) of ``pid`` in KiB, 0 if unreadable."""
    text = _read(f"/proc/{pid}/status") or ""
    for line in text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """(Python driver peak RSS from getrusage, the JVM child's VmHWM)."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return own_kb / 1024.0, vm_hwm_kb(jvm_pid) / 1024.0


def stop_spark(spark, jvm_pid: int | None, timeout_s: float = 30.0) -> None:
    """Stop the session, close the gateway and wait until the JVM exits
    (kill it if it does not within ``timeout_s``)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
        if jvm_pid is not None:
            deadline = time.monotonic() + timeout_s
            while os.path.exists(f"/proc/{jvm_pid}") and _state(jvm_pid) != "Z":
                if time.monotonic() >= deadline:
                    os.kill(jvm_pid, signal.SIGKILL)
                    deadline = time.monotonic() + timeout_s
                time.sleep(0.1)


def _state(pid: int) -> str:
    text = _read(f"/proc/{pid}/stat") or ""
    # state is the field after the parenthesised command name
    return text.rsplit(")", 1)[-1].split()[0] if ")" in text else ""
