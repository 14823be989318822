"""Host and process readings taken beside each run: core count, load,
multi-core stall factor, memory in use and JVM CPU time."""

from __future__ import annotations

import ctypes
import gc
import os
import time


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def health(n_threads: int) -> dict:
    """``mc_stall_x`` is the wall of ``n_threads`` parallel copies of a
    fixed hashing job over the wall of one copy: near 1 on a host with
    that many free cores, higher when the machine is contended."""
    from bench import mc_probe

    single_s, multi_s = mc_probe(n_threads)
    return {
        "nproc": os.cpu_count(),
        "loadavg": loadavg(),
        "mc_single_s": single_s,
        "mc_stall_x": multi_s / single_s,
    }


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def reset_peak_rss() -> None:
    """Free Python garbage, hand the freed heap back to the OS, then
    restart this process's resident-set high-water mark from its current
    size, so set-up and warm-up do not count."""
    gc.collect()
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    """This process's resident-set high-water mark (VmHWM)."""
    return _status_kb(os.getpid(), "VmHWM") / 1024.0


def jvm_live_heap_mb(jvm) -> float:
    """Heap the JVM still uses once everything the program dropped is
    collected: the data it keeps live.  Unlike the JVM's resident size it
    does not move with heap sizing and collection timing.  Spark frees a
    dropped DataFrame's cached and checkpointed blocks from a cleaner
    thread, some time after a collection finds them unreachable, so this
    collects until three readings in a row agree within 1 %."""
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    seen: list[float] = []
    for _ in range(40):
        gc.collect()  # release py4j proxies, so their JVM objects are unreachable
        jvm.java.lang.System.gc()
        seen.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
        if len(seen) >= 3 and max(seen[-3:]) <= 1.01 * min(seen[-3:]):
            break
        time.sleep(0.25)
    return seen[-1]


def cpu_ms(pid: int) -> float:
    """User + system CPU time of a process so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = int(fields[11]) + int(fields[12])  # utime, stime
    return ticks * 1000.0 / os.sysconf("SC_CLK_TCK")
