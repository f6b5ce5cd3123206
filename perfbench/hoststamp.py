"""Host-noise stamps recorded beside every run, sampled as the engine's
own bench runner samples them: CPU steal share over the run (/proc/stat),
the 1-minute load average, foreign JVMs and io pressure (PSI some avg10)
at start and end. Recorded, never used as gates: they let a reader judge
a run from its artifact. The one thing that acts on them is the steal
pre-flight, which delays a run while a neighbour steals CPU."""
import multiprocessing
import os
import time

STEAL_LIMIT_PCT = 2.0   # as the engine's bench runner
STEAL_WINDOW_S = 2.0
STEAL_MAX_WAIT_S = 10.0


def _cpu_ticks():
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), (vals[7] if len(vals) > 7 else 0)
    except (OSError, ValueError):
        return None


def _spin(seconds):
    end = time.monotonic() + seconds
    while time.monotonic() < end:
        pass


def _loaded_steal_pct(seconds):
    """Steal share while every CPU of this machine is kept busy. A
    hypervisor takes CPU only from a guest that wants it, so an idle window
    reads under 1% even while a neighbour would take a fifth of a loaded
    one; the engine loads every core, so the probe does too."""
    ctx = multiprocessing.get_context("fork")
    procs = [ctx.Process(target=_spin, args=(seconds,)) for _ in range(os.cpu_count() or 1)]
    a = _cpu_ticks()
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    b = _cpu_ticks()
    if not a or not b or b[0] <= a[0]:
        return -1.0
    return round(100.0 * (b[1] - a[1]) / (b[0] - a[0]), 2)


def steal_preflight():
    """Sample CPU steal over a short loaded window and, while it is above
    STEAL_LIMIT_PCT, wait for the burst to pass (at most STEAL_MAX_WAIT_S,
    so a run still ends in time). Returns the final reading and the wait."""
    t0 = time.monotonic()
    steal = _loaded_steal_pct(STEAL_WINDOW_S)
    while steal > STEAL_LIMIT_PCT and time.monotonic() - t0 < STEAL_MAX_WAIT_S:
        time.sleep(STEAL_WINDOW_S)
        steal = _loaded_steal_pct(STEAL_WINDOW_S)
    return {"steal_pct": steal, "waited_s": round(time.monotonic() - t0 - STEAL_WINDOW_S, 2)}


def _load1():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def _io_psi():
    try:
        with open("/proc/pressure/io") as f:
            for part in f.readline().split():
                if part.startswith("avg10="):
                    return float(part[6:])
    except (OSError, ValueError):
        pass
    return -1.0


def _foreign_jvms():
    """Java processes that are not this process or its ancestors."""
    mine, pid = set(), os.getpid()
    while pid > 1 and pid not in mine:
        mine.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            break
    n = 0
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            n += 1
    return n


def _machine():
    """CPU model, logical CPUs and memory, so a figure travels with its hardware."""
    model, mem_kb = "unknown", 0
    try:
        with open("/proc/cpuinfo") as f:
            model = next((l.split(":", 1)[1].strip() for l in f if l.startswith("model name")),
                         model)
        with open("/proc/meminfo") as f:
            mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        pass
    return {"cpu_model": model, "cpus": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 1)}


class Stamps:
    def __init__(self):
        self.ticks = _cpu_ticks()
        self.start = {"load_avg_1m": _load1(), "io_psi_avg10": _io_psi(),
                      "foreign_jvms": _foreign_jvms()}

    def finish(self):
        end = _cpu_ticks()
        steal = -1.0
        if self.ticks and end and end[0] > self.ticks[0]:
            steal = round(100.0 * (end[1] - self.ticks[1]) / (end[0] - self.ticks[0]), 2)
        return {"machine": _machine(), "steal_pct": steal, "start": self.start,
                "end": {"load_avg_1m": _load1(), "io_psi_avg10": _io_psi(),
                        "foreign_jvms": _foreign_jvms()}}
