"""CPU time and peak resident memory of this process and all its
descendants, read from /proc.

The tree is the benchmark's own Python driver, the Spark JVM it launches,
the PySpark daemon and every Python worker forked from it.  CPU time is
utime+stime of each live process plus cutime+cstime, which holds the time
of children already reaped, so workers that exit mid-run still count.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # process exited between listdir and open
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree() -> dict[int, list[str]]:
    """pid → stat fields (from field 3 on) of this process and its descendants."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(name)
            if fields is not None:
                stats[int(name)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds used so far by the process tree."""
    # after the "(comm) " prefix: utime, stime, cutime, cstime are 11..14
    return sum(sum(int(x) for x in f[11:15]) for f in tree().values()) / _TICK


def reset_peak_rss() -> None:
    """Restart every tree process's resident-set high-water mark (VmHWM)."""
    for pid in tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:  # exited meanwhile
            pass


def peak_rss_bytes() -> int:
    """Sum over the tree of each process's VmHWM since the last reset: the
    kernel tracks each peak exactly, so no sampling can miss a spike.  It
    bounds the tree's simultaneous peak from above."""
    total = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total
