"""Readers for the Linux /proc files the benchmark takes host evidence from.

Each reader has a pure parser that takes the file's text, so the
arithmetic is testable without a live /proc.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")

# /proc/stat "cpu" line fields, in order (proc(5))
CPU_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def parse_cpu_line(stat_text: str) -> dict[str, int]:
    """Aggregate jiffies per state from the first line of /proc/stat.

    guest and guest_nice are already counted inside user and nice, so
    they are left out of the total.
    """
    first = stat_text.splitlines()[0].split()
    if first[0] != "cpu":
        raise ValueError(f"/proc/stat does not start with the cpu line: {first[:1]}")
    vals = [int(v) for v in first[1:1 + len(CPU_FIELDS)]]
    vals += [0] * (len(CPU_FIELDS) - len(vals))
    return dict(zip(CPU_FIELDS, vals))


@dataclass(frozen=True)
class HostShares:
    steal_share: float
    iowait_share: float
    cpu_util: float


def host_shares(before: dict[str, int], after: dict[str, int]) -> HostShares:
    """Shares of host CPU time between two /proc/stat samples."""
    d = {k: after[k] - before[k] for k in CPU_FIELDS}
    total = sum(d.values())
    if total <= 0:
        return HostShares(0.0, 0.0, 0.0)
    busy = total - d["idle"] - d["iowait"] - d["steal"]
    return HostShares(d["steal"] / total, d["iowait"] / total, busy / total)


def host_cpu() -> dict[str, int]:
    return parse_cpu_line(_read("/proc/stat"))


def parse_loadavg(text: str) -> float:
    """One-minute load average from /proc/loadavg."""
    return float(text.split()[0])


def loadavg() -> float:
    return parse_loadavg(_read("/proc/loadavg"))


@dataclass(frozen=True)
class ProcStat:
    pid: int
    comm: str
    ppid: int
    cpu_ticks: int  # utime + stime + cutime + cstime
    start_ticks: int


def parse_pid_stat(text: str) -> ProcStat:
    """Fields of /proc/<pid>/stat. The command name is in parentheses and
    may itself hold spaces or parentheses, so split after its last ')'."""
    lpar, rpar = text.index("("), text.rindex(")")
    pid = int(text[:lpar])
    comm = text[lpar + 1:rpar]
    rest = text[rpar + 2:].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17,
    # starttime is field 22
    ppid = int(rest[1])
    cpu = sum(int(v) for v in rest[11:15])
    return ProcStat(pid, comm, ppid, cpu, int(rest[19]))


def _all_stats() -> list[ProcStat]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            out.append(parse_pid_stat(_read(f"/proc/{name}/stat")))
        except (OSError, ValueError):
            continue  # the process ended while we listed /proc
    return out


def descendants(stats: list[ProcStat], root: int) -> list[ProcStat]:
    """``root`` and every process below it in the parent tree."""
    children: dict[int, list[ProcStat]] = {}
    by_pid = {}
    for s in stats:
        children.setdefault(s.ppid, []).append(s)
        by_pid[s.pid] = s
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in by_pid:
            out.append(by_pid[pid])
        todo.extend(c.pid for c in children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and all
    its descendants: the Python driver, the JVM and the Python workers.
    Reaped children count through their parent's cutime/cstime."""
    tree = descendants(_all_stats(), os.getpid() if root is None else root)
    return sum(s.cpu_ticks for s in tree) / CLK_TCK


def parse_status_kb(text: str, key: str) -> int:
    """A ``kB`` field (e.g. VmHWM) of /proc/<pid>/status."""
    for line in text.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    raise KeyError(key)


def peak_rss_mb(pid: int) -> float:
    return parse_status_kb(_read(f"/proc/{pid}/status"), "VmHWM") / 1024.0


def process_age_seconds(pid: int | None = None) -> float:
    """Seconds since the process started, from its starttime (clock ticks
    after boot) and /proc/uptime."""
    st = parse_pid_stat(_read(f"/proc/{os.getpid() if pid is None else pid}/stat"))
    uptime = float(_read("/proc/uptime").split()[0])
    return uptime - st.start_ticks / CLK_TCK


def mem_total_mb() -> float:
    return parse_status_kb(_read("/proc/meminfo"), "MemTotal") / 1024.0


def tree_bytes(path: str) -> int:
    """Bytes of regular files under ``path``."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                continue
    return total



def descendant_procs(root: int | None = None) -> list[ProcStat]:
    """Every process below ``root`` (default: this process)."""
    me = os.getpid() if root is None else root
    return [s for s in descendants(_all_stats(), me) if s.pid != me]


def _alive(proc: ProcStat) -> bool:
    """True while ``proc`` runs. A zombie has ended, and a pid whose start
    time changed belongs to another process."""
    try:
        text = _read(f"/proc/{proc.pid}/stat")
    except OSError:
        return False
    now = parse_pid_stat(text)
    return now.start_ticks == proc.start_ticks and text[text.rindex(")") + 2] != "Z"


def wait_ended(procs: list[ProcStat], timeout: float) -> None:
    """Wait until every process in ``procs`` has ended, killing those still
    running after ``timeout`` seconds. They may be grandchildren that have
    been re-parented away from this process, so poll /proc instead of
    waitpid."""
    import signal
    import time

    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass  # reap this process's own zombie children
        except ChildProcessError:
            pass
        left = [p for p in procs if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)
