"""CPU time and peak memory of this process and every process under it.

Read from ``/proc``: the tree holds the Python driver, the JVM it
launched and the PySpark Python workers. CPU counts user and system time,
including the time of children already reaped by a tree member (workers
exit into their daemon's ``cutime``). Memory is each process's ``VmHWM``
(peak resident set), summed.
"""

from __future__ import annotations

import os

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    """user+sys CPU of the tree, reaped children included."""
    total = 0
    for pid in pids or tree_pids():
        fields = _stat(pid)
        if fields:
            # utime, stime, cutime, cstime: fields 14-17 of proc(5)
            total += sum(int(x) for x in fields[11:15])
    return total * _TICK_S


def peak_rss_by_command() -> dict[str, float]:
    """VmHWM of the tree in MiB, summed per command name."""
    out: dict[str, float] = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out

