"""Process and host readings from /proc: peak memory of the benchmark's
process tree, CPU steal and load, and the environment record."""

from __future__ import annotations

import hashlib
import os
import subprocess


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> dict:
    """VmHWM in MB of this process, the JVM and the JVM's descendants (the
    Python workers), and their sum under ``total``. Workers that already
    exited are not counted."""
    workers = descendants(jvm_pid) if jvm_pid else []
    out = {"driver": vm_hwm_kb(os.getpid()) / 1024.0,
           "jvm": vm_hwm_kb(jvm_pid) / 1024.0 if jvm_pid else 0.0,
           "workers": [vm_hwm_kb(p) / 1024.0 for p in workers]}
    out["total"] = out["driver"] + out["jvm"] + sum(out["workers"])
    return out


def steal_pct(before: tuple[int, int] | None, after: tuple[int, int] | None) -> float | None:
    """CPU steal between two ``bench._cpu_steal_ticks()`` readings."""
    if before is None or after is None:
        return None
    total = after[1] - before[1]
    return round(100.0 * (after[0] - before[0]) / total, 2) if total > 0 else None


def source_id(root: str) -> str:
    """The commit of ``root`` when it is a git checkout, else a hash of the
    engine's source files (the benchmark also runs from exported trees)."""
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            return subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True,
                check=True, timeout=10,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(root, "pgsf_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return "tree-sha256:" + h.hexdigest()[:16]
