"""Process-tree CPU and memory from /proc, and host stamps.

The measured tree is this Python driver, the Spark JVM it launches and the
JVM's Python workers.  ``psutil`` is not a dependency: everything comes
from ``/proc/<pid>/stat`` and ``/proc/<pid>/statm``.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float] | None:
    """-> (ppid, cpu seconds incl. reaped children) or None if gone."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name may contain spaces: fields restart after ')'
    f = raw[raw.rindex(")") + 2:].split()
    return int(f[1]), sum(int(x) for x in f[11:15]) / _TICK


def _rss(pid: int) -> int:
    try:
        return int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
    except (OSError, IndexError):
        return 0


def tree(root: int) -> dict[int, float]:
    """pid -> cpu seconds for ``root`` and every live descendant."""
    info = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            s = _stat(int(d))
            if s is not None:
                info[int(d)] = s
    out, todo = {}, [root]
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid][1]
            todo.extend(children.get(pid, ()))
    return out


class TreeMeter:
    """Samples the process tree every ``interval`` seconds while open.

    ``cpu_s``: CPU seconds the tree spent between open and close; a
    process that exits in between counts up to its last sample.
    ``peak_rss_mb``: the largest summed RSS seen in one sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.root = os.getpid()

    def __enter__(self) -> "TreeMeter":
        self._start = tree(self.root)
        self._last = dict(self._start)
        self._peak = sum(_rss(p) for p in self._start)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _sample(self) -> None:
        t = tree(self.root)
        self._last.update(t)
        self._peak = max(self._peak, sum(_rss(p) for p in t))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
        self.cpu_s = sum(c - self._start.get(p, 0.0) for p, c in self._last.items())
        self.peak_rss_mb = self._peak / 2**20


def load1() -> float:
    return float(Path("/proc/loadavg").read_text().split()[0])


def host() -> dict:
    mem_kb = next(int(line.split()[1]) for line in
                  Path("/proc/meminfo").read_text().splitlines()
                  if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(mem_kb / 2**20, 1)}


def code_rev(root: Path) -> str:
    """The git revision when ``root`` is a work tree, else a digest of the
    package sources (benchmark checkouts carry no .git)."""
    if not (root / ".git").exists():
        return _src_digest(root)
    try:
        rev = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "--short=12", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if rev.returncode == 0 and rev.stdout.strip():
            return rev.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return _src_digest(root)


def _src_digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted((root / "duplicatesuricate_spark").rglob("*.py")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return "src-" + h.hexdigest()[:12]


def tree_bytes(path: Path) -> dict[tuple[str, int], int]:
    """(relative path, inode) -> size of every regular file under ``path``."""
    out = {}
    if path.exists():
        for p in path.rglob("*"):
            if p.is_file():
                st = p.stat()
                out[(p.relative_to(path).as_posix(), st.st_ino)] = st.st_size
    return out
