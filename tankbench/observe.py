"""Outside observation of a running chain: sink visibility, query
progress and process-tree memory. Nothing here reaches into the program;
it reads what any downstream consumer could read.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime


def wall_ms() -> int:
    return time.time_ns() // 1_000_000


class WireSinkWatcher:
    """First-seen wall time of each file an ``idempotent_wire_sink`` lands.

    The sink renames each finished file into place, so a file is visible
    to readers exactly when it appears in the listing. Contents are read
    later, off the clock (:meth:`records`)."""

    def __init__(self, dirpath: str):
        self.dirpath = dirpath
        self.seen: dict[str, int] = {}

    def poll(self) -> None:
        """Record the files that became visible since the last poll."""
        try:
            names = os.listdir(self.dirpath)
        except FileNotFoundError:
            return
        now_ms = wall_ms()
        for name in names:
            if name.startswith("batch-") and name not in self.seen:
                self.seen[name] = now_ms

    def records(self) -> list[tuple[int, str]]:
        """``(visible_ms, line)`` for every landed record."""
        out = []
        for name, t in sorted(self.seen.items()):
            with open(os.path.join(self.dirpath, name)) as f:
                out += [(t, line.rstrip("\n")) for line in f if line.strip()]
        return out


class FileSinkWatcher:
    """Visibility of Spark's native file sink (Job 2's metrics): a record
    is visible once the batch log under ``_spark_metadata`` lists its
    file. Log files are tiny and read as they appear."""

    def __init__(self, dirpath: str):
        self.dirpath = dirpath
        self.logdir = os.path.join(dirpath, "_spark_metadata")
        self.logs_seen: set[str] = set()
        self.files: dict[str, int] = {}

    def poll(self) -> None:
        try:
            names = os.listdir(self.logdir)
        except FileNotFoundError:
            return
        now_ms = wall_ms()
        for name in names:
            if name.startswith(".") or name in self.logs_seen:
                continue
            self.logs_seen.add(name)
            with open(os.path.join(self.logdir, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        self.files.setdefault(json.loads(line)["path"], now_ms)

    def records(self) -> list[tuple[int, str]]:
        out = []
        for path, t in sorted(self.files.items(), key=lambda kv: kv[1]):
            local = path[len("file:"):] if path.startswith("file:") else path
            with open(local) as f:
                out += [(t, line.rstrip("\n")) for line in f if line.strip()]
        return out


def progress_time_ms(p: dict) -> int:
    """Wall time a micro-batch ended: its trigger start plus its duration."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return int(start.timestamp() * 1000) + int(p["durationMs"].get("triggerExecution", 0))


class ProgressLog:
    """Every executed micro-batch's progress for one query, latched by
    batch id (``recentProgress`` is a ring buffer that drops old
    batches). An idle query also reports progress, under the id of the
    batch it has not run yet and without an ``addBatch`` phase; those
    reports are skipped.

    A poll fetches only the reports added since the last one, newest
    first, until it meets one it has seen: ``query.recentProgress``
    would fetch and parse the whole ring buffer (one gateway call per
    report) on every poll, load on the cores the chain runs on."""

    def __init__(self, query):
        self.query = query
        self.batches: dict[int, dict] = {}
        self.seen: set[tuple[int, str]] = set()

    def poll(self) -> None:
        reports = self.query._jsq.recentProgress()
        for i in range(len(reports) - 1, -1, -1):
            p = json.loads(reports[i].json())
            key = (p["batchId"], p["timestamp"])
            if key in self.seen:
                break
            self.seen.add(key)
            if "addBatch" in p["durationMs"]:
                self.batches[p["batchId"]] = p

    def ordered(self) -> list[dict]:
        return [self.batches[k] for k in sorted(self.batches)]

    def input_rows(self) -> int:
        return sum(p["numInputRows"] for p in self.batches.values())

    def time_rows_reached(self, rows: int) -> int | None:
        """End time of the batch whose input brought the total to ``rows``."""
        total = 0
        for p in self.ordered():
            total += p["numInputRows"]
            if total >= rows:
                return progress_time_ms(p)
        return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Resident memory of this process and all its descendants (the JVM
    and its Python workers): per sample, the sum of each process's
    proportional set size. Forked workers share pages with their daemon;
    PSS charges each shared page once across them, where summing RSS
    would count it once per worker."""

    def __init__(self):
        self.samples_kb: list[int] = []

    def sample(self) -> None:
        kids = _children()
        stack, total = [os.getpid()], 0
        while stack:
            pid = stack.pop()
            total += _pss_kb(pid)
            stack += kids.get(pid, [])
        self.samples_kb.append(total)

    def mb(self) -> float:
        """The peak sample."""
        return max(self.samples_kb, default=0) / 1024.0

    def median_mb(self) -> float:
        s = sorted(self.samples_kb)
        return s[len(s) // 2] / 1024.0 if s else 0.0
