"""In-memory spans for the traced run, and process-tree accounting.

A span is (name, start, end, parent, run id); spans live in memory and
are written as JSON lines when the run ends. The layer of a span is the
first dot-separated part of its name (``sink.finalize`` → ``sink``).

- Self time: a span's duration minus the part of it its children cover.
- Wait: the share of the ``local[k]`` capacity left idle during a span's
  self time, ``self − cpu/k``, where ``cpu`` is the CPU time of the whole
  process tree (this process, its JVM and the Python workers) that a
  sampler thread attributes to the span. Time a span spends blocked on
  the other side of the Python/JVM boundary, on disk or on a lock shows
  up here rather than as busy time.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, str, float]]:
    """pid → (ppid, command name, CPU seconds) for every process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        lp, rp = raw.index("("), raw.rindex(")")
        fields = raw[rp + 2 :].split()
        cpu = (int(fields[11]) + int(fields[12])) / _TICK
        out[int(entry)] = (int(fields[1]), raw[lp + 1 : rp], cpu)
    return out


def descendants(stats: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _name, _cpu) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    found, todo = [], [root]
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(kids.get(pid, ()))
    return found


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants."""
    stats = _proc_stats()
    return sum(stats[p][2] for p in descendants(stats, os.getpid()) if p in stats)


def peak_rss_mb() -> float:
    """High-water RSS of this Python process plus its JVM (VmHWM)."""
    stats = _proc_stats()
    pids = [os.getpid()] + [
        p for p in descendants(stats, os.getpid()) if stats[p][1] == "java"
    ]
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class Tracer:
    """Spans of one run. Nothing is recorded while ``enabled`` is false,
    so untraced passes pay nothing but a flag test per span."""

    def __init__(self, run_id: str, k: int):
        self.run_id = run_id
        self.enabled = False
        self.k = k
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._sampler: threading.Thread | None = None
        # wall clock ↔ perf_counter, to place Spark's progress timestamps
        self._wall_minus_perf = time.time() - time.perf_counter()

    # -- recording ---------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = self._open(name, time.perf_counter())
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.perf_counter()
            self._stack.pop()

    def _open(self, name: str, start: float) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": None, "parent": parent}
        )
        self._stack.append(sid)
        return sid

    def add(self, name: str, start: float, end: float, parent: int) -> int:
        """A span known only after the fact (built from a progress report)."""
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end, "parent": parent}
        )
        return sid

    def perf_from_iso(self, stamp: str) -> float:
        """perf_counter time of a Spark progress timestamp (UTC ISO)."""
        wall = datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()
        return wall - self._wall_minus_perf

    def add_epochs(self, progress: list[dict], parent: int, phase_layers: dict):
        """Per-epoch child spans of ``parent`` from StreamingQueryProgress.

        Spark reports each phase's duration, not its start, so phases are
        laid end to end in execution order inside the trigger; what the
        phases leave uncovered is the epoch's own self time. An epoch
        whose reported phases overrun it is scaled to fit."""
        p = self.spans[parent]
        for prog in progress:
            dur = prog.get("durationMs", {})
            total = dur.get("triggerExecution", 0) / 1000.0
            start = max(p["start"], self.perf_from_iso(prog["timestamp"]))
            end = min(p["end"], start + total)
            if end <= start:
                continue
            eid = self.add("engine.epoch", start, end, parent)
            phases = [(n, dur.get(ph, 0) / 1000.0) for ph, n in phase_layers.items()]
            scale = min(1.0, (end - start) / max(1e-9, sum(d for _, d in phases)))
            t = start
            for name, d in phases:
                if d <= 0:
                    continue
                sid = self.add(name, t, t + d * scale, eid)
                t += d * scale
                if name == "state.addBatch":
                    commit = sum(
                        op.get("commitTimeMs", 0) for op in prog.get("stateOperators", [])
                    ) / 1000.0
                    c = min(commit * scale, d * scale)
                    if c > 0:
                        self.add("state.commit", t - c, t, sid)

    # -- CPU sampler -------------------------------------------------------

    def start_sampler(self, interval: float = 0.1) -> None:
        def loop():
            while not self._stop.is_set():
                self._samples.append((time.perf_counter(), tree_cpu_s()))
                self._stop.wait(interval)

        self._stop.clear()
        self._sampler = threading.Thread(target=loop, daemon=True)
        self._sampler.start()

    def stop_sampler(self) -> None:
        if self._sampler is not None:
            self._stop.set()
            self._sampler.join(timeout=5)
            self._sampler = None

    # -- accounting --------------------------------------------------------

    def _children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the union of its children's intervals."""
        kids = self._children()
        out = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], last), min(c["end"], s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def cpu_by_span(self) -> dict[int, float]:
        """CPU seconds per span: each sampler interval goes to the deepest
        span that covers its midpoint."""
        depth = {}
        for s in self.spans:
            depth[s["id"]] = 0 if s["parent"] is None else depth[s["parent"]] + 1
        out: dict[int, float] = {}
        for (t0, c0), (t1, c1) in zip(self._samples, self._samples[1:]):
            mid = (t0 + t1) / 2
            best = None
            for s in self.spans:
                if s["start"] <= mid < s["end"] and (
                    best is None or depth[s["id"]] > depth[best]
                ):
                    best = s["id"]
            if best is not None:
                out[best] = out.get(best, 0.0) + (c1 - c0)
        return out

    def layer_totals(self, root: int) -> dict[str, dict[str, float]]:
        """Self and wait seconds per layer over the tree under ``root``."""
        selfs, cpus = self.self_times(), self.cpu_by_span()
        kids = self._children()
        totals: dict[str, dict[str, float]] = {}
        todo = [root]
        while todo:
            sid = todo.pop()
            todo.extend(c["id"] for c in kids.get(sid, []))
            layer = self.spans[sid]["name"].split(".", 1)[0]
            t = totals.setdefault(layer, {"self_s": 0.0, "wait_s": 0.0})
            t["self_s"] += selfs[sid]
            t["wait_s"] += max(0.0, selfs[sid] - cpus.get(sid, 0.0) / self.k)
        return totals

    def write(self, path: Path) -> None:
        if not self.spans:
            return
        selfs, cpus = self.self_times(), self.cpu_by_span()
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run_id": self.run_id,
                            "name": s["name"],
                            "start": s["start"],
                            "end": s["end"],
                            "parent": s["parent"],
                            "id": s["id"],
                            "self_s": selfs[s["id"]],
                            "wait_s": max(
                                0.0, selfs[s["id"]] - cpus.get(s["id"], 0.0) / self.k
                            ),
                        }
                    )
                    + "\n"
                )
