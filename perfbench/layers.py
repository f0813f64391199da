"""Per-layer measurement: spans, Spark status-store deltas, storage drain
and the percentile rule.

Everything here observes the engine from outside.  Spans are
``(name, start, end, parent, run_id)`` records kept in memory and written
out at the end of a run.  Stage metrics come from Spark's
``AppStatusStore``: after each measured call the listener bus is drained,
the jobs that started since the last snapshot are listed, and their stages
are read by ID.  A stage counts once, in the first delta that sees it, so a
stage shared by two jobs or a skipped stage re-listed later is never
counted twice.  A job or stage that the store already dropped (it keeps
``spark.ui.retainedJobs``/``retainedStages``) is reported as evicted
instead of being silently left out of the totals.
"""

from __future__ import annotations

import json
import math
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

# Stage fields summed into a delta (names as in the status store's StageData).
STAGE_FIELDS = (
    "numCompleteTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputRecords", "inputBytes", "outputRecords", "outputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


def supported_percentile(n: int, want: float, beyond: int = 10) -> float:
    """The highest percentile, at most ``want``, that has at least
    ``beyond`` of ``n`` samples above it; never below the median."""
    if n <= 0:
        return 50.0
    return max(50.0, min(want, math.floor(100.0 * (n - beyond) / n)))


def percentile(samples: list[float], pct: float) -> float:
    """Linear-interpolated percentile (``pct`` in 0..100); 0 without samples."""
    xs = sorted(samples)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def diff_stages(seen: set[int], expected_ids: set[int], stages: list[dict]) -> tuple[list[dict], set[int]]:
    """Split a stage list into the stages not seen before and the stage IDs
    that were expected (listed by a new job) but are missing from the store.

    ``stages`` may hold several attempts of one stage; the delta keeps the
    latest attempt.  ``seen`` is updated in place."""
    latest: dict[int, dict] = {}
    for s in stages:
        sid = s["stageId"]
        if sid in seen:
            continue
        if sid not in latest or s.get("attemptId", 0) > latest[sid].get("attemptId", 0):
            latest[sid] = s
    missing = {sid for sid in expected_ids if sid not in seen and sid not in latest}
    seen.update(latest)
    seen.update(missing)
    return [latest[k] for k in sorted(latest)], missing


@dataclass
class Delta:
    """Status-store totals for the work done between two snapshots."""

    jobs: int = 0
    stages: int = 0
    evicted: int = 0
    totals: dict[str, int] = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0))
    scan_tasks: int = 0

    def add(self, other: "Delta") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.evicted += other.evicted
        self.scan_tasks += other.scan_tasks
        for k in STAGE_FIELDS:
            self.totals[k] += other.totals[k]


class StatusStore:
    """Snapshots of the driver's AppStatusStore through py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._tracker = spark.sparkContext.statusTracker()
        jvm = sc._jvm
        scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala)
        self._jvm = jvm
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._last_job = -1
        self._seen_stages: set[int] = set()
        self.snapshot()  # everything that ran before this point is history

    def _json(self, obj) -> list:
        return json.loads(self._mapper.writeValueAsString(obj))

    def snapshot(self) -> Delta:
        self._sc.listenerBus().waitUntilEmpty()
        ids = sorted(j for j in self._tracker.getJobIdsForGroup(None) if j > self._last_job)
        delta = Delta()
        if not ids:
            return delta
        expected_jobs = set(range(self._last_job + 1, ids[-1] + 1))
        delta.evicted += len(expected_jobs - set(ids))
        self._last_job = ids[-1]
        jobs = self._jvm.java.util.ArrayList()
        for j in ids:
            jobs.add(self._store.job(j))
        stage_ids = {sid for job in self._json(jobs) for sid in job["stageIds"]}
        wanted = sorted(stage_ids - self._seen_stages)
        found = self._jvm.java.util.ArrayList()
        empty = self._jvm.java.util.ArrayList()
        for sid in wanted:
            try:  # one Seq of attempts per stage
                found.add(self._store.stageData(sid, False, empty, False, self._no_quantiles))
            except Py4JJavaError:  # NoSuchElementException: evicted from the store
                pass
        attempts = [s for seq in self._json(found) for s in seq]
        new, missing = diff_stages(self._seen_stages, set(wanted), attempts)
        delta.jobs = len(ids)
        delta.stages = len(new)
        delta.evicted += len(missing)
        for s in new:
            for k in STAGE_FIELDS:
                delta.totals[k] += int(s.get(k) or 0)
            if s.get("inputRecords") or s.get("inputBytes"):
                delta.scan_tasks += int(s.get("numCompleteTasks") or 0)
        return delta


def storage_used(spark) -> int:
    """Bytes held by cached and checkpointed RDD blocks (memory and disk),
    as the block manager reports them; broadcast blocks are not counted."""
    return sum(int(i.memSize()) + int(i.diskSize())
               for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def drain_storage(spark, timeout_s: float = 1.0, settle_s: float = 0.1) -> int:
    """Wait (bounded) for RDD storage to drain after an asynchronous
    unpersist; returns the bytes still held.  Stops early once the figure
    has not moved for ``settle_s``: blocks of a ``localCheckpoint`` stay
    until their RDD is garbage-collected, and waiting longer would not
    free them."""
    start = last_change = time.perf_counter()
    left = storage_used(spark)
    while left > 0:
        now = time.perf_counter()
        if now - start >= timeout_s or now - last_change >= settle_s:
            break
        time.sleep(0.05)
        cur = storage_used(spark)
        if cur != left:
            left, last_change = cur, time.perf_counter()
    return left


class Spans:
    """In-memory span recorder: ``(name, start, end, parent, run_id)``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[tuple[str, float, float, str | None, str]] = []

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> None:
        self.records.append((name, start, end, parent, self.run_id))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, start, end, parent, run_id in self.records:
                fh.write(json.dumps({"name": name, "start": start, "end": end,
                                     "parent": parent, "run_id": run_id}) + "\n")
