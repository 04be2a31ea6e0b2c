"""Per-call Spark counters read from the status store, keyed by job group.

Works with ``spark.ui.enabled=false``: the AppStatusStore behind the
UI is populated by the listener bus regardless. Each measured call runs
under its own job group; afterwards the group's jobs, their stages and
each stage's last attempt give tasks, executor run time, shuffle bytes
and spill.
"""

from __future__ import annotations

from contextlib import contextmanager

COUNTER_KEYS = ("jobs", "stages", "skipped_stages", "tasks", "busy_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def aggregate(n_jobs: int, stage_rows: list[dict]) -> dict:
    """Fold stage rows (one per stage id; duplicates from stages shared
    by several jobs are counted once) into per-call counters. Skipped
    stages did no work and only add to ``skipped_stages``."""
    out = dict.fromkeys(COUNTER_KEYS, 0)
    out["jobs"] = n_jobs
    out["busy_s"] = 0.0
    seen = set()
    for r in stage_rows:
        if r["stage_id"] in seen:
            continue
        seen.add(r["stage_id"])
        if r["status"] == "SKIPPED":
            out["skipped_stages"] += 1
            continue
        out["stages"] += 1
        out["tasks"] += r["tasks"]
        out["busy_s"] += r["run_ms"] / 1000.0
        out["shuffle_read_bytes"] += r["shuffle_read_bytes"]
        out["shuffle_write_bytes"] += r["shuffle_write_bytes"]
        out["spill_bytes"] += r["spill_bytes"]
    return out


def add(total: dict, part: dict) -> dict:
    for k in COUNTER_KEYS:
        total[k] = total.get(k, 0) + part.get(k, 0)
    return total


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._n = 0

    @contextmanager
    def group(self, label: str):
        """Run the body under a fresh job group; the yielded dict is
        filled with the group's counters when the body exits."""
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        out: dict = {}
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            out.update(self.read(gid))

    def _stage_row(self, stage_id: int) -> dict | None:
        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - py4j error: stage evicted from the store
            return None
        return {
            "stage_id": stage_id,
            "status": sd.status().toString(),
            "tasks": sd.numCompleteTasks(),
            "run_ms": sd.executorRunTime(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.diskBytesSpilled(),
        }

    def read(self, gid: str) -> dict:
        # listener events are delivered asynchronously: drain the bus so
        # the last stage's metrics are in the store before reading
        self._bus.waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(gid)
        rows = []
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                r = self._stage_row(s)
                if r is not None:
                    rows.append(r)
        return aggregate(len(job_ids), rows)
