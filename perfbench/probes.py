"""Measurement helpers that sit outside the program: environment
record, process-tree memory, the size-gate caps switch, and wrappers
around the program's stage cache, size gates and stage tables.

The wrappers replace module attributes for the length of a traced run
and put the originals back afterwards; the program's files are not
changed. They rely on the program calling these functions through
their module (``queries._stage``, ``graph._collect_if_small``,
``linking.size_gated_broadcast``, ``linking.connected_components``,
``linking._driver_union_find``, ``tables.write_stage``).
"""

from __future__ import annotations

import inspect
import json
import os
import platform
import re
import time
from contextlib import contextmanager
from importlib import metadata
from pathlib import Path

BLAS_ENV = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
_CAP_RE = re.compile(r"deepref\.[a-z_]+\.driver_max_[a-z_]+|deepref\.broadcast\.max_entities")


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def load_now() -> float:
    """1-minute load average, through the repository's own calm-window
    probe with waiting disabled (a run must not stall on a busy host)."""
    import bench

    return bench.wait_for_calm(max_wait=0)["load_at_start"]


def environment(spark=None) -> dict:
    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "python": platform.python_version(),
        **{lib: metadata.version(lib) for lib in ("pyspark", "numpy", "pandas", "pyarrow", "duckdb")},
        "blas_env": {k: os.environ.get(k) for k in BLAS_ENV},
    }
    if spark is not None:
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        env["master"] = spark.sparkContext.master
    return env


# ---------------------------------------------------------------------------
# memory: summed VmHWM of a process tree, from /proc
# ---------------------------------------------------------------------------

def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return int(stat.rsplit(")", 1)[1].split()[1])


def descendants(root: int) -> list[int]:
    parents = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            pp = _ppid(int(d))
            if pp is not None:
                parents[int(d)] = pp
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
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


def peak_rss_mb(root: int | None = None) -> float:
    """Summed peak resident set of every process below ``root`` (the
    driver JVM started by this interpreter and the Python workers it
    forks)."""
    pids = descendants(os.getpid() if root is None else root)
    return sum(vm_hwm_kb(p) for p in pids) / 1024.0


# ---------------------------------------------------------------------------
# size-gate caps
# ---------------------------------------------------------------------------

def cap_keys(package_dir: str) -> list[str]:
    """Every driver-twin size cap the program reads, found in its
    source so a cap added later is switched off too."""
    keys = set()
    for p in Path(package_dir).rglob("*.py"):
        keys.update(_CAP_RE.findall(p.read_text()))
    return sorted(keys)


@contextmanager
def caps_off(conf, keys):
    """Set every cap to 0 for the body; afterwards put back what was
    set before and unset the rest, also when the body raises."""
    before = {k: conf.get(k, None) for k in keys}
    try:
        for k in keys:
            conf.set(k, "0")
        yield
    finally:
        for k, v in before.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


# ---------------------------------------------------------------------------
# wrappers around the program's stage cache, gates and stage tables
# ---------------------------------------------------------------------------

def tree_bytes_files(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


class Probes:
    """Counters filled by the wrappers while installed."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.counts: dict[str, float] = {}
        self.stage_build_s: dict[str, float] = {}
        self._saved: list[tuple[object, str, object]] = []
        self._nested: list[float] = []

    def bump(self, key: str, v: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + v

    def take(self) -> dict[str, float]:
        out, self.counts = self.counts, {}
        return out

    def _patch(self, module, name: str, wrapper) -> None:
        self._saved.append((module, name, getattr(module, name)))
        setattr(module, name, wrapper)

    def uninstall(self) -> None:
        while self._saved:
            module, name, orig = self._saved.pop()
            setattr(module, name, orig)

    def install(self) -> None:
        from deepref_spark import queries
        from deepref_spark.io import tables
        from deepref_spark.operators import graph, linking

        tr = self.tracer
        stage = queries._stage

        def _stage(spark, sf_dir, name, build):
            key = (spark.sparkContext.applicationId, sf_dir, name)
            if key in queries._STAGE_CACHE:
                self.bump("stage.hits")
                return stage(spark, sf_dir, name, build)
            # a stage's build can build other stages: keep each build's
            # own time, without the nested builds it triggered
            self._nested.append(0.0)
            t0 = time.perf_counter()
            try:
                with tr.span("stage.build", stage=name):
                    df = stage(spark, sf_dir, name, build)
                    df.count()  # materialize here, apart from the consumer
            finally:
                dt = time.perf_counter() - t0
                own = dt - self._nested.pop()
                if self._nested:
                    self._nested[-1] += dt
            self.bump("stage.builds")
            self.bump("stage.build_s", own)
            self.stage_build_s[name] = self.stage_build_s.get(name, 0.0) + own
            return df

        collect_if_small = graph._collect_if_small

        def _collect_if_small(edges, conf_key, *a, **kw):
            res = collect_if_small(edges, conf_key, *a, **kw)
            self.bump("gate.driver_paths" if res is not None else "gate.distributed_paths")
            return res

        gated_bc = linking.size_gated_broadcast
        bc_defaults = {k: p.default for k, p in inspect.signature(gated_bc).parameters.items()}

        def size_gated_broadcast(df, conf_key=bc_defaults["conf_key"],
                                 default_limit=bc_defaults["default_limit"]):
            out, n = gated_bc(df, conf_key, default_limit)
            limit = int(df.sparkSession.conf.get(conf_key, str(default_limit)))
            self.bump("gate.driver_paths" if n <= limit else "gate.distributed_paths")
            if n <= limit:
                self.bump("linking.broadcast")
            return out, n

        cc = linking.connected_components
        uf = linking._driver_union_find

        def connected_components(*a, **kw):
            before = self.counts.get("linking.cc_driver", 0)
            res = cc(*a, **kw)
            driver = self.counts.get("linking.cc_driver", 0) > before
            self.bump("gate.driver_paths" if driver else "gate.distributed_paths")
            return res

        def _driver_union_find(*a, **kw):
            self.bump("linking.cc_driver")
            return uf(*a, **kw)

        write_stage = tables.write_stage

        def _write_stage(df, warehouse, stage_name, *a, **kw):
            t0 = time.perf_counter()
            with tr.span("tables.write_stage", stage=stage_name):
                path = write_stage(df, warehouse, stage_name, *a, **kw)
            self.bump("tables.write_s", time.perf_counter() - t0)
            n_bytes, n_files = tree_bytes_files(path)
            self.bump("tables.bytes_written", n_bytes)
            self.bump("tables.files_written", n_files)
            with open(os.path.join(path, tables.MANIFEST)) as f:
                self.bump("tables.rows_written", json.load(f)["rows"])
            return path

        self._patch(queries, "_stage", _stage)
        self._patch(graph, "_collect_if_small", _collect_if_small)
        self._patch(linking, "size_gated_broadcast", size_gated_broadcast)
        self._patch(linking, "connected_components", connected_components)
        self._patch(linking, "_driver_union_find", _driver_union_find)
        self._patch(tables, "write_stage", _write_stage)
