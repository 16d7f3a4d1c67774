"""Spans around the benchmark's calls into each engine layer.

A span records (name, start, end, parent, run id). Every span gets its
own Spark job group, so the jobs, tasks and failed tasks it launched are
read afterwards from ``SparkContext.statusTracker()``; this works with
the Spark UI disabled. Spans stay in memory until :meth:`Tracer.close`.

Adaptive query execution may run one query stage as one job or as two,
depending on timing, so job counts can differ between runs of the same
inputs. ``actions`` counts what the caller asked for instead: the SQL
executions the span's jobs belong to, plus each job outside any.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float
    run_id: str
    iteration: int
    jobs: int = 0
    actions: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def layer_of(name: str) -> str:
    """Span name -> layer (module) name."""
    head = name.split(".", 1)[0]
    return {
        "fixtures": "fixtures",
        "images": "images.ops",
        "index": "index",
        "spatial_join": "operators.spatial_join",
        "knn": "operators.knn",
        "zonal": "raster.zonal",
        "lineage": "lineage",
        "probe": "probe",
    }.get(head, head)


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer costs one
    attribute test per span."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.iteration = -1
        self.spans: list[Span] = []
        self._stack: list[tuple[int, str]] = []
        self._ids = itertools.count(1)

    def _set_group(self, top: tuple[int, str] | None) -> None:
        if top is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}-{top[0]}", top[1])

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the body as span ``name``; yields a dict the caller may
        fill with counts (rows, candidates, ...)."""
        counts: dict = {}
        if not self.enabled:
            yield counts
            return
        sid = next(self._ids)
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((sid, name))
        self._set_group(self._stack[-1])
        start = time.perf_counter()
        try:
            yield counts
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(
                Span(sid, name, parent, start, end, self.run_id, self.iteration,
                     counts=counts)
            )

    def close(self) -> None:
        """Attach Spark job/task counts to every span. Listener events are
        delivered asynchronously, so drain the bus first."""
        if not self.spans:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        execution_of = self._execution_of_job()
        for sp in self.spans:
            job_ids = st.getJobIdsForGroup(f"{self.run_id}-{sp.span_id}") or []
            sp.jobs = len(job_ids)
            sp.actions = len({execution_of.get(j, ("job", j)) for j in job_ids})
            for jid in job_ids:
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        sp.tasks += stage.numCompletedTasks
                        sp.failed_tasks += stage.numFailedTasks

    def _execution_of_job(self) -> dict[int, int]:
        """Job id -> id of the SQL execution that ran it."""
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = {}
        for ex in conv.asJava(store.executionsList()):
            for job in conv.asJava(ex.jobs()).keySet():
                out[int(job)] = int(ex.executionId())
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")

    # ---- aggregation -------------------------------------------------

    def per_iteration(self, name: str, attr: str = "seconds") -> list[float]:
        """Sum of ``attr`` over spans called ``name``, one value per
        traced iteration that has such a span."""
        acc: dict[int, float] = {}
        for sp in self.spans:
            if sp.name == name:
                v = getattr(sp, attr) if hasattr(sp, attr) else sp.counts.get(attr, 0)
                acc[sp.iteration] = acc.get(sp.iteration, 0) + v
        return list(acc.values())

    def median(self, name: str, attr: str = "seconds") -> float:
        vals = self.per_iteration(name, attr)
        return float(statistics.median(vals)) if vals else 0.0

    def self_seconds(self) -> dict[str, float]:
        """Median over traced iterations of each layer's self time: span
        duration minus the time covered by its child spans."""
        child: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + sp.seconds
        per: dict[str, dict[int, float]] = {}
        for sp in self.spans:
            lay = per.setdefault(layer_of(sp.name), {})
            lay[sp.iteration] = lay.get(sp.iteration, 0.0) + sp.seconds - child.get(sp.span_id, 0.0)
        return {k: float(statistics.median(v.values())) for k, v in per.items()}

    def iteration_total(self, attr: str) -> float:
        """Median over traced iterations of ``attr`` summed over all
        layer spans of the iteration (``op.*`` spans left out)."""
        acc: dict[int, int] = {}
        for sp in self.spans:
            if layer_of(sp.name) != "op":
                acc[sp.iteration] = acc.get(sp.iteration, 0) + getattr(sp, attr)
        return float(statistics.median(acc.values())) if acc else 0.0
