"""Spans and Spark status-store readings for the traced run.

Tracing never edits the program: :func:`install` wraps the layers'
public functions by replacing module attributes, and every stage span
sets a Spark job group so that the status store can attribute jobs,
tasks, shuffle and spill to it.  Spans stay in memory until the
benchmark writes them out at the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

ENABLED = False
SPANS: list[dict] = []
_STACK: list[dict] = []
_IDS = itertools.count(1)
RUN_ID = "run"


@contextmanager
def span(name: str, group: str | None = None, **attrs):
    """Record (name, start, end, parent, run id); with ``group`` the
    Spark jobs started inside are tagged with that job group."""
    if not ENABLED:
        yield None
        return
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    s = {
        "id": next(_IDS),
        "name": name,
        "parent": _STACK[-1]["id"] if _STACK else None,
        "run_id": RUN_ID,
        "group": group,
        **attrs,
    }
    prev_group = None
    if group is not None and sc is not None:
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, name)
    _STACK.append(s)
    s["start"] = time.perf_counter()
    try:
        yield s
    finally:
        s["end"] = time.perf_counter()
        _STACK.pop()
        SPANS.append(s)
        if group is not None and sc is not None:
            if prev_group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(prev_group, "")


def _wrap(owner, attr: str, name: str, group_fn=None) -> None:
    fn = getattr(owner, attr)
    if getattr(fn, "_perfbench", False):
        return

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        group = group_fn(args) if group_fn else None
        with span(name, group=group):
            return fn(*args, **kwargs)

    traced._perfbench = True
    setattr(owner, attr, traced)


# pipeline stage name -> layer name used in the metrics
STAGE_LAYER = {
    "signatures": "signatures",
    "candidates": "candidates",
    "verified_edges": "verify",
    "components": "components",
}


def install() -> None:
    """Wrap the public layer functions and turn spans on."""
    global ENABLED
    ENABLED = True
    from selfclean_spark.operators import autoclean, candidates, components
    from selfclean_spark.operators import ingest, signatures, verify
    from selfclean_spark.plans import pipeline

    # plan-building operator calls: driver-side plan construction ("plan:")
    for mod, names in [
        (signatures, ["compute_signatures", "band_hashes"]),
        (candidates, ["band_pair_stream", "exact_duplicate_pairs"]),
        (verify, ["verify_candidates"]),
        (components, ["connected_components", "with_singletons"]),
    ]:
        for n in names:
            _wrap(mod, n, f"plan:{n}")
    # a name bound by direct import must be patched where it is bound
    _wrap(autoclean, "fraction_cut", "autoclean.fraction_cut")
    pipeline.fraction_cut = autoclean.fraction_cut
    _wrap(ingest, "assert_sha_invariant", "ingest.sha_invariant")
    _wrap(pipeline.DedupPipeline, "_source_sha_fingerprint", "ingest.sha_invariant")
    # one job group per checkpointed stage
    _wrap(
        pipeline.DedupPipeline, "_run_stage", "stage",
        group_fn=lambda a: f"{RUN_ID}:{STAGE_LAYER[a[1]]}",
    )
    _wrap(pipeline.DedupPipeline, "run", "pipeline.run")


# ------------------------------------------------------------ status store


@dataclass
class GroupStats:
    """Execution numbers of every Spark job tagged with one job group."""

    intervals: list[tuple[float, float]] = field(default_factory=list)
    jobs: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    task_skew: float = 1.0

    def add(self, other: "GroupStats") -> None:
        self.intervals += other.intervals
        for k in ("jobs", "tasks", "exec_run_s", "exec_cpu_s", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_skew = max(self.task_skew, other.task_skew)


MB = 1024 * 1024


def group_stats(spark, groups: set[str]) -> dict[str, GroupStats]:
    """Read jobs of the given job groups from the live status store.
    Stages shared by several jobs are counted once; skipped stages
    (no completed task) are ignored."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out: dict[str, GroupStats] = {g: GroupStats() for g in groups}
    seen: set[int] = set()
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if not j.jobGroup().isDefined() or j.jobGroup().get() not in groups:
            continue
        st = out[j.jobGroup().get()]
        st.jobs += 1
        if j.submissionTime().isDefined() and j.completionTime().isDefined():
            st.intervals.append(
                (j.submissionTime().get().getTime() / 1e3, j.completionTime().get().getTime() / 1e3)
            )
        sids = j.stageIds()
        for k in range(sids.size()):
            sid = sids.apply(k)
            if sid in seen:
                continue
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store, or never submitted
                continue
            if sd.numCompleteTasks() == 0:
                continue
            seen.add(sid)
            st.tasks += sd.numCompleteTasks()
            st.exec_run_s += sd.executorRunTime() / 1e3
            st.exec_cpu_s += sd.executorCpuTime() / 1e9
            st.shuffle_read_mb += (sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()) / MB
            st.shuffle_write_mb += sd.shuffleWriteBytes() / MB
            st.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
            if sd.numCompleteTasks() >= 4:
                summary = store.taskSummary(sid, sd.attemptId(), quantiles)
                if summary.isDefined():
                    dur = summary.get().duration()
                    med, mx = dur.apply(0), dur.apply(1)
                    if med > 0:
                        st.task_skew = max(st.task_skew, mx / med)
    return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
