"""Stage tracer for the traced benchmark run, measured from outside the
program.

``CheckpointStore.stage`` is the one boundary every pipeline stage crosses,
in ``KGPipeline`` and ``IncrementalKGPipeline`` alike. The tracer swaps a
wrapper in for it (and puts the original back afterwards). Each call gets
its own Spark job group, so the job, task and failed-task counts of that
stage are read back through ``sc.statusTracker()``. Rows and bytes come from
the stage manifest, and the JVM's cumulative GC time is sampled around the
call. Spans stay in memory; the caller writes them out when the run ends.
"""

from __future__ import annotations

import time

from ontologymatching_spark.plans.checkpoint import CheckpointStore

# layer (named after the module that does the work) -> pipeline stages
LAYER_STAGES = {
    "extract": ("triples", "entities"),
    "prepare": ("prepared",),
    "blocking": ("candidate_pairs",),
    "matchers": ("scored_pairs",),
    "iism": ("scored_boosted",),
    "selection": ("alignment",),
    "components": ("nodes",),
    "linking": ("mentions", "links"),
    "pipeline.edges": ("edges",),
}


def gc_seconds(spark) -> float:
    """Cumulative collection time of every JVM garbage collector, seconds."""
    beans = (spark.sparkContext._jvm.java.lang.management
             .ManagementFactory.getGarbageCollectorMXBeans())
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size())) / 1000.0


class StageTracer:
    """Records one span per ``CheckpointStore.stage`` call inside a unit of
    work (one build or one batch). Jobs a unit runs outside any stage (the
    corpus fold, the final counts) land in the unit's own job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._unit: str | None = None
        self._outer = ""
        self._orig = None

    # -- install / remove the wrapper ----------------------------------------

    def install(self) -> None:
        orig = CheckpointStore.stage
        tracer = self

        def traced_stage(store, name, fn, inputs=None, force=False):
            if tracer._unit is None:
                return orig(store, name, fn, inputs, force)
            return tracer._span(
                store, name, lambda: orig(store, name, fn, inputs, force)
            )

        self._orig = orig
        CheckpointStore.stage = traced_stage

    def uninstall(self) -> None:
        if self._orig is not None:
            CheckpointStore.stage = self._orig
            self._orig = None

    # -- units and spans -----------------------------------------------------

    def begin_unit(self, unit: str) -> None:
        self._unit = unit
        self._outer = f"perfbench-{unit}-outside"
        self.sc.setJobGroup(self._outer, unit)

    def end_unit(self) -> dict:
        """Close the unit and return its counts for work outside stages."""
        self._unit = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return self._job_counts(self._outer)

    def _span(self, store: CheckpointStore, name: str, call):
        group = f"perfbench-{self._unit}-{len(self.spans)}-{name}"
        resumed = store.is_complete(name)
        self.sc.setJobGroup(group, name)
        gc0 = gc_seconds(self.spark)
        t0 = time.perf_counter()
        try:
            return call()
        finally:
            t1 = time.perf_counter()
            gc1 = gc_seconds(self.spark)
            span = {
                "unit": self._unit,
                "name": name,
                "start": t0,
                "end": t1,
                "s": t1 - t0,
                "gc_s": gc1 - gc0,
                "committed": not resumed and store.is_complete(name),
                "rows": 0,
                "bytes": 0,
            }
            span.update(self._job_counts(group))
            if span["committed"] and store.fmt == "parquet":
                m = store.manifest(name)
                span["rows"] = m["rows"]
                span["bytes"] = m["bytes"]
            self.spans.append(span)
            # later jobs of this unit go back to the unit's own group
            self.sc.setJobGroup(self._outer, self._unit)

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = failed = 0
        for s in stage_ids:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}
