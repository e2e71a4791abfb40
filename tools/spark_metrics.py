"""Jobs and stages of one piece of Spark work, read from the driver's
status store — no web UI or REST server needed, so it works with
``spark.ui.enabled=false``. The work runs under its own job group
(``setJobGroup``); its jobs come from
``statusTracker().getJobIdsForGroup`` and each stage's numbers from
``statusStore().lastStageAttempt``. Jobs a helper thread launches carry
no group and are not counted.

    from spark_metrics import measure
    out, n_jobs, stages = measure(spark, "q1", lambda: df.count())
"""

from __future__ import annotations

import uuid


def measure(spark, name: str, fn):
    """Run ``fn()`` under a fresh job group and return ``(fn's result,
    number of jobs, [stage dict])``. Each stage dict holds ``name``,
    ``tasks``, ``run_s`` (executor run time), ``shuffle_read_b``,
    ``shuffle_write_b``, ``spill_b`` (memory + disk) and
    ``peak_mem_b``; skipped stages are left out."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    group = "measure-%s-%s" % (uuid.uuid4().hex[:12], name)
    sc.setJobGroup(group, name)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    stages = []
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the status store
            continue
        if st.status().toString() == "SKIPPED":
            continue
        stages.append(
            {
                "name": st.name(),
                "tasks": st.numCompleteTasks(),
                "run_s": st.executorRunTime() / 1e3,
                "shuffle_read_b": st.shuffleReadBytes(),
                "shuffle_write_b": st.shuffleWriteBytes(),
                "spill_b": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "peak_mem_b": st.peakExecutionMemory(),
            }
        )
    return out, len(job_ids), stages
