"""Job, stage and task counts for one job group, read from Spark's status
store. A streaming query runs its micro-batch jobs under its run id as
the job group."""

from __future__ import annotations


def job_group_stats(spark, group: str) -> dict[str, float]:
    sc = spark.sparkContext
    jvm = sc._jvm
    store = spark._jsc.sc().statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    stage_ids: set[int] = set()
    n_jobs = 0
    for job in conv.asJava(store.jobsList(jvm.java.util.ArrayList())):
        g = job.jobGroup()
        if g.isDefined() and g.get() == group:
            n_jobs += 1
            stage_ids.update(int(s) for s in conv.asJava(job.stageIds()))
    stages = conv.asJava(store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()))
    out = {"spark.jobs": n_jobs, "spark.stages": 0, "spark.tasks": 0,
           "spark.task_cpu_s": 0.0, "spark.shuffle_write_mb": 0.0,
           "spark.spill_mb": 0.0, "spark.failed_tasks": 0}
    for s in stages:
        if s.stageId() not in stage_ids:
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        out["spark.failed_tasks"] += s.numFailedTasks()
        out["spark.task_cpu_s"] += s.executorCpuTime() / 1e9
        out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
        out["spark.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
    return out
