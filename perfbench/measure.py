"""Counters read from outside the program: Spark's status store, the
filesystem under a workload's storage, and /proc."""

from __future__ import annotations

import os


def job_ids(spark, groups: list[str | None]) -> list[int]:
    """Ids of every job in the given job groups (None: jobs without one)."""
    tracker = spark.sparkContext.statusTracker()
    return sorted({i for g in groups for i in tracker.getJobIdsForGroup(g)})


def _jlist(spark, seq):
    return list(spark.sparkContext._jvm.scala.collection.JavaConverters.seqAsJavaList(seq))


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_counters(spark, ids: list[int]) -> tuple[dict[str, float], list[tuple[float, float]]]:
    """Engine counters of the given jobs, read from Spark's status store.
    Returns the counters and the (start, end) epoch seconds of each job."""
    store = spark.sparkContext._jsc.sc().statusStore()
    intervals: list[tuple[float, float]] = []
    stage_ids: set[int] = set()
    for i in ids:
        j = store.job(i)
        start, end = _opt_s(j.submissionTime()), _opt_s(j.completionTime())
        if start is not None:
            intervals.append((start, end if end is not None else start))
        stage_ids.update(int(s) for s in _jlist(spark, j.stageIds()))
    c = {
        "spark.jobs": len(ids),
        "spark.stages": 0,
        "spark.tasks": 0,
        "spark.executor_run_s": 0.0,
        "spark.input_bytes": 0,
        "spark.shuffle_write_bytes": 0,
        "spark.output_bytes": 0,
    }
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - a stage that never ran (skipped) has no attempt
            continue
        if str(st.status()) == "SKIPPED":
            continue
        c["spark.stages"] += 1
        c["spark.tasks"] += st.numCompleteTasks()
        c["spark.executor_run_s"] += st.executorRunTime() / 1000.0
        c["spark.input_bytes"] += st.inputBytes()
        c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
        c["spark.output_bytes"] += st.outputBytes()
    return c, intervals


def snapshot(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (size, mtime_ns, inode) of every regular file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def created(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files that are new or rewritten since `before`."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return sum(v[0] for v in new), len(new)


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(v[0] for v in snapshot(path).values())


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def reset_peak_rss(spark) -> None:
    """Restart the peak-RSS counters of the driver JVM and this process
    (writing 5 to clear_refs resets VmHWM to the current RSS)."""
    for pid in (_jvm_pid(spark), "self"):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process since
    the last reset."""
    return (_hwm_kb(_jvm_pid(spark)) + _hwm_kb("self")) / 1024.0
