"""How a bench measures a run and where it records it.

- `CORES` is the bench's core count: `$SPARK_GRAFT_CPUS`, default 32.
- `checksum(df)` forces every column of a DataFrame: `count()` alone lets
  Catalyst prune derived columns (and the UDFs behind them) away.
- `measure(spark, name)` runs a step as one Spark job group and, once the
  step is done, reads its wall seconds and the group's stage, task,
  shuffle-write and spill totals from the driver's `statusTracker` and
  status store.  The Spark UI stays off (`session.get_spark`): the status
  store is what the UI's REST API would read.
- `write_result(name, record)` writes `bench/<name>` in the repo.
- `splice_baseline(heading, text)` replaces one section of
  `BENCH/BASELINE.md` and keeps every other section byte for byte: each
  bench owns exactly its own section.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPO = Path(__file__).resolve().parent.parent
BASELINE = REPO / "BENCH" / "BASELINE.md"


def checksum(df: DataFrame) -> tuple[int, int]:
    """(rows, checksum over every column) of `df`, in one pass."""
    cols = [F.col(c).cast("string") for c in df.columns]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_003))).alias("chk"),
    ).collect()[0]
    return row["n"], row["chk"]


def stage_counters(spark: SparkSession, group: str) -> dict[str, int]:
    """Jobs, stages, tasks, failed tasks, shuffle write and memory/disk
    spill over every job of job group `group`.  `stages` counts every stage
    of those jobs, skipped ones (shuffle output reused) included; the byte
    and task totals are those of the stages that ran."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # job ends reach the status store through the listener bus, after the
    # action that ran the job has returned
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = {s for j in job_ids if (info := tracker.getJobInfo(j)) is not None for s in info.stageIds}
    out = {"jobs": len(job_ids), "stages": len(stage_ids), "tasks": 0, "failed_tasks": 0,
           "shuffle_write_bytes": 0, "memory_spill_bytes": 0, "disk_spill_bytes": 0}
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        if info is None:
            continue
        data = store.lastStageAttempt(sid)
        out["tasks"] += info.numCompletedTasks + info.numFailedTasks
        out["failed_tasks"] += info.numFailedTasks
        out["shuffle_write_bytes"] += data.shuffleWriteBytes()
        out["memory_spill_bytes"] += data.memoryBytesSpilled()
        out["disk_spill_bytes"] += data.diskBytesSpilled()
    return out


@contextmanager
def measure(spark: SparkSession, name: str):
    """Run the body's Spark jobs as one new job group.  The yielded dict
    gets `wall_s` (the body's seconds) and the group's `stage_counters`
    when the body ends."""
    sc = spark.sparkContext
    group = f"runreport.{name}.{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    record: dict = {}
    t0 = time.perf_counter()
    try:
        yield record
    finally:
        record["wall_s"] = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    record.update(stage_counters(spark, group))


def write_result(name: str, record: dict) -> None:
    """Write `record` as JSON to `bench/<name>` in the repo."""
    (REPO / "bench" / name).write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")


def splice_baseline(heading: str, text: str) -> None:
    """Put `text` in place of the `BENCH/BASELINE.md` section whose heading
    line starts with `heading` (up to the next `## ` line), or append it
    when there is none.  Every other section is kept byte for byte."""
    md = BASELINE.read_text() if BASELINE.exists() else ""
    m = re.search("^" + re.escape(heading), md, re.M)
    if m is None:
        head, tail = (md.rstrip("\n") + "\n\n" if md else ""), ""
    else:
        end = md.find("\n## ", m.start())
        head, tail = md[: m.start()], (md[end + 1 :] if end != -1 else "")
    BASELINE.parent.mkdir(exist_ok=True)
    BASELINE.write_text(head + text.rstrip("\n") + ("\n\n" if tail else "\n") + tail)
