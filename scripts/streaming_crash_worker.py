#!/usr/bin/env python
"""Subprocess worker for the streaming crash test — the process that
GETS KILLED. Starts the checkpointed streaming dedup over a pre-built
chunked input (see mapreduce_golang_spark/streaming/recovery.py) with
a continuous trigger and then blocks forever; the parent test watches
the checkpoint's commits/ dir and SIGKILLs this process mid-drain —
no graceful stop, no JVM shutdown hook, exactly like the reference's
crash test killing a worker mid-task
(/root/reference/src/main/test-mr.sh crash workload).

Usage: streaming_crash_worker.py <input_dir> <work_dir>
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    input_dir, work_dir = sys.argv[1], sys.argv[2]
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from mapreduce_golang_spark.session import get_spark
    from mapreduce_golang_spark.streaming.recovery import start_dedup

    spark = get_spark(app_name="crash-worker")
    spark.sparkContext.setLogLevel("ERROR")
    q = start_dedup(spark, input_dir, work_dir, available_now=False)
    print("WORKER_STARTED", flush=True)
    q.awaitTermination()  # blocks until SIGKILL


if __name__ == "__main__":
    main()
