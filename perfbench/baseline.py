"""1-core baseline for ``replay_bulk``'s scaling efficiency.

Started by ``tracing.one_core_baseline`` after the traced run. Argument: a
JSON spec ``{"cpu", "table", "work", "event_log", "batches": [[id, path],
...], "buckets"}``. It pins itself (and so the JVM it starts) to CPU
``cpu``, starts Spark at ``local[1]`` under the traced run's conditions
(event log on, the tracer's wrappers installed, every apply a traced
operation whose source read is forced), applies the first batch to the
saved table untimed (JIT warm-up), then times the others and prints
``{"cpu", "apply_s": [...]}``, one time per timed batch.
"""

from __future__ import annotations

import json
import os
import sys


def main() -> None:
    spec = json.loads(sys.argv[1])
    os.sched_setaffinity(0, {spec["cpu"]})
    if os.sched_getaffinity(0) != {spec["cpu"]}:
        sys.exit(f"could not pin to CPU {spec['cpu']}: {sorted(os.sched_getaffinity(0))}")
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import tracing
    import workloads
    from run import start_spark, stop_spark
    from tpc_di_spark.cdc.orchestrator import CdcOrchestrator
    from tpc_di_spark.lake.table import LakeTable

    spark = start_spark(os.path.join(spec["work"], "spark"), 1, spec["event_log"])
    try:
        orch = CdcOrchestrator(LakeTable.load(spark, spec["table"]),
                               buckets_per_group=spec["buckets"])
        tracer = tracing.Tracer(spark)
        tracer.install()
        rec = workloads.Recorder(tracer)
        rec.enabled = True
        for bid, path in spec["batches"]:
            with rec.op("apply"):
                (events,) = workloads.read_source(rec, lambda: (spark.read.parquet(path),))
                orch.apply_batch(events, bid)
        tracer.uninstall()
    finally:
        stop_spark(spark)
    print(json.dumps({"cpu": spec["cpu"], "apply_s": rec.samples["apply"][1:]}))


if __name__ == "__main__":
    main()
