"""Stage-level attribution of the N→4N scaling gap (VERDICT r2 #4).

Runs the whole ``run_pipeline`` spine (all eight stages plus
materialize, into a fresh temp out_dir) at two parallelism levels with
Spark event logging on, parses the event log, and prints per-level
task-metric aggregates:

- wall: driver-measured wall seconds
- run_s: sum of executorRunTime over all tasks (CPU-ish work)
- gc_s: sum of jvmGCTime
- deser_s / ser_s: task (de)serialization
- sched_s: scheduler delay (launch - submit - run - ser/deser)
- occupancy: run_s / (wall * cores) — how full the cores actually were

Interpretation: if run_s itself grows 2→8 on the SAME input, each task
is burning more CPU at higher parallelism — memory-bandwidth / SMT /
steal contention, not a Spark-plan problem.  If run_s is flat but
occupancy drops, the pipeline has scheduling gaps / barriers.

Per-stage attribution of one spine call (spans per stage, rows, task
CPU, shuffle, spill) is ``perfbench/run.py --trace 1``.

Usage:  python jobs/profile_scaling.py [cores ...] [--pages N]
Prints one JSON line per level plus a summary table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_level(cores: int, n_pages: int) -> dict:
    from graph4code_spark.plans.pipeline import PipelineConfig, run_pipeline
    from graph4code_spark.session import get_spark, stop_all
    from graph4code_spark.synth import synth_pages

    evdir = tempfile.mkdtemp(prefix=f"spark-ev-{cores}-")
    spark = get_spark(
        f"profile-{cores}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(max(cores, 8)),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    t0 = time.time()
    pages = synth_pages(spark, n_pages, seed=42, partitions=max(64, n_pages // 250))
    with tempfile.TemporaryDirectory(prefix=f"g4c-profile-{cores}-") as out_dir:
        n = run_pipeline(spark, pages, PipelineConfig(out_dir=out_dir)).count()
    wall = time.time() - t0
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    stop_all()

    agg = {"run_ms": 0, "gc_ms": 0, "deser_ms": 0, "ser_ms": 0,
           "sched_ms": 0, "tasks": 0, "shuf_w_ms": 0, "fetch_ms": 0}
    stage_names: dict[int, str] = {}
    stage_run: dict[int, int] = {}
    ev_files = [
        os.path.join(root, fn)
        for root, _dirs, fns in os.walk(evdir)
        for fn in fns
        if not fn.startswith("appstatus_")
    ]
    for path in ev_files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                if ev.get("Event") == "SparkListenerStageCompleted":
                    si = ev.get("Stage Info") or {}
                    stage_names[si.get("Stage ID", -1)] = (
                        si.get("Stage Name", "?").split("\n")[0][:70]
                    )
                    continue
                if ev.get("Event") != "SparkListenerTaskEnd":
                    continue
                tm = ev.get("Task Metrics") or {}
                ti = ev.get("Task Info") or {}
                stage_run[ev.get("Stage ID", -1)] = (
                    stage_run.get(ev.get("Stage ID", -1), 0)
                    + tm.get("Executor Run Time", 0)
                )
                run = tm.get("Executor Run Time", 0)
                deser = tm.get("Executor Deserialize Time", 0)
                ser = tm.get("Result Serialization Time", 0)
                dur = max(0, ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
                agg["tasks"] += 1
                agg["run_ms"] += run
                agg["gc_ms"] += tm.get("JVM GC Time", 0)
                agg["deser_ms"] += deser
                agg["ser_ms"] += ser
                agg["sched_ms"] += max(0, dur - run - deser - ser)
                agg["shuf_w_ms"] += (
                    (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Write Time", 0)
                    // 1_000_000  # ns -> ms
                )
                agg["fetch_ms"] += (
                    (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
                )
    shutil.rmtree(evdir, ignore_errors=True)
    out = {
        "cores": cores, "pages": n_pages, "triples": n,
        "wall_s": round(wall, 2),
        "run_s": round(agg["run_ms"] / 1000, 1),
        "gc_s": round(agg["gc_ms"] / 1000, 1),
        "deser_s": round(agg["deser_ms"] / 1000, 1),
        "ser_s": round(agg["ser_ms"] / 1000, 1),
        "sched_s": round(agg["sched_ms"] / 1000, 1),
        "shuf_w_s": round(agg["shuf_w_ms"] / 1000, 1),
        "fetch_s": round(agg["fetch_ms"] / 1000, 1),
        "tasks": agg["tasks"],
        "occupancy": round(agg["run_ms"] / 1000 / (wall * cores), 3),
        "top_stages": [
            {"stage": sid, "name": stage_names.get(sid, "?"),
             "run_s": round(ms / 1000, 1)}
            for sid, ms in sorted(stage_run.items(), key=lambda kv: -kv[1])[:5]
        ],
    }
    print(json.dumps(out), flush=True)
    return out


def main() -> None:
    args = [a for a in sys.argv[1:]]
    pages = 32000
    cores_list = []
    i = 0
    while i < len(args):
        if args[i] == "--pages":
            pages = int(args[i + 1]); i += 2
        else:
            cores_list.append(int(args[i])); i += 1
    cores_list = cores_list or [2, 8]
    results = []
    for c in cores_list:
        # fresh subprocess per level: JVM heap/JIT state must not leak
        # between levels
        out = os.popen(
            f"{sys.executable} {os.path.abspath(__file__)} --one {c} "
            f"--pages {pages}"
        ).read()
        line = [l for l in out.strip().splitlines() if l.startswith("{")][-1]
        results.append(json.loads(line))
    print(json.dumps({"levels": results}))


if __name__ == "__main__":
    if "--one" in sys.argv:
        idx = sys.argv.index("--one")
        cores = int(sys.argv[idx + 1])
        pages = int(sys.argv[sys.argv.index("--pages") + 1])
        run_level(cores, pages)
    else:
        main()
