"""Spine benchmark: one batch run of ``run_pipeline``, pages to quad table.

Run from the repository root:

    python3 perfbench/run.py --workload spine_cold --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 7 --seconds 10 --trace 1

One process, one ``local[nproc]`` session, one client: each timed
``run_pipeline`` call starts after the previous one has finished.  With
``--trace 0`` the last stdout line is the end-to-end result; with
``--trace 1`` it is the per-layer result of a separate traced call.  Every
call's output is checked (see ``check_output``); a failed check counts in
``failed``.  Workloads, metrics and the layer map are described in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext
from functools import reduce

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
N_PAGES = 300
PREP_REPEATS = 3
#: the stale-resume repro: two small corpora into one out_dir.  It runs in
#: every spine_resume run and in the traced spine_cold run.
STALE_PAGES, STALE_SEEDS = 30, (1, 2)
TRIPLE_FAMILIES = ["03_doc_triples", "04_forum_triples", "06_flow_triples", "08_sameas_triples"]
WORKLOADS = ("spine_cold", "spine_unique", "spine_resume")
RUN_LIMIT_S = 170


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------

def tree_memory_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants, from /proc.

    Python processes count their proportional set size: forked Python
    workers share most of the daemon's pages, and PSS counts a shared page
    once.  The JVM shares nothing with them and counts its resident size:
    walking its page tables for PSS every sample slows the pipeline."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        pid = int(entry)
        comm[pid] = stat[stat.index("(") + 1:stat.rindex(")")]
        parent[pid] = int(stat[stat.rindex(")") + 1:].split()[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    total = 0
    for pid in tree:
        try:
            if comm[pid] == "java":
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            else:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) * 1024 for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return total


class PeakRss:
    """Samples the driver's process tree in a thread while in a ``with``
    block.  ``peak`` is the highest level held for ``SUSTAIN`` consecutive
    samples, so a single-sample spike (seen in about one run in eight) does
    not decide the run's figure."""

    SUSTAIN = 3

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.samples: list[int] = []
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        pid = os.getpid()
        while True:
            self.samples.append(tree_memory_bytes(pid))
            if self._done.wait(self.interval_s):
                return

    @property
    def peak(self) -> int:
        k = min(self.SUSTAIN, len(self.samples))
        return max(min(self.samples[i:i + k]) for i in range(len(self.samples) - k + 1))

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join()


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------

def start_spark(nproc: int, event_dir: str | None):
    from graph4code_spark.session import get_spark

    conf = {
        # a fixed-size heap: without -Xms the JVM's resident size follows
        # G1's adaptive heap growth, which differs by +-20% run to run
        "spark.driver.memory": "2g",
        # jobs/run_pipeline.py sizes the shuffle the same way
        "spark.sql.shuffle.partitions": str(max(nproc, 8)),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions":
            f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# one pipeline call and its output check
# --------------------------------------------------------------------------

def run_once(spark, pages, out_dir: str, tracer=None) -> tuple[float, int]:
    """Time one ``run_pipeline`` call until the final quad table is counted."""
    from graph4code_spark.plans.pipeline import PipelineConfig, run_pipeline

    t0 = time.perf_counter()
    with tracer.span("plans.pipeline/run") if tracer else nullcontext() as span:
        n = run_pipeline(spark, pages, PipelineConfig(out_dir=out_dir)).count()
        if span is not None:
            span.rows_out = n
    return time.perf_counter() - t0, n


def check_output(spark, out_dir: str, n_returned: int) -> dict:
    """One pass over the final table and the four triple-family stage
    tables, grouped by quad: the final table has no duplicate quads, holds
    exactly the distinct union of the family tables, and has as many rows
    as the call counted.  ``digest`` is order-independent (xor of the
    deduplicated quads' hashes)."""
    from pyspark.sql import functions as F

    from graph4code_spark.materialize import read_triples
    from graph4code_spark.schemas import TRIPLE_COLS

    final = read_triples(spark, os.path.join(out_dir, "triples")).withColumn("in_final", F.lit(1))
    families = reduce(
        lambda a, b: a.unionByName(b),
        [spark.read.parquet(os.path.join(out_dir, s)).select(*TRIPLE_COLS) for s in TRIPLE_FAMILIES],
    ).withColumn("in_final", F.lit(0))
    per_quad = final.unionByName(families).groupBy(*TRIPLE_COLS).agg(
        F.sum("in_final").alias("copies"),
        (F.count(F.lit(1)) - F.sum("in_final")).alias("family_rows"),
    )
    row = per_quad.agg(
        F.sum("copies").alias("n"),
        F.count(F.when(F.col("copies") > 1, 1)).alias("duplicated"),
        F.count(F.when(F.col("copies") == 0, 1)).alias("missing"),
        F.count(F.when(F.col("family_rows") == 0, 1)).alias("extra"),
        F.bit_xor(F.when(F.col("copies") > 0, F.xxhash64(*TRIPLE_COLS))).alias("digest"),
    ).first()
    problems = []
    if row["n"] != n_returned:
        problems.append(f"table has {row['n']} quads, the call counted {n_returned}")
    if row["duplicated"]:
        problems.append(f"{row['duplicated']} quads appear more than once")
    if row["missing"]:
        problems.append(f"{row['missing']} quads of the triple-family tables are missing")
    if row["extra"]:
        problems.append(f"{row['extra']} quads are in no triple-family table")
    return {"n": int(row["n"] or 0), "digest": int(row["digest"] or 0), "problems": problems}


def table_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    sizes = [
        os.path.getsize(os.path.join(root, fn))
        for root, _dirs, fns in os.walk(path)
        for fn in fns
        if fn.endswith(".parquet")
    ]
    return sum(sizes), len(sizes)


def drop_final_table(out_dir: str) -> None:
    """Simulate a crash during materialize: the final table and its
    manifest entry are gone, stages 01-08 are intact."""
    shutil.rmtree(os.path.join(out_dir, "triples"), ignore_errors=True)
    path = os.path.join(out_dir, "manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    manifest.pop("triples", None)
    with open(path, "w") as f:
        json.dump(manifest, f)


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class Ledger:
    """Counts checked operations and names every failed one."""

    def __init__(self):
        self.attempted = 0
        self.failed_ops: list[str] = []
        self.known_defects: list[str] = []

    def record(self, what: str, problems: list[str], known_defect: bool = False) -> None:
        """``known_defect``: a probe of a defect the program still has; it
        counts as failed but does not make the measured outputs incorrect."""
        self.attempted += 1
        for p in problems:
            print(f"check {what}: FAIL: {p}", flush=True)
        if problems:
            (self.known_defects if known_defect else self.failed_ops).append(what)

    def result(self, metrics: dict) -> dict:
        return {
            "correct": not self.failed_ops,
            "attempted": self.attempted,
            "failed": len(self.failed_ops) + len(self.known_defects),
            "metrics": metrics,
        }


class Spine:
    """Set-up and timed calls of one workload in one session."""

    def __init__(self, spark, workload: str, seed: int, ledger: Ledger):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.ledger = ledger
        self.pages_path = os.path.join(WORK, "pages")
        self.out_dir = os.path.join(WORK, "out")
        self.reference_digest: int | None = None
        self.n_calls = 0

    def prepare_inputs(self) -> None:
        from perfbench.pages import PAGES_SCHEMA, write_pages

        shutil.rmtree(self.pages_path, ignore_errors=True)
        self.pages_pdf = write_pages(self.pages_path, N_PAGES, self.seed,
                                     unique=self.workload == "spine_unique")
        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir)
        self.pages = self.spark.read.schema(PAGES_SCHEMA).parquet(self.pages_path)

    def fill(self) -> float:
        """spine_resume: the untimed run that fills stages 01-08 from an
        empty out_dir.  Its digest is what every resumed run must give."""
        wall, n = run_once(self.spark, self.pages, self.out_dir)
        self._check("fill", n)
        return wall

    def timed_call(self, tracer=None) -> tuple[float, int]:
        if self.workload == "spine_resume":
            drop_final_table(self.out_dir)
        else:
            shutil.rmtree(self.out_dir, ignore_errors=True)
        wall, n = run_once(self.spark, self.pages, self.out_dir, tracer)
        self.n_calls += 1
        self._check(f"call_{self.n_calls}", n)
        return wall, n

    def _check(self, what: str, n_returned: int) -> None:
        result = check_output(self.spark, self.out_dir, n_returned)
        problems = list(result["problems"])
        if self.reference_digest is None:
            self.reference_digest = result["digest"]
        elif result["digest"] != self.reference_digest:
            problems.append("digest differs from the first run over the same pages")
        self.ledger.record(what, problems)

    def timed_loop(self, seconds: float) -> tuple[list[float], list[int]]:
        walls, counts = [], []
        t_end = time.perf_counter() + seconds
        while not walls or time.perf_counter() < t_end:
            wall, n = self.timed_call()
            walls.append(wall)
            counts.append(n)
        return walls, counts

    def snippet_count(self) -> int:
        from graph4code_spark.sources.qa import parse_qa_page

        pdf = self.pages_pdf
        pages = (parse_qa_page(u, h.decode("utf-8")) for u, h in zip(pdf["url"], pdf["html"]))
        return sum(len(p["codes"]) for p in pages if p is not None)


def stale_resume_check(spark, ledger: Ledger) -> dict:
    """ROADMAP P0 repro: ``synth_pages(30, seed=1)`` then ``seed=2`` into one
    out_dir, against a fresh seed-2 run.  Fails while resume is stale."""
    from graph4code_spark.synth import synth_pages

    shared = os.path.join(WORK, "stale_shared")
    fresh = os.path.join(WORK, "stale_fresh")
    first, second = STALE_SEEDS
    run_once(spark, synth_pages(spark, STALE_PAGES, seed=first), shared)
    _, n_reused = run_once(spark, synth_pages(spark, STALE_PAGES, seed=second), shared)
    _, n_fresh = run_once(spark, synth_pages(spark, STALE_PAGES, seed=second), fresh)
    reused = check_output(spark, shared, n_reused)
    fresh_out = check_output(spark, fresh, n_fresh)
    ledger.record("stale_resume_fresh_run", fresh_out["problems"])
    problems = list(reused["problems"])
    if reused["digest"] != fresh_out["digest"]:
        problems.append(
            f"seed {second} into an out_dir used by seed {first} returned {reused['n']} quads,"
            f" a fresh seed-{second} run {fresh_out['n']}"
        )
    ledger.record("stale_resume", problems, known_defect=True)
    return {"reused_quads": reused["n"], "fresh_quads": fresh_out["n"], "passed": not problems}


# --------------------------------------------------------------------------
# provenance
# --------------------------------------------------------------------------

def provenance(args, nproc: int, n_snippets: int, tracer_own_s: float | None) -> dict:
    import pyarrow
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "graph4code_spark")
    for root, dirs, fns in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(fns):
            if fn.endswith(".py"):
                with open(os.path.join(root, fn), "rb") as f:
                    digest.update(f.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "clients": 1,
        "loop": "closed",
        "pages": N_PAGES,
        "snippets": n_snippets,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "git_commit": commit,
        "source_sha256": digest.hexdigest()[:16],
        # traced runs only: the tracer's own bookkeeping time.  The full
        # overhead (event log included) is printed by --workload all --trace 1
        "tracer_own_s": tracer_own_s,
    }


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_workload(args) -> dict:
    nproc = len(os.sched_getaffinity(0))
    event_dir = os.path.join(WORK, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    ledger = Ledger()

    t0 = time.perf_counter()
    spark = start_spark(nproc, event_dir)
    session_s = time.perf_counter() - t0
    try:
        spine = Spine(spark, args.workload, args.seed, ledger)
        prep = []
        for _ in range(PREP_REPEATS):
            t0 = time.perf_counter()
            spine.prepare_inputs()
            prep.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(prep)
        if args.workload == "spine_resume":
            setup_s += spine.fill()

        if args.trace:
            from perfbench.trace import Tracer

            # the traced call sits where an untraced run's first timed call sits
            tracer = Tracer(spark)
            with tracer.installed():
                spine.timed_call(tracer)
        else:
            with PeakRss() as rss:
                walls, counts = spine.timed_loop(args.seconds)
        out_bytes, n_files = table_bytes(os.path.join(spine.out_dir, "triples"))
        with open(os.path.join(spine.out_dir, "triples", "_metrics.json")) as f:
            n_partitions = json.load(f)["n_partitions"]
        if args.workload == "spine_resume" or (args.trace and args.workload == "spine_cold"):
            print(f"stale_resume: {stale_resume_check(spark, ledger)}", flush=True)
    finally:
        stop_spark(spark)

    n_snippets = spine.snippet_count()
    if not args.trace:
        wall_s = statistics.median(walls)
        print(
            f"{args.workload}: wall_s median of {len(walls)} timed calls {wall_s:.3f} s,"
            f" quads {counts[-1]}, setup_s {setup_s:.3f} s (session {session_s:.3f} s,"
            f" input median of {PREP_REPEATS} {statistics.median(prep):.3f} s)",
            flush=True,
        )
        print(json.dumps({"provenance": provenance(args, nproc, n_snippets, None)}), flush=True)
        return ledger.result({
            "wall_s": _metric(wall_s, "s"),
            "triples_per_s": _metric(statistics.median(counts) / wall_s, "1/s"),
            "setup_s": _metric(setup_s, "s"),
            "output_mb": _metric(out_bytes / 1e6, "MB"),
            "peak_rss_mb": _metric(rss.peak / 1e6, "MB"),
        })

    from perfbench.trace import layer_metrics, read_task_metrics

    layers = layer_metrics(tracer.spans, read_task_metrics(event_dir))
    layers.update(run_probe(spine.pages_pdf, args.seed))
    layers["materialize.output_files"] = n_files
    layers["materialize.partitions"] = n_partitions
    layers["trace.own_s"] = tracer.own_s
    print(json.dumps({"provenance": provenance(args, nproc, n_snippets, tracer.own_s)}), flush=True)
    units = {"_s": "s", "_mb": "MB", "ms_per_page": "ms", "ms_per_snippet": "ms", "_ratio": "ratio"}
    return ledger.result({
        k: _metric(v, next((u for sfx, u in units.items() if k.endswith(sfx)), "count"))
        for k, v in sorted(layers.items())
    })


def run_probe(pdf, seed: int) -> dict[str, float]:
    """Probe the workload's pages, then their unique-snippet variant."""
    from perfbench.pages import uniquify_pages
    from perfbench.probe import probe_pages

    def probe(pages):
        return probe_pages(list(pages["url"]), [h.decode("utf-8") for h in pages["html"]])

    out = probe(pdf)
    unique = probe(uniquify_pages(pdf, seed))
    for k in ("flows.ms_per_page", "flows.ms_per_snippet", "flows.distinct_snippet_ratio"):
        out[f"probe.unique.{k}"] = unique[f"probe.{k}"]
    return out


def run_all(args) -> int:
    """Every workload, one subprocess per run, as a table.  With
    ``--trace 1`` each workload also gets a traced run, and the tracing
    overhead is printed: the traced call's wall time minus ``wall_s``."""

    def run(name: str, trace: int) -> dict | None:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"{name} --trace {trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return None
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        print(f"{name} --trace {trace}: correct={res['correct']}"
              f" ops_attempted={res['attempted']} ops_failed={res['failed']}")
        for k, m in res["metrics"].items():
            print(f"  {k:<44} {m['value']:>14.4f} {m['unit']}")
        return res

    status = 0
    for name in WORKLOADS:
        untraced = run(name, 0)
        traced = run(name, 1) if args.trace else None
        if untraced is None or (args.trace and traced is None):
            status = 1
        elif traced is not None:
            overhead = (traced["metrics"]["plans.pipeline.wall_s"]["value"]
                        - untraced["metrics"]["wall_s"]["value"])
            print(f"{name}: tracing overhead {overhead:.3f} s (traced call minus untraced wall_s)")
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "graph4code_spark", "plans", "pipeline.py")):
        print(f"graph4code_spark not found under {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    def too_long(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, too_long)
    signal.alarm(RUN_LIMIT_S)
    # everything the run writes stays inside the checkout
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    try:
        result = run_workload(args)
    finally:
        signal.alarm(0)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
