"""Command line driver: set up, measure one workload, check, report.

    python3 perfbench/run.py --workload kg_majority --seed 1 --seconds 30 --trace 0

Run from the repository root. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``;
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
separate traced run with ``--trace 1``. The process exits 1 when any job
raised or wrote output whose digest differs from the pinned oracle
digest, or whose triple precision or recall is below the workload's
floor.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

PACKAGE = "weak_supervision_for_ner_spark"
# G1 sizes the heap and its young generation from GC pause times, which
# vary with the load on a shared host: four identical runs committed
# 1.5 to 3.1 GB of heap. A heap fixed at the program's maximum (the
# default driver memory of config.get_spark) and a fixed young generation
# make the JVM's resident size follow what the old generation holds,
# such as persisted blocks, instead.
HEAP = "8g"
YOUNG_GEN = "512m"
# distinct corpora a measuring run stages; successive jobs read them in
# turn, so no job repeats the documents of the one before
CORPORA_PER_RUN = 4


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def start_session(root: str, work: str, cores: int, event_dir: str | None):
    """A fresh local[cores] session through the package's own factory,
    with Spark scratch (and the event log, when traced) under ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the same string hashing in every run and every Python worker
    os.environ["PYTHONHASHSEED"] = "0"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Xmn{YOUNG_GEN}"}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    from weak_supervision_for_ner_spark.config import get_spark

    spark = get_spark("kgbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until it and every Python worker
    it started have exited."""
    from pyspark import SparkContext

    from kgbench.procmem import descendants

    gateway = SparkContext._gateway
    proc = gateway.proc
    pids = [proc.pid, *descendants(proc.pid)]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on end of its stdin
    proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.05)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fd:
            return fd.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def sink_files(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under a sink directory."""
    n_bytes = n_files = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            if name.startswith("part-"):
                n_bytes += os.path.getsize(os.path.join(base, name))
                n_files += 1
    return n_bytes, n_files


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


class Checker:
    """Compares each job's output tables with the pinned digests of its
    corpus and scores triples against the generator's gold relations."""

    def __init__(self, pins: dict[int, dict], golds: dict[int, set], floor: float):
        self.pins = pins
        self.golds = golds
        self.floor = floor
        self.precision: list[float] = []
        self.recall: list[float] = []

    def __call__(self, gseed: int, tables: dict[str, list]) -> bool:
        from kgbench.digest import digest, precision_recall

        ok = True
        expected = self.pins[gseed]["digests"]
        for name, rows in tables.items():
            got = digest(rows)
            if got != expected[name]:
                log(f"DIGEST MISMATCH {name} on corpus {gseed}: got {got}, "
                    f"pinned {expected[name]}")
                ok = False
        p, r = precision_recall(tables["graph"], self.golds[gseed])
        self.precision.append(p)
        self.recall.append(r)
        if p < self.floor or r < self.floor:
            log(f"TRIPLE QUALITY BELOW {self.floor} on corpus {gseed}: "
                f"precision {p:.4f} recall {r:.4f}")
            ok = False
        return ok


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        log(f"error: run from the repository root; no {PACKAGE}/ in {root}")
        return 2
    sys.path.insert(0, root)

    from kgbench.expected import corpus_seeds, pinned
    from kgbench.metrics import END_TO_END, PER_LAYER, units
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"error: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    # the traced run times one job on one corpus
    gseeds = corpus_seeds(args.seed, 1 if args.trace else CORPORA_PER_RUN)
    pins = pinned(wl.name, wl.corpus)
    check = Checker(pins, {g: wl.corpus.gold(g) for g in gseeds}, wl.pr_floor)
    log(f"corpora of generator seeds {gseeds}")

    work = os.path.join(root, ".bench_work", f"{wl.name}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    event_dir = os.path.join(work, "events") if args.trace else None
    try:
        result = run_session(wl, args, gseeds, root, work, cores, event_dir, check)
        if args.trace:
            from kgbench.traced import engine_metrics

            result["metrics"].update(engine_metrics(event_dir))
    except Exception:  # noqa: BLE001 — report the failed run, then exit non-zero
        traceback.print_exc()
        result = {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if not result:
        return 1
    table = units(PER_LAYER if args.trace else END_TO_END)
    values = result["metrics"]
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in table.items()}
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    correct = result["failed"] == 0
    print(f"error_rate = {result['failed'] / result['attempted']:.6g} "
          f"({result['failed']} failed of {result['attempted']} attempted)")
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}), flush=True)
    return 0 if correct else 1


def run_session(wl, args, gseeds: list[int], root: str, work: str, cores: int, event_dir,
                check) -> dict:
    """Set up a fresh session, measure (or trace) the workload, and stop
    the session and every process it started."""
    from kgbench.expected import N_CORPORA
    from kgbench.procmem import PeakRss

    t0 = time.perf_counter()
    spark = start_session(root, work, cores, event_dir)
    session_s = time.perf_counter() - t0
    try:
        with PeakRss(jvm_pid()) as mem:
            pages = {g: os.path.join(work, f"pages-{g}") for g in gseeds}

            def warm_up(start: float) -> float:
                # a corpus of the measured size from a seed of no pinned
                # corpus: code paths and per-worker state get warm, no
                # measured content does
                warm = os.path.join(work, "warm-pages")
                wl.corpus.stage(spark, N_CORPORA + gseeds[0], warm)
                wl.run(spark, warm, os.path.join(work, "warm-out"))
                return time.perf_counter() - start

            # staging and the warm-up are independent jobs: side by side
            # they share the session's cold start
            t = time.perf_counter()
            with ThreadPoolExecutor(1) as pool:
                warming = pool.submit(warm_up, t)
                for g, path in pages.items():
                    wl.corpus.stage(spark, g, path)
                stage_s = time.perf_counter() - t
                warmup_s = warming.result()
            setup_s = time.perf_counter() - t0
            log(f"setup {setup_s:.2f}s: session {session_s:.2f}s, then staging "
                f"{stage_s:.2f}s beside warm-up {warmup_s:.2f}s")

            if args.trace:
                from kgbench.traced import traced_run

                return traced_run(wl, spark, gseeds[0], pages[gseeds[0]], work, check, root,
                                  args.seed)
            result = measure(wl, spark, pages, work, check, args.seconds)
        log(f"peak rss {mem.peak_mb():.0f} MB over {len(mem.peak_kb)} processes "
            f"(MB: {sorted(round(kb / 1024) for kb in mem.peak_kb.values())})")
        result["metrics"].update(setup_s=setup_s, peak_rss_mb=mem.peak_mb())
        return result
    finally:
        stop_session(spark)


def measure(wl, spark, pages: dict[int, str], work: str, check, seconds: float) -> dict:
    """Closed loop, one client: run a job, check it, and start the next
    one only if it should end within ``seconds`` of the first start.
    Successive jobs read the run's corpora in turn."""
    walls = []
    attempted = failed = 0
    order = list(pages)
    start = time.perf_counter()
    while True:
        gseed = order[attempted % len(order)]
        out = os.path.join(work, f"out-{attempted}")
        attempted += 1
        try:
            t = time.perf_counter()
            wl.run(spark, pages[gseed], out)
            wall = time.perf_counter() - t
            ok = check(gseed, wl.read_tables(spark, out))
        except Exception:  # noqa: BLE001 — a raising job is a failed attempt
            traceback.print_exc()
            ok = False
        shutil.rmtree(out, ignore_errors=True)
        if not ok:
            failed += 1
            break
        walls.append(wall)
        log(f"job {attempted} (corpus {gseed}): {wall:.2f}s")
        if time.perf_counter() - start + statistics.median(walls) > seconds:
            break
    docs_per_s = [wl.corpus.n_docs / w for w in walls]
    q1, med, q3 = quartiles(docs_per_s)
    log(f"docs_per_s median {med:.1f} [q1 {q1:.1f}, q3 {q3:.1f}] over {len(walls)} jobs")
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "docs_per_s": med,
            "triple_precision": statistics.median(check.precision) if check.precision else 0.0,
            "triple_recall": statistics.median(check.recall) if check.recall else 0.0,
        },
    }
