"""Pin the oracle's expected outputs for every workload's corpora.

    python3 perfbench/pin.py [--processes N] [workload ...]

Run from the repository root. For each workload (all when none is named)
and each of the pinned corpora it runs the single-node oracle of
plans/oracle.py and writes ``perfbench/expected/<workload>.json``: the
digest of every table the workload writes, and the oracle's triple
precision and recall against the generator's gold triples. Rerun it only
when a change to the program's output is intended.
"""

import argparse
import json
import multiprocessing
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())


def _entry(job):
    from kgbench.expected import pin_entry
    from kgbench.workloads import WORKLOADS

    name, seed = job
    wl = WORKLOADS[name]
    t = time.perf_counter()
    entry = pin_entry(wl.aggregator, wl.corpus, seed)
    print(f"{name} seed {seed}: {entry} ({time.perf_counter() - t:.1f}s)", flush=True)
    return entry


def main() -> None:
    from kgbench.expected import N_CORPORA, PIN_DIR, pin_path
    from kgbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--processes", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("workloads", nargs="*", default=sorted(WORKLOADS))
    args = ap.parse_args()
    jobs = [(name, seed) for name in args.workloads for seed in range(N_CORPORA)]
    with multiprocessing.get_context("spawn").Pool(args.processes) as pool:
        entries = dict(zip(jobs, pool.map(_entry, jobs, chunksize=1)))
    os.makedirs(PIN_DIR, exist_ok=True)
    for name in args.workloads:
        corpus = WORKLOADS[name].corpus
        pins = {"n_docs": corpus.n_docs,
                "seeds": {str(s): entries[(name, s)] for s in range(N_CORPORA)}}
        with open(pin_path(name), "w") as fd:
            json.dump(pins, fd, indent=1, sort_keys=True)
            fd.write("\n")


if __name__ == "__main__":
    main()
