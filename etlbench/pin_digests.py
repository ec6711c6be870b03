#!/usr/bin/env python3
"""Pins the corpus_clean output digest of seeds 0..N-1 into
corpus_digests.json, for the current generator. Run it at a commit whose
c01 output is trusted; a run on a pinned seed then checks against it.

    python3 etlbench/pin_digests.py 100
"""
import json
import os
import re
import shutil
import sys

import run

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    n = int(sys.argv[1])
    classes = run.build.build()
    dirs = {str(seed): run.inputs("corpus", seed) for seed in range(n)}
    work = os.path.join(run.build.STATE, "pin-work")
    shutil.rmtree(work, ignore_errors=True)
    log = os.path.join(run.build.STATE, "pin.log")
    run.java(classes, "graft.etlbench.PinDigests", [work] + list(dirs.values()),
             log, 60 * 60, os.path.join(work, "tmp"))
    with open(log) as f:
        by_dir = dict(m.groups() for m in re.finditer(r"^(\S+) ([0-9a-f]{64})$", f.read(), re.M))
    shutil.rmtree(work, ignore_errors=True)
    digests = {seed: by_dir[d] for seed, d in dirs.items()}
    with open(os.path.join(HERE, "corpus_digests.json"), "w") as f:
        json.dump({"generator": run.generator_key(), "digests": digests}, f, indent=1)
        f.write("\n")
    print(f"pinned {len(digests)} seeds")


if __name__ == "__main__":
    main()
