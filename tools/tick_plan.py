#!/usr/bin/env python3
"""Dump the physical plan of one E1 daily tick's window write, with the
run-varying ids masked, so two checkouts can be compared with `diff`.

    python3 tools/tick_plan.py --seed 3 --today 2026-01-12 --out e1_tick.txt

It builds the checkout it lives in the way the benchmark does
(etlbench/build.py), generates or reuses the benchmark's billing lake for
the seed, compiles tools/TickPlan.scala against that build with Spark's
scalac, runs one `Launcher.runDaily` on local[4] and writes the formatted
plan of every committed file write, masked: expression ids (`#123`),
`plan_id=`, the tick's bound `etl_time`, the lake and work paths.
"""
import argparse
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "etlbench"))

import build  # noqa: E402
import run  # noqa: E402


def mask(text, work, data):
    text = text.replace(work, "<work>").replace(data, "<data>")
    text = re.sub(r"boundtimestamp\(\d+\)", "boundtimestamp(N)", text)
    text = re.sub(r"#\d+", "#N", text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    return re.sub(r"\[id=#?\w+\]", "[id=N]", text)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--today", default="2026-01-12")
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    classes = build.build()
    data = run.inputs("billing", a.seed)
    work = tempfile.mkdtemp(prefix="tick_plan_")
    try:
        jars = os.path.join(build.spark_jars(), "*")
        compiler = [os.path.join(build.spark_jars(), j) for j in sorted(os.listdir(build.spark_jars()))
                    if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
        tool = os.path.join(work, "classes")
        os.makedirs(tool)
        subprocess.run(["java", "-Xss4m", "-Xmx1g", "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tool,
                        "-cp", os.pathsep.join([classes, jars]),
                        os.path.join(ROOT, "tools", "TickPlan.scala")], check=True)
        raw = os.path.join(work, "plan.txt")
        subprocess.run(["java"] + run.JVM_OPTS + [f"-Djava.io.tmpdir={work}", "-cp",
                        os.pathsep.join([tool, classes, jars]), "graft.tools.TickPlan",
                        data, work, a.today, str(a.cores), raw], check=True, cwd=work)
        with open(raw) as f:
            text = mask(f.read(), work, data)
        with open(a.out, "w") as f:
            f.write(text)
        print(f"tick_plan: {a.out}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
