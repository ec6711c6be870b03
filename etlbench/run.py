#!/usr/bin/env python3
"""Production-path benchmark: one closed-loop client drives the program's
public batch entry points over seeded, generated inputs.

    python3 etlbench/run.py --workload daily_tick --seed 1 --seconds 10 --trace 0

Workloads: daily_tick (Launcher.runDaily), month_backfill (Jobs.runMonth),
corpus_clean (CorpusPipeline.c01CorpusClean). With --trace 0 it prints the
end-to-end metrics, with --trace 1 the per-layer ones; the last stdout line
is one JSON object. Output checks run outside the timed region; a failed
check makes the run incorrect and the exit code 1. See etlbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("daily_tick", "month_backfill", "corpus_clean")
# a fixed heap: a growing one sized itself by host load (peak RSS 1.55-1.92
# GB over five seeds, the loaded runs highest); the program's own use of
# memory shows in alloc_mb_per_op
HEAP = "2g"
DEADLINE_S = 170
# a run during which other processes used more than this share of the
# machine's CPU is flagged as under foreign load
FOREIGN_LIMIT = 0.10
BILLING_LAYERS = ("scan", "rulematch", "modes", "conform", "sink")
PER_LAYER = [
    ("scan.self_s", "s"), ("scan.rows", "count"), ("scan.mb", "MB"),
    ("rulematch.self_s", "s"), ("rulematch.jobs", "count"), ("rulematch.broadcasts", "count"),
    ("rulematch.unmatched_frac", "fraction"),
    ("modes.self_s", "s"), ("modes.cpu_s", "s"),
    ("conform.self_s", "s"),
    ("sink.self_s", "s"), ("sink.files", "count"), ("sink.bytes_per_row", "B/row"),
    ("sink.shuffle_mb", "MB"), ("sink.spill_mb", "MB"),
    ("pipeline.jobs_per_op", "count"), ("pipeline.driver_gap_s", "s"),
    ("pipeline.core_util", "fraction"), ("pipeline.gc_s", "s"), ("pipeline.jit_cpu_s", "s"),
    ("dedup.corpus_s", "s"), ("dedup.pairs_s", "s"), ("dedup.pairs_per_doc", "count"),
    ("dedup.keeper_s", "s"), ("dedup.keeper_jobs", "count"),
    ("text.quality_s", "s"), ("corpus.join_s", "s"),
    ("trace.overhead_frac", "fraction"),
]
JVM_OPTS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
    "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
    # the JIT's compiler threads live for the whole run, so the CPU each op
    # spends compiling can be read from them
    "-XX:-UseDynamicNumberOfCompilerThreads",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def java(classes, main, args, log, timeout, tmp):
    """Runs one JVM to completion; on a timeout or a signal it is killed and
    waited for before this process exits."""
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, main] + args
    with open(log, "w") as f:
        try:
            p = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=timeout, cwd=tmp)
        except subprocess.TimeoutExpired:
            fail(f"{main} did not finish within {timeout:.0f} s; log {log}")
    if p.returncode != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"{main} exited with {p.returncode}; log {log}:\n{tail}")


def generator_key():
    """Version of the generators: a digest of their source."""
    with open(gen.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def inputs(kind, seed):
    """Generated inputs for (kind, seed), made on first use and cached on
    disk under the generators' version."""
    d = os.path.join(build.STATE, "data", f"{kind}-{generator_key()}", str(seed))
    if not os.path.exists(os.path.join(d, "_GENERATED")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if kind == "billing":
            gen.billing(build.ROOT, seed, tmp)
        else:
            gen.corpus(seed, tmp)
        open(os.path.join(tmp, "_GENERATED"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def rows_per_op(workload):
    """Input rows one op consumes: fact rows in its slice, or documents."""
    return {"daily_tick": 5 * gen.ROWS_PER_DAY, "month_backfill": gen.DAYS * gen.ROWS_PER_DAY,
            "corpus_clean": gen.CORPUS_DOCS}[workload]


def pinned_digest(seed):
    """The c01 output digest pinned for this seed and generator, or None."""
    with open(os.path.join(HERE, "corpus_digests.json")) as f:
        pinned = json.load(f)
    if pinned.get("generator") != generator_key():
        return None
    return pinned["digests"].get(str(seed))


def git_head():
    if not os.path.exists(os.path.join(build.ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL).stdout.strip() or None
    except OSError:
        return None


def end_to_end(r, rows):
    ops = r["ops"]
    walls = [o["wall_s"] for o in ops]
    loop_s = sum(o["wall_s"] + o["clear_s"] for o in ops)
    tail, label, beyond = M.tail(walls)
    highest = M.highest_percentile_with(len(walls))
    return {
        "op_s_p50": (M.median(walls), "s", f"median of {len(walls)} ops"),
        "op_s_tail": (tail, "s", f"{label} of {len(walls)} ops, {beyond} beyond; highest "
                      f"percentile with 10 beyond: {'p%d' % highest if highest else 'none'}"),
        "rows_per_s": (rows * len(walls) / loop_s, "rows/s",
                       f"{rows * len(walls)} input rows in {loop_s:.3f} s"),
        # less the JIT compiler's threads: in a warm JVM, the CPU they spend
        # per op depends on when their queues drain, and it spread 0.28-0.37
        # between runs of the same corpus op, against 0.12-0.14 for the
        # other threads; it is reported as pipeline.jit_cpu_s instead
        "cpu_s_per_op": (M.median([o["cpu_s"] - o["thread_cpu_s"]["jit"] for o in ops]), "s",
                         "JVM process CPU of every thread but the JIT compiler's, median op; "
                         "medians an op: " + ", ".join(
                             f"{label} {M.median([o['thread_cpu_s'][k] for o in ops]):.2f} s"
                             for k, label in (("gc", "GC"), ("task", "Spark tasks"),
                                              ("jit", "JIT compiler (not counted)")))
                         + f", {M.median([o['codegen_compiles'] for o in ops]):g} Spark codegen "
                         f"compiles, {M.median([o['classes_loaded'] for o in ops]):g} classes "
                         "loaded"),
        "peak_rss_mb": (r["vmhwm_kb"] * 1024 / 1e6, "MB", "JVM VmHWM before the checks; "
                        f"peak heap in use after a GC {r['live_heap_mb']:.1f} MB"),
        "alloc_mb_per_op": (M.median([o["alloc_mb"] for o in ops]), "MB", "heap allocated, median op"),
        "setup_s": (r["setup_s"], "s", "session start and the first op, in the cold JVM"),
    }


def per_layer(r, untraced_walls):
    rounds = r["rounds"]
    layers = [p["name"] for p in rounds[0]["prefixes"]]
    by = {name: [next(p for p in rd["prefixes"] if p["name"] == name) for rd in rounds]
          for name in layers}

    def med(name, key):
        return M.median([s[key] for s in by[name]])

    walls = [med(n, "wall_s") for n in layers]
    selfs = dict(zip(layers, M.self_times(walls)))
    full = by[layers[-1]]
    out = {name: 0.0 for name, _ in PER_LAYER}
    out.update({
        "pipeline.jobs_per_op": med(layers[-1], "jobs"),
        "pipeline.driver_gap_s": M.median(
            [M.driver_gap(s["start_ms"], s["end_ms"], s["task_intervals_ms"]) / 1e3 for s in full]),
        "pipeline.core_util": M.median(
            [M.core_util(s["task_s"], s["wall_s"], r["cores"]) for s in full]),
        "pipeline.gc_s": med(layers[-1], "gc_s"),
        "pipeline.jit_cpu_s": M.median([o["thread_cpu_s"]["jit"] for o in r["ops"]]),
        "trace.overhead_frac": walls[-1] / M.median(untraced_walls) - 1.0,
    })
    out.update(r["layer_facts"])
    if layers == list(BILLING_LAYERS):
        out.update({
            "scan.self_s": selfs["scan"],
            "scan.rows": med("scan", "input_records"),
            "scan.mb": med("scan", "input_bytes") / 1e6,
            "rulematch.self_s": selfs["rulematch"],
            "rulematch.jobs": med("rulematch", "jobs") - med("scan", "jobs"),
            "rulematch.broadcasts": med("rulematch", "broadcast_jobs") - med("scan", "broadcast_jobs"),
            "modes.self_s": selfs["modes"],
            "modes.cpu_s": med("modes", "cpu_s") - med("rulematch", "cpu_s"),
            "conform.self_s": selfs["conform"],
            "sink.self_s": selfs["sink"],
            "sink.bytes_per_row": med("sink", "output_bytes") / max(1.0, med("sink", "output_records")),
            "sink.shuffle_mb": (med("sink", "shuffle_write_bytes")
                                - med("conform", "shuffle_write_bytes")) / 1e6,
            "sink.spill_mb": (med("sink", "spill_bytes") - med("conform", "spill_bytes")) / 1e6,
        })
    else:
        out.update({
            "dedup.corpus_s": selfs["dedup.corpus"],
            "dedup.pairs_s": selfs["dedup.pairs"],
            "dedup.keeper_s": selfs["dedup.keeper"],
            "dedup.keeper_jobs": med("dedup.keeper", "jobs") - med("dedup.pairs", "jobs"),
            "text.quality_s": walls[3],
            "corpus.join_s": walls[4] - walls[2] - walls[3],
        })
    units = dict(PER_LAYER)
    return {k: (out[k], units[k], "") for k, _ in PER_LAYER}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated run still kills and waits for its JVM (subprocess.run
    # does so on any exception, SystemExit included)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    deadline = time.time() + DEADLINE_S
    kind = "corpus" if a.workload == "corpus_clean" else "billing"
    data = inputs(kind, a.seed)

    run_dir = os.path.join(build.STATE, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    out = os.path.join(run_dir, "result.json")
    cores = nproc()
    tick = os.sysconf("SC_CLK_TCK")
    java(classes, "graft.etlbench.Main",
         [a.workload, data, work, str(a.seconds), str(a.trace), str(cores), out,
          gen.MONTH, (kind == "corpus" and pinned_digest(a.seed)) or "-"],
         os.path.join(run_dir, "jvm.log"), deadline - time.time(), os.path.join(work, "tmp"))
    with open(out) as f:
        r = json.load(f)

    checks = [(c["name"], c["ok"], c["detail"]) for c in r["checks"]]
    failed_checks = sum(1 for _, ok, _ in checks if not ok)
    attempted = 1 + r["warmup_ops"] + len(r["ops"]) + len(r["rounds"])
    failed = r["failed_ops"] + failed_checks

    measured = r["conditions"]["measured"]
    foreign_share = measured["foreign_busy_ticks"] / (r["measured_s"] * tick * cores)
    conditions = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": cores,
        "git_head": git_head(), "java": r["conditions"]["java"],
        "setup_ticks": r["conditions"]["setup"], "measured_ticks": measured,
        "foreign_share": round(foreign_share, 4), "foreign_load": foreign_share > FOREIGN_LIMIT,
        "spark_conf": r["conditions"]["spark_conf"],
    }
    with open(os.path.join(run_dir, "conditions.json"), "w") as f:
        json.dump(conditions, f, indent=1)

    if a.trace:
        shown = per_layer(r, [o["wall_s"] for o in r["ops"]])
    else:
        shown = end_to_end(r, rows_per_op(a.workload))
    for name, ok, detail in checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    print(f"failed_frac: {M.failed_frac(r['failed_ops'], failed_checks, attempted):.4f} "
          f"({r['failed_ops']} failed ops + {failed_checks} failed checks / {attempted} ops)")
    for name, (v, unit, note) in shown.items():
        print(f"{name}: {v:.6g} {unit}" + (f" ({note})" if note else ""))
    flag = " FOREIGN LOAD" if conditions["foreign_load"] else ""
    print(f"conditions: nproc={cores} foreign_share={foreign_share:.3f}{flag} "
          f"steal_ticks={measured['steal_ticks']} head={conditions['git_head']} seed={a.seed}")
    print(json.dumps({
        "correct": failed_checks == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in shown.items()},
    }))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
