"""Share of Spark task-thread CPU samples whose stack passes through a class.

Reads `jfr print --json --events jdk.ExecutionSample` output on stdin and
counts the samples taken on executor task threads ("Executor task launch
worker ..."), and how many of them have a frame whose class name contains
the given substring (default `SizeEstimator`):

    jfr print --json --events jdk.ExecutionSample run.jfr \
      | python3 tools/jfr_share.py SizeEstimator
"""
import json
import sys


def main():
    needle = sys.argv[1] if len(sys.argv) > 1 else "SizeEstimator"
    events = json.load(sys.stdin)["recording"]["events"]
    task = [e for e in events
            if "Executor task launch" in ((e["values"].get("sampledThread") or {}).get("javaName") or "")]

    def hit(e):
        frames = (e["values"].get("stackTrace") or {}).get("frames") or []
        return any(needle in (f["method"]["type"]["name"] or "") for f in frames)

    n = sum(1 for e in task if hit(e))
    share = 100.0 * n / len(task) if task else 0.0
    print(f"task-thread samples {len(task)}, with a {needle} frame {n} ({share:.1f} %)")


if __name__ == "__main__":
    main()
