"""Smoke self-test of the benchmark on tiny inputs.

    python3 perfbench/smoke_test.py

Runs every workload in BENCHMARK.json once untraced and once traced on a
60-document corpus, and fails unless each run exits 0, passes every
oracle check, and reports exactly the metrics BENCHMARK.json names. For
each traced run it recounts the cold iteration's tasks from the Spark
event log and compares them with the folded job groups. Also checks that
the benchmark refuses to run without the engine's sources.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def run(args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def cold_tasks_problem(workload: str) -> str | None:
    """The traced run's ``it0/`` job groups must hold exactly the tasks
    that ran for jobs of those groups in the one application (SparkContext)
    that ran the cold iteration."""
    sys.path.insert(0, HERE)
    from tracing import event_log_files, job_group

    with open(os.path.join(WORK, f"trace-{workload}.json"), encoding="utf-8") as f:
        groups = json.load(f)["groups"]
    folded = sum(r["tasks"] for g, r in groups.items() if g.startswith("it0/"))
    counts = []
    for path in event_log_files(os.path.join(WORK, f"eventlog-{workload}")):
        stage_group, ends, ran_it0 = {}, [], False
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                if ev["Event"] == "SparkListenerJobStart":
                    g = job_group(ev)
                    ran_it0 |= g.startswith("it0/")
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                elif ev["Event"] == "SparkListenerTaskEnd":
                    ends.append(ev["Stage ID"])
        if ran_it0:
            counts.append(sum(stage_group.get(s, "").startswith("it0/") for s in ends))
    if len(counts) != 1:
        return f"the cold iteration ran in {len(counts)} applications"
    if folded != counts[0]:
        return f"it0 groups fold {folded} tasks; its application ran {counts[0]}"
    return None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    names = {
        0: {m["name"] for m in bench["end_to_end"]},
        1: {m["name"] for m in bench["per_layer"]},
    }
    failures = []
    for w in bench["workloads"]:
        for trace in (0, 1):
            p = run(["--workload", w["name"], "--seed", "7", "--seconds", "1",
                     "--trace", str(trace), "--docs", "60"])
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            problems = []
            if p.returncode != 0:
                problems.append(f"exit {p.returncode}")
            if result.get("correct") is not True or result.get("failed") != 0:
                problems.append("oracle check failed")
            got = set(result.get("metrics", {}))
            if got != names[trace]:
                problems.append(f"metrics differ: missing {sorted(names[trace] - got)}, "
                                f"extra {sorted(got - names[trace])}")
            if trace and p.returncode == 0:
                problem = cold_tasks_problem(w["name"])
                if problem:
                    problems.append(problem)
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{w['name']} trace={trace}: {status}")
            if problems:
                failures.append((w["name"], trace))
                print(p.stderr[-3000:], file=sys.stderr)

    # a directory holding only BENCHMARK.json and perfbench/ must be refused
    os.makedirs(WORK, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=WORK) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(["--workload", bench["workloads"][0]["name"], "--seed", "1",
                 "--seconds", "1", "--trace", "0"], cwd=bare)
        refused = p.returncode != 0 and not p.stdout.strip()
        print(f"bare checkout: {'refused' if refused else 'FAIL: not refused'}")
        if not refused:
            failures.append(("bare", 0))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
