"""Per-round Spark job timeline of a traced benchmark run.

Reads the uncompressed event log and the spans file that
``perfbench/run.py --trace 1`` leaves in ``.perfbench_work/`` and prints,
for each crawl round span (``engine.CrawlEngine.run_round``), its job
and task counts and every job's start and end in seconds relative to
the round span's start. Jobs submitted before the round but still
running when it starts are listed too (a speculative selection filling
across the round boundary shows up there), as are jobs that end after
the round does (marked ``>end``).

Usage (from the repository root, after a traced run):

    python3 perfbench/run.py --workload fresh_crawl --seed 1 --seconds 10 --trace 1
    python3 tools/round_timeline.py [--work .perfbench_work] [--last N]
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROUND_SPAN = "engine.CrawlEngine.run_round"


@dataclass
class Job:
    jid: int
    description: str
    start: float  # epoch seconds
    end: float | None = None
    stages: list[int] = field(default_factory=list)
    stage_tasks: dict[int, int] = field(default_factory=dict)

    @property
    def tasks(self) -> int:
        return sum(self.stage_tasks.values())


def read_jobs(log_dir: str) -> list[Job]:
    """Jobs with submission/completion times and per-stage task counts
    from an uncompressed Spark event log directory."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = Job(
                        jid,
                        props.get("spark.job.description") or "",
                        ev.get("Submission Time", 0) / 1000.0,
                        stages=list(ev.get("Stage IDs", [])),
                    )
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j.end = ev.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    j = jobs.get(stage_job.get(sid))
                    if j is not None:
                        j.stage_tasks[sid] = j.stage_tasks.get(sid, 0) + 1
    return sorted(jobs.values(), key=lambda j: (j.start, j.jid))


def read_rounds(spans_path: str) -> list[tuple[float, float]]:
    rounds = []
    with open(spans_path) as f:
        for line in f:
            s = json.loads(line)
            if s["name"] == ROUND_SPAN and s["end"] is not None:
                rounds.append((s["start"], s["end"]))
    return sorted(rounds)


def timeline(rounds, jobs) -> list[str]:
    out = []
    for k, (r0, r1) in enumerate(rounds):
        inside = [j for j in jobs if r0 <= j.start <= r1]
        carried = [j for j in jobs if j.start < r0 and (j.end or r0) > r0]
        out.append(
            f"round span {k}: {r1 - r0:.3f} s, {len(inside)} jobs, "
            f"{sum(j.tasks for j in inside)} tasks"
        )
        for j in carried + inside:
            end = "running" if j.end is None else f"{j.end - r0:8.3f}"
            mark = " >end" if j.end is None or j.end > r1 else ""
            tasks = "+".join(str(j.stage_tasks[s]) for s in j.stages if s in j.stage_tasks)
            out.append(
                f"  job {j.jid:4d} {j.start - r0:8.3f} -> {end}  "
                f"tasks {tasks or '0':<12s} {j.description or '(no description)'}{mark}"
            )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--work", default=os.path.join(ROOT, ".perfbench_work"),
                    help="the traced run's work directory")
    ap.add_argument("--last", type=int, default=0,
                    help="print only the last N round spans (0: all)")
    args = ap.parse_args(argv)
    rounds = read_rounds(os.path.join(args.work, "spans.jsonl"))
    jobs = read_jobs(os.path.join(args.work, "eventlog"))
    if args.last:
        rounds = rounds[-args.last:]
    print("\n".join(timeline(rounds, jobs)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
