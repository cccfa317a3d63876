"""r14 §1-style measurement: stage-level attribution for every headline
query.

For each headline query: run the noop sink 3x warm (after one untimed
warm rep), then pull per-stage metrics from the live UI REST API for the
jobs that ran inside the query's named job group. Reports, per query:

- wall (median of 3, noop sink)
- plan   (driver-side analyze+optimize+physical time on a fresh call)
- sum of task time across stages (executorRunTime)
- shuffle write bytes / read bytes
- input bytes read
- the 3 slowest stages with their name and task time

Usage: python tools/r14_profile_headline.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE, warm  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or HEADLINE

    import __spark_entry__ as entrymod
    from amonaly_detection_in_time_series_data_spark.session import get_spark

    spark = get_spark(
        app_name="r14-profile",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4049"},
    )
    sc = spark.sparkContext
    app_id = sc.applicationId
    base = f"http://localhost:4049/api/v1/applications/{app_id}"

    def rest(path: str):
        with urllib.request.urlopen(base + path, timeout=20) as r:
            return json.loads(r.read())

    warm(spark, sf_dir)

    out: dict[str, dict] = {}
    for name in names:
        fn = getattr(entrymod, f"q_{name}")
        # planning time on a fresh invocation
        t0 = time.perf_counter()
        fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
        plan_s = time.perf_counter() - t0

        # one untimed warm rep
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

        group = f"profile-{name}"
        sc.setJobGroup(group, name)
        walls = []
        job_ids: list[int] = []
        before_jobs = {j["jobId"] for j in rest("/jobs")}
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        sc.setJobGroup("", "")
        jobs = [
            j for j in rest("/jobs")
            if j["jobId"] not in before_jobs
            and j.get("jobGroup") == group
        ]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            try:
                for att in rest(f"/stages/{sid}"):
                    stages.append(att)
            except Exception:
                pass
        tot_run = sum(s.get("executorRunTime", 0) for s in stages)
        tot_cpu = sum(s.get("executorCpuTime", 0) for s in stages) / 1e6
        sw = sum(s.get("shuffleWriteBytes", 0) for s in stages)
        sr = sum(s.get("shuffleReadBytes", 0) for s in stages)
        inp = sum(s.get("inputBytes", 0) for s in stages)
        slow = sorted(
            stages, key=lambda s: -s.get("executorRunTime", 0)
        )[:4]
        out[name] = {
            "wall_med3": round(sorted(walls)[1], 3),
            "plan_s": round(plan_s, 3),
            "n_jobs_3rep": len(jobs),
            "n_stages_3rep": len(stages),
            "task_time_s_3rep": round(tot_run / 1000.0, 3),
            "cpu_time_s_3rep": round(tot_cpu / 1000.0, 3),
            "shuffle_write_mb": round(sw / 1e6, 2),
            "shuffle_read_mb": round(sr / 1e6, 2),
            "input_mb": round(inp / 1e6, 2),
            "slowest_stages": [
                {
                    "id": s["stageId"],
                    "task_s": round(s.get("executorRunTime", 0) / 1000.0, 3),
                    "tasks": s.get("numCompleteTasks", 0),
                    "shuf_w_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 2),
                    "shuf_r_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 2),
                    "name": (s.get("name") or "")[:90],
                }
                for s in slow
            ],
        }
        print(name, json.dumps(out[name]["slowest_stages"][:1]))

    path = os.path.join(REPO, "plans", os.environ.get("PROFILE_OUTDIR", "r14"), "profile_headline.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    # compact table
    print(f"{'query':22s} {'wall':>7} {'plan':>6} {'task_s':>7} "
          f"{'cpu_s':>7} {'shW_mb':>7} {'shR_mb':>7} {'in_mb':>7} {'jobs':>4}")
    for n, d in out.items():
        print(
            f"{n:22s} {d['wall_med3']:7.3f} {d['plan_s']:6.3f} "
            f"{d['task_time_s_3rep']:7.3f} {d['cpu_time_s_3rep']:7.3f} "
            f"{d['shuffle_write_mb']:7.2f} {d['shuffle_read_mb']:7.2f} "
            f"{d['input_mb']:7.2f} {d['n_jobs_3rep']:4d}"
        )


if __name__ == "__main__":
    main()
