"""tools/wave_anatomy.py's split of a repetition into busy and idle time,
on a made-up event log."""

import json

from tools.wave_anatomy import anatomy, read_event_log


def _job_start(job, t, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": t, "Stage IDs": stages,
            "Stage Infos": [{"Stage ID": s, "Stage Name": f"stage {s}"}
                            for s in stages]}


def _task_end(stage, lo, hi):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": lo, "Finish Time": hi}}


def test_overlapping_jobs_and_tasks(tmp_path):
    events = [
        _job_start(0, 1010, [0, 1]), _task_end(0, 1020, 1100),
        _task_end(1, 1050, 1120),
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1130},
        # starts while job 0 still runs
        _job_start(1, 1080, [2]), _task_end(2, 1090, 1150),
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 1160},
        _job_start(2, 1200, [3]), _task_end(3, 1210, 1240),
        {"Event": "SparkListenerJobEnd", "Job ID": 2,
         "Completion Time": 1250},
        # outside the window
        _job_start(3, 2000, [4]), _task_end(4, 2000, 2100),
    ]
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    (log_dir / "local-1").write_text(
        "".join(json.dumps(e) + "\n" for e in events))
    jobs, tasks = read_event_log(str(log_dir))
    a = anatomy(jobs, tasks, 1000, 1300)
    # tasks cover 1020-1150 and 1210-1240
    assert (a["wall_ms"], a["busy_ms"], a["idle_ms"]) == (300, 160, 140)
    assert [(j["start_ms"], j["gap_ms"], j["dur_ms"], j["tasks"])
            for j in a["jobs"]] == [(10, 10, 120, 2), (80, -50, 80, 1),
                                    (200, 40, 50, 1)]
    assert a["jobs"][0]["stage"] == "stage 1"
