"""Span-to-job attribution on a small synthetic Spark event log."""

from spans import Span, Tracer, rollup, self_times

T = 1_800_000_000.0  # epoch seconds; event times are epoch milliseconds


def ms(t):
    return int(round((T + t) * 1000))


def job(jid, start, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": ms(start),
         "Stage IDs": stages},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": ms(end)},
    ]


def stage(sid, submitted):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid, "Submission Time": ms(submitted)}}


def task(sid, launch, cpu_ns=0, py_sent=0, py_s_ms=0, shuffle_write=0, out_bytes=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid,
        "Task Info": {"Launch Time": ms(launch), "Accumulables": [
            {"Name": "data sent to Python workers", "Update": str(py_sent)},
            {"Name": "time to run Python workers", "Update": py_s_ms},
        ]},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Output Metrics": {"Bytes Written": out_bytes},
        },
    }


def spans():
    # build [0, 10] holds a nested extend [4, 6]; query [12, 13]
    return [
        Span(0, "build.build_index", T + 0, T + 10, None, "w", "timed"),
        Span(1, "build.extend_index", T + 4, T + 6, 0, "w", "timed"),
        Span(2, "query.batch_query", T + 12, T + 13, None, "w", "timed"),
    ]


def test_jobs_go_to_the_innermost_open_span():
    events = (
        job(0, 1, 3, [0]) + [stage(0, 1.5), task(0, 2.0, cpu_ns=2_000_000_000)]
        + job(1, 4.5, 5.5, [1, 2]) + [stage(1, 4.6), task(1, 4.8, shuffle_write=100),
                                      stage(2, 5.0), task(2, 5.0, out_bytes=7)]
        + job(2, 12.2, 12.8, [3]) + [stage(3, 12.2), task(3, 12.3, py_sent=42, py_s_ms=250)]
        + job(3, 11.0, 11.5, [4]) + [stage(4, 11.0), task(4, 11.1)]  # between spans
    )
    c = rollup(spans(), events)
    assert (c[0].jobs, c[0].tasks) == (1, 1)
    assert abs(c[0].task_cpu_s - 2.0) < 1e-9
    assert abs(c[0].task_wait_s - 0.5) < 1e-6
    assert (c[1].jobs, c[1].tasks) == (1, 2)       # nested span, not its parent
    assert (c[1].shuffle_write_bytes, c[1].output_bytes) == (100, 7)
    assert abs(c[1].job_s - 1.0) < 1e-6
    assert (c[2].python_bytes, c[2].python_s) == (42, 0.25)
    assert abs(c[2].gc_s - 0.005) < 1e-9
    assert sum(x.jobs for x in c.values()) == 3    # job 3 ran outside every span


def test_job_time_is_the_union_of_overlapping_jobs():
    events = job(0, 1, 3, [0]) + job(1, 2, 4, [1]) + job(2, 7, 8, [2])
    c = rollup(spans(), events)
    assert abs(c[0].job_s - 4.0) < 1e-6            # [1,4] and [7,8]


def test_a_skipped_stage_stays_with_the_job_that_ran_it():
    events = (job(0, 1, 2, [0]) + [stage(0, 1.1)]
              + job(1, 12.1, 12.5, [0, 1]) + [stage(1, 12.1), task(1, 12.2), task(0, 1.2)])
    c = rollup(spans(), events)
    assert c[0].tasks == 1 and c[2].tasks == 1


def test_self_time_subtracts_children():
    st = self_times(spans())
    assert abs(st[0] - 8.0) < 1e-6 and abs(st[1] - 2.0) < 1e-6


def test_tracer_records_nesting_and_phase():
    tr = Tracer("w", enabled=True)
    with tr.span("a"):
        tr.phase = "timed"
        with tr.span("b"):
            pass
    assert [(s.name, s.parent, s.phase) for s in tr.spans] == [("a", None, "setup"), ("b", 0, "timed")]
    assert all(s.end >= s.start for s in tr.spans)
    off = Tracer("w", enabled=False)
    with off.span("a"):
        pass
    assert off.spans == []
