"""The event-log parser on a small recorded zstd log (see data/make_eventlog.py)."""

import os

import eventlog

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.zstd")


def test_jobs_carry_their_span():
    log = eventlog.parse(LOG)
    spans = sorted(log.jobs.values(), key=lambda s: (s is None, s))
    # repartition+count runs two jobs under span 0 at most; the mapInArrow
    # count runs under span 1; the last job has no span
    assert 0 in spans and 1 in spans and None in spans
    assert all(st.job in log.jobs for st in log.stages.values())


def test_kernel_stage_goes_to_its_module():
    log = eventlog.parse(LOG)
    kernel_jobs = {st.job for st in log.stages.values() if st.kernel == "functions.sketch"}
    assert kernel_jobs and all(log.jobs[j] == 1 for j in kernel_jobs)
    stats = eventlog.layer_stats(
        log, {0: "sources.corpus", 1: "operators.dedup"}, {0: 7, 1: 7}, {7})
    # the job is the dedup layer's; the kernel stage's task time is the sketch layer's
    assert stats["operators.dedup"]["jobs"] >= 1
    assert stats["functions.sketch"]["task_s"] > 0
    assert stats["functions.sketch"]["jobs"] == 0
    assert stats["sources.corpus"]["shuffle_write_mb"] > 0
    for rec in stats.values():
        assert rec["task_skew"] >= 1.0
    # jobs outside the requested operations are left out
    assert eventlog.layer_stats(log, {0: "a", 1: "b"}, {0: 1, 1: 1}, {2}) == {}
