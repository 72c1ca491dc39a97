"""Self-tests of the benchmark's own arithmetic: span self times, the
percentile sample rule and /proc parsing. Run with
``python3 -m pytest perfbench/tests -q``."""

import pytest

import procfs
import stats
from spans import Span, innermost_at, self_times, union_length


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], lo=2, hi=5) == 3
    assert union_length([(0, 1), (3, 4)], lo=1, hi=3) == 0
    assert union_length([]) == 0


def test_self_times_sum_to_root_duration():
    spans = [
        Span(0, "pass", 0.0, 10.0),
        Span(1, "pipeline", 1.0, 6.0, parent=0),
        Span(2, "plans.build", 1.5, 4.0, parent=1),
        Span(3, "operators.agg", 2.0, 3.0, parent=2),
        Span(4, "plans.action", 4.0, 5.5, parent=1),
        Span(5, "pipeline", 7.0, 9.0, parent=0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 2)
    assert st[1] == pytest.approx(5 - 2.5 - 1.5)
    assert st[2] == pytest.approx(2.5 - 1)
    assert st[3] == pytest.approx(1)
    assert sum(st.values()) == pytest.approx(spans[0].duration)


def test_self_time_clips_children_that_outrun_the_parent():
    spans = [Span(0, "a", 0.0, 4.0), Span(1, "b", 3.0, 6.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_innermost_at_picks_the_deepest_open_interval():
    spans = [
        Span(0, "pass", 0.0, 10.0),
        Span(1, "pipeline", 1.0, 6.0, parent=0),
        Span(2, "streaming", 2.0, 3.0, parent=1),
        Span(3, "pipeline", 7.0, 9.0, parent=0),
    ]
    assert innermost_at(spans, 2.5).id == 2
    assert innermost_at(spans, 4.0).id == 1
    assert innermost_at(spans, 6.5).id == 0
    assert innermost_at(spans, 11.0) is None


@pytest.mark.parametrize("n,expected", [
    (1, None), (99, None), (100, 90.0), (199, 90.0), (200, 95.0),
    (999, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond_it(n, expected):
    assert stats.tail_percentile(n) == expected


def test_summary_and_percentile():
    xs = [float(i) for i in range(1, 101)]
    s = stats.summary(xs)
    assert s["n"] == 100 and s["median"] == 50.5
    assert s["p90"] == pytest.approx(90.1)
    assert "p90" not in stats.summary(xs[:50])
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0


STAT = ("cpu  100 5 50 800 20 3 2 10 7 0\n"
        "cpu0 50 2 25 400 10 1 1 5 0 0\n")


def test_parse_cpu_line_and_shares():
    before = procfs.parse_cpu_line(STAT)
    assert before == {"user": 100, "nice": 5, "system": 50, "idle": 800,
                      "iowait": 20, "irq": 3, "softirq": 2, "steal": 10}
    after = dict(before, user=160, idle=820, iowait=30, steal=20)
    sh = procfs.host_shares(before, after)
    # deltas: user 60, idle 20, iowait 10, steal 10 -> total 100
    assert sh.steal_share == pytest.approx(0.10)
    assert sh.iowait_share == pytest.approx(0.10)
    assert sh.cpu_util == pytest.approx(0.60)
    assert procfs.host_shares(before, before).cpu_util == 0.0


def test_parse_cpu_line_rejects_other_text():
    with pytest.raises(ValueError):
        procfs.parse_cpu_line("intr 1 2 3\n")


def test_parse_pid_stat_with_spaces_and_parens_in_comm():
    text = ("4242 (py (thon) x) S 17 4242 4242 0 -1 4194560 100 0 0 0 "
            "250 40 3 7 20 0 12 0 98765 1000000 500 18446744073709551615")
    s = procfs.parse_pid_stat(text)
    assert (s.pid, s.comm, s.ppid) == (4242, "py (thon) x", 17)
    assert s.cpu_ticks == 250 + 40 + 3 + 7
    assert s.start_ticks == 98765


def test_descendants_walks_the_parent_tree():
    mk = lambda pid, ppid: procfs.ProcStat(pid, "x", ppid, 0, 0)  # noqa: E731
    tree = [mk(1, 0), mk(10, 1), mk(11, 10), mk(12, 11), mk(20, 1)]
    assert sorted(s.pid for s in procfs.descendants(tree, 10)) == [10, 11, 12]


def test_parse_status_and_loadavg():
    status = "Name:\tjava\nVmPeak:\t 9000 kB\nVmHWM:\t  2048 kB\n"
    assert procfs.parse_status_kb(status, "VmHWM") == 2048
    with pytest.raises(KeyError):
        procfs.parse_status_kb(status, "VmSwap")
    assert procfs.parse_loadavg("1.52 0.80 0.40 2/300 12345\n") == 1.52


def test_live_proc_readers_agree_with_this_process():
    assert procfs.tree_cpu_seconds() >= 0.0
    assert procfs.process_age_seconds() > 0.0
    assert 0.0 <= procfs.host_shares(procfs.host_cpu(), procfs.host_cpu()).cpu_util <= 1.0


def test_wait_ended_returns_once_a_child_has_exited():
    import subprocess
    import time

    child = subprocess.Popen(["sleep", "0.2"])
    procs = [p for p in procfs.descendant_procs() if p.pid == child.pid]
    assert procs
    t0 = time.monotonic()
    procfs.wait_ended(procs, timeout=10)
    assert time.monotonic() - t0 < 5
    assert child.poll() is not None or not procfs._alive(procs[0])
