"""The benchmark's own arithmetic: tail percentile, geomean of per-type
medians, span self time, and /proc process-tree accounting.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import procstat  # noqa: E402
import stats  # noqa: E402


@pytest.mark.parametrize("n", [11, 20, 50, 99, 100, 101, 1000])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    samples = [float(x) for x in range(n, 0, -1)]  # unsorted on purpose
    p, value = stats.tail_percentile(samples)
    beyond = sum(1 for s in samples if s > value)
    assert beyond >= 10
    assert p <= 0.9
    if n < 100:
        assert beyond == 10  # the highest percentile the sample supports
        assert p == pytest.approx((n - 10) / n)
    else:
        assert p == 0.9 and value == sorted(samples)[math.floor(0.9 * n) - 1]


def test_tail_percentile_needs_more_than_ten_samples():
    assert stats.tail_percentile([1.0] * 10) is None
    assert stats.tail_percentile([]) is None


def test_geomean_weighs_each_type_once():
    # type a ran three times (median 10), type b once: equal weight
    assert stats.geomean_of_medians({"a": [1.0, 100.0, 10.0], "b": [1000.0]}) == pytest.approx(100.0)
    assert stats.geomean_of_medians({"a": [4.0, 4.0, 4.0, 4.0], "b": [1.0]}) == pytest.approx(2.0)
    # types without samples do not count
    assert stats.geomean_of_medians({"a": [3.0], "b": []}) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        stats.geomean_of_medians({"a": []})


def test_self_time_subtracts_covered_child_intervals_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},  # runs past its parent
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},  # grandchild: not span 0's
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[4] == pytest.approx(1.0)


def test_parse_stat_handles_spaces_and_parens_in_comm():
    line = "4242 (java (x) y) S 17 4242 4242 0 -1 4194560 1 0 0 0 300 50 7 3 20 0 1 0 99 1 1"
    ppid, cpu = procstat.parse_stat(line)
    assert ppid == 17
    assert cpu == pytest.approx((300 + 50 + 7 + 3) / os.sysconf("SC_CLK_TCK"))


def test_jit_delta_counts_new_threads_from_zero_and_skips_retired_ones():
    before = {(1, 10): 2.0, (1, 11): 5.0}
    after = {(1, 10): 2.5, (1, 12): 0.25}  # 11 retired, 12 started
    assert procstat.jit_delta_s(before, after) == pytest.approx(0.75)


def test_steal_frac():
    assert procstat.steal_frac((10, 100), (40, 300)) == pytest.approx(30 / 200)
    assert procstat.steal_frac((5, 100), (5, 100)) == 0.0


_BURN = "import time\nt=time.process_time()\nwhile time.process_time()-t<{s}: pass\n"
# a child that starts a grandchild, as the JVM starts Python workers
_PARENT = (
    "import subprocess,sys\n"
    "p=subprocess.Popen([sys.executable,'-c',{burn!r}])\n"
    "x=bytearray(60*1024*1024)\n"
    "sys.stdout.write('up\\n'); sys.stdout.flush(); p.wait(); sys.stdin.read()\n"
)


def test_tree_accounting_includes_descendants_and_reaped_children():
    cpu0 = procstat.tree_cpu_s()
    rss0 = procstat.tree_rss_mb()
    child = subprocess.Popen(
        [sys.executable, "-c", _PARENT.format(burn=_BURN.format(s=0.6))],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline() == "up\n"
        assert child.pid in procstat.tree_pids(os.getpid())
        # the child holds 60 MB while its grandchild burns CPU
        assert procstat.tree_rss_mb() - rss0 > 50
        deadline = time.monotonic() + 30
        while len(procstat.tree_pids(child.pid)) > 1 and time.monotonic() < deadline:
            time.sleep(0.05)
        # the grandchild has exited and been reaped by the child: its CPU
        # now sits in the child's cutime, still inside our tree
        assert procstat.tree_cpu_s() - cpu0 >= 0.5
    finally:
        child.communicate("", timeout=30)
    # and once the child is reaped by us, in ours
    assert procstat.tree_cpu_s() - cpu0 >= 0.5
    assert procstat.tree_pids(os.getpid()) == [os.getpid()]


def test_process_age_is_positive_and_bounded():
    age = procstat.process_age_s()
    assert 0 < age < 24 * 3600
