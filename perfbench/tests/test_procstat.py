import os

import procstat


def test_steal_share_is_stolen_over_wanted_time():
    before = [(100, 10), (200, 0)]
    after = [(130, 20), (250, 20)]  # busy 30 + 50, steal 10 + 20
    assert procstat.steal_share(before, after) == 30 / 110


def test_steal_share_of_idle_interval_is_zero():
    ticks = [(5, 5), (7, 0)]
    assert procstat.steal_share(ticks, ticks) == 0.0


def test_cpu_ticks_has_one_entry_per_cpu():
    ticks = procstat.cpu_ticks()
    assert len(ticks) == os.cpu_count()
    assert all(busy >= 0 and steal >= 0 for busy, steal in ticks)
