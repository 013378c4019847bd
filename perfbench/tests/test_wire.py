"""The live and backlog wire layouts are a function of the seed alone."""

from cdc_stream import CORRUPT_MOD, RATE, TICK_MS, live_schedule, wire_layout


def test_live_schedule_is_seed_deterministic():
    assert live_schedule(7, 10) == live_schedule(7, 10)
    assert live_schedule(7, 10) != live_schedule(8, 10)


def test_live_schedule_keeps_the_rate():
    sched = live_schedule(3, 10)
    assert len(sched) == 10 * 1000 // TICK_MS
    # contiguous slices that add up to RATE events per second
    assert sched[0][0] == 0
    assert all(a[1] == b[0] for a, b in zip(sched, sched[1:]))
    assert sched[-1][1] == RATE * 10


def test_backfill_layout_is_seed_deterministic_and_covers_every_line():
    a = wire_layout(5, 60_001, 24)
    assert a == wire_layout(5, 60_001, 24)
    assert a != wire_layout(6, 60_001, 24)
    assert a[0][0] == 0 and a[-1][1] == 60_001
    assert all(x[1] == y[0] for x, y in zip(a, a[1:]))


def test_one_malformed_record_per_corrupt_mod_events():
    for seed in range(20):
        for layout, n in ((wire_layout(seed, 60_001, 24), 60_001), (live_schedule(seed, 10), RATE * 10)):
            bad = sum(b for _, _, b in layout)
            assert n // CORRUPT_MOD <= bad <= n // CORRUPT_MOD + 1
