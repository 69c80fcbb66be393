"""Daemon-mode plumbing (ST1): cron schedule math + loop with injected
clock. No Spark needed."""

import datetime as dt

from ee_outliers_spark.streaming.cron import CronSchedule, daemon_loop


def test_cron_daily_midnight():
    s = CronSchedule("0 0 * * *")
    assert s.next_fire(dt.datetime(2024, 1, 1, 13, 37)) == dt.datetime(2024, 1, 2)
    assert s.next_fire(dt.datetime(2024, 1, 1, 0, 0)) == dt.datetime(2024, 1, 2)


def test_cron_fields():
    # standard cron dow numbering: 0 = Sunday, so 1-5 = Mon-Fri
    s = CronSchedule("*/15 8-10 * * 1-5")
    t = s.next_fire(dt.datetime(2024, 1, 6, 9, 0))  # a Saturday
    assert t == dt.datetime(2024, 1, 8, 8, 0)       # Monday 08:00
    assert s.next_fire(dt.datetime(2024, 1, 8, 8, 1)) == dt.datetime(2024, 1, 8, 8, 15)


def test_cron_dow_sunday_numbering():
    """Cron (and croniter, used by the reference daemon) numbers 0 AND 7 as
    Sunday — '0 0 * * 0' must fire on a Sunday, and '7' must be accepted."""
    sun = dt.datetime(2024, 1, 7)  # Sunday
    assert CronSchedule("0 0 * * 0").matches(sun)
    assert CronSchedule("0 0 * * 7").matches(sun)
    assert not CronSchedule("0 0 * * 0").matches(dt.datetime(2024, 1, 8))
    # next Sunday from a Thursday
    s = CronSchedule("30 6 * * 0")
    assert s.next_fire(dt.datetime(2024, 1, 4)) == dt.datetime(2024, 1, 7, 6, 30)


def test_daemon_loop_injected_clock():
    fires = []
    now = [dt.datetime(2024, 1, 1, 23, 58)]

    def clock():
        return now[0]

    def sleeper(secs):
        now[0] = now[0] + dt.timedelta(seconds=secs)

    n = daemon_loop("0 0 * * *", lambda t: fires.append(t),
                    max_ticks=3, clock=clock, sleeper=sleeper)
    assert n == 3
    assert fires == [dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 3),
                     dt.datetime(2024, 1, 4)]

