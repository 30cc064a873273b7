"""Rules of the benchmark's result file: metric-name and unit charsets,
and the quartile spread used to judge how steady a metric is across
seeds. (The percentile reporting rule lives in `Stats.scala`, where the
metrics are computed; `SelfCheck.scala` tests it.)"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf
