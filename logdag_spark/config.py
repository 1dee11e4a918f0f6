"""Pipeline configuration.

Mirrors the knobs of the reference's INI config
(/root/reference/logdag/data/config.conf.default) as a typed dataclass:
bin sizes (``ci_bin_size``/``ci_bin_diff`` :153-160), unit windows
(``unit_term``/``unit_diff`` :148-151), filter chain (:98-123) and PC
parameters (:173-186).  Durations are strings like ``1m``, ``24h`` or
``1d_10s`` (the reference's amulog ``config.str2dur`` spelling) that must
come to a whole number of milliseconds, the resolution every bin and
series offset is computed in.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from fractions import Fraction

_UNIT_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


def to_utc_ms(t: datetime) -> int:
    """Epoch ms under the engine's naive-means-UTC convention.

    Spark collects timestamps as naive datetimes in the session timezone
    (pinned to UTC in session.py); plain ``datetime.timestamp()`` would
    instead interpret a naive value in the DRIVER's local timezone and
    silently shift every driver-side bin origin on a non-UTC machine.
    """
    if t.tzinfo is None:
        t = t.replace(tzinfo=timezone.utc)
    return int(t.timestamp() * 1000)


def dur_ms(td: timedelta) -> int:
    """``td`` in whole milliseconds, exactly: ``total_seconds() * 1000``
    is a float product, and ``int()`` of it turns 1.001 s into 1000 ms."""
    return td // timedelta(milliseconds=1)


def str2dur(s: str) -> timedelta:
    """Parse ``1m``, ``24h``, ``1d_10s``, ``0.5s`` into a timedelta.

    ``_``-joined parts, each a decimal number and a unit (s, m, h, d, w);
    the sum must be a whole number of milliseconds.  Raises ValueError
    otherwise, so ``10.0005s`` is refused rather than truncated.
    """
    total = Fraction(0)
    for part in s.split("_"):
        m = re.fullmatch(r"(\d+(?:\.\d+)?)([smhdw])", part.strip())
        if not m:
            raise ValueError(f"bad duration string: {s!r}")
        total += Fraction(m.group(1)) * _UNIT_SECONDS[m.group(2)] * 1000
    if total.denominator != 1:
        raise ValueError(f"duration {s!r} is not a whole number of milliseconds")
    return timedelta(milliseconds=int(total))


@dataclass
class PipelineConfig:
    # discretization (config.conf.default:153-160)
    ci_bin_size: str = "1m"
    ci_bin_diff: str = "1m"
    ci_bin_method: str = "sequential"  # sequential | slide | radius
    # analysis units (config.conf.default:148-151)
    unit_term: str = "24h"
    unit_diff: str = "24h"
    area: str = "all"  # all | each | <named area>
    # series filters (config.conf.default:98-123)
    filter_rules: tuple[str, ...] = ("sizetest", "filter_periodic", "remove_linear")
    pre_count: int = 5
    pre_term: str = "6h"
    fourier_sample_rule: tuple[tuple[str, str], ...] = (("24h", "10s"),)
    fourier_th_spec: float = 0.4
    fourier_th_eval: float = 0.1
    fourier_th_restore: float = 0.5
    fourier_peak_order: int = 200
    corr_th: float = 0.5
    linear_sample_rule_bin: str = "10s"
    linear_th: float = 0.5
    linear_count: int = 10
    # causal inference (config.conf.default:173-186)
    cause_algorithm: str = "pc"  # pc | pc-corr | lingam | lingam-corr
    ci_func: str = "fisherz"  # fisherz | gsq
    # lingam estimator knobs (reference config [lingam] section,
    # lingam_input.py:28-40): algorithm direct|ica, coefficient floor
    lingam_algorithm: str = "direct"
    lingam_lower_limit: float = 0.05
    skeleton_depth: int = -1
    skeleton_threshold: float = 0.01
    binarize: bool = False
    merge_syncevent: bool = False
    # prior knowledge
    pk_rules: tuple[str, ...] = ()
    # snmp feature generation (reference snmp_feature_def JSON,
    # evgen_snmp.py:123-150): vsources as (name, source-measure) hostsum
    # pairs; features as {name, source, func_list, ...} defs applied on
    # the snmp_bin_size spine (evdb_binsize, config.conf.default)
    snmp_vsources: tuple[tuple[str, str], ...] = ()
    snmp_features: tuple[dict, ...] = ()
    snmp_bin_size: str = "1m"
    # sinks
    warehouse: str = "/tmp/logdag_spark_warehouse"

    def __post_init__(self) -> None:
        # reject at construction: an unknown value would otherwise plan
        # lazily and fail only inside a Python worker
        for name, allowed in (
            ("ci_bin_method", ("sequential", "slide", "radius")),
            ("cause_algorithm", ("pc", "pc-corr", "lingam", "lingam-corr")),
            ("ci_func", ("fisherz", "gsq")),
        ):
            if getattr(self, name) not in allowed:
                raise ValueError(
                    f"{name} must be one of {allowed}, got {getattr(self, name)!r}"
                )
        # every duration is whole milliseconds; all but pre_term are bin
        # sizes or lengths and must be positive
        durations = [
            (name, getattr(self, name))
            for name in ("ci_bin_size", "ci_bin_diff", "unit_term", "unit_diff",
                         "pre_term", "linear_sample_rule_bin", "snmp_bin_size")
        ] + [("fourier_sample_rule", d) for rule in self.fourier_sample_rule for d in rule]
        for name, value in durations:
            try:
                dur = str2dur(value)
            except ValueError as e:
                raise ValueError(f"{name}: {e}") from None
            if dur <= timedelta(0) and name != "pre_term":
                raise ValueError(f"{name} must be a positive duration, got {value!r}")

    @property
    def bin_size(self) -> timedelta:
        return str2dur(self.ci_bin_size)

    @property
    def bin_diff(self) -> timedelta:
        return str2dur(self.ci_bin_diff)

    @property
    def unit_term_td(self) -> timedelta:
        return str2dur(self.unit_term)

    @property
    def unit_diff_td(self) -> timedelta:
        return str2dur(self.unit_diff)
