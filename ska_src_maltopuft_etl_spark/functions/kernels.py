"""Scalar kernel library — native Column implementations of the reference's
scalar functions (SURVEY.md §2.9, F1-F17).

Every kernel the reference implements as a row-at-a-time Python
``map_elements`` UDF (astropy SkyCoord / Time, enum dicts, string glue) is
re-expressed here as a pure Catalyst Column expression, so the hot path
stays inside whole-stage codegen on the JVM with zero Python round-trips.

Reference citations (paths relative to /root/reference/):

- hms/dms → degrees:  src/ska_src_maltopuft_etl/utils/coordinate.py:7-19
- "(ra,dec)" literal: src/ska_src_maltopuft_etl/utils/coordinate.py:22-24
- MJD → datetime:     src/ska_src_maltopuft_etl/meertrap/candidate/transform.py:71-84
- npol → pol_states / dataproduct_type:
                      src/ska_src_maltopuft_etl/meertrap/observation/transform.py:263-297
- em_min / em_max:    src/ska_src_maltopuft_etl/meertrap/observation/transform.py:249-261
- duration mining:    src/ska_src_maltopuft_etl/meertrap/observation/transform.py:111-132
- 1 s rounding:       src/ska_src_maltopuft_etl/meertrap/candidate/transform.py:119
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Physical constants (reference: observation/constants.py:3-4).
SPEED_OF_LIGHT_M_PER_S = 299_792_458.0
MHZ_TO_HZ = 1e6

# Unix epoch 1970-01-01 expressed as a Modified Julian Date.
_MJD_UNIX_EPOCH = 40_587.0
_SECONDS_PER_DAY = 86_400.0

#: Decimal places of HMS/DMS → degrees, the reference's explicit
#: ``round(..., 5)`` (utils/coordinate.py:7-19).
DEGREE_DECIMALS = 5


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# Coordinates (F15): HMS / DMS sexagesimal strings → decimal degrees.
# ---------------------------------------------------------------------------

def hms_to_degrees(ra: Column | str) -> Column:
    """Right ascension ``"H:M:S.s"`` → decimal degrees, rounded.

    Native replacement for the reference's per-row astropy SkyCoord UDF
    (utils/coordinate.py:7-19): ``(h + m/60 + s/3600) * 15``, rounded to
    :data:`DEGREE_DECIMALS`.
    """
    parts = F.split(_col(ra), ":")
    h = parts.getItem(0).cast("double")
    m = parts.getItem(1).cast("double")
    s = parts.getItem(2).cast("double")
    return F.round((h + m / 60.0 + s / 3600.0) * 15.0, DEGREE_DECIMALS)


def dms_to_degrees(dec: Column | str) -> Column:
    """Declination ``"[+-]D:M:S.s"`` → decimal degrees, rounded.

    Sign applies to the whole sexagesimal value (``-0:30:00`` → -0.5), so
    it is extracted from the string, not taken from the (possibly
    negative-zero) degrees field.
    """
    c = F.trim(_col(dec))
    sign = F.when(c.startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))
    body = F.regexp_replace(c, r"^[+-]", "")
    parts = F.split(body, ":")
    d = parts.getItem(0).cast("double")
    m = parts.getItem(1).cast("double")
    s = parts.getItem(2).cast("double")
    return F.round(sign * (d + m / 60.0 + s / 3600.0), DEGREE_DECIMALS)


def degrees_to_hms(deg: Column | str) -> Column:
    """Decimal degrees → ``"H:M:S.ss"`` (inverse of :func:`hms_to_degrees`).

    Not in the reference; used to build round-trip test fixtures.
    """
    hours_total = _col(deg) / 15.0
    h = F.floor(hours_total)
    m_total = (hours_total - h) * 60.0
    m = F.floor(m_total)
    s = F.round((m_total - m) * 60.0, 2)
    return F.concat_ws(":", h.cast("int"), m.cast("int"), s)


def pos_string(ra_deg: Column | str, dec_deg: Column | str) -> Column:
    """``"(ra,dec)"`` PostgreSQL point literal.

    F4+F5: concat_str + add_parenthesis
    (candidate/transform.py:194-197, atnf/atnf.py:67-69).
    """
    return add_parenthesis(F.concat_ws(",", _col(ra_deg), _col(dec_deg)))


def add_parenthesis(c: Column | str) -> Column:
    """Wrap a string column in parentheses (utils/coordinate.py:22-24)."""
    return F.format_string("(%s)", _col(c))


# ---------------------------------------------------------------------------
# Time (F8-F11, F14).
# ---------------------------------------------------------------------------

def mjd_to_timestamp(mjd: Column | str) -> Column:
    """Modified Julian Date (float days) → UTC timestamp, µs precision.

    Native replacement for the reference's astropy ``Time(mjd,
    format="mjd").isot`` UDF (candidate/transform.py:71-84). MJD 40587 is
    the unix epoch; astropy's UTC/TAI handling differs by < 1 µs in the
    modern era, verified against the oracle in tests.
    """
    micros = F.round((_col(mjd) - _MJD_UNIX_EPOCH) * _SECONDS_PER_DAY * 1e6)
    return F.timestamp_micros(micros.cast("long"))


def timestamp_to_mjd(ts: Column | str) -> Column:
    """UTC timestamp → MJD float days (inverse of :func:`mjd_to_timestamp`).

    Computed from integer epoch-micros (exact in double below 2^53) with a
    single division, so any engine evaluating the same formula gets the
    bit-identical IEEE result.
    """
    return F.unix_micros(_col(ts)) / F.lit(_SECONDS_PER_DAY * 1e6) + F.lit(_MJD_UNIX_EPOCH)


def round_timestamp_seconds(ts: Column | str) -> Column:
    """Round (half-up) a timestamp to whole seconds.

    F9: the reference rounds ``observed_at`` to 1 s before the as-of join
    (candidate/transform.py:119) to absorb sub-second jitter at window
    starts. ``date_trunc`` floors, so round on epoch micros instead.
    """
    micros = F.unix_micros(_col(ts))
    return F.timestamp_seconds(F.floor((micros + 500_000) / F.lit(1_000_000.0)).cast("long"))


def add_seconds(ts: Column | str, seconds: Column | str) -> Column:
    """Timestamp + seconds (fractional ok). F8 duration arithmetic
    (observation/transform.py:146-152)."""
    sec = _col(seconds) if not isinstance(seconds, (int, float)) else F.lit(seconds)
    return F.timestamp_micros(
        (F.unix_micros(_col(ts)) + F.round(sec.cast("double") * 1e6).cast("long"))
    )


# ---------------------------------------------------------------------------
# Physics (F12, F13).
# ---------------------------------------------------------------------------

def em_min(cfreq_mhz: Column | str, bw_mhz: Column | str) -> Column:
    """Min wavelength (m) of the observed band
    (observation/transform.py:249-261): c / (cfreq + bw/2) scaled MHz→Hz."""
    return SPEED_OF_LIGHT_M_PER_S / ((_col(cfreq_mhz) + _col(bw_mhz) / 2.0) * MHZ_TO_HZ)


def em_max(cfreq_mhz: Column | str, bw_mhz: Column | str) -> Column:
    """Max wavelength (m) of the observed band."""
    return SPEED_OF_LIGHT_M_PER_S / ((_col(cfreq_mhz) - _col(bw_mhz) / 2.0) * MHZ_TO_HZ)


# ---------------------------------------------------------------------------
# Enums (F16): npol → IVOA polarization states / dataproduct type.
# ---------------------------------------------------------------------------

def pol_states(npol: Column | str) -> Column:
    """npol 1→"I", 4→"I,Q,U,V", else NULL
    (observation/transform.py:263-280)."""
    c = _col(npol)
    return (
        F.when(c == 1, F.lit("I"))
        .when(c == 4, F.lit("I,Q,U,V"))
        .otherwise(F.lit(None).cast("string"))
    )


def dataproduct_type(npol: Column | str) -> Column:
    """npol 1→"dynamic spectrum", 4→"cube", else NULL
    (observation/transform.py:283-297)."""
    c = _col(npol)
    return (
        F.when(c == 1, F.lit("dynamic spectrum"))
        .when(c == 4, F.lit("cube"))
        .otherwise(F.lit(None).cast("string"))
    )


# ---------------------------------------------------------------------------
# Duration mining (A1/F2): sum of "duration=N" occurrences in a script
# config blob.
# ---------------------------------------------------------------------------

def duration_sum_from_config(cfg: Column | str) -> Column:
    """Per-row sum of all ``duration=<n>`` matches in a config string.

    F2+A1 (observation/transform.py:111-132). The reference's
    ``extract_all → explode → sum`` collapses to a *global* scalar — a
    documented quirk (SURVEY.md §7.3 risk 3). This is the likely-intended
    per-row variant, computed with a higher-order function so it stays in
    codegen; the reference-faithful global variant is a plain
    ``agg(sum(...))`` composed by the caller.
    """
    matches = F.regexp_extract_all(_col(cfg), F.lit(r"duration=(\d+(\.\d+)?)"), 1)
    return F.aggregate(
        matches,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )
