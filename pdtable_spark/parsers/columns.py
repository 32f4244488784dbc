"""Per-column value parsers, dispatched on the unit-indicator row.

Parity with reference ``pdtable/io/parsers/columns.py``:

| unit indicator | parsed type | missing markers |
|---|---|---|
| ``text``      | str        | none — ``-`` stays literal (columns.py:36-38) |
| ``onoff``     | bool       | ``-``/``nan`` → None (columns.py:56-68) |
| ``datetime``  | datetime   | ``-``/``nan`` → None/NaT (columns.py:115-164) |
| anything else | float      | ``-``/``nan`` → None/NaN (columns.py:71-112) |

Differences from the reference: missing values are represented as ``None``
(Spark null) rather than NaN/NaT sentinels — ``None`` becomes an Arrow null
in ``frame.arrow_frame`` (which builds every parsed Table) and round-trips
through parquet cleanly, and the CSV writer renders it back as ``-``
(io/_represent.py:8-54).
"""

from __future__ import annotations

import datetime as _dt
from typing import Callable, List, Optional, Sequence

from pdtable_spark.parsers.fixer import ParseFixer

#: Missing-value markers for non-text columns (columns.py:26-33):
#: '-' or 'nan' (any case), surrounding whitespace stripped.
_MISSING_MARKERS = {"-", "nan"}


def is_missing_marker(value) -> bool:
    if value is None:
        return True
    if isinstance(value, str):
        return value.strip().lower() in _MISSING_MARKERS
    if isinstance(value, float):
        return value != value  # NaN
    return False


def _parse_text_column(values: Sequence, fixer: Optional[ParseFixer] = None) -> List[Optional[str]]:
    """text: everything str-coerced; '-' stays literal (columns.py:36-38)."""
    return ["" if v is None else str(v) for v in values]


_ONOFF_TRUE = {"1", "true"}
_ONOFF_FALSE = {"0", "false"}


def _parse_onoff_column(
    values: Sequence, fixer: Optional[ParseFixer] = None
) -> List[Optional[bool]]:
    """onoff: accepts 0/1/false/true in any case (columns.py:41-68).

    Missing markers are ILLEGAL here — reference parity
    (test_column_parsers.py:55-60 pins that '-' in onoff raises); the fixer
    default is False.  Nulls can still *enter* onoff columns through Spark
    ops (outer joins, filters) — the writer renders them as na_rep, but
    StarTable input is strict.
    """
    out: List[Optional[bool]] = []
    for row, v in enumerate(values):
        if v is None or is_missing_marker(v):
            out.append(_fix_illegal(fixer, row, v, "onoff"))
            continue
        if isinstance(v, bool):
            out.append(v)
            continue
        if isinstance(v, (int, float)) and v in (0, 1):
            out.append(bool(v))
            continue
        s = str(v).strip().lower()
        if s in _ONOFF_TRUE:
            out.append(True)
        elif s in _ONOFF_FALSE:
            out.append(False)
        else:
            out.append(_fix_illegal(fixer, row, v, "onoff"))
    return out


def _parse_float_column(
    values: Sequence, fixer: Optional[ParseFixer] = None
) -> List[Optional[float]]:
    """default numeric: float64; ints become float (columns.py:71-112)."""
    out: List[Optional[float]] = []
    for row, v in enumerate(values):
        if is_missing_marker(v):
            out.append(None)
            continue
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            out.append(float(v))
            continue
        try:
            out.append(float(str(v).strip()))
        except (TypeError, ValueError):
            out.append(_fix_illegal(fixer, row, v, "float"))
    return out


#: datetime formats accepted by the reference's pd.to_datetime on
#: digit-leading strings (columns.py:115-164); dateutil-style superset
#: narrowed to the deterministic ISO-ish family used in StarTable files.
_DT_FORMATS = (
    "%Y-%m-%d %H:%M:%S.%f",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d %H:%M",
    "%Y-%m-%d",
    "%Y-%m-%dT%H:%M:%S.%f",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%dT%H:%M",
    "%d/%m/%Y %H:%M:%S",
    "%d/%m/%Y",
)


def _parse_one_datetime(s: str) -> Optional[_dt.datetime]:
    s = s.strip()
    if not s or not s[0].isdigit():
        return None  # reference only feeds digit-leading strings to to_datetime
    for fmt in _DT_FORMATS:
        try:
            return _dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
    return None


def _parse_datetime_column(
    values: Sequence, fixer: Optional[ParseFixer] = None
) -> List[Optional[_dt.datetime]]:
    """datetime: digit-leading strings parsed; '-'/'nan' → None (columns.py:115-164)."""
    out: List[Optional[_dt.datetime]] = []
    for row, v in enumerate(values):
        if v is None:
            # a None cell (e.g. an empty Excel cell) is an ILLEGAL datetime in
            # the reference, not a missing marker — it must count a fix (and
            # fail strict parsing); only '-'/'nan' strings mean missing
            out.append(_fix_illegal(fixer, row, v, "datetime"))
            continue
        if is_missing_marker(v):
            out.append(None)
            continue
        if isinstance(v, _dt.datetime):
            out.append(v)
            continue
        if isinstance(v, _dt.date):
            out.append(_dt.datetime(v.year, v.month, v.day))
            continue
        parsed = _parse_one_datetime(str(v))
        if parsed is not None:
            out.append(parsed)
        else:
            out.append(_fix_illegal(fixer, row, v, "datetime"))
    return out


#: Type defaults applied by the fixer for illegal cells
#: (fixer.py:106-125): onoff → False, datetime → None(NaT), float → None(NaN).
_ILLEGAL_DEFAULTS = {"onoff": False, "datetime": None, "float": None}


def _fix_illegal(fixer: Optional[ParseFixer], row: int, value, kind: str):
    if fixer is not None:
        fixer.table_row = row
        return fixer.fix_illegal_cell_value(kind, value)
    raise ValueError(f"Illegal {kind} value: {value!r}")


_PARSERS: dict = {
    "text": _parse_text_column,
    "onoff": _parse_onoff_column,
    "datetime": _parse_datetime_column,
}


def parser_for_unit(unit: str) -> Callable:
    """Unit-indicator-dispatched parser; default = float (columns.py:167-194)."""
    return _PARSERS.get(unit, _parse_float_column)


def parse_column(unit: str, values: Sequence, fixer: Optional[ParseFixer] = None) -> List:
    return parser_for_unit(unit)(values, fixer)
