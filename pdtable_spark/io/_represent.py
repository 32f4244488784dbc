"""Write-time value representation rules.

Parity with reference ``pdtable/io/_represent.py:8-54``
(``_represent_row_elements``): nulls in non-text columns become ``na_rep``;
onoff → 0/1; text str-coerced with the first-column sealant (an empty or
null first cell becomes ``-``: left empty, it would end the block on
re-read); numerics/datetimes pass through.  Implemented without pandas —
inputs are plain Python values from Spark rows (missing = None).

``block_header`` is the one spelling of a block's header lines, shared by
every StarTable writer.
"""

from __future__ import annotations

import datetime as _dt
from itertools import repeat
from typing import Iterable


def block_header(
    name: str, destinations: Iterable[str], sep: str, *, transposed: bool = False,
    names: Iterable[str] = (), units: Iterable[str] = (),
) -> str:
    """The header lines of one StarTable block, each ending in a newline:
    ``**name;`` and the destinations line, then (row layout only) the column
    names and units lines.  A transposed block carries its names and units
    at the start of each column line instead."""
    head = f"**{name}{'*' if transposed else ''}{sep}\n" + " ".join(
        str(d) for d in sorted(destinations)
    ) + "\n"
    if transposed:
        return head
    return head + sep.join(names) + "\n" + sep.join(units) + "\n"


def _is_na(val) -> bool:
    if val is None:
        return True
    if isinstance(val, float):
        return val != val  # NaN
    return False


def represent_row_elements(row: Iterable, units: Iterable, na_rep: str = "-"):
    """Coerce row values to StarTable-compliant representations per unit."""
    for col, (val, unit) in enumerate(zip(row, units)):
        if unit != "text" and _is_na(val):
            yield na_rep
        elif unit == "onoff":
            if val in (True, 1):
                yield 1
            elif val in (False, 0):
                yield 0
            else:
                yield val
        elif unit == "text":
            if (val is None or val == "") and col == 0:
                yield "-"  # seal an empty first cell: it would end the block
            else:
                yield str(val) if val is not None else ""
        else:
            yield val


def represent_col_elements(values: Iterable, unit: str, na_rep: str = "-"):
    yield from represent_row_elements(values, repeat(unit), na_rep)
