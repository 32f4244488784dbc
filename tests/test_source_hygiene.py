"""Every module under ``pdtable_spark/`` compiles without a warning.

Invalid escape sequences in SQL-text literals (``'\\s+'`` in a plain
string) compile with a ``SyntaxWarning`` today and become errors in a
later Python; the text they produce must be spelled explicitly.
"""

import pathlib
import warnings

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "pdtable_spark"


def test_modules_compile_without_warnings():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        with warnings.catch_warnings():
            # under "error" the compiler re-raises its SyntaxWarning as a
            # SyntaxError
            warnings.simplefilter("error")
            try:
                compile(path.read_text(), str(path), "exec")
            except (SyntaxError, SyntaxWarning, DeprecationWarning) as e:
                offenders.append(f"{path.relative_to(PACKAGE)}: {e}")
    assert not offenders, "\n".join(offenders)
