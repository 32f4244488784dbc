"""The benchmark's input generators are deterministic in their seed.

Run: python3 -m pytest perfbench/test_gen.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def test_startable_files_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    gen.write_startable_files(7, a, 3, 50)
    gen.write_startable_files(7, b, 3, 50)
    gen.write_startable_files(8, c, 3, 50)
    assert gen.startable_fingerprint(a) == gen.startable_fingerprint(b)
    assert gen.startable_fingerprint(a) != gen.startable_fingerprint(c)


def test_planted_cells_are_written(tmp_path):
    made = gen.write_startable_files(3, str(tmp_path), 3, 40)
    for path, spec in zip(made["paths"], made["files"]):
        with open(path) as fh:
            text = fh.read()
        assert text.count("bad!") == len(spec["illegal"])
        assert "***include;\nshared.csv" in text and "**dims*;" in text
    assert made["files"][1]["illegal"] == []


def test_tables_same_seed_same_values():
    a = gen.relational_tables(5, 0.0005)
    b = gen.relational_tables(5, 0.0005)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    c1, c2 = gen.corpus_tables(5, 60, 30), gen.corpus_tables(5, 60, 30)
    assert all(c1[k].equals(c2[k]) for k in c1)
