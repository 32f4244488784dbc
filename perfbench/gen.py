"""Seeded input generators for the benchmark.

Everything the benchmark feeds the library is made here from a seed, so a
run never reads data from outside its checkout:

- :func:`write_tables` — TPC-H-shaped relational tables plus the events,
  documents and embeddings tables, with the column names and types the
  registered queries expect, as one parquet file per table.
- :func:`write_startable_files` — StarTable CSV files: a metadata block, an
  ``***include`` directive, small dimension tables, one ``lineitem`` slice
  with units, a transposed table and planted illegal cells.

- :func:`make_inputs` — a workload's whole input set, with the DuckDB
  oracle results of its registered queries.  It runs in a child process of
  the benchmark, so its memory never counts toward the driver's.

The same seed gives the same bytes (``test_gen.py`` checks it).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import importlib.util
import os
import shutil
import sys
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["hot", "cold", "large", "small", "red", "blue", "ring", "bolt"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the data spark table column row query scan filter join group agg sort "
    "hash key value window stream batch merge order customer part line vector "
    "big small fast slow dup"
).split()

#: Rows per table at scale 1.0 (TPC-H proportions; sf0.1 = 600k lineitem).
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(lo: str, hi: str, rng, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def relational_tables(seed: int, scale: float) -> Dict[str, pa.Table]:
    """TPC-H-shaped tables plus ``events`` at ``scale`` (0.1 ≈ the sf0.1
    row counts), with the value ranges the relational queries filter on."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
    }
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    np_ = n["part"]
    w = np.array(PART_WORDS)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), i64),
            "p_name": np.char.add(
                np.char.add(w[rng.integers(0, 8, np_)], " "), w[rng.integers(0, 8, np_)]
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), i32),
            "p_retailprice": 900.0 + (np.arange(np_) % 1000) / 10.0,
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days("1995-01-01", "2001-08-01", rng, no),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days("1995-01-02", "2001-11-04", rng, nl),
        }
    )
    ne = n["events"]
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + (
        np.datetime64("2024-01-01T00:00:00", "us") - _EPOCH
    ).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, max(1, ne // 66), ne), i64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": _money(rng, 0.0, 560.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    return out


def corpus_tables(seed: int, n_docs: int, n_vecs: int) -> Dict[str, pa.Table]:
    """``documents`` and ``embeddings`` for the curation queries: texts over
    a small vocabulary with planted exact and near duplicates, and unit
    64-d vectors with planted near duplicates."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts: List[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.12:  # near duplicate: one word changed
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64))
    for i in range(10, n_vecs):
        if rng.random() < 0.05:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(64)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    return {"documents": docs, "embeddings": emb}


def write_tables(tables: Dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# StarTable CSV files
# ---------------------------------------------------------------------------

#: lineitem slice columns as (name, unit); numeric units are converted by
#: the benchmark's own affine converter (units.py has no pint here).
LINEITEM_COLUMNS = [
    ("l_orderkey", "-"),
    ("l_partkey", "-"),
    ("l_quantity", "-"),
    ("l_extendedprice", "USD"),
    ("l_weight", "kg"),
    ("l_length", "mm"),
    ("l_temp", "C"),
    ("l_returnflag", "text"),
    ("l_fragile", "onoff"),
    ("l_shipdate", "datetime"),
]


def startable_rows(seed: int, n_files: int, rows_per_file: int) -> List[dict]:
    """The values behind :func:`write_startable_files`, one dict per file:
    ``lineitem`` (list of row tuples of cell strings), ``illegal`` (the
    (row, column) cells replaced by an illegal token) and the small
    tables."""
    rng = np.random.default_rng(seed)
    files = []
    for f in range(n_files):
        n = rows_per_file
        days = _days("1995-01-02", "2001-11-04", rng, n).astype("datetime64[D]")
        cols = [
            (np.arange(n) + f * n).astype(str),
            rng.integers(0, 20_000, n).astype(str),
            rng.integers(1, 51, n).astype(str),
            np.char.mod("%.2f", _money(rng, 900.0, 105000.0, n)),
            np.char.mod("%.3f", rng.integers(100, 500_000, n) / 1000.0),
            rng.integers(1, 10_000, n).astype(str),
            np.char.mod("%.1f", rng.integers(-300, 400, n) / 10.0),
            np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            rng.integers(0, 2, n).astype(str),
            np.char.add(days.astype(str), " 00:00:00"),
        ]
        rows = [list(r) for r in zip(*(c.tolist() for c in cols))]
        # planted illegal cells in numeric columns: each is fixed to the
        # column's default by a non-stopping ParseFixer.  File 1 stays clean
        # for load_files, which takes no fixer.
        n_bad = 0 if f == 1 else 3 + f % 3
        illegal = []
        for r in sorted(rng.choice(n, n_bad, replace=False).tolist()):
            c = int(rng.choice([2, 4, 5]))
            rows[r][c] = "bad!"
            illegal.append((r, c))
        files.append(
            {
                "lineitem": rows,
                "illegal": illegal,
                "nation": [(str(i), f"NATION_{i}", str(i % 5)) for i in range(25)],
                "dims": [
                    (f"{rng.integers(1, 1000) / 10.0:.1f}", f"{rng.integers(1, 100)}")
                    for _ in range(3)
                ],
            }
        )
    return files


def _lines(name: str, dest: str, columns, rows) -> List[str]:
    out = [f"**{name};", dest, ";".join(c for c, _ in columns), ";".join(u for _, u in columns)]
    out.extend(";".join(r) for r in rows)
    out.append("")
    return out


def write_startable_files(seed: int, out_dir: str, n_files: int, rows_per_file: int) -> dict:
    """Write ``data_NN.csv`` files, each including a shared ``shared.csv``,
    and return what the reader should find: per-file lineitem cells and
    the planted illegal cells."""
    os.makedirs(out_dir, exist_ok=True)
    files = startable_rows(seed, n_files, rows_per_file)
    with open(os.path.join(out_dir, "shared.csv"), "w") as fh:
        fh.write(
            "\n".join(
                _lines(
                    "region",
                    "all",
                    [("r_regionkey", "-"), ("r_name", "text")],
                    [(str(i), r) for i, r in enumerate(REGIONS)],
                )
            )
            + "\n"
        )
    paths = []
    for f, spec in enumerate(files):
        lines = [
            f"author:;perfbench-{seed}",
            f"file:;{f}",
            "",
            "***include;",
            "shared.csv",
            "",
        ]
        lines += _lines(
            "nation",
            "all",
            [("n_nationkey", "-"), ("n_name", "text"), ("n_regionkey", "-")],
            spec["nation"],
        )
        lines += _lines("lineitem", "all", LINEITEM_COLUMNS, spec["lineitem"])
        # transposed layout: one line per column
        lines += [
            "**dims*;",
            "all",
            "span;m;" + ";".join(d[0] for d in spec["dims"]),
            "count;-;" + ";".join(d[1] for d in spec["dims"]),
            "",
        ]
        path = os.path.join(out_dir, f"data_{f:02d}.csv")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(path)
    return {"paths": paths, "files": files}


def startable_fingerprint(out_dir: str) -> str:
    """sha256 over the generated files in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as fh:
            h.update(name.encode() + b"\0" + fh.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Input sets of the workloads
# ---------------------------------------------------------------------------


def load_script(name: str):
    """Import ``scripts/<name>.py`` of the repository."""
    spec = importlib.util.spec_from_file_location(
        f"_perfbench_{name}", os.path.join(ROOT, "scripts", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_rows(data_dir: str, sql: Dict[str, str]) -> Dict[str, tuple]:
    """DuckDB oracle results (columns, rows) over the parquet files the
    queries read.  Computed while the inputs are made, in the input
    process, so DuckDB's memory never counts toward the driver's."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, q in sql.items():
        res = con.execute(q)
        out[name] = ([c[0] for c in res.description], res.fetchall())
    con.close()
    return out


def footer_rows(data_dir: str, table: str) -> int:
    return pq.ParquetFile(os.path.join(data_dir, f"{table}.parquet")).metadata.num_rows


#: Fixed generator seed for the sf1 tables: they are made once per checkout
#: and reused, so ``--seed`` only sets the op order.
SF1_GEN_SEED = 20240101
SF1_ROWS = {"lineitem": 6_000_000, "orders": 1_500_000, "customer": 150_000, "events": 1_000_000}


def ensure_sf(work: str, base_scale: float) -> str:
    """sf tables made by ``scripts/make_sf1.py`` (10× replication) from a
    generated base at ``base_scale``; regenerated when a row count is off."""
    out = os.path.join(work, "inputs", f"sf{base_scale * 10:g}")
    want = {t: int(n * base_scale * 10) for t, n in SF1_ROWS.items()}

    def counts_ok() -> bool:
        try:
            return all(footer_rows(out, t) == n for t, n in want.items())
        except OSError:
            return False

    if counts_ok():
        return out
    base = out + ".base"
    for d in (out, base):
        shutil.rmtree(d, ignore_errors=True)
    tables = relational_tables(SF1_GEN_SEED, base_scale)
    tables.update(corpus_tables(SF1_GEN_SEED, 50, 50))
    write_tables(tables, base)
    make_sf1 = load_script("make_sf1")
    make_sf1.SRC = base
    argv = sys.argv
    try:
        sys.argv = ["make_sf1.py", out]
        with contextlib.redirect_stdout(sys.stderr):
            make_sf1.main()
    finally:
        sys.argv = argv
    shutil.rmtree(base, ignore_errors=True)
    if not counts_ok():
        raise RuntimeError(f"generated tables under {out} have the wrong row counts")
    return out


def relational_inputs(work: str, seed: int, smoke: bool, sql: Dict[str, str]) -> dict:
    data = ensure_sf(work, 0.001 if smoke else 0.1)
    return {"data": data, "oracles": oracle_rows(data, sql)}


def _fresh_inputs(work: str, kind: str, seed: int) -> str:
    """Per-seed input directory; other seeds' inputs are removed."""
    root = os.path.join(work, "inputs", kind)
    shutil.rmtree(root, ignore_errors=True)
    d = os.path.join(root, f"seed{seed}")
    os.makedirs(d)
    return d


def curation_inputs(work: str, seed: int, smoke: bool, sql: Dict[str, str]) -> dict:
    n_docs, n_vecs = (100, 100) if smoke else (500, 500)
    data = _fresh_inputs(work, "curation", seed)
    write_tables(corpus_tables(seed, n_docs, n_vecs), data)
    return {"data": data, "oracles": oracle_rows(data, sql)}


def startable_inputs(work: str, seed: int, smoke: bool, sql: Dict[str, str]) -> dict:
    n_files, rows_per_file = (2, 200) if smoke else (4, 1000)
    d = _fresh_inputs(work, "startable", seed)
    made = write_startable_files(seed, os.path.join(d, "csv"), n_files, rows_per_file)
    made.update(dir=d, rows_per_file=rows_per_file)
    return made


INPUTS = {
    "startable_io": startable_inputs,
    "relational_sf1": relational_inputs,
    "curation": curation_inputs,
}


def make_inputs(name: str, work: str, seed: int, smoke: bool, sql: Dict[str, str]) -> dict:
    """The input set of workload ``name``; ``sql`` maps each registered
    query the workload runs to its oracle."""
    return INPUTS[name](work, seed, smoke, sql)
