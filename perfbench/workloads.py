"""The benchmark's workloads: their inputs, their ops and each op's check.

- ``startable_io`` — the StarTable surface: reading, parsing, include
  loading, the distributed scan, both writers and unit-aware Table ops.
- ``relational_sf1`` — registered relational queries over sf1 tables
  (6M lineitem), where executor scans, joins and windows dominate.
- ``curation`` — registered LLM-curation queries over a small corpus,
  where plan building and driver-side jobs dominate.

Registered queries are checked against their DuckDB oracles with the
comparison routine of ``scripts/check_oracles.py``.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import math
import os
import time
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional

import gen
from harness import CheckFailed, Ctx, Op

#: the oracle comparison of scripts/check_oracles.py (key_rows applies its
#: normalize to every value)
key_rows = gen.load_script("check_oracles").key_rows


@dataclass
class Workload:
    name: str
    ops: List[Op]
    #: one line on the input size, printed with the results
    inputs: str
    #: makes inputs the ops share, after the session starts (part of setup)
    prepare: Optional[Callable[[object], None]] = None


# ---------------------------------------------------------------------------
# Registered queries with DuckDB oracles
# ---------------------------------------------------------------------------


def compare_rows(s_cols, s_rows, d_cols, d_rows) -> None:
    """The oracle gate of ``scripts/check_oracles.py``: row count, column
    names, then order-insensitive values."""
    if len(s_rows) != len(d_rows):
        raise CheckFailed(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
    if sorted(s_cols) != sorted(d_cols):
        raise CheckFailed(f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
    ks, kd = key_rows(s_cols, s_rows), key_rows(d_cols, d_rows)
    if ks != kd:
        bad = [(a, b) for a, b in zip(ks, kd) if a != b]
        raise CheckFailed(f"values differ ({len(bad)}/{len(ks)} rows), first: {bad[0]}")


def query_op(name: str, data_dir: str, reads: List[str], oracles: Dict[str, tuple]) -> Op:
    from pdtable_spark.queries.suite import QUERIES

    def execute(ctx: Ctx, first: bool):
        with ctx.span("build"):
            df = QUERIES[name](ctx.spark, data_dir)
        fp, rows = ctx.consume(df, first)
        if first:
            with ctx.check():
                compare_rows(df.columns, rows, *oracles[name])
        return fp

    return Op(name, sum(gen.footer_rows(data_dir, t) for t in reads), execute)


# ---------------------------------------------------------------------------
# relational_sf1
# ---------------------------------------------------------------------------

#: two of the planned nine sf1 queries: a scan + three-way join + top-k and a
#: window over the events; each run of this workload must fit the run budget
RELATIONAL_QUERIES = {
    "q3_shipping_priority": ["customer", "orders", "lineitem"],
    "q_events_sessions": ["events"],
}


def relational(inputs: dict) -> Workload:
    data, oracles = inputs["data"], inputs["oracles"]
    ops = [query_op(q, data, reads, oracles) for q, reads in RELATIONAL_QUERIES.items()]
    n = gen.footer_rows(data, "lineitem")
    return Workload("relational_sf1", ops, f"sf tables from make_sf1.py, lineitem={n}")


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------

CURATION_QUERIES = {
    "dedup_exact": ["documents"],
    "minhash_candidates": ["documents"],
    "text_tfidf_keywords": ["documents"],
    "text_gopher_rules": ["documents"],
    "text_line_dedup": ["documents"],
    "pipeline_dsir_weights": ["documents"],
    "embedding_semantic_dedup": ["embeddings"],
}


def curation(inputs: dict) -> Workload:
    data, oracles = inputs["data"], inputs["oracles"]
    ops = [query_op(q, data, reads, oracles) for q, reads in CURATION_QUERIES.items()]
    n = (gen.footer_rows(data, "documents"), gen.footer_rows(data, "embeddings"))
    return Workload("curation", ops, f"documents={n[0]} embeddings={n[1]}")


# ---------------------------------------------------------------------------
# startable_io
# ---------------------------------------------------------------------------

#: unit → (base unit, factor, offset): value in base = value·factor + offset
_AFFINE = {
    "kg": ("kg", 1.0, 0.0),
    "t": ("kg", 1e3, 0.0),
    "mm": ("m", 1e-3, 0.0),
    "m": ("m", 1.0, 0.0),
    "C": ("K", 1.0, 273.15),
    "K": ("K", 1.0, 0.0),
}


def affine_converter(value, from_unit: str, to_unit: Optional[str] = None):
    """Unit converter for the library's converter protocol (pint is not a
    dependency): ``value`` in ``from_unit`` → (value in ``to_unit``, unit)."""
    base, f_from, o_from = _AFFINE[from_unit]
    to_unit = to_unit or base
    b2, f_to, o_to = _AFFINE[to_unit]
    if b2 != base:
        raise KeyError(f"Cannot convert '{from_unit}' to '{to_unit}'")
    return ((value * f_from + o_from) - o_to) / f_to, to_unit


def _typed(cell: str, unit: str):
    if unit == "text":
        return cell
    if unit == "onoff":
        return cell == "1"
    if unit == "datetime":
        return dt.datetime.strptime(cell, "%Y-%m-%d %H:%M:%S")
    return None if cell == "bad!" else float(cell)


def expected_lineitem(spec: dict) -> List[tuple]:
    units = [u for _, u in gen.LINEITEM_COLUMNS]
    return [tuple(_typed(c, u) for c, u in zip(r, units)) for r in spec["lineitem"]]


def counting_fixes(block_stream, fx):
    """Table blocks of ``block_stream`` and the fixes applied to them: the
    fixer's count is reset at every block, so it is read as each table is
    yielded."""
    import pdtable_spark as pt

    blocks, fixes = [], 0
    for bt, b in block_stream:
        if bt == pt.BlockType.TABLE and b is not None:
            fixes += fx.fixes if fx is not None else 0
            blocks.append((bt, b))
    return blocks, fixes


def _same_rows(cols, got, want, what: str) -> None:
    if len(got) != len(want):
        raise CheckFailed(f"{what}: {len(got)} rows, expected {len(want)}")
    if key_rows(cols, got) != key_rows(cols, want):
        raise CheckFailed(f"{what}: values differ from the generator's rows")


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def _file_digest(paths: List[str]) -> str:
    """Order-insensitive digest of the lines of ``paths``."""
    lines = []
    for p in paths:
        with open(p, "rb") as fh:
            lines.extend(fh.read().splitlines())
    return hashlib.sha256(b"\n".join(sorted(lines))).hexdigest()


def startable(inputs: dict) -> Workload:
    import pdtable_spark as pt
    from pdtable_spark.frame import InvalidTableCombineError
    from pdtable_spark.io.csv import read_csv, scan_csv, write_csv, write_csv_distributed

    d, paths, specs = inputs["dir"], inputs["paths"], inputs["files"]
    rows_per_file = inputs["rows_per_file"]
    n_files = len(paths)
    glob_spec = os.path.join(d, "csv", "data_*.csv")
    cols = [c for c, _ in gen.LINEITEM_COLUMNS]
    planted = [len(s["illegal"]) for s in specs]
    all_rows = [r for s in specs for r in expected_lineitem(s)]
    n_total = len(all_rows)
    shared: Dict[str, object] = {}

    def fixer():
        f = pt.ParseFixer()
        f.stop_on_errors = False
        return f

    def consume_bundle(ctx, bundle, first):
        """The timed action runs the bundle's big table; the small tables'
        rows are only collected for the warm-up's check."""
        fp, rows = ctx.consume(bundle["lineitem"].df, first)
        out = {"lineitem": rows}
        if first:
            with ctx.check():
                for t in bundle:
                    if t.name != "lineitem":
                        out[t.name] = [tuple(r) for r in t.df.collect()]
        return (tuple(t.name for t in bundle), fp), out

    # -- read_csv → TableBundle (file 0: planted illegal cells) -------------
    def op_read_csv(ctx, first):
        fx = fixer()
        t0 = time.perf_counter()
        with ctx.span("build"), ctx.span("read"):
            blocks, fixes = counting_fixes(read_csv(paths[0], fixer=fx), fx)
            bundle = pt.TableBundle(blocks)
        ctx.note("read_s", time.perf_counter() - t0)
        fp, rows = consume_bundle(ctx, bundle, first)
        ctx.note("fixes", fixes)
        if first:
            with ctx.check():
                if sorted(t.name for t in bundle) != ["dims", "lineitem", "nation"]:
                    raise CheckFailed(f"tables {[t.name for t in bundle]}")
                _same_rows(cols, rows["lineitem"], expected_lineitem(specs[0]), "lineitem")
                if fixes != planted[0]:
                    raise CheckFailed(f"{fixes} fixes, {planted[0]} cells planted")
                if bundle["lineitem"].units != [u for _, u in gen.LINEITEM_COLUMNS]:
                    raise CheckFailed(f"units {bundle['lineitem'].units}")
                dims = sorted(rows["dims"])
                want = sorted((float(a), float(b)) for a, b in specs[0]["dims"])
                if dims != want or not bundle["dims"].metadata.transposed:
                    raise CheckFailed(f"transposed table {dims} != {want}")
        return fp + (fixes,)

    # -- read_csv(to="parsed"): the pure-Python parser over every file ------
    def op_parsed(ctx, first):
        fx = fixer()
        parsed, fixes = [], 0
        with ctx.span("build"):
            for i, p in enumerate(paths):
                t0 = time.perf_counter()
                with ctx.span("parse"):
                    blocks, n = counting_fixes(read_csv(p, to="parsed", fixer=fx), fx)
                if i == 0:
                    ctx.note("parse0_s", time.perf_counter() - t0)
                fixes += n
                parsed.append([b for bt, b in blocks if b.name == "lineitem"])
        ctx.note("fixes", fixes)
        ctx.note("parsed_rows", sum(t.num_rows for ts in parsed for t in ts))
        with ctx.check():
            got = [tuple(zip(*(t.columns[c] for c in cols))) for ts in parsed for t in ts]
            digest = hashlib.sha256(repr(got).encode()).hexdigest()
            if first:
                flat = [r for rs in got for r in rs]
                _same_rows(cols, flat, all_rows, "parsed lineitem")
                if fixes != sum(planted):
                    raise CheckFailed(f"{fixes} fixes, {sum(planted)} cells planted")
        return digest, fixes

    # -- load_files over the include tree (file 1 includes shared.csv) -----
    def op_load(ctx, first):
        with ctx.span("build"), ctx.span("load"):
            bundle = pt.TableBundle(pt.load_files([paths[1]]))
        fp, rows = consume_bundle(ctx, bundle, first)
        origins = {t.origin.input_location.sheet.file.load_identifier
                   for t in bundle if t.origin is not None}
        ctx.note("files", len(origins))
        if first:
            with ctx.check():
                names = sorted(t.name for t in bundle)
                if names != ["dims", "lineitem", "nation", "region"]:
                    raise CheckFailed(f"tables {names}")
                _same_rows(cols, rows["lineitem"], expected_lineitem(specs[1]), "lineitem")
                want = [(float(i), r) for i, r in enumerate(gen.REGIONS)]
                if sorted(rows["region"]) != want:
                    raise CheckFailed(f"region {rows['region']}")
        return fp

    # -- scan_csv: one table across all files, parsed in executors ---------
    def op_scan(ctx, first):
        acc = ctx.spark.sparkContext.accumulator(0)
        with ctx.span("build"), ctx.span("scan"):
            t = scan_csv(ctx.spark, glob_spec, "lineitem", permissive=True, fix_counter=acc)
        fp, rows = ctx.consume(t.df, first)
        ctx.note("fixes", acc.value)
        if first:
            with ctx.check():
                _same_rows(cols, rows, all_rows, "scan_csv lineitem")
        if acc.value != sum(planted):
            raise CheckFailed(f"{acc.value} fixes counted, {sum(planted)} cells planted")
        return fp

    # -- write_csv of file 1's lineitem Table; re-read and compared ---------
    def prepare(spark):
        shared["bundle"] = pt.TableBundle(read_csv(paths[1]))

    def op_write_csv(ctx, first):
        out = os.path.join(ctx.op_dir, "lineitem.csv")
        with ctx.span("build"), ctx.span("write"):
            write_csv(shared["bundle"]["lineitem"], out)
        with ctx.check():
            digest = _file_digest([out])
            if first:
                # Table.equals's rules (metadata, then values as a multiset),
                # applied in Python: Table.equals itself runs four Spark jobs
                (_, b), = counting_fixes(read_csv(out, to="parsed"), None)[0]
                meta = (b.name, set(b.destinations), b.column_names, b.units)
                if meta != ("lineitem", {"all"}, cols, [u for _, u in gen.LINEITEM_COLUMNS]):
                    raise CheckFailed(f"re-read table metadata {meta}")
                _same_rows(cols, list(zip(*(b.columns[c] for c in cols))),
                           expected_lineitem(specs[1]), "re-read lineitem")
        return digest

    # -- write_csv_distributed of the scanned table ------------------------
    def op_write_dist(ctx, first):
        out = os.path.join(ctx.op_dir, "dist")
        with ctx.span("build"):
            with ctx.span("scan"):
                t = scan_csv(ctx.spark, glob_spec, "lineitem", permissive=True)
            with ctx.span("write"):
                write_csv_distributed(t, out)
        with ctx.check():
            parts = sorted(glob.glob(os.path.join(out, "part-*")))
            digest = _file_digest(parts)
            if first:
                # every part file is re-read with the driver-side parser; a
                # partition can be empty, and scan_csv cannot read a zero-row
                # block with a datetime column (see README)
                back = []
                for p in parts:
                    blocks, _ = counting_fixes(read_csv(p, to="parsed"), None)
                    for _, b in blocks:
                        if b.units != [u for _, u in gen.LINEITEM_COLUMNS]:
                            raise CheckFailed(f"{p}: units {b.units}")
                        back.extend(zip(*(b.columns[c] for c in cols)))
                _same_rows(cols, back, all_rows, "re-read distributed output")
        return digest, len(parts)

    # -- unit-aware Table ops: convert_units, checked join, group_by.agg ---
    flags = [("A", "accepted"), ("N", "none"), ("R", "returned")]

    def op_table_units(ctx, first):
        spark = ctx.spark
        with ctx.span("build"):
            t = shared["bundle"]["lineitem"].convert_units(
                {"l_weight": "t", "l_length": "m"}, converter=affine_converter
            )
            names = pt.Table(
                spark.createDataFrame(flags, "l_returnflag string, flag_name string"),
                name="flags",
                units=["text", "text"],
            )
            g = (
                t.join(names, on="l_returnflag", broadcast=True)
                .group_by("flag_name")
                .agg(total_weight=("l_weight", "sum"), max_length=("l_length", "max"),
                     n=("*", "count"))
            )
        fp, rows = ctx.consume(g.df, first)
        if first:
            with ctx.check():
                units = dict(zip(g.column_names, g.units))
                if (units["total_weight"], units["max_length"], units["n"]) != ("t", "m", "-"):
                    raise CheckFailed(f"result units {units}")
                name_of = dict(flags)
                want: Dict[str, list] = {}
                for r in expected_lineitem(specs[1]):
                    w = want.setdefault(name_of[r[7]], [0.0, None, 0])
                    if r[4] is not None:
                        w[0] += r[4] / 1000.0
                    if r[5] is not None:
                        w[1] = r[5] / 1000.0 if w[1] is None else max(w[1], r[5] / 1000.0)
                    w[2] += 1
                got = {r[g.column_names.index("flag_name")]: r for r in rows}
                if sorted(got) != sorted(want):
                    raise CheckFailed(f"groups {sorted(got)}")
                for k, (tw, ml, n) in want.items():
                    r = dict(zip(g.column_names, got[k]))
                    if not (_close(r["total_weight"], tw) and _close(r["max_length"], ml)
                            and r["n"] == n):
                        raise CheckFailed(f"group {k}: {r} != {(tw, ml, n)}")
                bad = pt.Table(
                    spark.createDataFrame([(1.0,)], "l_weight double"), name="bad", units=["kg"]
                )
                try:
                    t.join(bad, on="l_weight")
                except InvalidTableCombineError:
                    pass
                else:
                    raise CheckFailed("join of 't' with 'kg' columns was not refused")
        return fp

    # declared input rows: a file holds its lineitem, nation and dims rows;
    # the shared file it includes adds the region rows
    per_file = rows_per_file + len(specs[0]["nation"]) + len(specs[0]["dims"])
    ops = [
        Op("read_csv", per_file, op_read_csv, "table"),
        Op("read_csv_parsed", n_files * per_file, op_parsed, "parsers"),
        Op("load_files", per_file + len(gen.REGIONS), op_load, "io.load"),
        Op("scan_csv", n_total, op_scan, "io.csv"),
        Op("write_csv", rows_per_file, op_write_csv, "io.csv", rows_written=rows_per_file),
        Op("write_csv_distributed", n_total, op_write_dist, "io.csv", rows_written=n_total),
        Op("table_units", rows_per_file + len(flags), op_table_units, "table"),
    ]
    return Workload(
        "startable_io",
        ops,
        f"{n_files} StarTable files x {rows_per_file} lineitem rows",
        prepare,
    )


#: name → (workload builder from its inputs, registered queries it runs)
WORKLOADS = {
    "startable_io": (startable, []),
    "relational_sf1": (relational, list(RELATIONAL_QUERIES)),
    "curation": (curation, list(CURATION_QUERIES)),
}

