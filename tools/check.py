"""Local mirror of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB at sf0.01, compares row count, sorted column names, a
driver-style OUTPUT-TYPE lint, and an order-insensitive canonical value
hash (floats via repr after round-trip).

The type lint is the round-7 lesson: the driver compares pandas dtypes
(tz-awareness included) and sorts rows through pandas, so an oracle
built with DuckDB ``to_timestamp()`` (TIMESTAMP WITH TIME ZONE ->
datetime64[us, Etc/UTC]) fails schema_match against Spark's naive
timestamps even when every value matches, and an array-typed output
column crashes the canonicalizer ("unhashable type: 'list'"). The old
canon_cell here strftime-dropped tzinfo and happily serialized lists,
so local green did not predict driver green — four r06 rows went red
that way. Now both result schemas are mapped to canonical type classes
BEFORE hashing and the run fails on: tz-aware timestamps, array/map/
struct columns, DECIMAL/HUGEINT (driver-hostile since round 2), or any
per-column class mismatch (int width included) between engines.

Usage: python tools/check.py [query_name ...]
       python tools/check.py --new-since <git-rev>

``--new-since`` is the round-9 landing rule made executable: the one
red that round (text_dup_spans) was a query that entered
DRIVER_PRIORITY in the end-of-round snapshot commit, AFTER the round's
full check sweep — so every recorded gate was green while the tree
carried a guaranteed driver failure. This mode diffs the registry's
query keys against those at <git-rev> (e.g. the last round's final
commit) and checks exactly the new ones, so "nothing enters
DRIVER_PRIORITY without a same-session check green" is a 30-second
command, not prose.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import sys
import time
from datetime import date, datetime

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# override with STOCKPY_CHECK_SF_DIR to sweep other scales — sf0.001's
# sparser distributions (more singleton groups, emptier joins) are the
# edge-case sweep that caught the seasonal NULL-sigma class of
# divergence (round 9)
SF_DIR = os.environ.get("STOCKPY_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


# Spark simpleString -> canonical class. Anything not listed is
# driver-hostile (array/map/struct crash the pandas canonicalizer;
# decimal/binary hash engine-specifically). Integer and float WIDTHS
# deliberately collapse to one class each: rows that mixed int32/int64
# across engines (f9_posexplode_tokens, f7_string_funcs, q8, q9, ...)
# were hash-green at the driver in r04-r06, so the driver is
# width-lenient — while naive-vs-tz-aware datetimes (same value set)
# went red, so tz-awareness stays a hard failure.
_SPARK_CLASS = {
    "tinyint": "int", "smallint": "int", "int": "int",
    "bigint": "int", "float": "float", "double": "float",
    "string": "str", "boolean": "bool", "date": "date",
    "timestamp": "ts", "timestamp_ntz": "ts",
}

# DuckDB type str -> canonical class. TIMESTAMP WITH TIME ZONE is
# deliberately ABSENT: it reaches pandas tz-aware and fails the
# driver's dtype comparison against Spark's naive timestamps.
_DUCK_CLASS = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int",
    "BIGINT": "int", "FLOAT": "float", "DOUBLE": "float",
    "VARCHAR": "str", "BOOLEAN": "bool", "DATE": "date",
    "TIMESTAMP": "ts",
}


def schema_lint(
    scols: list[str],
    stypes: list[str],
    dcols: list[str],
    dtypes: list[str],
) -> list[str]:
    """Driver-style output-type check. Returns a list of problems
    (empty = clean): unsupported/driver-hostile types on either side,
    and per-column canonical-class mismatches between the engines."""
    problems = []
    smap, dmap = {}, {}
    for c, t in zip(scols, stypes):
        cls = _SPARK_CLASS.get(t)
        if cls is None:
            problems.append(f"spark col {c}: driver-hostile type {t}")
        smap[c] = cls
    for c, t in zip(dcols, dtypes):
        cls = _DUCK_CLASS.get(t)
        if cls is None:
            problems.append(f"duck col {c}: driver-hostile type {t}")
        dmap[c] = cls
    for c in sorted(set(smap) & set(dmap)):
        if smap[c] and dmap[c] and smap[c] != dmap[c]:
            problems.append(
                f"col {c}: spark {smap[c]} vs duck {dmap[c]} "
                "(pandas dtypes will differ at the driver)"
            )
    return problems


def canon_rows(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return h, len(rows)


# Registration spellings, newest first: the ``@query("name", ...)``
# decorator of stockpy_spark/registry/, then the two spellings older
# revisions used -- dict-literal entries (``"name": (q_fn, SQL)``) and
# subscript assignment (``QUERIES["name"] = (...)``).
_KEY_PATTERNS = (
    re.compile(r'^@query\(\s*"([a-z0-9_]+)"', re.M),
    re.compile(r'^\s*"([a-z0-9_]+)"\s*:\s*\(', re.M),
    re.compile(r'\[\s*"([a-z0-9_]+)"\s*\]\s*=\s*\(', re.M),
)


def keys_in_source(src: str) -> set[str]:
    """Query names one registry source file declares, read textually."""
    return {key for pat in _KEY_PATTERNS for key in pat.findall(src)}


def keys_at_rev(rev: str) -> set[str]:
    """Registry query keys at a git revision, extracted textually from
    the sources under stockpy_spark/registry (the package, or the
    registry*.py files of older revisions) -- no import of old code
    needed."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ls = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "stockpy_spark/"],
        capture_output=True, text=True, cwd=repo, check=True,
    ).stdout.split()
    keys: set[str] = set()
    for path in ls:
        if not path.startswith("stockpy_spark/registry"):
            continue
        src = subprocess.run(
            ["git", "show", f"{rev}:{path}"],
            capture_output=True, text=True, cwd=repo, check=True,
        ).stdout
        keys |= keys_in_source(src)
    return keys


def main() -> int:
    import __spark_entry__ as e
    from stockpy_spark.session import get_spark

    args = sys.argv[1:]
    qs, oracles = e.queries(), e.oracle_sql()
    if args and args[0] == "--new-since":
        old = keys_at_rev(args[1])
        only = set(qs) - old
        if not only:
            print(f"no new registry keys since {args[1]} — nothing to check")
            return 0
        print(f"new since {args[1]}: {' '.join(sorted(only))}")
    else:
        only = set(args)
        unknown = only - set(qs)
        if unknown:
            print(f"unknown query name(s): {' '.join(sorted(unknown))}")
            return 1

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    spark = get_spark("check")
    # reliable-pin sweep support (r13): STOCKPY_PIN_MODE=reliable runs
    # every census/count-table pin through a durable checkpoint() —
    # the cluster mode of operators/pinning.py — which needs a
    # checkpoint dir. Oracles must stay green in BOTH modes.
    from stockpy_spark.operators.pinning import pin_mode

    if pin_mode(spark) == "reliable":
        import tempfile

        ckdir = tempfile.mkdtemp(prefix="stockpy_reliable_pins_")
        spark.sparkContext.setCheckpointDir(ckdir)
        print(f"pin mode: reliable (checkpoint dir {ckdir})")
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            stypes = [f.dataType.simpleString() for f in sdf.schema.fields]
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            continue
        if name not in oracles:
            # rows-only queries still pass through the driver's pandas
            # canonicalizer — lint the Spark side alone
            bad = [
                f"{c}: driver-hostile type {t}"
                for c, t in zip(scols, stypes)
                if t not in _SPARK_CLASS
            ]
            if bad:
                print(f"FAIL  {name}: {bad}")
                failures.append(name)
                continue
            print(f"ok*   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = [str(t) for t in rel.types]
            problems = schema_lint(scols, stypes, dcols, dtypes)
            if problems:
                print(f"FAIL  {name}: schema lint: {problems}")
                failures.append(name)
                continue
            drows = rel.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        sh, sn = canon_rows(scols, srows)
        dh, dn = canon_rows(dcols, drows)
        schema_ok = sorted(scols) == sorted(dcols)
        if sn == dn and schema_ok and sh == dh:
            print(f"ok    {name}: {sn} rows match ({time.time()-t0:.1f}s)")
        else:
            print(
                f"FAIL  {name}: rows {sn} vs {dn}, schema_ok={schema_ok} "
                f"(spark {sorted(scols)} vs duck {sorted(dcols)}), hash {'=' if sh==dh else '!='}"
            )
            if sn == dn and schema_ok:
                # show first differing canonical line
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted("\x1f".join(canon_cell(r[i]) for i in order_s) for r in srows)
                ld = sorted("\x1f".join(canon_cell(r[i]) for i in order_d) for r in drows)
                for a, b in zip(ls, ld):
                    if a != b:
                        print(f"      spark: {a.replace(chr(31), ' | ')}")
                        print(f"      duck : {b.replace(chr(31), ' | ')}")
                        break
            failures.append(name)
    print(f"\n{checked - len(failures)}/{checked} queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
