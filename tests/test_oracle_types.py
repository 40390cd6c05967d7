"""Oracle-type lint: every ``oracle_sql()`` entry must produce DuckDB
column types that survive the driver's pandas canonicalization and match
the Spark result's dtype class column-by-column.

Root cause this guards against (VERDICT r4 item #1/#2): DuckDB's integer
``sum()`` and ``//`` chains emit HUGEINT, which ``duckdb.df()`` renders
as float64 — so the driver hashes ``3.0`` where Spark hashes ``3`` and
the row goes red even though values are equal; LIST/STRUCT/MAP columns
crash pandas row sorting outright. A ``DESCRIBE`` sweep over all oracles
predicted exactly the r4 red set, so this lint makes the class of bug
impossible to reintroduce as the verification rotation window moves.
"""

from __future__ import annotations

import re

import pytest

# DuckDB types that the driver's pandas conversion mangles or crashes on.
_FORBIDDEN = re.compile(
    r"HUGEINT|UHUGEINT|\bLIST\b|STRUCT|\bMAP\b|\[\]|UNION", re.I
)


def _duck_class(t: str) -> str:
    t = t.upper()
    if re.match(r"^(U?(BIG|SMALL|TINY)?INT(EGER)?\d*|UTINYINT|USMALLINT|UINTEGER|UBIGINT)$", t):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
        return "float"
    if t in ("VARCHAR", "TEXT", "STRING", "UUID"):
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    if t in ("BLOB", "BYTEA"):
        return "bytes"
    return f"other:{t}"


def _spark_class(t: str) -> str:
    t = t.lower()
    if t in ("bigint", "int", "smallint", "tinyint", "long", "integer", "short", "byte"):
        return "int"
    if t in ("double", "float") or t.startswith("decimal"):
        return "float"
    if t == "string":
        return "str"
    if t == "boolean":
        return "bool"
    if t.startswith("timestamp"):
        return "timestamp"
    if t == "date":
        return "date"
    if t == "binary":
        return "bytes"
    return f"other:{t}"


@pytest.fixture(scope="module")
def oracle_plans(duck):
    """DESCRIBE every oracle once (binder-only, no execution)."""
    import __spark_entry__ as entrymod

    out = {}
    for name, sql in entrymod.oracle_sql().items():
        rows = duck.execute(f"DESCRIBE SELECT * FROM ({sql}) __q").fetchall()
        out[name] = [(r[0], r[1]) for r in rows]
    return out


def test_no_oracle_emits_driver_hostile_types(oracle_plans):
    bad = {
        name: [(c, t) for c, t in cols if _FORBIDDEN.search(t)]
        for name, cols in oracle_plans.items()
    }
    bad = {k: v for k, v in bad.items() if v}
    assert not bad, (
        "oracles emitting HUGEINT/LIST/STRUCT/MAP columns (driver's pandas "
        f"canonicalization mangles these — cast to BIGINT / array_join): {bad}"
    )


def test_oracle_type_classes_match_spark_dtypes(all_queries, oracle_plans):
    """Column-by-column: DuckDB class must equal Spark class (after name
    sort, the driver's comparison order). Schema-only — no execution."""
    mismatches = {}
    for name, dcols in oracle_plans.items():
        schema, _ = all_queries[name]
        scols = sorted((f.name, f.dataType.simpleString()) for f in schema.fields)
        dcols_sorted = sorted(dcols)
        if [c for c, _ in scols] != [c for c, _ in dcols_sorted]:
            mismatches[name] = f"column names {scols} vs {dcols_sorted}"
            continue
        for (cname, stype), (_, dtype) in zip(scols, dcols_sorted):
            sc, dc = _spark_class(stype), _duck_class(dtype)
            if sc != dc:
                mismatches.setdefault(name, []).append(
                    f"{cname}: spark {stype}({sc}) vs duck {dtype}({dc})"
                )
    assert not mismatches, f"oracle/Spark dtype-class mismatches: {mismatches}"
