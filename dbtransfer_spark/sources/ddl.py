"""DDL generation: StructType → dialect CREATE TABLE.

The reference clones DDL by string-munging the source's own DDL text
(``SHOW CREATE TABLE`` mysql.go:406-415; information_schema reconstruction
postgresql.go:439-496; CQL reconstruction cassandra.go:900-980). Our schema
authority is the DataFrame's StructType (Catalyst gives us types, we
generate the text), which also fixes the reference quirk of re-querying the
*source* for the *target*'s columns (mysql.go:419, SURVEY.md §2.5 note).

All statements are ``IF NOT EXISTS`` — apply tolerates pre-existing tables
exactly like the reference (mysql.go:267-271).
"""

from __future__ import annotations

from pyspark.sql import types as T

_MYSQL_TYPES: dict[type, str] = {
    T.ByteType: "TINYINT",
    T.ShortType: "SMALLINT",
    T.IntegerType: "INT",
    T.LongType: "BIGINT",
    T.FloatType: "FLOAT",
    T.DoubleType: "DOUBLE",
    T.BooleanType: "TINYINT(1)",
    T.DateType: "DATE",
    T.TimestampType: "DATETIME(6)",
    T.BinaryType: "BLOB",
    T.StringType: "TEXT",
}

_PG_TYPES: dict[type, str] = {
    T.ByteType: "SMALLINT",
    T.ShortType: "SMALLINT",
    T.IntegerType: "INTEGER",
    T.LongType: "BIGINT",
    T.FloatType: "REAL",
    T.DoubleType: "DOUBLE PRECISION",
    T.BooleanType: "BOOLEAN",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMP",
    T.BinaryType: "BYTEA",
    T.StringType: "TEXT",
}

def _mysql_type(dt: T.DataType, is_key: bool) -> str:
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.StringType) and is_key:
        return "VARCHAR(255)"  # TEXT cannot be a MySQL PK without length
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return "JSON"
    return _MYSQL_TYPES.get(type(dt), "TEXT")


def _pg_type(dt: T.DataType, is_key: bool) -> str:
    if isinstance(dt, T.DecimalType):
        return f"NUMERIC({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType) and not isinstance(
        dt.elementType, (T.ArrayType, T.MapType, T.StructType)
    ):
        return _pg_type(dt.elementType, False) + "[]"
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return "JSONB"
    return _PG_TYPES.get(type(dt), "TEXT")


def mysql_create_table(table: str, schema: T.StructType, key_columns: list[str]) -> str:
    cols = [
        f"  `{f.name}` {_mysql_type(f.dataType, f.name in key_columns)}"
        + ("" if f.nullable and f.name not in key_columns else " NOT NULL")
        for f in schema.fields
    ]
    if key_columns:
        cols.append("  PRIMARY KEY (" + ", ".join(f"`{c}`" for c in key_columns) + ")")
    return f"CREATE TABLE IF NOT EXISTS `{table}` (\n" + ",\n".join(cols) + "\n)"


def postgres_create_table(table: str, schema: T.StructType, key_columns: list[str]) -> str:
    cols = [
        f'  "{f.name}" {_pg_type(f.dataType, f.name in key_columns)}'
        + ("" if f.nullable and f.name not in key_columns else " NOT NULL")
        for f in schema.fields
    ]
    if key_columns:
        cols.append("  PRIMARY KEY (" + ", ".join(f'"{c}"' for c in key_columns) + ")")
    return f'CREATE TABLE IF NOT EXISTS "{table}" (\n' + ",\n".join(cols) + "\n)"
