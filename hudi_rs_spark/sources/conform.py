"""Row conformance: avro/pyarrow-decoded python values -> rows matching a
Spark StructType (the log-decode kernel, sources/pyds.py::_decode_logs)."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import types as T


def conform_row(r: dict, struct: T.StructType) -> dict:
    return {f.name: conform_value(r.get(f.name), f.dataType) for f in struct.fields}


def apply_renames(r: dict, renames: dict[str, list[str]] | None) -> dict:
    """Map renamed columns to their CURRENT name in a decoded log
    record (in place). A record lacking the current name but carrying a
    prior one was written before the rename: ``rename_column`` refuses
    to reuse a renamed-away name (write/ddl.py), so the prior name's
    presence identifies the epoch unambiguously — the log-record twin
    of the base scan's per-epoch physical-name mapping
    (sources/hudi.py phys_name / pyds _conform_table)."""
    if renames:
        for cur, priors in renames.items():
            if cur not in r:
                for p in priors:
                    if p in r:
                        r[cur] = r.pop(p)
                        break
    return r


def conform_value(v, dtype: T.DataType):
    if v is None:
        return None
    if isinstance(dtype, T.DecimalType) and not isinstance(v, Decimal):
        return Decimal(str(v))
    if isinstance(dtype, (T.LongType, T.IntegerType)) and isinstance(v, float):
        return int(v)
    if isinstance(dtype, T.DoubleType) and isinstance(v, int):
        return float(v)
    if isinstance(dtype, T.StringType) and isinstance(v, (int, float, bool)):
        # type-evolved column (e.g. long -> string): log records written
        # before the evolution carry the old type; mirror the base-scan
        # epoch cast (Spark cast semantics: bools lowercase)
        return str(v).lower() if isinstance(v, bool) else str(v)
    if isinstance(dtype, T.MapType):
        # pyarrow .to_pylist() yields maps as [(k, v), ...]
        items = v.items() if isinstance(v, dict) else v
        return {k: conform_value(x, dtype.valueType) for k, x in items}
    if isinstance(dtype, T.ArrayType):
        return [conform_value(x, dtype.elementType) for x in v]
    if isinstance(dtype, T.StructType) and isinstance(v, dict):
        return conform_row(v, dtype)
    return v
