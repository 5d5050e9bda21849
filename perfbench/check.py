"""Output checks, run outside the timed passes.

A batch query is compared with its DuckDB oracle on the same parquet,
normalized the way ``tests/test_oracle_parity.py`` does; a query with no
oracle must return rows. A fold's answer is compared with its batch twin
the way ``tests/test_streaming.py`` compares those twins: same columns,
equal sorted row tuples.
"""

from __future__ import annotations

import math


def normalize(rows, colnames) -> list[tuple]:
    """Sort columns by name, then rows; canonicalize value types.

    The same rule as ``_normalize`` in ``tests/test_oracle_parity.py``,
    copied rather than imported: that test module is not a package
    module, and importing it imports pytest and loads the whole plan
    registry as a side effect."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def canon(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, bool):
            return str(int(v))
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(round(v, 9))
        return str(v)

    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def oracle_mismatch(spark_rows, spark_cols, duck_rows, duck_cols) -> str | None:
    """None when the Spark result equals the oracle's, else why not."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns spark={spark_cols} oracle={duck_cols}"
    if len(spark_rows) != len(duck_rows):
        return f"row count spark={len(spark_rows)} oracle={len(duck_rows)}"
    s, d = normalize(spark_rows, spark_cols), normalize(duck_rows, duck_cols)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:3]
        return f"values differ, first: {diffs}"
    return None


def twin_mismatch(fold_rows, fold_cols, twin_rows, twin_cols) -> str | None:
    """None when the fold's answer equals its batch twin's, else why not."""
    if list(fold_cols) != list(twin_cols):
        return f"columns fold={fold_cols} twin={twin_cols}"
    a = sorted(map(tuple, fold_rows))
    b = sorted(map(tuple, twin_rows))
    if not b:
        return "batch twin returned no rows"
    if a != b:
        return f"fold has {len(a)} rows, twin {len(b)}; first differing: " + str(
            next(((x, y) for x, y in zip(a, b) if x != y), None))
    return None
