"""Shared expression helpers for the plan builders."""

from __future__ import annotations


def array_sql(values) -> str:
    """A constant numeric array as one Spark SQL ``array(...)`` text.

    ``F.expr(array_sql(xs))`` plans in one py4j call, where
    ``F.array(*[F.lit(v) for v in xs])`` pays about five per element;
    Catalyst folds both to the same array literal. Elements keep the
    types ``F.lit`` gives them: an int renders as a SQL int (Spark
    widens it to bigint past 32 bits, as py4j does), a float renders
    with the ``D`` suffix, since a bare ``1.5`` is a DECIMAL in Spark
    SQL."""
    items = (f"{v!r}D" if isinstance(v, float) else str(int(v)) for v in values)
    return f"array({', '.join(items)})"
