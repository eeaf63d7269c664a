"""Driver-fitted constants as plan literals: the only code that turns a
Python constant (hyperplanes, centroids, lookup tables, model weights,
term lists, bit weights) into plan text.

  * :func:`sql_lit` — SQL text for ``F.expr``: one py4j call per
    constant, where ``F.array(*[F.lit(x) …])`` (which ``F.lit(list)``
    expands to) makes N+1, ~1 ms each (~0.9 s for a 512-entry table,
    round 11). Both constant-fold to the identical Literal.
  * :func:`json_lit` — one JSON string decoded by ``from_json``, for
    large double arrays: analysis walks every node of a parsed array, so
    a 4096-double one cost ~0.30 s per ``select`` (round-12 probe:
    parsed 295 ms vs from_json 91 ms, execution identical, outputs
    bit-equal). Its columns are nullable, so tables stay on SQL text.

Both keep doubles bit-exact (``repr`` / ``json.dumps`` emit the shortest
round-trip decimal; the SQL parser and Jackson round correctly), pinned
against ``createDataFrame`` / ``F.lit`` in ``tests/test_literals.py``.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["sql_lit", "json_lit", "literal_table"]

_SCALARS = {"string": "STRING", "int": "INT", "integer": "INT",
            "bigint": "BIGINT", "long": "BIGINT", "double": "DOUBLE"}


def _parse(ddl: str):
    """DDL type -> ``"STRING"``-style scalar, ``("ARRAY", elem)`` or
    ``("STRUCT", ((name, type), …))``."""
    t = ddl.strip()
    head, _, body = t.partition("<")
    kind = head.strip().upper()
    if not body and t.lower() in _SCALARS:
        return _SCALARS[t.lower()]
    if kind not in ("ARRAY", "STRUCT") or not body.endswith(">"):
        raise ValueError(f"unsupported literal type: {ddl!r}")
    if kind == "ARRAY":
        return ("ARRAY", _parse(body[:-1]))
    fields, depth, start = [], 0, 0
    for i, c in enumerate(body[:-1] + ","):  # split on top-level commas
        depth += (c == "<") - (c == ">")
        if c == "," and depth == 0:
            f = body[start:i].strip()
            name, typ = re.split(r"\s*:\s*|\s+", f, maxsplit=1)
            fields.append((name, _parse(typ)))
            start = i + 1
    return ("STRUCT", tuple(fields))


def _type_sql(t) -> str:
    if isinstance(t, str):
        return t
    if t[0] == "ARRAY":
        return f"ARRAY<{_type_sql(t[1])}>"
    fields = ",".join(f"`{n}`:{_type_sql(x)}" for n, x in t[1])
    return f"STRUCT<{fields}>"


def _str_sql(s: str) -> str:
    # backslash and quote: the only characters the default string lexer
    # treats specially
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _render(v, t, path: str) -> str:
    if v is None:
        raise ValueError(
            f"literal constant has a null at {path or 'the top level'} "
            f"({_type_sql(t)}); fitted constants must be non-null"
        )
    if t == "STRING":
        return _str_sql(v)
    if t in ("INT", "BIGINT"):  # a bare -9223372036854775808L does not parse
        return f"CAST({int(v)} AS {t})"
    if t == "DOUBLE":
        r = repr(float(v))
        if r in ("inf", "-inf", "nan"):
            return f"CAST('{r}' AS DOUBLE)"
        return r + "D"
    if t[0] == "ARRAY":
        if not v:
            return f"CAST(array() AS {_type_sql(t)})"
        cells = (_render(x, t[1], f"{path}[{i}]") for i, x in enumerate(v))
        return "array(" + ",".join(cells) + ")"
    cells = (
        f"{_str_sql(n)},{_render(x, ft, f'{path}.{n}' if path else n)}"
        for (n, ft), x in zip(t[1], v)
    )
    return "named_struct(" + ",".join(cells) + ")"


def sql_lit(value, ddl: str) -> str:
    """SQL text for a constant of DDL type ``ddl``: ``string``, ``int``,
    ``bigint``, ``double``, ``array<T>`` or ``struct<n:T, …>`` (a
    sequence in field order). Non-finite doubles render as
    ``CAST('inf' AS DOUBLE)``, empty arrays as
    ``CAST(array() AS ARRAY<T>)``. A ``None`` anywhere raises
    ``ValueError`` naming its path (``[3].word``)."""
    return _render(value, _parse(ddl), "")


def json_lit(value, ddl: str) -> Column:
    """A (nested) double constant of DDL type ``ddl`` as ONE JSON string
    literal decoded by ``from_json``, which the optimizer folds to the
    identical Literal. Non-finite doubles have no JSON rendering, so
    they raise ``ValueError``."""
    try:
        text = json.dumps(value, allow_nan=False)
    except ValueError:
        raise ValueError("folded constant has non-finite values") from None
    # FAILFAST: a constant that does not match the schema errors when
    # the optimizer folds it, instead of folding to a null
    return F.from_json(F.lit(text), ddl, options={"mode": "FAILFAST"})


#: literal_table falls back to createDataFrame above this many rows: the
#: literal form is for BOUNDED fitted tables; past it the SQL text would
#: grow without limit and the RDD path's distribution is the right shape.
_LITERAL_TABLE_MAX_ROWS = 20_000


def literal_table(spark, rows, schema: str):
    """A bounded rows-list as a DataFrame WITHOUT the ``createDataFrame``
    driver round trip: ONE ``inline(array(named_struct(...)))`` SQL
    expression that constant-folds into the plan, so building the frame
    costs a SQL parse (~ms) instead of an RDD ``parallelize`` and its
    scan job (~0.25-0.3 s per dimension table at bench scale, round 11).
    Values are byte/bit-exact to ``createDataFrame(rows, schema)``.

    ``schema`` is that call's DDL (``"name type, ..."``) over the
    :func:`sql_lit` types; a null cell raises ``ValueError`` naming its
    column. Empty tables and ones over ``_LITERAL_TABLE_MAX_ROWS`` rows
    take the ``createDataFrame`` path.
    """
    rows = list(rows)
    if not rows or len(rows) > _LITERAL_TABLE_MAX_ROWS:
        return spark.createDataFrame(rows, schema)
    # SELECT over OneRowRelation (not spark.range(1)): one partition, so
    # a downstream broadcast build scans 1 task. The array of structs
    # folds to one Literal and inline() of it is a constant-size codegen
    # loop: only the plan's printed text grows with the row count.
    return spark.sql(
        f"SELECT inline({sql_lit(rows, f'array<struct<{schema}>>')})"
    )
