"""SQL-text building blocks for operators that ship their expressions as
text through one ``selectExpr`` per analysis layer (SCALING §12: a
``Column`` costs one py4j round trip per ``F.*`` call, a SQL string
costs nothing until the JVM parses the whole layer at once).

Identifier quoting lives here and nowhere else:

- :func:`ident` quotes ONE name: an output alias, or a column name read
  from a schema;
- :func:`col_ref` quotes a column reference so that it resolves exactly
  what ``F.col(name)`` resolves (dots outside backticks separate name
  parts, a backticked part is literal);
- :func:`ddl` writes the schema DDL of an Arrow stage's output (a
  ``StructType.fromDDL`` string), each field name quoted with
  :func:`ident`, each type written by :func:`sql_type`.
"""

from __future__ import annotations

from collections.abc import Collection, Mapping, Sequence

#: frame of a running aggregate: the partition's first row to this one
RUNNING = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def ident(name: str) -> str:
    """``name`` as one backtick-quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def col_ref(name: str) -> str:
    """``name`` as a column reference that resolves what ``F.col(name)``
    resolves: the name is split into parts the way Spark's attribute-name
    parser splits it, and every part is quoted with :func:`ident`."""
    parts: list[str] = []
    cur: list[str] = []
    quoted = False
    i = 0
    while i < len(name):
        ch = name[i]
        if quoted:
            if ch != "`":
                cur.append(ch)
            elif name[i + 1 : i + 2] == "`":
                cur.append("`")
                i += 1
            else:
                quoted = False
                if name[i + 1 : i + 2] not in ("", "."):
                    raise ValueError(f"syntax error in attribute name: {name!r}")
        elif ch == "`":
            if cur:
                raise ValueError(f"syntax error in attribute name: {name!r}")
            quoted = True
        elif ch == ".":
            if i in (0, len(name) - 1) or name[i - 1] == ".":
                raise ValueError(f"syntax error in attribute name: {name!r}")
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if quoted:
        raise ValueError(f"syntax error in attribute name: {name!r}")
    parts.append("".join(cur))
    return ".".join(ident(p) for p in parts)


def sql_type(dtype) -> str:
    """A Spark ``DataType`` as SQL type text (a DDL field, a ``CAST``)."""
    return dtype.simpleString()


def ddl(schema, cols: Sequence[str] | Mapping[str, str]) -> str:
    """DDL of the fields ``cols`` of ``schema`` (a ``StructType``); a
    mapping ``{name: field}`` writes ``name`` typed as ``field``."""
    pairs = cols.items() if isinstance(cols, Mapping) else ((c, c) for c in cols)
    return ", ".join(f"{ident(n)} {sql_type(schema[f].dataType)}" for n, f in pairs)


def over(
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    frame: str = "",
    direction: str = "ASC",
) -> str:
    """``OVER ([PARTITION BY key_cols] [ORDER BY order_cols] [frame])``,
    each order column sorted ``direction`` with that direction's default
    null placement (what ``F.col(c).asc()`` / ``.desc()`` give)."""
    spec = []
    if key_cols:
        spec.append("PARTITION BY " + ", ".join(map(col_ref, key_cols)))
    if order_cols:
        spec.append("ORDER BY " + ", ".join(f"{col_ref(c)} {direction}" for c in order_cols))
    return f"OVER ({' '.join(spec + [frame] if frame else spec)})"


def unit_snap(expr: str, scale: int | float) -> str:
    """``expr`` snapped to integer units of ``1/scale`` as a BIGINT: the
    integer-unit convention of the exact detectors (sums, medians and
    fences of the snapped values are exact in any engine). NaN snaps to
    NULL, as the streaming folds read it; ``nullif`` keeps ``expr``'s
    own type, so integer and decimal inputs are not routed through a
    double."""
    if isinstance(scale, float):
        scale = f"{scale!r}D"
    return f"cast(round(nullif({expr}, double('NaN')) * {scale}) as bigint)"


def past_rows(n: int) -> str:
    """The past-only frame ``[t-n, t-1]``: the current row is excluded."""
    return f"ROWS BETWEEN {n} PRECEDING AND 1 PRECEDING"


def aliased(exprs: Mapping[str, str]) -> list[str]:
    """``expr AS name`` for each ``name: expr``."""
    return [f"{v} AS {ident(k)}" for k, v in exprs.items()]


def with_columns(
    columns: Sequence[str], exprs: Mapping[str, str], drop: Collection[str] = ()
) -> list[str]:
    """The ``selectExpr`` list equivalent to
    ``df.withColumns(exprs).drop(*drop)`` on a frame whose columns are
    ``columns``: a column whose name matches a key (case-insensitively, as
    the session's default resolver matches) is replaced in place, the
    other keys are appended in order, and the ``drop`` columns are left
    out."""
    present = {c.lower() for c in columns}
    gone = {c.lower() for c in drop} & present
    new = {k: v for k, v in exprs.items() if k.lower() not in present}
    if len(new) == len(exprs) and not gone:
        return ["*", *aliased(exprs)]
    by_lower = {k.lower(): k for k in exprs}
    out = []
    for c in columns:
        if c.lower() in gone:
            continue
        k = by_lower.get(c.lower())
        out.append(ident(c) if k is None else f"{exprs[k]} AS {ident(k)}")
    return out + aliased(new)
