"""SAX: Symbolic Aggregate approXimation of time series.

Lin, Keogh, Lonardi & Chiu, "A Symbolic Representation of Time Series"
(DMKD 2003/2007): split each fixed-length window into equal segments,
take segment means (PAA), z-normalize against the window, and map each
segment to a letter by standard-normal breakpoints — turning numeric
series into WORDS with a lower-bounding distance. The words are what
makes series indexable by the engine's existing text machinery: exact
dedup, MinHash/LSH near-dup, heavy hitters and tf-idf all apply
directly to SAX words (motif/novelty mining at corpus scale — the
HOT-SAX/bitmap family of detectors is built on exactly this).

Fully Catalyst: one row_number pass, one (key, window, segment)
aggregate, one windows aggregate — no Python anywhere. Cross-engine
determinism via the repo's integer-unit convention: values snap to
BIGINT units, all sums are exact integers, and mu/sigma/z are doubles
derived from those integers by the same expression text any SQL engine
evaluates bit-identically — which is what makes SAX words exactly
oracle-checkable (the breakpoints are 4-decimal literals from the
standard SAX table).

Only FULL windows emit a word (a partial trailing window has no
defined PAA); flat windows (zero variance) map every segment to the
z=0 symbol by convention.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import ident, unit_snap

__all__ = ["sax_words", "SAX_BREAKPOINTS"]

# standard-normal quantiles at i/a, the classic SAX breakpoint table
# (Lin et al. 2007, table 3), 4 decimals
SAX_BREAKPOINTS = {
    3: [-0.4307, 0.4307],
    4: [-0.6745, 0.0, 0.6745],
    5: [-0.8416, -0.2533, 0.2533, 0.8416],
    6: [-0.9674, -0.4307, 0.0, 0.4307, 0.9674],
    7: [-1.0676, -0.5659, -0.18, 0.18, 0.5659, 1.0676],
    8: [-1.1503, -0.6745, -0.3186, 0.0, 0.3186, 0.6745, 1.1503],
}


def _symbol_case(z_expr: str, alphabet_size: int) -> str:
    """CASE mapping a z expression to letters — the SAME text goes into
    any SQL oracle so symbol assignment is bit-identical."""
    bps = SAX_BREAKPOINTS[alphabet_size]
    parts = []
    for i, b in enumerate(bps):
        parts.append(f"WHEN {z_expr} < cast({b!r} as double) THEN '{chr(97 + i)}'")
    parts.append(f"ELSE '{chr(97 + len(bps))}'")
    return "CASE " + " ".join(parts) + " END"


def sax_words(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    window_rows: int = 16,
    word_len: int = 4,
    alphabet_size: int = 4,
    unit_digits: int = 2,
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """One SAX word per full ``window_rows``-row tumbling window per
    series: series keys + ``win`` (0-based window index),
    ``win_start`` (first timestamp in the window) and ``word``
    (``word_len`` letters from an ``alphabet_size`` alphabet).
    """
    if alphabet_size not in SAX_BREAKPOINTS:
        raise ValueError(
            f"sax_words: alphabet_size must be one of {sorted(SAX_BREAKPOINTS)}, "
            f"got {alphabet_size}"
        )
    if window_rows % word_len != 0:
        raise ValueError(
            f"sax_words: window_rows ({window_rows}) must be divisible by "
            f"word_len ({word_len})"
        )
    keys = list(series_cols)
    scale = 10 ** int(unit_digits)
    seg_rows = window_rows // word_len
    part = (
        "PARTITION BY " + ", ".join(f"`{k}`" for k in keys)
        + " ORDER BY " + ", ".join(
            f"`{c}` ASC" for c in [ts_col, *order_tiebreak]
        )
    )
    d = df.selectExpr(
        *[f"`{k}`" for k in keys],
        f"`{ts_col}`",
        f"{unit_snap(ident(value_col), scale)} AS __xi",
        f"cast(row_number() OVER ({part}) - 1 as bigint) AS __rn",
    ).where("__xi IS NOT NULL")
    d = d.selectExpr(
        "*",
        f"__rn div {window_rows} AS __win",
        f"(__rn % {window_rows}) div {seg_rows} AS __seg",
    )
    segs = d.groupBy(*keys, "__win", "__seg").agg(
        F.expr("sum(__xi)").alias("__segS"),
        F.expr("count(*)").alias("__segN"),
        F.expr(f"min(`{ts_col}`)").alias("__seg_start"),
    )
    winstats = (
        segs.groupBy(*keys, "__win")
        .agg(
            F.expr("sum(__segS)").alias("__S"),
            F.expr("sum(__segN)").alias("__N"),
            F.expr("min(__seg_start)").alias("win_start"),
        )
        .where(f"__N = {window_rows}")
    )
    # second moment needs row-level squares: aggregate them per window
    sq = d.groupBy(*keys, "__win").agg(
        F.expr("sum(__xi * __xi)").alias("__S2")
    )
    winstats = winstats.join(sq, [*keys, "__win"])
    # z of a segment, all doubles derived from exact BIGINTs with this
    # exact text (flat window -> z = 0 by convention)
    z = (
        "CASE WHEN (__N * __S2 - __S * __S) = 0 THEN cast(0 as double) ELSE "
        "(cast(__segS as double) / __segN - cast(__S as double) / __N) / "
        "(sqrt(cast(__N * __S2 - __S * __S as double)) / __N) END"
    )
    sym = _symbol_case(f"({z})", alphabet_size)
    symb = segs.join(winstats, [*keys, "__win"]).selectExpr(
        *[f"`{k}`" for k in keys],
        "__win",
        "win_start",
        "__seg",
        f"{sym} AS __sym",
    )
    return (
        symb.groupBy(*keys, "__win")
        .agg(
            F.expr("min(win_start)").alias("win_start"),
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(__seg, __sym))),"
                " s -> s.__sym), '')"
            ).alias("word"),
        )
        .withColumnRenamed("__win", "win")
    )
