"""Distributed model inference over sequence windows (SURVEY.md §2.12).

The reference trains an LSTM autoencoder and (in spec, main.py:223-231)
flags sequences whose reconstruction error exceeds a 3-sigma threshold.
This module implements that contract with the Spark-idiomatic inference
shape — a small model fit driver-side on a bounded sample, then applied
row-wise — using a linear autoencoder (PCA) as the model so the path is
deterministic and dependency-free. The model picks the scorer: the
linear model is embedded as Catalyst expressions; any other model (the
numpy LSTM autoencoder; a torch model would drop into the same slot) is
broadcast to executors and applied via Arrow-batched ``mapInPandas``.

At 100 TB: the fit sample is bounded (driver memory is O(sample));
scoring is a pure map — no shuffle, no collect — and the model rides
the plan as literals or task broadcast (~KBs).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class LinearAEModel:
    """Mean + top-k principal components of flattened (L*f) sequences."""

    def __init__(self, mean: np.ndarray, components: np.ndarray):
        self.mean = mean  # (d,)
        self.components = components  # (k, d), rows orthonormal

    def reconstruction_errors(self, x: np.ndarray) -> np.ndarray:
        """Per-row squared reconstruction error of x (n, d)."""
        centered = x - self.mean
        proj = centered @ self.components.T  # (n, k)
        recon = proj @ self.components  # (n, d)
        resid = centered - recon
        return np.einsum("ij,ij->i", resid, resid)


def fit_linear_ae(
    df: DataFrame, seq_col: str, k: int, fit_rows: int,
    order_cols: list[str] | None = None,
) -> LinearAEModel:
    """Driver-side fit on a bounded sample: ``select(seq_col).limit(n)``.

    A plain limit compiles to CollectLimit — only the first reduce
    partitions of the (expensive) sequence-assembly lineage are computed,
    instead of the full lineage plus a global sort that
    ``orderBy().limit()`` (TakeOrderedAndProject) costs. Any bounded
    sample is an acceptable fit set (the model is tiny either way), and
    on a static source with a deterministic plan the limit is repeatable.

    ``order_cols``: when provided, the sample IS taken via
    ``orderBy(*order_cols).limit(n)`` (TakeOrderedAndProject) — fully
    deterministic across shuffle-partition configs, at the cost of
    computing the whole lineage. Pass None (default) for the cheap path.
    """
    if order_cols:
        sample = (
            df.orderBy(*order_cols).limit(fit_rows).select(seq_col)
            .toPandas()[seq_col]
        )
    else:
        sample = df.select(seq_col).limit(fit_rows).toPandas()[seq_col]
    x = _stack_sequences(sample)
    mean = x.mean(axis=0)
    # SVD of the centered sample; top-k right singular vectors
    _, _, vt = np.linalg.svd(x - mean, full_matrices=False)
    return LinearAEModel(mean, vt[:k])


def _stack_sequences(seqs) -> np.ndarray:
    """Flatten an iterable of L x f sequences into an (n, L*f) matrix.

    ``np.stack`` (not ``np.array``) — building a 2-D array from a list of
    1-D arrays via np.array trips NumPy's ragged-conversion deprecation
    and will become a hard error."""
    flat = [
        np.stack([np.asarray(row, dtype=np.float64) for row in s]).ravel()
        for s in seqs
    ]
    if not flat:
        return np.empty((0, 0), dtype=np.float64)
    return np.stack(flat)


def score_linear_ae_sql(
    df: DataFrame,
    model: LinearAEModel,
    seq_col: str = "seq",
    error_col: str = "recon_error",
) -> DataFrame:
    """Linear-AE reconstruction error as PURE Catalyst expressions.

    The fitted parameters (mean (d,) + k orthonormal components (k, d),
    a few hundred doubles) are embedded as array literals; the error is
    computed with ``flatten`` + ``zip_with`` + ``aggregate`` — JVM-side,
    whole-stage-codegen, zero Python in the hot path, and the scoring
    projection fuses into the same stage as the sequence-assembly
    window instead of adding an Arrow round-trip.

    Math (explicit residual, same as :meth:`LinearAEModel.
    reconstruction_errors`): c = flat(seq) - mean; p_j = c . V_j;
    recon = sum_j p_j * V_j; error = ||c - recon||^2.

    For small models (d = L*f <= 64) the algebra is expanded into flat
    per-index arithmetic over ``element_at`` — higher-order functions
    (zip_with/aggregate) evaluate their lambda per element OUTSIDE
    whole-stage codegen and measured ~2x slower end-to-end; the flat
    expansion is ordinary codegen'd arithmetic. Larger models fall back
    to the higher-order form (still JVM-side) to keep the generated
    method size bounded.
    """
    mean = [float(v) for v in model.mean]
    comps = [[float(v) for v in row] for row in model.components]
    d = len(mean)
    flat = F.flatten(F.col(seq_col))

    if d <= 64:
        cs = [F.element_at(flat, i + 1) - F.lit(mean[i]) for i in range(d)]
        projs = []
        for row in comps:
            terms = [cs[i] * F.lit(row[i]) for i in range(d)]
            p = terms[0]
            for t in terms[1:]:
                p = p + t
            projs.append(p)
        # name the k projections so the residual reuses them as column
        # references instead of duplicating each dot product d times
        tmp = df.withColumn("__flat_seq", flat).withColumns(
            {f"__proj_{j}": p for j, p in enumerate(projs)}
        )
        flat2 = F.col("__flat_seq")
        cs2 = [F.element_at(flat2, i + 1) - F.lit(mean[i]) for i in range(d)]
        sq = []
        for i in range(d):
            recon_i = F.lit(0.0)
            for j, row in enumerate(comps):
                recon_i = recon_i + F.col(f"__proj_{j}") * F.lit(row[i])
            r = cs2[i] - recon_i
            sq.append(r * r)
        err = sq[0]
        for t in sq[1:]:
            err = err + t
        return tmp.withColumn(error_col, err).drop(
            "__flat_seq", *[f"__proj_{j}" for j in range(len(comps))]
        )

    # d > 64 higher-order fallback. The centered vector and the k
    # projections are materialized as COLUMNS first: a projection
    # aggregate captured as a free expression inside the recon zip_with
    # lambda would be re-evaluated per element by the interpreted HOF
    # path — O(d^2 k) per row (the same anti-pattern measured quadratic
    # in shingles/quality_rules); a bound attribute is O(1).
    from amonaly_detection_in_time_series_data_spark.functions.vectors import (
        nested_double_literal,
    )

    mean_lit = nested_double_literal(mean)
    comp_lits = [nested_double_literal(row) for row in comps]
    tmp = df.withColumn("__c", F.zip_with(flat, mean_lit, lambda x, m: x - m))
    tmp = tmp.withColumns(
        {
            f"__proj_{j}": F.aggregate(
                F.zip_with(F.col("__c"), comp, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for j, comp in enumerate(comp_lits)
        }
    )
    def _add_component(j: int):
        # closure (not a default arg — PySpark infers lambda arity from
        # the full parameter list) binding the j-th projection COLUMN
        return lambda r, v: r + F.col(f"__proj_{j}") * v

    recon = F.transform(mean_lit, lambda _: F.lit(0.0))
    for j, comp in enumerate(comp_lits):
        recon = F.zip_with(recon, comp, _add_component(j))
    resid = F.zip_with(F.col("__c"), recon, lambda a, b: a - b)
    err = F.aggregate(resid, F.lit(0.0), lambda acc, x: acc + x * x)
    return tmp.withColumn(error_col, err).drop(
        "__c", *[f"__proj_{j}" for j in range(len(comp_lits))]
    )


def fit_linear_ae_epochs(
    df: DataFrame,
    seq_col: str = "seq",
    k: int = 2,
    epochs: int = 5,
    seed: int = 0,
    checkpoint=None,
) -> tuple[LinearAEModel, list[float]]:
    """ML2 — the reference's epoch training loop (main.py:20-56), as a
    genuinely DISTRIBUTED iterative fit: orthogonal (power) iteration
    toward the top-k principal subspace, which is the linear
    autoencoder's optimum.

    Per epoch, ONE aggregation job over the full dataset computes
    - the epoch loss: mean reconstruction error under the CURRENT model
      (the reference's per-epoch loss reduction, A5), and
    - the power-iteration update M[i][j] = sum_rows c_i * (c . V_j),
      i.e. M = (sum c c^T) V without ever materializing the covariance.
    The driver then orthonormalizes M (QR on a tiny d x k matrix) into
    the next V. Everything row-wise stays JVM-side (the same flat
    Catalyst expressions as :func:`score_linear_ae_sql`); per epoch only
    d*k + 2 scalars cross to the driver, and epochs after the first
    reuse the lineage's shuffle files.

    ``checkpoint``: optional :class:`~.artifacts.BestCheckpoint` —
    save_best_only semantics per the reference's ModelCheckpoint
    (main.py:48-55).

    Returns (model, per-epoch losses). Loss[i] is measured BEFORE the
    i-th update, so a converging fit shows a (noisily) decreasing curve
    with loss[0] = the random-init error.
    """
    # pass 0: exact global mean + dimensionality (one agg job)
    first = df.select(F.flatten(F.col(seq_col)).alias("f")).limit(1).collect()
    if not first:
        raise ValueError("empty input")
    d = len(first[0]["f"])
    if d > 64:
        raise NotImplementedError(
            "epoch trainer expands d*k update expressions inline; for "
            "d > 64 use fit_linear_ae (sample SVD) or batch the update "
            "via mapInPandas partial sums"
        )
    flat = F.flatten(F.col(seq_col))
    mean_row = df.agg(
        *[F.avg(F.element_at(flat, i + 1)).alias(f"m{i}") for i in range(d)]
    ).collect()[0]
    mean = np.array([mean_row[f"m{i}"] for i in range(d)], dtype=np.float64)

    rng = np.random.default_rng(seed)
    v, _ = np.linalg.qr(rng.normal(size=(d, k)))
    comps = v.T  # (k, d), rows orthonormal

    losses: list[float] = []
    for _ in range(epochs):
        model = LinearAEModel(mean, comps)
        scored = score_linear_ae_sql(
            df.select(seq_col), model, seq_col, "__err"
        ).withColumn("__flat", flat)
        cs = [F.element_at(F.col("__flat"), i + 1) - F.lit(float(mean[i]))
              for i in range(d)]
        projs = [
            sum((cs[i] * F.lit(float(comps[j][i])) for i in range(1, d)),
                cs[0] * F.lit(float(comps[j][0])))
            for j in range(k)
        ]
        row = scored.agg(
            F.avg("__err").alias("loss"),
            *[
                F.sum(cs[i] * projs[j]).alias(f"M_{i}_{j}")
                for i in range(d)
                for j in range(k)
            ],
        ).collect()[0]
        losses.append(float(row["loss"]))
        if checkpoint is not None:
            checkpoint.offer(losses[-1], model)
        m = np.array(
            [[row[f"M_{i}_{j}"] for j in range(k)] for i in range(d)],
            dtype=np.float64,
        )
        q, _ = np.linalg.qr(m)
        comps = q.T
    return LinearAEModel(mean, comps), losses


def _stack_sequences_3d(seqs) -> np.ndarray:
    """Stack an iterable of L x f sequences into an (n, L, f) tensor —
    the batch shape the LSTM autoencoder consumes."""
    mats = [
        np.stack([np.asarray(row, dtype=np.float64) for row in s])
        for s in seqs
    ]
    if not mats:
        return np.empty((0, 0, 0), dtype=np.float64)
    return np.stack(mats)


def sequence_reconstruction_scores(
    df: DataFrame,
    seq_col: str = "seq",
    k: int = 2,
    fit_rows: int = 2048,
    order_cols: list[str] | None = None,
    error_col: str = "recon_error",
    model=None,
    scoring_partitions: int | None = None,
) -> DataFrame:
    """Score every sequence with its reconstruction error under a
    driver-fit linear autoencoder — or any supplied model.

    Input is the output of ``operators.sequences.create_sequences``
    (``seq``: array<array<double>>, L x f). Output adds ``error_col``.

    ``model``: skip the fit and score with this model instead. The model
    picks the scorer: a :class:`LinearAEModel` (the fitted default or a
    supplied one) is embedded as Catalyst expressions by
    :func:`score_linear_ae_sql` — no Python per row; any other model,
    such as the :class:`~.lstm.LSTMAEModel` (ML1 — the reference's LSTM
    autoencoder as numpy inference math), is broadcast once and applied
    through Arrow ``mapInPandas`` to 3-D (n, L, f) batches.

    ``scoring_partitions``: explicit repartition before the Arrow
    scorer. AQE's byte-based shuffle coalescing sizes the sequence
    window's output for its BYTES — a few MB of sequences collapse to
    1-2 partitions, which then starve a CPU-BOUND Arrow stage (the
    2-layer LSTM measured 181 s on 2 of 32 cores at sf0.1; ~13 s once
    spread). Set to the cluster's parallelism for expensive models; the
    extra round-robin exchange is noise next to the model's FLOPs. The
    linear model's Catalyst scorer ignores it.
    """
    if model is None:
        model = fit_linear_ae(df, seq_col, k, fit_rows, order_cols=order_cols)
    if isinstance(model, LinearAEModel):
        return score_linear_ae_sql(df, model, seq_col, error_col)

    if scoring_partitions:
        df = df.repartition(scoring_partitions)
    # broadcast the model object itself (a small dict of numpy arrays) —
    # one task-broadcast fetch per executor, reused across Arrow batches
    bc = df.sparkSession.sparkContext.broadcast(model)
    from pyspark.sql import types as T

    # fresh StructType — .add() would mutate the DataFrame's cached schema
    out_fields = df.schema.fieldNames() + [error_col]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(error_col, T.DoubleType())]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = bc.value
        for pdf in batches:
            x = _stack_sequences_3d(pdf[seq_col])
            pdf = pdf.copy()
            pdf[error_col] = m.reconstruction_errors(x) if len(x) else []
            yield pdf[out_fields]

    return df.mapInPandas(score, schema=out_schema)


def flag_sequence_anomalies(
    scored: DataFrame,
    error_col: str = "recon_error",
    threshold: float = 3.0,
) -> DataFrame:
    """3-sigma flags over the reconstruction-error distribution — the
    reference's ANOMALY_THRESHOLD = 3.0 contract (config.py:21), through
    :func:`~.anomaly.global_zscore_flags`: the global mu/sigma is one
    bounded scalar collect, embedded as literals, so each action on the
    result pays ONE scoring pass (r13, SCALING §10a0d)."""
    from .anomaly import global_zscore_flags

    return global_zscore_flags(scored, error_col, threshold)
