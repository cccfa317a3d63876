"""Online model scoring — the reference's serving contract (ML3,
main.py:223-231: reconstruct new data with the TRAINED model, flag high
reconstruction error) in Structured Streaming.

A pre-fit model (driver-fit :class:`~..operators.inference.LinearAEModel`
or the ML1 :class:`~..operators.lstm.LSTMAEModel`) is applied to the
online sequence assembly (:func:`~.sequences.streaming_sequences`)
through the SAME scorer the batch path picks for that model — Catalyst
expressions for the linear model, the broadcast Arrow ``mapInPandas``
slot otherwise. Both are stateless maps, which compose with streaming
DataFrames unchanged, so batch and stream scores are identical by
construction (the LSTM path is parity-tested in
tests/slow/test_streaming.py).

Thresholding: serving uses a FIXED threshold computed at training time
(the reference's ANOMALY_THRESHOLD, config.py:21) — a global 3-sigma
over the score distribution is a batch statistic and is NOT computable
on an unbounded append stream; compute it on the training set and pass
it here.

At 100 TB/day of stream: per-key state stays bounded (L values per key,
see streaming/sequences.py); scoring is shuffle-free and rides the
state operator's output partitioning; the model is a few MB of task
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_sequence_scores(
    seqs: DataFrame,
    model,
    seq_col: str = "seq",
    error_col: str = "recon_error",
    threshold: float | None = None,
    flag_col: str = "is_anomaly",
) -> DataFrame:
    """Score an online sequence stream with a pre-fit autoencoder.

    ``seqs``: output of :func:`~.sequences.streaming_sequences` —
    ``seq`` is a flat array<double> (single-feature series); it is
    nested to the L x 1 shape the batch scorer consumes. ``model`` is
    any model accepted by ``sequence_reconstruction_scores(model=...)``.
    ``threshold``: when given, adds ``flag_col`` = 1 iff the error
    exceeds it (train-time constant, per the reference's contract).
    """
    from ..operators.inference import sequence_reconstruction_scores

    nested = seqs.withColumn(
        seq_col, F.transform(F.col(seq_col), lambda v: F.array(v))
    )
    scored = sequence_reconstruction_scores(
        nested, seq_col, model=model, error_col=error_col
    )
    if threshold is not None:
        scored = scored.withColumn(
            flag_col, (F.col(error_col) > F.lit(float(threshold))).cast("int")
        )
    return scored
