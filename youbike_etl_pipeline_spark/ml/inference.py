"""Batch LSTM inference on Spark (SURVEY §2.7 M11).

The reference serves a PyTorch LSTM per-request (``api/app/main.py:139-204``):
min-max-scale the feature row, tile it ×3 into a steady-state sequence,
forward through the LSTM, inverse-scale the scalar prediction through the
first feature's scaler column, then ``max(0, round(x))``. Spark's role is
*batch* scoring of many sequences at once: ``mapInPandas`` with Arrow
batches, weights broadcast once per executor, numpy for the recurrence —
no torch dependency and no per-row Python.

The forward pass implements the standard LSTM cell (PyTorch gate layout
``[i, f, g, o]``) in pure numpy, so the inference path is real and
numerically testable: zero weights give analytically-known outputs, and
batched scoring must equal row-at-a-time scoring bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


@dataclass(frozen=True)
class LSTMWeights:
    """Single-layer LSTM + linear head, PyTorch parameter shapes:
    ``w_ih`` (4H, D), ``w_hh`` (4H, H), ``b_ih``/``b_hh`` (4H,),
    ``w_out`` (1, H), ``b_out`` (1,). Gate order along the 4H axis is
    ``[input, forget, cell, output]``."""

    w_ih: np.ndarray
    w_hh: np.ndarray
    b_ih: np.ndarray
    b_hh: np.ndarray
    w_out: np.ndarray
    b_out: np.ndarray

    @property
    def hidden_dim(self) -> int:
        return self.w_hh.shape[1]

    @property
    def input_dim(self) -> int:
        return self.w_ih.shape[1]


def seeded_lstm_weights(input_dim: int) -> LSTMWeights:
    """Deterministic pseudo-random weights, hidden size 8, seed 7 (the
    'saved model' stand-in: a real deployment loads the same structure from
    a checkpoint file)."""
    hidden_dim = 8
    rng = np.random.default_rng(7)
    scale = 1.0 / np.sqrt(hidden_dim)
    return LSTMWeights(
        w_ih=rng.uniform(-scale, scale, (4 * hidden_dim, input_dim)),
        w_hh=rng.uniform(-scale, scale, (4 * hidden_dim, hidden_dim)),
        b_ih=rng.uniform(-scale, scale, 4 * hidden_dim),
        b_hh=rng.uniform(-scale, scale, 4 * hidden_dim),
        w_out=rng.uniform(-scale, scale, (1, hidden_dim)),
        b_out=rng.uniform(-scale, scale, 1),
    )


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def lstm_forward(x: np.ndarray, w: LSTMWeights) -> np.ndarray:
    """Batched LSTM forward: ``x`` (B, T, D) → predictions (B,).

    Standard recurrence, gate layout ``[i, f, g, o]`` along 4H:
    ``c_t = f⊙c + i⊙g``, ``h_t = o⊙tanh(c_t)``; the head is a linear map of
    the last hidden state. One matmul per gate-stack per step — vectorized
    over the batch, so a 10k-row Arrow batch is 2·T matmuls, not 10k calls.
    """
    b, t, d = x.shape
    h_dim = w.hidden_dim
    h = np.zeros((b, h_dim))
    c = np.zeros((b, h_dim))
    for step in range(t):
        z = x[:, step, :] @ w.w_ih.T + w.b_ih + h @ w.w_hh.T + w.b_hh
        i = _sigmoid(z[:, :h_dim])
        f = _sigmoid(z[:, h_dim : 2 * h_dim])
        g = np.tanh(z[:, 2 * h_dim : 3 * h_dim])
        o = _sigmoid(z[:, 3 * h_dim :])
        c = f * c + i * g
        h = o * np.tanh(c)
    return (h @ w.w_out.T + w.b_out).ravel()


def predict_from_features(
    feats: np.ndarray, w: LSTMWeights, feat_min: np.ndarray, feat_max: np.ndarray
) -> np.ndarray:
    """Reference-exact single-snapshot scoring (``api/app/main.py:160-199``):
    min-max scale each feature row, tile ×3 time steps into a steady-state
    sequence, LSTM-forward, inverse-scale the scalar through the FIRST
    feature's scaler column, clamp/round to a non-negative integer count
    (the tie-free floor(x+0.5), matching functions.scalar.clamp_round_nonneg).
    """
    span = np.where(feat_max - feat_min == 0, 1.0, feat_max - feat_min)
    scaled = (feats - feat_min) / span
    seq = np.repeat(scaled[:, None, :], 3, axis=1)
    pred_scaled = lstm_forward(seq, w)
    real = pred_scaled * span[0] + feat_min[0]
    return np.maximum(0, np.floor(real + 0.5)).astype(np.int64)


def lstm_batch_predict(
    df: DataFrame,
    w: LSTMWeights,
    feat_min: list[float],
    feat_max: list[float],
    feature_cols: tuple[str, ...],
    id_cols: tuple[str, ...] = ("station_no",),
) -> DataFrame:
    """Distributed batch scoring: one LSTM forward per Arrow batch.

    Weights and scaler bounds ride the closure (broadcast once per executor,
    same contract as any Pandas-UDF model). Each batch becomes a single
    (B, T, D) tensor — the recurrence is numpy matmuls, never per-row
    Python. Column pruning still reaches the scan: only id + feature
    columns are selected.
    """
    fmin = np.asarray(feat_min, dtype=np.float64)
    fmax = np.asarray(feat_max, dtype=np.float64)
    out_schema = T.StructType(
        [
            *[df.schema[c] for c in id_cols],
            T.StructField("predicted_next", T.LongType(), True),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf[list(feature_cols)].to_numpy(dtype=np.float64)
            preds = (
                predict_from_features(feats, w, fmin, fmax)
                if len(pdf)
                else np.array([], dtype=np.int64)
            )
            yield pd.DataFrame(
                {**{c: pdf[c] for c in id_cols}, "predicted_next": preds}
            )

    return df.select(*id_cols, *feature_cols).mapInPandas(fn, schema=out_schema)
