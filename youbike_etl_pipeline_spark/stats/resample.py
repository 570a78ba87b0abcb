"""Replicate resampling fused into one vectorized pass (ROADMAP item 4).

Bootstrap and randomization tests give every input row, in every replicate
``r``, an outcome drawn from a per-row seed: a Poisson(1) multiplicity for
the Poisson bootstrap (m25), a group label for the randomization test (m30).
The textbook distributed plan multiplies the rows by the replicate count (a
cross join against a ``range(n_reps)`` literal) and aggregates the product,
so a 200-replicate statistic shuffles and sums 200 rows per input row.

Each replicate statistic here is a sum, so the multiplier fuses into the
aggregate: :func:`lehmer_replicate_sums` draws all ``n_reps`` outcomes of an
Arrow batch as one numpy ``rows × n_reps`` block, adds every replicate's
per-outcome count and exact sum into per-key partials, and yields one row
per key and partition. The driver merges the partials in Python ints. No
intermediate proportional to ``rows × n_reps`` exists anywhere: memory is
bounded by the Arrow batch, and what reaches the driver is keys × partitions
× replicates × outcomes integers, independent of the row count.

The draw is the oracle's expression, evaluated in the same arithmetic. Each
row owns one MINSTD stream (``M = 2^31 − 1``, multiplier 48271) that starts
at ``x0 = seed mod (M − 1) + 1``, and replicate ``r`` reads its state
``r + 1``: ``u = x0 · P_r mod M / M`` with ``P_r = 48271^(r+1) mod M``.
The product stays under 2^62, so the integer steps
are exact in int64 (numpy, Spark) and BIGINT (DuckDB); the division is
float64. The outcome is ``k = #{thresholds ≤ u}`` — the ``CASE WHEN u < t0
THEN 0 WHEN u < t1 THEN 1 … END`` chain both engines evaluate.

Sums are exact. Terms arrive as unscaled decimal longs (:func:`unscaled6`),
so the double product and the decimal rounding stay Spark's, and under ANSI
an out-of-range cast raises instead of wrapping. A batch sums in one
float64 ``bincount`` while ``max |term| · rows < 2^53`` keeps every partial
sum an exact integer; over that guard it sums in Python ints. Partition
accumulators stay int64 while their summed bound is under 2^62.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.skew import widen_narrow_scan

#: Lehmer (MINSTD) modulus and multiplier.
LEHMER_M = 2147483647
LEHMER_A = 48271

#: Row-replicate draws that amortize one task, ≈ 0.1 s of the fused pass on
#: one core (a 10,000-row batch of 200 replicates measured 0.11 s): the
#: widen gate's ``rows_per_task`` is this over ``n_reps``.
DRAWS_PER_TASK = 2_000_000

#: int64 partial sums stay exact while ``max |term| · rows`` is under this
#: (2^62, half the int64 range, so the float64 estimate of the bound can
#: never round across the real limit).
_INT64_SAFE = float(2**62)


@dataclass(frozen=True)
class ReplicateSums:
    """One key's merged partials; sums are unscaled (10^-6) decimal ints.

    ``counts[r][k]`` rows drew outcome ``k`` in replicate ``r`` and
    ``sums[r][k]`` is the exact sum of term ``k`` over those rows;
    ``totals[k]`` sums term ``k`` over every row of the key.
    """

    n: int
    totals: tuple[int, ...]
    counts: tuple[tuple[int, ...], ...]
    sums: tuple[tuple[int, ...], ...]


def unscaled6(c: Column) -> Column:
    """``c`` as decimal(27,6), returned as its unscaled long (value · 10^6)."""
    return (c.cast("decimal(27,6)") * F.lit(1000000)).cast("long")


def lehmer_uniforms(seeds, n_reps: int):
    """``(len(seeds), n_reps)`` float64 block of every replicate's uniform."""
    import numpy as np

    # fmod, not %: SQL's remainder truncates toward zero like C's
    x0 = np.fmod(np.asarray(seeds, dtype=np.int64), LEHMER_M - 1) + 1
    # P_r moves a row's stream from its start to state r + 1
    powers = np.array([pow(LEHMER_A, r + 1, LEHMER_M) for r in range(n_reps)], dtype=np.int64)
    return np.fmod(x0[:, None] * powers, LEHMER_M) / float(LEHMER_M)


def _check_args(term_cols, thresholds, n_reps: int) -> list[float]:
    if n_reps < 1:
        raise ValueError(f"n_reps must be >= 1, got {n_reps}")
    thr = [float(t) for t in thresholds]
    if any(not 0.0 < t < 1.0 for t in thr) or any(a >= b for a, b in zip(thr, thr[1:])):
        raise ValueError(f"thresholds must be strictly increasing inside (0, 1), got {thr}")
    if len(term_cols) != len(thr) + 1:
        raise ValueError(
            f"need one term column per outcome: {len(thr)} thresholds make "
            f"{len(thr) + 1} outcomes, got {len(term_cols)} term columns"
        )
    return thr


def _exact_sums(idx, w, n_bins: int, bound: float):
    """Per-bin sums of the int64 weights ``w``, exact.

    Under the guard (``bound``, a cap on every partial sum's magnitude, below
    2^53) float64 adds integers exactly, so one ``bincount`` suffices.
    Over it, ``w`` splits into three 21-bit limbs whose per-bin sums stay
    exact in float64 for any batch under 2^32 rows, and the limbs recombine
    in Python ints.
    """
    import numpy as np

    if bound < 2.0**53:
        return np.bincount(idx, weights=w.astype(np.float64), minlength=n_bins).astype(np.int64)
    total = np.zeros(n_bins, dtype=object)
    for shift in (0, 21, 42):
        limb = w >> shift if shift == 42 else (w >> shift) & 0x1FFFFF
        part = np.bincount(idx, weights=limb.astype(np.float64), minlength=n_bins)
        total += part.astype(np.int64).astype(object) * 2**shift
    return total


def _batch_partials(codes, n_groups: int, seeds, terms, thr, n_reps: int):
    """One Arrow batch → ``(rows, bound, totals, counts, sums)`` per group.

    ``codes`` index the batch's ``n_groups`` keys; ``counts``/``sums`` are
    ``(n_reps, outcomes)`` arrays, int64 unless the guard tripped (then
    ``totals``/``sums`` hold Python ints).
    """
    import numpy as np

    n_out = terms.shape[1]
    outcome = np.searchsorted(thr, lehmer_uniforms(seeds, n_reps), side="right")
    # one bin per (group, replicate, outcome)
    idx = ((codes[:, None] * n_reps + np.arange(n_reps)) * n_out + outcome).ravel()
    n_bins = n_groups * n_reps * n_out
    counts = np.bincount(idx, minlength=n_bins).reshape(n_groups, n_reps, n_out)
    rows = np.bincount(codes, minlength=n_groups)
    absmax = max(float(terms.max()), -float(terms.min()))
    bound = absmax * len(codes)
    w = np.take_along_axis(terms, outcome, axis=1).ravel()
    sums = _exact_sums(idx, w, n_bins, bound).reshape(n_groups, n_reps, n_out)
    tidx = (codes[:, None] * n_out + np.arange(n_out)).ravel()
    totals = _exact_sums(tidx, terms.ravel(), n_groups * n_out, bound).reshape(n_groups, n_out)
    return [
        (int(rows[g]), absmax * rows[g], totals[g], counts[g], sums[g])
        for g in range(n_groups)
    ]


def _add(acc, part):
    """Add one batch's partial into a key's partition accumulator, in int64
    while the accumulated bound allows it and in Python ints after."""
    import numpy as np

    n, bound, tot, cnt, sm = part
    if acc is None:
        return [n, bound, tot, cnt.copy(), sm]
    acc[0] += n
    acc[1] += bound
    acc[3] += cnt
    exact = acc[1] < _INT64_SAFE and acc[4].dtype == np.int64 and sm.dtype == np.int64
    if exact:
        acc[2] = acc[2] + tot
        acc[4] = acc[4] + sm
    else:
        acc[2] = acc[2].astype(object) + tot.astype(object)
        acc[4] = acc[4].astype(object) + sm.astype(object)
    return acc


def lehmer_replicate_sums(
    df: DataFrame,
    key_col: str | None,
    seed_col: Column | str,
    term_cols: list[Column | str],
    thresholds: list[float],
    n_reps: int = 200,
) -> dict[object, ReplicateSums]:
    """Every replicate's per-outcome counts and exact term sums, per key.

    ``seed_col`` is a non-negative long below ``2^31``. ``thresholds`` are
    the strictly increasing cut points of the outcome ``k = #{t ≤ u}``, and
    ``term_cols`` holds one unscaled-decimal long per outcome: what a row
    with that outcome adds to the replicate's sum of that outcome. With
    ``key_col=None`` all rows form one group, keyed ``None``.

    Bad arguments raise ``ValueError`` before any Spark job. The result is
    one collect: a narrow scan is widened first when the rows carry more
    than a few tasks of draws (``DRAWS_PER_TASK``).
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    thr = np.asarray(_check_args(term_cols, thresholds, n_reps), dtype=np.float64)
    n_out = len(term_cols)
    wide = widen_narrow_scan(df, rows_per_task=max(1, DRAWS_PER_TASK // n_reps))
    key = F.col(key_col) if key_col else F.lit(None).cast("string")
    cols = [F.col(c) if isinstance(c, str) else c for c in [seed_col, *term_cols]]
    names = ["__seed", *[f"__t{k}" for k in range(n_out)]]
    frame = wide.select(key.alias("__key"), *[c.cast("long").alias(n) for c, n in zip(cols, names)])
    out_schema = T.StructType(
        [
            T.StructField("key", frame.schema["__key"].dataType),
            T.StructField("n", T.LongType()),
            T.StructField("totals", T.ArrayType(T.DecimalType(38, 0))),
            T.StructField("counts", T.ArrayType(T.LongType())),
            T.StructField("sums", T.ArrayType(T.DecimalType(38, 0))),
        ]
    )
    out_arrow = to_arrow_schema(out_schema)

    def partials(batches):
        acc: dict = {}
        for b in batches:
            if b.num_rows == 0:
                continue
            if any(b.column(n).null_count for n in names):
                raise ValueError("seed and term columns must not be null")
            enc = b.column("__key").dictionary_encode(null_encoding="encode")
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            labels = enc.dictionary.to_pylist()
            seeds = b.column("__seed").to_numpy()
            terms = np.column_stack([b.column(n).to_numpy() for n in names[1:]])
            parts = _batch_partials(codes, len(labels), seeds, terms, thr, n_reps)
            for label, part in zip(labels, parts):
                acc[label] = _add(acc.get(label), part)
        if acc:
            keys = list(acc)
            columns = [
                keys,
                [acc[k][0] for k in keys],
                [acc[k][2].tolist() for k in keys],
                [acc[k][3].reshape(-1).tolist() for k in keys],
                [acc[k][4].reshape(-1).tolist() for k in keys],
            ]
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(columns, out_arrow)], schema=out_arrow
            )

    merged: dict = {}
    for row in frame.mapInArrow(partials, out_schema).collect():
        n, tot, cnt, sm = merged.get(row.key, (0, [0] * n_out, [0] * (n_reps * n_out), [0] * (n_reps * n_out)))
        merged[row.key] = (
            n + row.n,
            [a + int(b) for a, b in zip(tot, row.totals)],
            [a + b for a, b in zip(cnt, row.counts)],
            [a + int(b) for a, b in zip(sm, row.sums)],
        )

    def by_rep(flat):
        return tuple(tuple(flat[r * n_out : (r + 1) * n_out]) for r in range(n_reps))

    return {
        k: ReplicateSums(n, tuple(tot), by_rep(cnt), by_rep(sm))
        for k, (n, tot, cnt, sm) in merged.items()
    }
