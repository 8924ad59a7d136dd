"""Long <-> packed series conversion and the distributed operator kernel.

``apply_operator`` runs any series operator over a long-format tier
DataFrame (one row per (conv_id, bucket)) with ``applyInPandas``: each
(conv_id, rep_idx) group is pivoted to the same (T, C) float64 matrix the
local path sees, the operator's unmodified ``_core`` executes on it, and
the result unpivots back to long rows.  No per-row Python anywhere — the
JVM<->Python boundary is Arrow record batches.

Two RNG modes (plans/rng_plan.py):

* ``mode='replay'``  — driver replays the reference's batch draw streams
  and ships per-group queues; output is bit-exact vs the local
  ``op.augment`` on the packed batch (and transitively vs the reference).
  Costs one small driver collect (the sorted conv_id list) — parity/test
  scale only.  One caveat: two numerics are batch-shape-sensitive at the
  last bit — NumPy's pairwise-SIMD sum ties Dropout's ``fill='mean'`` row
  mean to the buffer's base alignment (malloc varies it with allocation
  size), and LAPACK's multi-RHS blocking ties Drift's spline solve to
  the number of series solved together.  The reference itself has both
  properties.  Those two paths match to <= 1 ULP rather than bit-exactly;
  every other operator is exact (tests/test_spark_kernels.py pins both).
* ``mode='subseed'`` — per-(series, repeat) seeds derived from
  ``(seed, conv_id, rep)``; fully distributed, no driver state, the
  production path at 10^12-turn scale.  Deterministic and
  self-consistent, not reference-bit-exact.

Scale notes: the shuffle is one hash partition on (conv_id, rep_idx);
hot conversations are bounded by tier width (a 1m-tier year is ~526k
buckets x 3 channels = ~12 MB per group — one Arrow batch).  For
pathological groups, chunk series into aligned segments with halo rows
(Convolve needs ⌊W/2⌋, Pool needs block alignment) before applying —
see SURVEY.md §7.4 R6.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsaug_spark.operators import Crop, Resize, SeriesOp
from tsaug_spark.operators.base import expand_int_spec
from tsaug_spark.operators.resize import resize_batch

from .rng_plan import ScriptedRNG, plan_operator, subseed_for


def _resize_mask(y: np.ndarray, size: int) -> np.ndarray:
    """Resize a mask with the reference's Y semantics: interpolated then
    int-rounded, except the size==T copy and size==1 mean paths
    (resize.py:82-118)."""
    T = y.shape[0]
    if size == T:
        return y.copy()
    if size == 1:
        return resize_batch(y[None], 1)[0]
    return resize_batch(y[None], size)[0].round().astype(np.int64)


def _run_single(
    op: SeriesOp,
    x: np.ndarray,
    selected: bool,
    queue,
    rng: Optional[np.random.RandomState],
    y: Optional[np.ndarray] = None,
):
    """Execute one (series, repeat) group: (T, C)[, (T, L)] -> (T', C)[,
    (T', L)].

    Reproduces the exact N=1 code path of the local batch run: Crop and
    Resize use their override semantics (Crop's mask rides through the
    resize as a series — float, un-rounded — the reference asymmetry);
    everything else runs ``_core`` on the one-row batch when selected,
    identity otherwise.  Returns the array, or an (x, y) pair when a
    mask is supplied.
    """
    T = x.shape[0]
    if isinstance(op, Resize):
        if not selected:
            return x.copy() if y is None else (x.copy(), y.copy())
        out = resize_batch(x[None], op.size)[0]
        if y is None:
            return out
        return out, _resize_mask(y, op.size)
    if isinstance(op, Crop):
        if not selected:
            return x.copy() if y is None else (x.copy(), y.copy())
        gen = rng if rng is not None else ScriptedRNG(queue)
        s = int(np.asarray(gen.choice(expand_int_spec(op.size), size=1))[0])
        start = int(np.asarray(gen.choice(T - s + 1, size=1))[0])
        out_len = op._output_size()
        out = resize_batch(x[start : start + s][None], out_len)[0]
        if y is None:
            return out
        # mask passes through Resize.augment as the X argument: no
        # rounding (crop.py:191-208)
        return out, resize_batch(y[start : start + s][None], out_len)[0]
    if not selected:
        return x.copy() if y is None else (x.copy(), y.copy())
    gen = rng if rng is not None else ScriptedRNG(queue)
    if y is None:
        out, _ = op._core(x[None].copy(), None, rng=gen)
        return out[0]
    out_x, out_y = op._core(x[None].copy(), y[None].copy(), rng=gen)
    return out_x[0], out_y[0]


def apply_operator(
    df_long: DataFrame,
    op: SeriesOp,
    value_cols: Sequence[str],
    idx_col: str = "bucket_idx",
    mode: str = "replay",
    label_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Apply a series operator to every conversation series in parallel.

    Input: long rows (conv_id, idx_col, *value_cols[, *label_cols]) —
    rectangular per conversation (gap-filled).  Output: (conv_id,
    rep_idx, bucket_idx, *value_cols[, *label_cols]) with bucket_idx
    renumbered 0..T'-1.  ``label_cols`` are the reference's Y mask
    channels: carried/flipped/warped per the operator's mask semantics.
    """
    value_cols = list(value_cols)
    label_cols = list(label_cols) if label_cols else []
    spark = df_long.sparkSession
    out_schema = (
        "conv_id string, rep_idx int, bucket_idx int, "
        + ", ".join(f"{c} double" for c in value_cols + label_cols)
    )

    plan_bc = None
    if mode == "replay":
        convs = [
            r[0]
            for r in df_long.select("conv_id")
            .distinct()
            .orderBy("conv_id")
            .collect()
        ]
        lengths = (
            df_long.groupBy("conv_id").count().select("count").distinct()
        ).collect()
        if len(lengths) != 1:
            raise ValueError(
                "replay mode needs rectangular series — gap-fill first"
            )
        T = lengths[0][0]
        N, C = len(convs), len(value_cols)
        plans = plan_operator(op, N, T, C)
        plan_map = {}
        for i, cid in enumerate(convs):
            for r in range(op.repeats):
                gp = plans[i * op.repeats + r]
                plan_map[(cid, r)] = (gp.selected, gp.queue)
        plan_bc = spark.sparkContext.broadcast(plan_map)
    elif mode != "subseed":
        raise ValueError("mode must be 'replay' or 'subseed'")

    seed = op.seed
    prob = op.prob

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cid, rep = key[0], int(key[1])
        pdf = pdf.sort_values(idx_col)
        x = pdf[value_cols].to_numpy(dtype=np.float64)
        y = (
            pdf[label_cols].to_numpy(dtype=np.float64)
            if label_cols
            else None
        )
        if plan_bc is not None:
            selected, queue = plan_bc.value[(cid, rep)]
            out = _run_single(op, x, selected, queue, None, y=y)
        else:
            factory = getattr(op, "rng_factory", None)
            rng = (
                factory()
                if factory is not None
                else np.random.RandomState(subseed_for(seed, cid, rep))
            )
            selected = bool(rng.uniform() <= prob)
            out = _run_single(op, x, selected, [], rng, y=y)
        if label_cols:
            out_x, out_y = out
            res = pd.DataFrame(
                np.concatenate(
                    [out_x, np.asarray(out_y, dtype=np.float64)], axis=1
                ),
                columns=value_cols + label_cols,
            )
        else:
            res = pd.DataFrame(out, columns=value_cols)
        res.insert(0, "bucket_idx", np.arange(len(res), dtype=np.int32))
        res.insert(0, "rep_idx", np.int32(rep))
        res.insert(0, "conv_id", cid)
        return res

    exploded = df_long.withColumn(
        "rep_idx", F.explode(F.sequence(F.lit(0), F.lit(op.repeats - 1)))
    )
    if mode == "subseed" and not label_cols:
        # streaming fast path: repartition + sortWithinPartitions then
        # mapInPandas with a carry-over buffer — avoids the per-group
        # pandas-DataFrame overhead of applyInPandas, which dominates
        # when conversations are small and numerous (label runs take the
        # grouped path below)
        return _apply_subseed_stream(
            exploded, op, value_cols, idx_col, out_schema
        )
    return exploded.groupBy("conv_id", "rep_idx").applyInPandas(
        kernel, out_schema
    )


def _apply_subseed_stream(
    exploded: DataFrame,
    op: SeriesOp,
    value_cols: Sequence[str],
    idx_col: str,
    out_schema: str,
) -> DataFrame:
    """mapInArrow kernel driver.

    Arrow RecordBatches are consumed directly (no pandas frame per
    batch): value columns view as float64 NumPy zero-copy, group
    boundaries come from an Arrow-side not_equal on the conv column,
    and the output conv column is a ``take`` on the input array with
    repeated group-start indices — the strings are never materialized
    into Python objects.  ~20% less transport overhead than the
    mapInPandas formulation at tier scale (measured: identity pass 9.7s
    -> 7.4s on 18M rows at local[32]); numerics are byte-identical
    (same _core/NumPy path).
    """
    value_cols = list(value_cols)
    seed, prob = op.seed, op.prob

    det_fast = op.deterministic_core and prob == 1.0

    import pyarrow as pa
    import pyarrow.compute as pc

    out_names = ["conv_id", "rep_idx", "bucket_idx", *value_cols]

    def _boundaries(conv: "pa.Array", rep: np.ndarray) -> np.ndarray:
        if len(rep) <= 1:
            return np.empty(0, dtype=np.int64)
        neq = pc.not_equal(
            conv.slice(1), conv.slice(0, len(rep) - 1)
        ).to_numpy(zero_copy_only=False)
        return np.flatnonzero(neq | (rep[1:] != rep[:-1])) + 1

    def process_block(tbl: "pa.Table") -> "pa.RecordBatch":
        conv = tbl.column("conv_id").combine_chunks()
        rep = (
            tbl.column("rep_idx")
            .combine_chunks()
            .to_numpy(zero_copy_only=False)
        )
        vals = np.column_stack(
            [
                tbl.column(c)
                .combine_chunks()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                for c in value_cols
            ]
        )
        change = _boundaries(conv, rep)
        starts = np.concatenate([[0], change, [len(rep)]])
        n_groups = len(starts) - 1
        outs: list = [None] * n_groups
        if det_fast:
            # rng-independent core + prob 1: ONE batch-core call per
            # equal-length block of series instead of one per series.
            # Identical values (these cores are row-independent), but
            # ~series-count fewer Python/NumPy dispatch overheads, which
            # dominate for short series (BENCH/vs_reference.md)
            glen = np.diff(starts)
            for L in np.unique(glen):
                gs = np.flatnonzero(glen == L)
                rows = (
                    starts[gs][:, None] + np.arange(L)[None, :]
                ).ravel()
                batch = vals[rows].reshape(len(gs), L, vals.shape[1])
                if isinstance(op, Resize):
                    # same dispatch as _run_single (Resize overrides
                    # _apply; its _core raises)
                    out_b = resize_batch(batch, op.size)
                else:
                    out_b, _ = op._core(
                        batch, None, rng=np.random.RandomState(seed)
                    )
                for j, g in enumerate(gs):
                    outs[g] = out_b[j]
        else:
            keys = conv.take(
                pa.array(starts[:-1], type=pa.int64())
            ).to_pylist()
            # rng_factory hook: an op may carry a deterministic RNG
            # stand-in (e.g. rng_plan.PositionalRNG) so SQL oracles can
            # replay its draw-dependent masks exactly
            factory = getattr(op, "rng_factory", None)
            for g in range(n_groups):
                s, e = starts[g], starts[g + 1]
                rng = (
                    factory()
                    if factory is not None
                    else np.random.RandomState(
                        subseed_for(seed, keys[g], int(rep[s]))
                    )
                )
                selected = bool(rng.uniform() <= prob)
                outs[g] = _run_single(op, vals[s:e], selected, [], rng)
        out_lens = np.array([len(o) for o in outs], dtype=np.int64)
        src_idx = np.repeat(starts[:-1], out_lens)
        out_vals = np.concatenate(outs) if outs else np.empty((0, 1))
        # per-group 0..L-1 ordinals, vectorized
        total = int(out_lens.sum())
        bucket_idx = np.arange(total, dtype=np.int64) - np.repeat(
            np.concatenate([[0], np.cumsum(out_lens)[:-1]]), out_lens
        )
        take_ix = pa.array(src_idx, type=pa.int64())
        arrays = [
            pc.take(conv, take_ix),
            pa.array(rep[src_idx].astype(np.int32, copy=False)),
            pa.array(bucket_idx.astype(np.int32, copy=False)),
            *[
                pa.array(np.ascontiguousarray(out_vals[:, j]))
                for j in range(len(value_cols))
            ],
        ]
        return pa.RecordBatch.from_arrays(arrays, names=out_names)

    def stream(batches):
        held: "pa.Table | None" = None
        for rb in batches:
            t = pa.Table.from_batches([rb])
            buf = (
                t
                if held is None or held.num_rows == 0
                else pa.concat_tables([held, t]).combine_chunks()
            )
            if buf.num_rows == 0:
                held = None
                continue
            # hold back the trailing (conv, rep) group, which may
            # continue in the next Arrow batch
            conv = buf.column("conv_id").combine_chunks()
            rep = (
                buf.column("rep_idx")
                .combine_chunks()
                .to_numpy(zero_copy_only=False)
            )
            change = _boundaries(conv, rep)
            cut = int(change[-1]) if len(change) else 0
            if cut > 0:
                yield process_block(buf.slice(0, cut))
            held = buf.slice(cut)
        if held is not None and held.num_rows:
            yield process_block(held)

    # explicit partition count: a bare repartition("conv_id") is an
    # AQE-coalescible exchange, and at this stage's typical shuffle size
    # (tens of MB) AQE collapses it to 1-2 partitions — serializing all
    # Python kernel work onto one worker.  REPARTITION_BY_NUM pins the
    # parallelism to the session's shuffle partitions.
    n_part = int(
        exploded.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    prepared = (
        exploded.select("conv_id", "rep_idx", idx_col, *value_cols)
        .repartition(n_part, "conv_id")
        .sortWithinPartitions("conv_id", "rep_idx", idx_col)
    )
    return prepared.mapInArrow(stream, out_schema)


def apply_pipe(
    df_long: DataFrame,
    ops: Sequence[SeriesOp],
    value_cols: Sequence[str],
    idx_col: str = "bucket_idx",
    mode: str = "replay",
) -> DataFrame:
    """Fold a pipe of operators over the long DataFrame.

    Mirrors OpPipe.augment: each stage's output (keyed by the compound
    (conv_id, rep_idx) series identity) feeds the next.  rep_idx keys
    compose by string-appending into conv_id so downstream stages treat
    each (series, rep) as its own series — matching how the local pipe
    flattens repeats into the batch axis.
    """
    df = df_long
    for k, op in enumerate(ops):
        df = apply_operator(df, op, value_cols, idx_col=idx_col, mode=mode)
        if op.repeats > 1:
            # zero-padded so lexicographic conv order stays series-major
            # (rep-minor), matching the local batch row order
            df = df.withColumn(
                "conv_id",
                F.format_string("%s#%04d", "conv_id", "rep_idx"),
            )
        df = df.drop("rep_idx")
    return df
