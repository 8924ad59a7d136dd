"""Pool — piecewise-constant temporal downsample without length change.

This is the engine's retention-tier downsampler expressed at series level:
``Pool('ave', 60)`` over a 1-minute grid is exactly the 1m -> 1h rollup.

Semantics (parity target: /root/reference/src/tsaug/_augmenter/pool.py:126-181):
each (series, channel) row is cut into blocks of ``s`` samples; every block
is replaced by ``s`` copies of its max / min / mean; a trailing partial
block of ``T mod s`` samples is pooled as one unit.  ``s`` is sampled per
series (per channel when ``per_channel``) from the usual
scalar | interval | choices spec.
"""

from __future__ import annotations

from typing import List, Optional, Tuple, Union

import numpy as np

from .base import ArrayPair, SeriesOp, check_int_spec, expand_int_spec

_POOL_FUNCS = {"max": np.max, "min": np.min, "ave": np.mean}


class Pool(SeriesOp):
    def __init__(
        self,
        kind: str = "ave",
        size: Union[int, Tuple[int, int], List[int]] = 2,
        per_channel: bool = False,
        repeats: int = 1,
        prob: float = 1.0,
        seed: Optional[int] = None,
    ):
        self.kind = kind
        self.size = size
        self.per_channel = per_channel
        super().__init__(repeats=repeats, prob=prob, seed=seed)

    @classmethod
    def _param_names(cls) -> Tuple[str, ...]:
        return ("kind", "size", "per_channel")

    @property
    def kind(self) -> str:
        return self._kind

    @kind.setter
    def kind(self, k: str) -> None:
        if not isinstance(k, str):
            raise TypeError("Parameter `kind` must be 'max', 'min' or 'ave'.")
        if k not in _POOL_FUNCS:
            raise ValueError("Parameter `kind` must be 'max', 'min' or 'ave'.")
        self._kind = k

    @property
    def size(self) -> Union[int, Tuple[int, int], List[int]]:
        return self._size

    @size.setter
    def size(self, n: Union[int, Tuple[int, int], List[int]]) -> None:
        check_int_spec(n, "size")
        self._size = n

    @property
    def per_channel(self) -> bool:
        return self._per_channel

    @per_channel.setter
    def per_channel(self, p: bool) -> None:
        if not isinstance(p, bool):
            raise TypeError("Parameter `per_channel` must be boolean.")
        self._per_channel = p

    @property
    def min_length(self) -> int:
        """One full block of the largest block size: ``pool_rows`` (like
        the reference) cannot pool a series shorter than its block."""
        return max(expand_int_spec(self.size))

    def plan_block_sizes(
        self, rng: np.random.RandomState, n_rows: int, n_channels: int
    ) -> np.ndarray:
        """Draw the per-(row, channel) block sizes — one flat (rows*C,) array.

        Split out so the driver-side RNG planner can replay the identical
        draw for the distributed path.
        """
        candidates = expand_int_spec(self.size)
        if self.per_channel:
            return rng.choice(candidates, size=n_rows * n_channels)
        return np.repeat(rng.choice(candidates, size=n_rows), n_channels)

    @staticmethod
    def pool_rows(
        flat: np.ndarray, block: np.ndarray, kind: str
    ) -> np.ndarray:
        """Blockwise-pool each row of ``flat`` (R, T) in place; returns flat.

        ``block[r]`` is row r's block size.  Rows are grouped by block size
        so each group is one vectorized reshape-reduce (the reference's
        group-by-unique-parameter batching, pool.py:155-172 — also what
        pins the float reduction order for bit-exactness).
        """
        T = flat.shape[1]
        fn = _POOL_FUNCS[kind]
        for s in np.unique(block):
            rows = block == s
            n_full = int(T / s)
            head = s * n_full
            pooled = fn(
                flat[rows, :head].reshape(-1, n_full, s),
                axis=2,
                keepdims=True,
            )
            flat[rows, :head] = np.repeat(pooled, s, axis=2).reshape(-1, head)
            if T % s:
                flat[rows, head:] = fn(
                    flat[rows, head:], axis=1, keepdims=True
                )
        return flat

    @property
    def deterministic_core(self) -> bool:
        return isinstance(self.size, int)

    def _core(self, X, Y, rng=None) -> ArrayPair:
        rng = rng if rng is not None else np.random.RandomState(self.seed)
        N, T, C = X.shape
        block = self.plan_block_sizes(rng, N, C)
        flat = X.copy().swapaxes(1, 2).reshape(N * C, T)
        flat = self.pool_rows(flat, block, self.kind)
        X_out = flat.reshape(N, C, T).swapaxes(1, 2)
        return X_out, (Y.copy() if Y is not None else None)
