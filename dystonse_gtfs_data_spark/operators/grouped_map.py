"""Batched grouped-map execution: one Python invocation per Arrow batch
for a per-group function.

``DataFrame.groupBy(keys).applyInPandas(fn)`` pays one Arrow
round-trip, one Python UDF dispatch and one pandas frame PER GROUP.
For curve-style workloads — many small groups, little math per group —
that fixed cost dominates the stage.  :func:`map_grouped_in_pandas`
runs the per-group function over key-sorted partitions via
``mapInPandas`` instead, with a carry buffer for the group that spans a
batch boundary.

The contract: ``fn(key, pdf)`` gets the group's key values as a tuple
and its rows as a frame, and returns the group's output rows as a
mapping of column name to an equal-length sequence, or ``None`` when
the group yields no rows.  The runner concatenates the mappings of all
groups that end in one input batch and builds ONE pandas frame per
batch.  Every group function of a call must return the same columns,
in the order of the output schema.

Rows are hash-repartitioned on the group keys (all rows of a group in
one partition) and sorted by (keys, *order_cols) within partitions, so
each group reaches ``fn`` exactly once, contiguous and in a
deterministic row order.

Memory: per-task state is one Arrow batch plus the trailing group, not
a hash-aggregation state over all the task's groups; the explicit
partition count is taken for parallelism.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping, Sequence
from itertools import chain

import pandas as pd
from pyspark.sql import DataFrame


def _norm_name(name) -> tuple:
    return name if isinstance(name, tuple) else (name,)


def _same_key(a: tuple | None, b: tuple | None) -> bool:
    if a is None or b is None:
        return False
    return all(
        (x == y) or (pd.isna(x) and pd.isna(y)) for x, y in zip(a, b)
    )


#: What a group function returns: equal-length column sequences, or
#: None when the group yields no rows.
GroupRows = Mapping[str, Sequence] | None


def _frame(outs: list[Mapping[str, Sequence]]) -> pd.DataFrame | None:
    """One frame from the column mappings of a batch's groups, or None
    when they hold no rows."""
    if not outs:
        return None
    frame = pd.DataFrame(
        {c: list(chain.from_iterable(o[c] for o in outs)) for c in outs[0]}
    )
    return frame if len(frame) else None


def _make_runner(
    keys: Sequence[str],
    fn: Callable[[tuple, pd.DataFrame], GroupRows],
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    key_list = list(keys)

    def _runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Carry for the group spanning a batch boundary, kept as a LIST
        # of raw frames and concatenated exactly once at the group's
        # end: re-concat + re-groupby of a growing buffer per batch
        # would be O(B²) copying for a single group spanning B batches
        # (a dominant route or curve-set key), where plain applyInPandas
        # is one pass.
        carry: list[pd.DataFrame] = []
        carry_key: tuple | None = None

        def _flush(outs: list) -> None:
            nonlocal carry, carry_key
            g = carry[0] if len(carry) == 1 else pd.concat(carry, ignore_index=True)
            _call(carry_key, g, outs)
            carry, carry_key = [], None

        def _call(key: tuple, gpdf: pd.DataFrame, outs: list) -> None:
            got = fn(key, gpdf.reset_index(drop=True))
            if got is not None:
                outs.append(got)

        for pdf in batches:
            if pdf.empty:
                continue
            outs: list[Mapping[str, Sequence]] = []
            # sort=False → groups in order of appearance; the input is
            # key-sorted, so groups are contiguous and the LAST group
            # may continue in the next batch — hold it back
            # list(iter(...)) not list(...): pandas 2.2's GroupBy.__len__
            # raises "Categorical categories cannot be null" on NaN keys
            # with dropna=False; iterating sidesteps the len() prealloc
            groups = list(iter(pdf.groupby(key_list, sort=False, dropna=False)))
            first_key = _norm_name(groups[0][0])
            if carry and not _same_key(carry_key, first_key):
                _flush(outs)
            if len(groups) == 1:
                # whole batch is one group: append raw, defer the concat
                carry.append(groups[0][1])
                carry_key = first_key
            else:
                start = 0
                if carry:
                    # ≥2 groups in this batch → the continued group ends here
                    carry.append(groups[0][1])
                    _flush(outs)
                    start = 1
                for name, gpdf in groups[start:-1]:
                    _call(_norm_name(name), gpdf, outs)
                carry = [groups[-1][1]]
                carry_key = _norm_name(groups[-1][0])
            out = _frame(outs)
            if out is not None:
                yield out
        if carry:
            outs = []
            _flush(outs)
            out = _frame(outs)
            if out is not None:
                yield out

    return _runner


def map_grouped_in_pandas(
    df: DataFrame,
    keys: Sequence[str],
    fn: Callable[[tuple, pd.DataFrame], GroupRows],
    schema: str,
    num_partitions: int | None = None,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Run ``fn(key, pdf)`` once per distinct ``keys`` group of ``df``
    at one Python invocation per Arrow batch.  ``key`` is the group's
    key values as a tuple, ``pdf`` its rows; ``fn`` returns its output
    rows as a column mapping (see the module docstring) or None.

    ``num_partitions`` sizes the explicit hash repartition on the group
    keys (defaults to the session shuffle-partition setting via plain
    ``repartition(*keys)``); ``order_cols`` extends the within-
    partition sort so the group fn sees rows in a deterministic order
    even when it does not re-sort internally."""
    parts = (
        df.repartition(num_partitions, *keys)
        if num_partitions is not None
        else df.repartition(*keys)
    )
    return parts.sortWithinPartitions(*keys, *order_cols).mapInPandas(
        _make_runner(keys, fn), schema
    )
