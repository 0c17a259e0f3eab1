"""Exact distributed order statistics via iterative histogram refinement.

``percentile`` / sort-based medians hold per-group value buffers (exact but
memory-bound) and a global sort is a full shuffle. This operator finds
EXACT k-th smallest values of an integer-valued column in
O(log_B(range)) passes: each pass histograms every open candidate range
into B buckets, the driver receives only the counts, picks the bucket
holding each wanted rank, and narrows. Every requested rank of every
group is refined in the same pass, so both middle ranks of a median cost
one pass sequence, not two. With B = 1024, four passes settle a 10^12
micro-unit range — each pass one scan + one tiny aggregate, no shuffle of
data rows, no driver-side values beyond the counts. This is the classic
"median of a terabyte" construction (distributed selection).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1024


def kth_smallest_long(
    df: DataFrame,
    value_col: str,
    ranks: Iterable[int] | Mapping[object, Iterable[int]],
    group_col: str | None = None,
) -> dict:
    """Exact k-th smallest (1-based, nulls ignored) values of a LONG
    column: ``{rank: value}`` for every rank in ``ranks``; with
    ``group_col``, ``ranks`` maps each group to its ranks and the result
    is ``{group: {rank: value}}``.

    Open candidate ranges are either equal or disjoint (each is a bucket
    of its parent range), so targets sharing a range share one slot and
    a row falls in at most one slot. A pass is ONE filter + aggregate
    over all slots, written as a CASE over the slot ranges: driver state
    and plan size grow with the number of open slots (groups × distinct
    ranges), and per pass the driver receives at most ``slots × 1024``
    counts.
    """
    wanted = ranks if group_col else {None: ranks}
    c, keys = F.col(value_col), [group_col] if group_col else []
    bounds = {
        (r[group_col] if group_col else None): (r["lo"], r["hi"])
        for r in df.groupBy(*keys).agg(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()
    }
    # open targets: (group, rank) -> (lo, hi, rank within [lo, hi])
    open_: dict = {}
    found: dict = {}
    for g, rs in wanted.items():
        lo, hi = bounds.get(g, (None, None))
        if lo is None:
            raise ValueError(f"kth_smallest_long: no values for group {g!r}")
        for k in rs:
            if lo == hi:
                found[g, k] = lo
            else:
                open_[g, k] = (lo, hi, k)
    while open_:
        slots = list({(g, lo, hi) for (g, _), (lo, hi, _) in open_.items()})
        # width >= 1 so every range strictly narrows each pass
        widths = [max(1, (hi - lo) // _BUCKETS + 1) for _, lo, hi in slots]
        key = None
        for i, ((g, lo, hi), w) in enumerate(zip(slots, widths)):
            cond = (c >= lo) & (c <= hi)
            if group_col:
                cond = cond & (F.col(group_col) == g)
            # exact integer bucket (a double division would misplace values
            # past 2^53 relative to the driver's integer bucket bounds)
            bucket = F.expr(f"{i * _BUCKETS} + (`{value_col}` - ({lo})) DIV {w}")
            key = F.when(cond, bucket) if key is None else key.when(cond, bucket)
        hist = (
            df.select(key.alias("_k"))
            .filter(F.col("_k").isNotNull())
            .groupBy("_k")
            .count()
            .collect()
        )
        counts: list[dict[int, int]] = [{} for _ in slots]
        for r in hist:
            i, b = divmod(r["_k"], _BUCKETS)
            counts[i][b] = r["count"]
        index = {s: i for i, s in enumerate(slots)}
        for (g, k), (lo, hi, want) in list(open_.items()):
            i = index[g, lo, hi]
            acc = 0
            for b in sorted(counts[i]):
                if acc + counts[i][b] >= want:
                    lo2 = lo + b * widths[i]
                    hi2 = min(hi, lo2 + widths[i] - 1)
                    if lo2 == hi2:
                        found[g, k] = lo2
                        del open_[g, k]
                    else:
                        open_[g, k] = (lo2, hi2, want - acc)
                    break
                acc += counts[i][b]
            else:
                raise ValueError(f"rank {k} exceeds the row count of group {g!r}")
    out = {g: {k: found[g, k] for k in rs} for g, rs in wanted.items()}
    return out if group_col else out[None]
