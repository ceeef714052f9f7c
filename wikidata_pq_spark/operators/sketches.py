"""Bounded-state frequency sketches for corpus statistics.

Two operators a 100 TB text pipeline needs where the exact answer's
state is the problem, not the compute:

- ``heavy_hitters``: distributed Misra-Gries. An exact token-frequency
  top-k (groupBy + count + rank) shuffles the ENTIRE vocabulary -- on
  a web corpus that is billions of distinct keys of state for an
  answer that only needs the few thousand frequent ones. Misra-Gries
  caps state at ``capacity`` counters per partition, the partials
  merge by plain summation plus a global undercount bound, and the
  result carries its own error bar: for every emitted key,
  ``est <= true <= est + max_undercount``, and every key with true
  frequency > max_undercount is guaranteed present. The shuffle is
  O(partitions * capacity), independent of vocabulary size.

- ``approx_distinct_check``: per-group HyperLogLog++ cardinality
  (``approx_count_distinct``), the standard constant-state answer to
  COUNT(DISTINCT) at scale, with a checkable contract: the check frame
  recomputes the EXACT distinct count in the same pass and emits
  (group, within_tol) so an oracle can re-derive the exact side
  independently and verify the sketch's error bound.

The reference has no sketch stage (its corpus fits one node); these
extend the engine the same way the dedup/ANN families do.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_compact(counters: Counter, capacity: int) -> int:
    """One Misra-Gries decrement step: subtract the (capacity+1)-th
    largest count from every counter, drop the non-positive. Returns
    the decrement applied (the undercount this step introduces)."""
    if len(counters) <= capacity:
        return 0
    d = sorted(counters.values(), reverse=True)[capacity]
    for k in list(counters):
        nv = counters[k] - d
        if nv > 0:
            counters[k] = nv
        else:
            del counters[k]
    return d


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    capacity: int = 4096,
    min_share: float = 0.001,
    require_complete: bool = True,
) -> DataFrame:
    """Keys whose frequency MAY exceed ``min_share`` of the rows, with
    per-key estimate + global undercount bound.

    Shape: ONE ``mapInPandas`` pass emits <= capacity (key, est) rows
    plus one marker row per partition carrying that partition's
    decrement total and row count; the merge is a single groupBy over
    that bounded partial set, and the global (max_undercount, n_total)
    scalars ride a whole-frame window over the same
    <= n_partitions * capacity + 1 merged rows -- one job end to end,
    no second scan of the input, never a driver collect.
    Guarantees (pytest-pinned):

    - est <= true_count <= est + max_undercount  for emitted keys;
    - COMPLETE at the threshold: every key with
      true_count >= min_share * n_total is in the result. A key ABSENT
      from every partial has true_count <= max_undercount, and
      max_undercount <= n_total/(capacity+1), so this guarantee is
      STATIC only when capacity+1 >= 1/min_share -- validated at call
      time (a smaller capacity is refused unless
      ``require_complete=False``, in which case completeness holds iff
      the OBSERVED max_undercount < min_share*n_total, checkable from
      the output columns);
    - capacity >= vocabulary  =>  est == true_count exactly and
      max_undercount == 0.

    ``min_share=0.0`` disables the threshold filter (keep everything
    the sketch retained) and makes no completeness claim, so it skips
    the capacity validation.

    Null keys are excluded (they are the partial frames' marker).
    Per-batch work is ``value_counts`` (C speed) + a vocabulary-sized
    dict merge -- per unique key, never per row (the simhash lesson).
    """
    if require_complete and min_share > 0 and capacity + 1 < 1.0 / min_share:
        raise ValueError(
            f"capacity={capacity} cannot guarantee completeness at "
            f"min_share={min_share}: needs capacity+1 >= 1/min_share = "
            f"{1.0 / min_share:.0f}. Raise capacity or pass "
            "require_complete=False to accept data-conditional "
            "completeness (holds iff the returned max_undercount < "
            "min_share * n_total)."
        )
    # No round-robin repartition here (r8, guide "remove
    # shuffles outright"): the sketch pass is TRANSFER-bound, not
    # compute-bound -- per-batch work is one value_counts, so extra
    # Python-stage parallelism bought by a full-corpus round-robin
    # exchange costs more than it returns in every regime (measured at
    # sf1.0: the exchange alone doubled the pass, 1.15s -> 2.25s, to
    # parallelize ~milliseconds of per-batch compute). At real scale
    # the input has abundant splits and a repartition would no-op
    # anyway; the CPU-heavy UDF paths (simhash etc.) get theirs from
    # contracts.spread_small_scan at the read. The
    # MG guarantees are partition-independent, and at any capacity >=
    # vocabulary the output is bit-identical under any partitioning.
    keyed = df.where(F.col(key_col).isNotNull()).select(
        F.col(key_col).cast("string").alias("key")
    )

    def mg(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: Counter = Counter()
        dec = 0
        nrows = 0
        for pdf in pdfs:
            nrows += len(pdf)
            vc = pdf["key"].value_counts()
            counters.update(
                {k: int(v) for k, v in zip(vc.index, vc.to_numpy())}
            )
            dec += _mg_compact(counters, capacity)
        keys = list(counters.keys())
        yield pd.DataFrame(
            {
                "key": keys + [None],
                "est": [counters[k] for k in keys] + [0],
                "dec": [0] * len(keys) + [dec],
                "nr": [0] * len(keys) + [nrows],
            }
        )

    parts = keyed.mapInPandas(mg, schema="key string, est long, dec long, nr long")
    # ONE bounded aggregate merges the per-key estimates AND the global
    # scalars (the per-partition marker rows collapse into the null-key
    # group). The global (max_undercount, n_total) scalars then ride a
    # whole-frame window over the SAME merged frame instead of a second
    # aggregate + broadcast cross-join: dec/nr are zero on every key
    # row, so summing over ALL rows equals summing the marker group --
    # identical values, but the whole merge is ONE job with a single
    # consumer, so the partials frame needs no lineage truncation
    # (a two-consumer checkpoint + broadcast-subquery tail roughly
    # doubled the cell's wall time at sf1.0). The window
    # collapses to one partition: each input partition contributes at
    # most ``capacity`` distinct keys, so the merged frame has at most
    # n_partitions * capacity + 1 rows (the +1 is the marker group),
    # all of them in that one task.
    from pyspark.sql import Window

    g = parts.groupBy("key").agg(
        F.sum("est").alias("est"),
        F.sum("dec").alias("dec"),
        F.sum("nr").alias("nr"),
    )
    w = Window.partitionBy()
    out = g.select(
        "key",
        "est",
        F.sum("dec").over(w).alias("max_undercount"),
        F.sum("nr").over(w).alias("n_total"),
    ).where(F.col("key").isNotNull())
    # completeness-safe filter: keep iff the key's UPPER bound clears
    # the threshold -- a dropped key provably has true < min_share*n
    return out.where(
        F.col("est") + F.col("max_undercount") >= F.lit(min_share) * F.col("n_total")
    ).select("key", "est", "max_undercount", "n_total")


def approx_quantile_check(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: tuple = (0.5, 0.95),
    accuracy: int = 1000,
    slack: int = 1,
) -> DataFrame:
    """(group, q, approx_val, within_tol): Greenwald-Khanna grouped
    quantiles (``approx_percentile`` -- the constant-state scale path
    the exact-percentile cell notes it would use at 100 TB) verified
    by their RANK-error contract, not value equality: the sketch
    promises |rank(approx_val) - q*n| <= n/accuracy. The sketch
    returns actual data elements, so the rank interval
    [count(v < approx_val), count(v <= approx_val)] is well-defined;
    the verdict is whether it intersects the promised band (+slack
    for discreteness).

    Two aggregates + one broadcast join of the tiny quantile frame --
    the corpus is scanned twice, shuffled once per aggregate on the
    group key, never sorted globally.
    """
    apx = df.groupBy(group_col).agg(
        F.percentile_approx(value_col, list(qs), accuracy).alias("qv")
    )
    qlit = F.array(*[F.lit(float(q)) for q in qs])
    apx_long = apx.select(
        group_col, F.posexplode("qv").alias("qi", "approx_val")
    ).select(
        group_col,
        F.element_at(qlit, F.col("qi") + 1).alias("q"),
        "approx_val",
    )
    joined = df.join(F.broadcast(apx_long), on=group_col)
    ranks = joined.groupBy(group_col, "q", "approx_val").agg(
        F.sum((F.col(value_col) < F.col("approx_val")).cast("long")).alias("r_low"),
        F.sum((F.col(value_col) <= F.col("approx_val")).cast("long")).alias("r_high"),
        # count the VALUE column, not rows: percentile_approx ignores
        # NULL values, so the rank target q*n must too -- count(*)
        # over a null-bearing column would test the sketch against a
        # rank it never promised
        F.count(value_col).alias("n"),
    )
    band = F.col("n") / F.lit(accuracy) + F.lit(slack)
    target = F.col("q") * F.col("n")
    ok = (F.col("r_high") >= target - band) & (F.col("r_low") <= target + band)
    return ranks.select(group_col, "q", "approx_val", ok.alias("within_tol"))


def approx_distinct_check(
    df: DataFrame,
    group_col: str,
    value_col: str,
    rsd: float = 0.05,
    tol_mult: float = 6.0,
    abs_slack: int = 8,
) -> DataFrame:
    """(group, approx_nd, exact_nd, within_tol): the sketch and the
    exact count in ONE aggregate, with the error-bound verdict
    attached. ``tol_mult`` standard deviations plus a small absolute
    slack (HLL++ switches to exact sparse mode at low cardinality, so
    tiny groups are exact; the slack covers the mode boundary).

    The oracle pattern: the approx side is engine-specific, so the
    contract exports THIS frame's (group, approx_nd) and the oracle
    recomputes exact_nd + the verdict independently in SQL.
    """
    agg = df.groupBy(group_col).agg(
        F.approx_count_distinct(value_col, rsd).alias("approx_nd"),
        F.countDistinct(value_col).alias("exact_nd"),
    )
    tol = F.lit(tol_mult * rsd) * F.col("exact_nd") + F.lit(abs_slack)
    return agg.select(
        group_col,
        "approx_nd",
        "exact_nd",
        (F.abs(F.col("approx_nd") - F.col("exact_nd")) <= tol).alias("within_tol"),
    )
