"""Exact distributed quantiles by iterative bin refinement.

The engine's three quantile tiers and where each breaks:

- ``F.percentile`` (exact, interpolated — `events_value_percentiles`)
  buffers EVERY value of a group in one executor's aggregation buffer:
  exact, but per-group memory is Θ(n) — the tier that OOMs first at
  100 TB.
- ``F.approx_percentile`` (GK sketch) is bounded-memory and mergeable,
  but approximate AND merge-order-sensitive: two runs over different
  partitionings can return different answers, so no oracle can replay
  it (rows-only by nature).
- THIS operator: the k-th order statistic, EXACT, with bounded memory
  everywhere and a partitioning-invariant answer — the classic
  distributed-selection pattern (iterative histogram refinement, the
  shape BigQuery-class engines use for exact quantiles): repeatedly
  count a B-bin histogram of the candidate interval (one
  map-side-combinable aggregate per pass — the shuffle carries
  ≤ states·B rows), descend into the bin holding the target rank, and
  finish with one tiny selection over ≤ ``final_threshold`` survivors.
  Passes shrink candidates ~B× each, so 2–3 passes cover any real
  column; driver state is Θ(groups·quantiles·B) — KB-sized.

Float-exactness: the next interval is the chosen bin's OBSERVED
``[min(v), max(v)]``, not arithmetic bin edges.  ``(v-lo)/w`` is
monotone in v under IEEE float ops, so each computed bin's member set
is a contiguous range of doubles — the observed min/max bound exactly
the counted multiset, and the next pass's ``v BETWEEN lo AND hi``
reproduces it bit-for-bit (arithmetic edges can disagree with the
floor() assignment by an ulp and silently shift the rank).  A bin
whose min equals its max resolves its states immediately.

Rank convention: ``k = max(1, ceil(q·n))`` over non-null values —
DuckDB's ``quantile_disc`` exactly, which is what the oracle replays.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.caching import scoped_persist
from openai_vector_search_demo_spark.session import local_frame


def exact_quantiles(df: DataFrame, value_col: str,
                    group_cols: list[str], qs: list[float],
                    bins: int = 1024, final_threshold: int = 4096,
                    max_passes: int = 32,
                    weight_col: str | None = None) -> DataFrame:
    """Exact discrete quantiles (k-th smallest, k = ceil(q·n)) of
    ``value_col`` per group, one row ``(*group_cols, q, value)`` per
    (group, q).  See the module docstring for the algorithm and why
    it is the 100 TB-safe exact tier.

    ``weight_col`` (integer weights; rows with weight < 1 are ignored)
    switches to the WEIGHTED quantile: the smallest value v whose
    cumulative weight over values ≤ v reaches ceil(q·W) — e.g. the
    token-weighted corpus median, where a 10k-token document counts
    10 000×.  Identical pass structure: the histogram aggregates
    SUM(weight) per bin instead of COUNT, the descent follows
    cumulative weight, and the survivor bound (``final_threshold``)
    still counts ROWS, so memory bounds are unchanged."""
    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
    if bins < 2:
        raise ValueError("bins must be >= 2")
    if not group_cols:
        raise ValueError("group_cols must be non-empty (add a literal "
                         "constant column for a global quantile)")
    spark = df.sparkSession
    gcols = list(group_cols)
    # group keys are normalized to STRING once, Spark-side, so the
    # driver state round-trips through createDataFrame with exactly the
    # rendering Spark produced (a Python str(v) disagrees with Spark's
    # cast for booleans/floats); rows with NULL group keys or values
    # are excluded (documented: group columns come back as strings)
    w = (F.col(weight_col).cast("long") if weight_col is not None
         else F.lit(1).cast("long"))
    rows = (df.select(*[F.col(c).cast("string").alias(c) for c in gcols],
                      F.col(value_col).cast("double").alias("_v"),
                      w.alias("_w"))
            .filter(F.col("_v").isNotNull() & (F.col("_w") >= 1))
            .na.drop(subset=gcols))
    rows = scoped_persist(rows)

    bounds = (rows.groupBy(*gcols)
              .agg(F.count(F.lit(1)).alias("_n"), F.sum("_w").alias("_tw"),
                   F.min("_v").alias("_lo"),
                   F.max("_v").alias("_hi")).collect())
    # state: candidate interval [lo, hi] (inclusive, both ends observed
    # data points), target rank k in cumulative WEIGHT, candidate ROW
    # count n (bounds the final selection)
    states: dict = {}
    for r in bounds:
        g = tuple(r[c] for c in gcols)
        for q in qs:
            s = {"lo": r["_lo"], "hi": r["_hi"], "n": r["_n"],
                 "k": max(1, math.ceil(q * r["_tw"])),
                 "val": r["_lo"] if r["_lo"] == r["_hi"] else None,
                 "frozen": False}
            states[(g, q)] = s

    gstate = [f"_g_{c}" for c in gcols]
    schema = ", ".join(f"`{c}` string" for c in gstate) \
        + ", _q double, _slo double, _shi double"

    def active_items():
        act = []
        for key, s in states.items():
            if s["val"] is not None or s["frozen"] \
                    or s["n"] <= final_threshold:
                continue
            if (s["hi"] - s["lo"]) / bins == 0.0:
                # interval width underflows double precision: the
                # histogram pass would divide by zero (ANSI cast
                # overflow on the +Inf) — freeze BEFORE building it
                # and let the final windowed selection take the state
                s["frozen"] = True
                continue
            act.append((key, s))
        return act

    for _ in range(max_passes):
        act = active_items()
        if not act:
            break
        sdf = local_frame(
            spark, [key[0] + (float(key[1]), s["lo"], s["hi"])
                    for key, s in act], schema)
        cond = (F.col("_v") >= F.col("_slo")) & (F.col("_v") <= F.col("_shi"))
        for c, gc in zip(gcols, gstate):
            cond = cond & (F.col(c) == F.col(gc))
        j = rows.join(F.broadcast(sdf), cond)
        w = (F.col("_shi") - F.col("_slo")) / F.lit(bins)
        b = F.least(F.floor((F.col("_v") - F.col("_slo")) / w).cast("int"),
                    F.lit(bins - 1))
        cnt = (j.groupBy(*gstate, "_q", b.alias("_b"))
               .agg(F.count(F.lit(1)).alias("_c"), F.sum("_w").alias("_cw"),
                    F.min("_v").alias("_mn"),
                    F.max("_v").alias("_mx")).collect())
        per_state: dict = {}
        for r in cnt:
            key = (tuple(r[c] for c in gstate), r["_q"])
            per_state.setdefault(key, []).append(
                (r["_b"], r["_c"], r["_cw"], r["_mn"], r["_mx"]))
        progressed = False
        for key, s in act:
            skey = (key[0], float(key[1]))
            hist = sorted(per_state.get(skey, []))
            cum = 0                       # cumulative WEIGHT before bin
            for _b, c, cw, mn, mx in hist:
                if cum + cw >= s["k"]:
                    if mn == mx:                    # all survivors equal
                        s["val"] = mn
                    elif (mn, mx, c) == (s["lo"], s["hi"], s["n"]):
                        s["frozen"] = True          # cannot shrink further
                    else:
                        progressed = True
                    s["k"] -= cum
                    s["n"], s["lo"], s["hi"] = c, mn, mx
                    break
                cum += cw
        if not progressed:
            break

    resolved = [(key, s) for key, s in states.items() if s["val"] is not None]
    pending = [(key, s) for key, s in states.items() if s["val"] is None]

    # group columns come back as strings (state round-trips through the
    # driver); the q/value columns are double
    out_schema = ", ".join(f"`{c}` string" for c in gcols) \
        + ", q double, value double"
    if not states:                            # empty input: empty result
        return local_frame(spark, [], out_schema)
    parts = []
    if resolved:
        parts.append(local_frame(
            spark, [key[0] + (float(key[1]), float(s["val"]))
                    for key, s in resolved], out_schema))
    if pending:
        pschema = schema + ", _sk long"
        sdf = local_frame(
            spark, [key[0] + (float(key[1]), s["lo"], s["hi"], int(s["k"]))
                    for key, s in pending], pschema)
        cond = (F.col("_v") >= F.col("_slo")) & (F.col("_v") <= F.col("_shi"))
        for c, gc in zip(gcols, gstate):
            cond = cond & (F.col(c) == F.col(gc))
        j = rows.join(F.broadcast(sdf), cond)
        # weighted rank: the row whose running weight crosses k.  Row
        # order among equal values is arbitrary, but the crossing row's
        # VALUE is invariant (all full value-groups before it sum < k)
        cw = F.sum("_w").over(
            Window.partitionBy(*gstate, "_q").orderBy(F.col("_v").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        sel = (j.withColumn("_cw", cw)
               .filter((F.col("_cw") >= F.col("_sk"))
                       & (F.col("_cw") - F.col("_w") < F.col("_sk")))
               .select(*[F.col(gc).alias(c)
                         for c, gc in zip(gcols, gstate)],
                       F.col("_q").alias("q"), F.col("_v").alias("value")))
        parts.append(sel)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
