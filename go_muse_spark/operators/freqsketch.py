"""Count-Min frequency-sketch ladder over the event stream.

The frequency twin of the stored HLL distinct ladder
(cardinality.hll_sketch_rollup): per (bucket, row j, cell) counter
cells whose size is d x w REGARDLESS of item cardinality, mergeable to
coarser tiers by plain addition — the state a continuous aggregate
stores so that "top users last quarter" never rescans raw events.
Point estimates are min over the d rows and can only OVERcount
(est >= exact always; E[overcount] <= 2N/w per the Cormode-Muthukrishnan
bound), which is the safe direction for rate limiting and heavy-hitter
screens.

Unlike the Datasketches HLL blobs, every cell here is pure integer
arithmetic over the shared mod-P hash families (functions/text.py),
so a DuckDB oracle replays the whole sketch — build, ladder merge,
estimate — bit-for-bit. That makes this the one sketch in the engine
whose error is not just bounded but value-verified.

Scale shape: the build is ONE hash aggregate on (bucket, j, cell) —
the d-way explode multiplies rows map-side, but map-side partial
aggregation collapses them to at most groups x d x w cells before the
exchange, so shuffle bytes are O(buckets x d x w), independent of
input rows. The ladder re-agg shuffles only cells. Estimation joins
the (tiny) item list against the sketch on its exact cell key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_muse_spark.functions.text import P, minhash_coeffs
from go_muse_spark.operators.cardinality import _bucket

__all__ = ["cm_sketch_rollup", "cm_sketch_reagg", "cm_estimate"]


def _cells(item_hash: Column, d: int, w: int) -> Column:
    """Array of the item's d cell indexes, one per hash row — the same
    pairwise-independent (a*h + b) mod P families MinHash uses."""
    return F.array(
        *[
            (((F.lit(a) * item_hash + F.lit(b)) % F.lit(P)) % F.lit(w)).cast(
                "int"
            )
            for a, b in minhash_coeffs(d)
        ]
    )


def cells_sql(item_sql: str, j: int, w: int, d: int) -> str:
    """DuckDB expression for hash row j's cell of an item (oracle)."""
    a, b = minhash_coeffs(d)[j]
    return f"((({a} * ({item_sql}) + {b}) % {P}) % {w})"


def cm_sketch_rollup(
    events: DataFrame,
    item_sql: str,
    bucket_secs: int,
    d: int = 4,
    w: int = 256,
    ts_col: str = "ts",
) -> DataFrame:
    """Build one Count-Min sketch per time bucket: rows
    (bucket_epoch, j, cell, cnt) with cnt = #events whose item hashes
    into (j, cell). ``item_sql`` is a Spark SQL expression yielding a
    non-negative BIGINT item hash (< P), e.g. a user id or a
    text.char_hash of a string key.

    One exchange; map-side partials cap its volume at d x w cells per
    (input-partition, bucket).
    """
    h = F.expr(item_sql).cast("long")
    return (
        events.select(
            _bucket(bucket_secs, ts_col),
            F.posexplode(_cells(h, d, w)).alias("j", "cell"),
        )
        .groupBy("bucket_epoch", "j", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_sketch_reagg(
    sketch: DataFrame, coarse_secs: int, bucket_col: str = "bucket_epoch"
) -> DataFrame:
    """Climb the ladder: merge finer-tier sketches into a coarser tier
    by adding cells — CM sketches are linear, so the 1h -> 1d union is
    a plain sum, no raw events touched. Shuffles only sketch cells."""
    coarse = (
        F.col(bucket_col) - F.col(bucket_col) % F.lit(int(coarse_secs))
    ).alias(bucket_col)
    return sketch.groupBy(coarse, "j", "cell").agg(
        F.sum("cnt").alias("cnt")
    )


def cm_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_sql: str,
    d: int = 4,
    w: int = 256,
    bucket_col: str = "bucket_epoch",
) -> DataFrame:
    """Point-estimate each (bucket, item) row of ``items`` from the
    sketch: est = min over the d rows of that item's cell counter.
    Items absent from the sketch estimate 0 (coalesce on the left
    join). Output = items' columns + ``cm_est``.

    The sketch is the broadcast side — it is O(buckets x d x w) cells
    by construction, so an arbitrarily large item list probes it
    map-only with no exchange.

    When ``items`` carries no ``bucket_col``, the estimate is the
    WHOLE-SPAN count: the sketch's buckets are first sum-merged into a
    single sketch (CM is linear, same merge as cm_sketch_reagg), then
    probed. Without that pre-merge a (j, cell)-only join would take
    the min across per-bucket counters — a silently wrong estimate,
    neither any bucket's count nor the total."""
    h = F.expr(item_sql).cast("long")
    probes = items.select(
        "*", F.posexplode(_cells(h, d, w)).alias("j", "cell")
    )
    item_cols = [c for c in items.columns]
    if bucket_col in items.columns:
        join_keys, probe_sketch = [bucket_col, "j", "cell"], sketch
    else:
        join_keys = ["j", "cell"]
        probe_sketch = sketch.groupBy("j", "cell").agg(
            F.sum("cnt").alias("cnt")
        )
    joined = probes.join(
        F.broadcast(probe_sketch).withColumnRenamed("cnt", "__cnt"),
        on=join_keys,
        how="left",
    )
    return (
        joined.groupBy(*item_cols)
        .agg(F.min(F.coalesce(F.col("__cnt"), F.lit(0))).alias("cm_est"))
    )
