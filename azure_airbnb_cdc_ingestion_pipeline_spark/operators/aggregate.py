"""Gold-layer aggregation — the reference's star join + group-by.

Reference: ``SELECT c.country, COUNT_BIG(*) AS total_bookings,
SUM(ISNULL(b.amount,0)) AS total_amount, MAX(b.booking_date) AS
last_booking_date FROM bookings_fact b JOIN customer_dim c ON
b.customer_id = c.customer_id GROUP BY c.country``
(/root/reference/synapse_table_creation.sql:59-69, stored-proc body :76-87).

Spark-first: broadcast the dim (it is the small side of a star join),
group-by on the dim attribute. The aggregation is partial (map-side
combine) then final — one shuffle on ``country``. ``F.count`` already
returns bigint (COUNT_BIG parity).

Scale: fact⋈dim with dim broadcast = zero shuffle of the 100 TB fact for
the join; the only shuffle is the low-cardinality group-by, which AQE
coalesces. The full-refresh materialization (truncate+insert,
synapse_table_creation.sql:71-88) maps to an atomic table overwrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gold_booking_aggregation(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str = "customer_id",
    dim_key: str = "customer_id",
    group_col: str = "country",
    amount_col: str = "amount",
    date_col: str = "booking_date",
    broadcast_dim: bool = True,
) -> DataFrame:
    # namespace the dim columns — the fact may carry same-named attributes
    # (e.g. its own denormalized `country`)
    dim_side = dim.select(
        F.col(dim_key).alias("__k"), F.col(group_col).alias("__grp")
    )
    if broadcast_dim:
        dim_side = F.broadcast(dim_side)
    joined = fact.join(dim_side, fact[fact_key] == dim_side["__k"], "inner")
    return joined.groupBy(F.col("__grp").alias(group_col)).agg(
        F.count(F.lit(1)).alias("total_bookings"),
        F.sum(F.coalesce(F.col(amount_col), F.lit(0.0))).alias("total_amount"),
        F.max(date_col).alias("last_booking_date"),
    )


def merge_gold(
    old_gold: DataFrame,
    delta_gold: DataFrame,
    group_col: str = "country",
) -> DataFrame:
    """Incremental gold maintenance — the 100 TB replacement for the
    reference's per-run TRUNCATE+INSERT full refresh
    (/root/reference/synapse_table_creation.sql:71-88): instead of
    re-aggregating the whole fact table every trigger, aggregate only
    the micro-batch and MERGE the partials into the standing gold state.

    count/sum/max are all mergeable (algebraic) aggregates:
    counts/sums add, max takes the greatest. Exact for append-only
    facts; with keyed updates, feed a RETRACTION delta (see
    :func:`signed_delta`) — then count/sum stay exact and max stays
    exact as long as group maxima never decrease (the arrival-wins CDC
    case; a shrinking max needs a per-group recompute, the standard
    materialized-view limitation).

    Float caveat (r8, measured by the continuous-trigger latency leg):
    a DOUBLE sum maintained by +/- retractions accumulates epsilon-order
    drift vs a fresh aggregation (different addition order) — ~1e-9
    relative after 126 k-event batches. Counts and max are unaffected.
    Treat sums as exact at the repo's money rounding (6 dp) and re-zero
    the drift with a periodic full refresh (the same cadence pattern as
    the MoR fold), or store money as DECIMAL when bit-exactness at any
    horizon is a requirement.

    Cost per trigger: one batch-sized aggregation plus a full-outer
    merge on the (low-cardinality) group key — O(batch + |groups|),
    instead of O(fact table).
    """
    o = old_gold.alias("o")
    d = delta_gold.alias("d")
    return o.join(d, on=F.col(f"o.{group_col}") == F.col(f"d.{group_col}"), how="full_outer").select(
        F.coalesce(F.col(f"o.{group_col}"), F.col(f"d.{group_col}")).alias(group_col),
        (
            F.coalesce(F.col("o.total_bookings"), F.lit(0))
            + F.coalesce(F.col("d.total_bookings"), F.lit(0))
        ).alias("total_bookings"),
        (
            F.coalesce(F.col("o.total_amount"), F.lit(0.0))
            + F.coalesce(F.col("d.total_amount"), F.lit(0.0))
        ).alias("total_amount"),
        F.greatest(
            F.col("o.last_booking_date"), F.col("d.last_booking_date")
        ).alias("last_booking_date"),
    )


def signed_delta(
    before: DataFrame,
    after: DataFrame,
    dim: DataFrame,
    **gold_kwargs,
) -> DataFrame:
    """Retraction delta for keyed-upsert facts: the batch's BEFORE image
    (current target rows matching the batch keys — already computed by
    the merge's lookup join) contributes negatively, the AFTER image
    positively. Aggregating the signed union gives the per-group
    (Δcount, Δsum, candidate max) that :func:`merge_gold` folds in.
    """
    amount = gold_kwargs.get("amount_col", "amount")
    date_col = gold_kwargs.get("date_col", "booking_date")
    signed = after.withColumn("__w", F.lit(1)).unionByName(
        before.withColumn("__w", F.lit(-1))
    )
    fact_key = gold_kwargs.get("fact_key", "customer_id")
    dim_key = gold_kwargs.get("dim_key", "customer_id")
    group_col = gold_kwargs.get("group_col", "country")
    dim_side = F.broadcast(
        dim.select(F.col(dim_key).alias("__k"), F.col(group_col).alias("__grp"))
    )
    joined = signed.join(dim_side, signed[fact_key] == dim_side["__k"], "inner")
    return joined.groupBy(F.col("__grp").alias(group_col)).agg(
        F.sum("__w").alias("total_bookings"),
        F.sum(F.col("__w") * F.coalesce(F.col(amount), F.lit(0.0))).alias(
            "total_amount"
        ),
        F.max(F.when(F.col("__w") == 1, F.col(date_col))).alias(
            "last_booking_date"
        ),
    )
