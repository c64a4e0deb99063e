"""Round-6 charter extensions: distributed query-side ANN + sampled
triangle counting.

The existing exact-ANN kernels (`ann_cosine_topk`, `ann_numpy_topk`,
`pq_topk`) ship the query set to the tasks via the driver — correct by
contract for a bounded query set, but a real retrieval pipeline can
carry a query set as large as the corpus. `ann_blocked_topk` exercises
`operators.similarity.blocked_topk`: block-nested cogrouped GEMM, no
driver collect, per-task memory bounded by the two block knobs (the
oracle run forces a 4×3 block grid so the multi-block merge is what's
being hash-checked, not a degenerate single pair)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _t, query

_BLOCKED_ANN_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 40),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.qv, e.v), 4) AS cos_sim
      FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
"""


# DOULION edge-sampled triangle estimate (Tsourakakis et al. 2009):
# keep each edge with probability p, count triangles on the sample,
# scale by 1/p³. Here the "coin" is an md5 hash of the edge key — fully
# deterministic and REPLICATED BIT-EXACTLY by the DuckDB oracle (the
# repo's bit-exact-sketch pattern, extensions_r5 KMV), so the key is
# hash-gated with NO tolerance band. Exact triangle work is inherently
# the wedge count (≈|V|·deg²/4 — 4.9B at sf10 on this dense-uniform
# graph); at p=0.3 the sampled wedge work is p²≈9% of that, which is
# what makes sf10+ tractable per box. Relative std ≈ √((p⁻³−1)/T),
# shrinking with scale since T grows ~linearly with replicas.
#
# r10 (verdict task #4): p lowered 0.3 → 0.2 — the sampling schedule
# was leaving accuracy on the table: σ_rel at p=0.2 is 1.7 % on
# sf0.01's 414k triangles and 0.26 % at sf10+, while wedge work drops
# to (0.2/0.3)² = 44 % and the pair exchange to 2/3. Realized
# deviation of the deterministic coin: z = 1.65 σ (sf0.01, rel err
# 2.9 %), z = 0.79 σ (sf0.1, rel err 0.6 %) — both inside 2σ.
_TRI_KEEP = 200  # permille: p = 0.2

_DOULION_ORACLE = f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ),
    sampled AS (
      SELECT s, d FROM pairs
      WHERE ('0x' || substr(md5(s::VARCHAR || '-' || d::VARCHAR), 1, 13))::BIGINT
            % 1000 < {_TRI_KEEP}
    ),
    tri AS (
      SELECT e1.s AS x
      FROM sampled e1
      JOIN sampled e2 ON e2.s = e1.d
      JOIN sampled e3 ON e3.s = e1.s AND e3.d = e2.d
    )
    SELECT CAST(floor(count(*) * 1000.0 * 1000.0 * 1000.0
                / ({_TRI_KEEP} * {_TRI_KEEP} * {_TRI_KEEP}) + 0.5) AS BIGINT)
             AS est_triangles,
           CAST(count(*) AS BIGINT) AS sampled_triangles,
           {_TRI_KEEP} AS keep_permille
    FROM tri
"""


#: driver-kernel wedge budget: Σ C(deg⁺, 2) of the sampled forward
#: adjacency — the merged wedge frame is ~24 B/row, so 60 M wedges
#: ≈ 1.4 GB of transient numpy, the most this path should ever hold.
_DOULION_WEDGE_BUDGET = 60_000_000


def _doulion_driver(spark: SparkSession, pdf) -> "DataFrame | None":
    """Exact DOULION tally over a collected raw sampled-pair frame:
    numpy dedup (≡ the distributed .distinct()) + vectorized wedge
    closure counting (for every wedge (x→y, x→z), y<z, test (y,z)
    membership in the sorted edge-key set). Returns None when the
    degree profile busts the wedge budget or keys would overflow the
    packed representation — the caller falls back to the distributed
    kernel."""
    import numpy as np
    import pandas as pd

    scale = 1000.0**3 / float(_TRI_KEEP) ** 3
    schema = (
        "est_triangles long, sampled_triangles long, keep_permille int"
    )
    if len(pdf) == 0:
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "est_triangles": [0],
                    "sampled_triangles": [0],
                    "keep_permille": [_TRI_KEEP],
                }
            ),
            schema,
        )
    s = pdf["s"].to_numpy(np.int64)
    d = pdf["d"].to_numpy(np.int64)
    m = int(d.max()) + 1
    if m > 2**31:  # packed (s, d) key must stay exact in int64
        return None
    ekey = np.unique(s * m + d)  # dedup ≡ .distinct(), sorted for probes
    es, ed = ekey // m, ekey % m
    # forward-degree profile gates the wedge expansion
    heads, counts = np.unique(es, return_counts=True)
    n_wedges = int((counts * (counts - 1) // 2).sum())
    if n_wedges > _DOULION_WEDGE_BUDGET:
        return None
    edf = pd.DataFrame({"s": es, "d": ed})
    w = edf.merge(edf, on="s")  # all ordered forward pairs per head
    y = w["d_x"].to_numpy(np.int64)
    z = w["d_y"].to_numpy(np.int64)
    keep = y < z  # each wedge once, oriented like the edge set
    y, z = y[keep], z[keep]
    wkey = y * m + z
    idx = np.searchsorted(ekey, wkey)
    idx[idx == len(ekey)] = 0  # any in-range slot; equality test decides
    tri = int(np.count_nonzero(ekey[idx] == wkey))
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "est_triangles": [int(np.floor(tri * scale + 0.5))],
                "sampled_triangles": [tri],
                "keep_permille": [_TRI_KEEP],
            }
        ),
        schema,
    )


@query("graph_triangle_doulion", oracle=_DOULION_ORACLE)
def q_graph_triangle_doulion(
    spark: SparkSession, sf_dir: str, driver_gate: int = 2_000_000
) -> DataFrame:
    """DOULION sampled triangle count — the 100 TB path for dense
    co-occurrence graphs where exact counting's wedge work is
    prohibitive. Deterministic md5 edge sampling (bit-exact vs the
    DuckDB oracle); the triangle kernel on the sample reuses the
    adjacency-intersection shape (`extensions_r5._triangles_per_edge`),
    so sampled work is p² of exact with the same spill-safe plan."""
    from ..functions.sketches import md5_hash52
    from ..operators.graph import sized_shuffle
    from .extensions_r5 import _copurchase_pairs_raw, _triangles_per_edge

    # r10 (verdict task #4): the md5 coin is a pure function of (s, d),
    # so sampling commutes with the pair dedup — filter the RAW pair
    # stream map-side, BEFORE the distinct. The distinct's exchange is
    # the query's dominant cost at scale (near-unique keys, zero
    # map-side reduction, ~1.2 B rows at sf100); moving the coin in
    # front of it cuts that exchange to p of its volume for the exact
    # same sampled edge set (dedup-of-filtered ≡ filter-of-deduped for
    # a deterministic row predicate). Oracle unchanged — it samples the
    # deduped set, which is the same set.
    pairs_raw = _copurchase_pairs_raw(spark, sf_dir)
    sampled_raw = pairs_raw.filter(
        F.pmod(
            md5_hash52(
                F.concat(
                    F.col("s").cast("string"),
                    F.lit("-"),
                    F.col("d").cast("string"),
                )
            ),
            F.lit(1000),
        )
        < _TRI_KEEP
    )
    # ONE scalar job for both dispatch inputs (r10 — was two: a max()
    # first() and a separate count()): max_pk gates int32 neighbor
    # packing, li_rows gates the driver kernel / sized-shuffle window.
    mx, li_rows = (
        _t(spark, sf_dir, "lineitem")
        .agg(F.max("l_partkey").alias("mx"), F.count(F.lit(1)).alias("n"))
        .first()
    )
    max_pk = mx or 0
    if li_rows <= driver_gate:
        # r10 size dispatch (guide §1.2): the raw sampled pair stream is
        # ≤ p·(pair fan-out)·rows ≈ 0.8·li_rows 16 B rows — a bounded
        # Arrow collect — and the triangle kernel's distributed shape
        # (two adjacency layouts + shuffle_hash attach + explode) costs
        # ~10 stages for milliseconds of compute at this size. numpy
        # dedups the pairs (skipping the distinct exchange entirely)
        # and counts wedge closures by sorted-key membership — exact
        # integer result, same floor(·+0.5) arithmetic. Pathological
        # degree skew (Σdeg² past the wedge budget) falls through to
        # the unchanged distributed kernel.
        driver_out = _doulion_driver(spark, sampled_raw.toPandas())
        if driver_out is not None:
            return driver_out
    sampled = sampled_raw.distinct()
    # int32 neighbor packing (shared with the exact kernel): the
    # adjacency arrays are the streamed payload of the intersect join —
    # half-width elements halve that shuffle when the id domain allows.
    per_edge = _triangles_per_edge(sampled, compact_ids=max_pk < 2**31)
    scale = 1000.0**3 / float(_TRI_KEEP) ** 3
    out = per_edge.agg(
        F.floor(F.sum("tri") * F.lit(scale) + F.lit(0.5))
        .cast("long")
        .alias("est_triangles"),
        F.sum("tri").cast("long").alias("sampled_triangles"),
        F.lit(_TRI_KEEP).alias("keep_permille"),
    )
    if li_rows <= 30_000_000:
        return out  # session defaults are right below the spill regime
    # sized-shuffle window (see q_graph_triangles): the sampled-pair
    # dedup spilled 12.9 GB / 102 s of the 112 s sf30 wall on the
    # session's 32 partitions; eager checkpoint of the 1-row result
    # keeps the whole plan inside the window
    with sized_shuffle(spark, li_rows * 2):
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# product-analytics family: sequential funnel + weekly cohort retention
# (operators/funnel.py). `event_funnel` (extensions.py) keeps the one-pass
# min-min formulation; this is the STRICT sequential semantics — stage k
# binds to the earliest stage-k event strictly after the bound stage-(k-1)
# event, so a user whose first 'click' precedes 'signup' still converts
# via a later click. Chained conditional window minimums: one exchange +
# one sort on user_id, k stacked window nodes, no per-user arrays.
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = ["signup", "view", "click", "purchase"]

_SEQ_FUNNEL_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    s0 AS (
      SELECT *, min(CASE WHEN event_type = 'signup' THEN ts END)
                  OVER (PARTITION BY user_id) AS t0 FROM ev
    ),
    s1 AS (
      SELECT *, min(CASE WHEN event_type = 'view' AND ts > t0 THEN ts END)
                  OVER (PARTITION BY user_id) AS t1 FROM s0
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2 FROM s1
    ),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3 FROM s2
    ),
    pu AS (
      SELECT user_id, max(t0) AS t0, max(t1) AS t1,
             max(t2) AS t2, max(t3) AS t3
      FROM s3 GROUP BY user_id
    ),
    c AS (
      SELECT CAST(count(t0) AS BIGINT) AS c0, CAST(count(t1) AS BIGINT) AS c1,
             CAST(count(t2) AS BIGINT) AS c2, CAST(count(t3) AS BIGINT) AS c3
      FROM pu
    )
    SELECT 1 AS stage_idx, 'signup' AS stage, c0 AS users,
           round(c0 * 100.0 / c0, 6) AS conv_pct FROM c
    UNION ALL
    SELECT 2, 'view', c1, round(c1 * 100.0 / c0, 6) FROM c
    UNION ALL
    SELECT 3, 'click', c2, round(c2 * 100.0 / c0, 6) FROM c
    UNION ALL
    SELECT 4, 'purchase', c3, round(c3 * 100.0 / c0, 6) FROM c
"""


@query("funnel_sequential", oracle=_SEQ_FUNNEL_ORACLE)
def q_funnel_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel
    from ..sources.readers import read_events

    return funnel(read_events(spark, sf_dir), _FUNNEL_STAGES)


_COHORT_ORACLE = """
    WITH uw AS (
      SELECT DISTINCT user_id AS u,
             date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
      FROM events
    ),
    c AS (
      SELECT u, wk, min(wk) OVER (PARTITION BY u) AS cohort_week FROM uw
    )
    SELECT cohort_week,
           CAST(datediff('day', cohort_week, wk) / 7 AS INTEGER) AS week_offset,
           CAST(count(*) AS BIGINT) AS active_users
    FROM c GROUP BY cohort_week, week_offset
"""


@query("cohort_retention", oracle=_COHORT_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import cohort_retention
    from ..sources.readers import read_events

    return cohort_retention(read_events(spark, sf_dir))


# windowed funnel: same sequential semantics, but each stage must land
# within 72 h of the previous bound event (the conversion-window variant
# every product-analytics store offers).
_WINDOWED_FUNNEL_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    s0 AS (
      SELECT *, min(CASE WHEN event_type = 'signup' THEN ts END)
                  OVER (PARTITION BY user_id) AS t0 FROM ev
    ),
    s1 AS (
      SELECT *, min(CASE WHEN event_type = 'view' AND ts > t0
                          AND ts <= t0 + INTERVAL 259200 SECOND THEN ts END)
                  OVER (PARTITION BY user_id) AS t1 FROM s0
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
                          AND ts <= t1 + INTERVAL 259200 SECOND THEN ts END)
                  OVER (PARTITION BY user_id) AS t2 FROM s1
    ),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
                          AND ts <= t2 + INTERVAL 259200 SECOND THEN ts END)
                  OVER (PARTITION BY user_id) AS t3 FROM s2
    ),
    pu AS (
      SELECT user_id, max(t0) AS t0, max(t1) AS t1,
             max(t2) AS t2, max(t3) AS t3
      FROM s3 GROUP BY user_id
    ),
    c AS (
      SELECT CAST(count(t0) AS BIGINT) AS c0, CAST(count(t1) AS BIGINT) AS c1,
             CAST(count(t2) AS BIGINT) AS c2, CAST(count(t3) AS BIGINT) AS c3
      FROM pu
    )
    SELECT 1 AS stage_idx, 'signup' AS stage, c0 AS users,
           round(c0 * 100.0 / c0, 6) AS conv_pct FROM c
    UNION ALL
    SELECT 2, 'view', c1, round(c1 * 100.0 / c0, 6) FROM c
    UNION ALL
    SELECT 3, 'click', c2, round(c2 * 100.0 / c0, 6) FROM c
    UNION ALL
    SELECT 4, 'purchase', c3, round(c3 * 100.0 / c0, 6) FROM c
"""


@query("funnel_windowed", oracle=_WINDOWED_FUNNEL_ORACLE)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel
    from ..sources.readers import read_events

    return funnel(
        read_events(spark, sf_dir), _FUNNEL_STAGES, max_gap_seconds=259200
    )


# top event paths: each user's first 5 event types in (ts, event_id)
# order, '>'-joined, counted; exact top-20 under a total order.
_TOP_PATHS_ORACLE = """
    WITH o AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM o WHERE rn <= 5 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS users
    FROM p GROUP BY path
    ORDER BY users DESC, path LIMIT 20
"""


@query("event_top_paths", oracle=_TOP_PATHS_ORACLE)
def q_event_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import top_paths
    from ..sources.readers import read_events

    return top_paths(read_events(spark, sf_dir), n_steps=5, top_k=20)


# ---------------------------------------------------------------------------
# RFM segmentation — exercises operators.windows.global_ntile, the
# distributed exact ntile (two-phase range-partition rank; NO
# single-partition Window.orderBy sort). The oracle uses DuckDB's
# built-in ntile — identical ANSI bucket allocation — so the hash match
# proves the distributed formulation IS ntile. Ordering keys carry a
# user_id tiebreak (total-order contract) and `monetary` is rounded
# BEFORE ranking so double partial-sum drift can't reorder neighbors.
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
    WITH pu AS (
      SELECT user_id,
             datediff('day', max(CAST(ts AS TIMESTAMP)),
                      (SELECT max(CAST(ts AS TIMESTAMP)) FROM events))
               AS recency,
             count(*) AS freq,
             round(sum(value), 6) AS monetary
      FROM events GROUP BY user_id
    ),
    q AS (
      SELECT ntile(4) OVER (ORDER BY recency, user_id)  AS r_q,
             ntile(4) OVER (ORDER BY freq, user_id)     AS f_q,
             ntile(4) OVER (ORDER BY monetary, user_id) AS m_q
      FROM pu
    )
    SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS users
    FROM q GROUP BY r_q, f_q, m_q
"""


@query("rfm_segments", oracle=_RFM_ORACLE)
def q_rfm_segments(
    spark: SparkSession, sf_dir: str, ntile_driver_limit: int | None = None
) -> DataFrame:
    # r8 (VERDICT r7 #5): the three per-metric global_ntile passes
    # compiled to 52 shuffles (each pass re-range-partitioned the frame
    # already carrying the previous passes' machinery). The melted
    # multi-metric form shares ONE range exchange + ONE size collect
    # across all three quartiles — same oracle hash, ~¼ the shuffles.
    from ..operators.windows import global_ntile_multi
    from ..sources.readers import read_events

    ev = read_events(spark, sf_dir)
    anchor = ev.agg(F.max("ts").alias("__anchor"))
    pu = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("__last"),
            F.count(F.lit(1)).alias("freq"),
            F.round(F.sum("value"), 6).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn("recency", F.datediff(F.col("__anchor"), F.col("__last")))
    )
    seg = global_ntile_multi(
        pu,
        [("recency", "r_q"), ("freq", "f_q"), ("monetary", "m_q")],
        tie_cols=["user_id"],
        n_buckets=4,
        driver_limit=ntile_driver_limit,
    )
    return seg.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("users")
    )


# Exact global median via distributed rank — Spark's exact `percentile`
# aggregate buffers every value of the group in executor memory (fine
# per-group, fatal for a single global group at fact-table scale);
# global_rank keeps the sort range-partitioned and picks the middle
# order statistics by rank. Even-n median = mean of the two middles,
# matching DuckDB's quantile_cont(0.5).
_MEDIAN_ORACLE = """
    SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
"""


@query("exact_median_rank", oracle=_MEDIAN_ORACLE)
def q_exact_median_rank(
    spark: SparkSession, sf_dir: str, driver_gate: int = 5_000_000
) -> DataFrame:
    from ..operators.windows import global_rank_with_count

    li = _t(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    # r10 size dispatch (guide §1.2): the mid-rank PRICES depend only on
    # the price ordering (the orderkey/linenumber tiebreak permutes
    # equal prices among themselves), so below the gate ONE Arrow
    # collect of the single 8 B column + an O(n) numpy partition finds
    # them — versus the distributed exact-rank machinery (range-sample
    # job, per-partition sort, persist, size collect, offset join) that
    # costs ~2 s of stages for a 2-row answer at sf0.1. The final
    # avg/round runs through the SAME Spark expressions on the 2-row
    # frame, so result semantics (HALF_UP rounding) are untouched.
    # 5 M rows ≈ 40 MB collected — bounded by construction; the
    # distributed rank path is unchanged above the gate.
    n = li.count()  # parquet metadata count — no data scan
    if 0 < n <= driver_gate:
        import numpy as np

        prices = li.select("l_extendedprice").toPandas()[
            "l_extendedprice"
        ].to_numpy(np.float64)
        mid0, mid1 = (n + 1) // 2 - 1, n // 2  # 0-based mid positions
        part = np.partition(prices, [mid0, mid1])
        two = spark.createDataFrame(
            [(float(part[mid0]),), (float(part[mid1]),)],
            "l_extendedprice double",
        )
        return two.agg(
            F.round(F.avg("l_extendedprice"), 4).alias("median_price"),
            F.lit(n).cast("long").alias("n_rows"),
        )
    ranked, n = global_rank_with_count(
        li, ["l_extendedprice", "l_orderkey", "l_linenumber"], rank_col="r"
    )  # n rides along from the rank pass — no extra count job
    mid = [(n + 1) // 2, n // 2 + 1]  # equal for odd n
    return (
        ranked.filter(F.col("r").isin(mid))
        .agg(
            F.round(F.avg("l_extendedprice"), 4).alias("median_price"),
            F.lit(n).cast("long").alias("n_rows"),
        )
    )


# next-event Markov transition matrix: lead() over the per-user ordered
# stream (ts + event_id total order), then a count + per-source
# normalization. One exchange on user_id, one tiny agg exchange.
_TRANSITIONS_ORACLE = """
    WITH o AS (
      SELECT event_type,
             lead(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
      FROM events
    )
    SELECT event_type AS from_type, to_type,
           CAST(count(*) AS BIGINT) AS transitions,
           round(count(*) * 1.0 /
                 sum(count(*)) OVER (PARTITION BY event_type), 6) AS prob
    FROM o WHERE to_type IS NOT NULL
    GROUP BY event_type, to_type
"""


@query("event_transitions", oracle=_TRANSITIONS_ORACLE)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..sources.readers import read_events

    ev = read_events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.withColumn("to_type", F.lead("event_type").over(w)).filter(
        F.col("to_type").isNotNull()
    )
    agg = o.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count(F.lit(1)).alias("transitions"))
    wsrc = Window.partitionBy("from_type")
    return agg.withColumn(
        "prob",
        F.round(
            F.col("transitions") * 1.0 / F.sum("transitions").over(wsrc), 6
        ),
    )


@query("ann_blocked_topk", oracle=_BLOCKED_ANN_ORACLE)
def q_ann_blocked_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 over a 40-query set through the distributed blocked
    kernel. Block sizes are deliberately tiny here (10 queries / ~1/3 of
    the corpus per chunk) so the run crosses 12 block pairs and the
    global rank merge across corpus chunks is exercised; at scale the
    same code runs with executor-memory-sized blocks."""
    from ..operators.similarity import blocked_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    nc = emb.count()
    out = blocked_topk(
        queries,
        emb,
        k=5,
        query_block_rows=10,
        corpus_block_rows=max(1, nc // 3 + 1),
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("cos").alias("cos_sim"),
        F.col("rank").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# SCD Type 2 dimension history — the engine extension of the reference's
# Type-1 dim upsert (pipeline/LoadCustomerDim.json:82-101): keep every
# version with [effective_from, effective_to) validity instead of
# overwriting in place. Three change waves over customer: a segment move
# (%10), a balance bump on top (%20), and a deliberate NO-OP resend of
# current state (%7) that must create no version. DATE-typed effectivity
# dodges session-timezone hazards entirely.
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
    WITH hist0 AS (
      SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) AS bal,
             DATE '2024-01-01' AS effective_from
      FROM customer
    ),
    chg AS (
      SELECT c_custkey, c_name, 'MOVED' AS c_mktsegment,
             round(c_acctbal, 2) AS bal, DATE '2024-02-01' AS effective_from
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, c_name, 'MOVED', round(c_acctbal + 50, 2),
             DATE '2024-03-01'
      FROM customer WHERE c_custkey % 20 = 0
      UNION ALL
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 10 = 0 THEN 'MOVED' ELSE c_mktsegment END,
             round(c_acctbal + CASE WHEN c_custkey % 20 = 0 THEN 50 ELSE 0 END, 2),
             DATE '2024-04-01'
      FROM customer WHERE c_custkey % 7 = 0
    ),
    seq AS (SELECT * FROM hist0 UNION ALL SELECT * FROM chg),
    v AS (
      SELECT *,
             (c_name IS NOT DISTINCT FROM lag(c_name) OVER w)
             AND (c_mktsegment IS NOT DISTINCT FROM lag(c_mktsegment) OVER w)
             AND (bal IS NOT DISTINCT FROM lag(bal) OVER w) AS samey
      FROM seq
      WINDOW w AS (PARTITION BY c_custkey ORDER BY effective_from)
    ),
    k AS (SELECT * FROM v WHERE NOT coalesce(samey, FALSE)),
    f AS (
      SELECT c_custkey, c_name, c_mktsegment, bal, effective_from,
             lead(effective_from) OVER (
               PARTITION BY c_custkey ORDER BY effective_from) AS effective_to
      FROM k
    )
    SELECT c_custkey, c_name, c_mktsegment, bal,
           effective_from,
           coalesce(effective_to, DATE '9999-12-31') AS effective_to,
           effective_to IS NULL AS is_current
    FROM f
"""


def _scd2_fixture(spark: SparkSession, sf_dir: str):
    """(initial open history, [three change waves]) over customer —
    shared by the batch scd2 key and its streaming coverage twin."""
    cust = _t(spark, sf_dir, "customer")
    hist0 = (
        cust.select(
            "c_custkey", "c_name", "c_mktsegment",
            F.round("c_acctbal", 2).alias("bal"),
        )
        .withColumn("effective_from", F.to_date(F.lit("2024-01-01")))
        .withColumn("effective_to", F.lit(None).cast("date"))
        .withColumn("is_current", F.lit(True))
    )
    chg1 = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", "c_name",
        F.lit("MOVED").alias("c_mktsegment"),
        F.round("c_acctbal", 2).alias("bal"),
        F.to_date(F.lit("2024-02-01")).alias("effective_from"),
    )
    chg2 = cust.filter(F.col("c_custkey") % 20 == 0).select(
        "c_custkey", "c_name",
        F.lit("MOVED").alias("c_mktsegment"),
        F.round(F.col("c_acctbal") + 50, 2).alias("bal"),
        F.to_date(F.lit("2024-03-01")).alias("effective_from"),
    )
    chg3 = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", "c_name",
        F.when(F.col("c_custkey") % 10 == 0, "MOVED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.round(
            F.col("c_acctbal")
            + F.when(F.col("c_custkey") % 20 == 0, 50).otherwise(0),
            2,
        ).alias("bal"),
        F.to_date(F.lit("2024-04-01")).alias("effective_from"),
    )
    return hist0, [chg1, chg2, chg3]


def _scd2_sentinel(out: DataFrame) -> DataFrame:
    # open versions surface as the standard SCD2 high-date sentinel so
    # the hash gate compares concrete dates, never engine null spellings
    return out.withColumn(
        "effective_to",
        F.coalesce("effective_to", F.to_date(F.lit("9999-12-31"))),
    )


@query("scd2_history", oracle=_SCD2_ORACLE)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history after three change waves, incl. a no-op wave that
    must collapse. Exercises operators.merge.scd2_apply: broadcast
    change-key anti-join (history passthrough), per-changed-key window
    rebuild, null-safe consecutive-version collapse."""
    from ..operators.merge import scd2_apply

    hist0, waves = _scd2_fixture(spark, sf_dir)
    changes = waves[0].unionByName(waves[1]).unionByName(waves[2])
    return _scd2_sentinel(
        scd2_apply(
            hist0, changes, keys=["c_custkey"],
            attr_cols=["c_name", "c_mktsegment", "bal"],
        )
    )


@query("stream_scd2_coverage", oracle=_SCD2_ORACLE)
def q_stream_scd2_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2: the three change waves arrive as separate
    micro-batches (file stream, one file per trigger); foreachBatch
    applies scd2_apply against the versioned dim table and commits.
    The FINAL history must hash-match the one-shot batch oracle —
    certifying cross-micro-batch convergence (scd2_apply orders by
    effective timestamp and collapses no-ops on the full rebuilt
    sequence, so per-wave application lands on the identical history,
    regardless of how the waves split across triggers).

    r7: rides `pipelines.load_dim_scd2` with the expectation gate ARMED
    (key/timestamp/attr contracts, halt mode) — the same per-batch
    publish gate the fact merge runs behind, now oracle-exercised on
    the SCD2 path too (VERDICT r6 #8). The waves are clean, so the
    gate passes and the history is identical; the breach-halts
    semantics are pinned by tests/test_pipelines.py."""
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import (
        DateType, DoubleType, LongType, StringType, StructField, StructType,
    )

    from ..sources.tables import ParquetTable

    hist0, waves = _scd2_fixture(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    base_dir = os.path.join(tempfile.gettempdir(), f"scd2_stream_{tag}")
    in_dir = os.path.join(base_dir, "in")
    ckpt = os.path.join(base_dir, "ckpt")
    table_root = os.path.join(base_dir, "dim")
    # deterministic content: write each wave once; a later invocation
    # finds them already processed in the checkpoint and the final
    # table state simply re-reads (idempotent, no orphan dirs)
    if not os.path.isdir(in_dir):
        for i, w in enumerate(waves):
            w.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(in_dir, f"wave{i:02d}")
            )
    schema = StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_mktsegment", StringType()),
            StructField("bal", DoubleType()),
            StructField("effective_from", DateType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(in_dir, "wave*"))
    )
    table = ParquetTable(spark, table_root)
    if not table.exists():
        # a checkpoint without a committed table (e.g. a table left in a
        # layout this code does not read) would skip every wave
        shutil.rmtree(ckpt, ignore_errors=True)

    from ..pipelines.load_dim_scd2 import load_dim_scd2_stream

    load_dim_scd2_stream(
        stream, table, keys=["c_custkey"],
        attr_cols=["c_name", "c_mktsegment", "bal"],
        checkpoint_dir=ckpt, initial_history=hist0,
        dq_rules=[
            ("custkey_not_null", F.col("c_custkey").isNull()),
            ("effective_from_present", F.col("effective_from").isNull()),
            ("balance_sane", F.col("bal").isNull()),
        ],
        dq_on_breach="halt",
    )
    return _scd2_sentinel(table.read())


# ---------------------------------------------------------------------------
# Keyed reconciliation — the CDC audit op: replayed table vs source of
# truth, one full-outer join, per-key status, then a grouped summary
# with a key checksum so the hash gate sees WHICH keys landed in each
# bucket, not just how many.
# ---------------------------------------------------------------------------

_RECONCILE_ORACLE = """
    WITH r AS (
      SELECT c_custkey, c_name,
             round(c_acctbal + CASE WHEN c_custkey % 11 = 0 THEN 10 ELSE 0 END,
                   2) AS bal
      FROM customer WHERE c_custkey % 13 <> 0
      UNION ALL
      SELECT c_custkey + 2000000, c_name, round(c_acctbal, 2)
      FROM customer WHERE c_custkey % 19 = 0
    ),
    l AS (SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal FROM customer),
    j AS (
      SELECT coalesce(l.c_custkey, r.c_custkey) AS c_custkey,
             CASE
               WHEN r.c_custkey IS NULL THEN 'only_left'
               WHEN l.c_custkey IS NULL THEN 'only_right'
               WHEN (l.c_name IS NOT DISTINCT FROM r.c_name)
                AND (l.bal IS NOT DISTINCT FROM r.bal) THEN 'unchanged'
               ELSE 'changed'
             END AS status
      FROM l FULL OUTER JOIN r ON l.c_custkey = r.c_custkey
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(c_custkey) AS BIGINT) AS key_checksum
    FROM j GROUP BY status
"""


@query("table_reconcile", oracle=_RECONCILE_ORACLE)
def q_table_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconcile customer against a perturbed replica (%13 keys dropped,
    %11 balances drifted, %19 keys net-new). Exercises
    operators.merge.reconcile: single full-outer shuffle, JVM-side
    null-safe struct compare."""
    from ..operators.merge import reconcile

    cust = _t(spark, sf_dir, "customer")
    left = cust.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("bal")
    )
    right = (
        cust.filter(F.col("c_custkey") % 13 != 0)
        .select(
            "c_custkey", "c_name",
            F.round(
                F.col("c_acctbal")
                + F.when(F.col("c_custkey") % 11 == 0, 10).otherwise(0),
                2,
            ).alias("bal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 19 == 0).select(
                (F.col("c_custkey") + 2000000).alias("c_custkey"),
                "c_name",
                F.round("c_acctbal", 2).alias("bal"),
            )
        )
    )
    rec = reconcile(left, right, keys=["c_custkey"])
    return rec.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c_custkey").cast("long").alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# Time travel + change-data-feed over the versioned table layer: commit
# state A, overwrite with state B, then ask the TABLE what changed —
# insert / update_postimage / delete per key, computed from the two
# retained versions (vacuum keeps the trailing 2). The oracle derives
# the same diff from the source frames directly, so the hash match
# proves version isolation (A unchanged by B's commit) AND the diff.
# ---------------------------------------------------------------------------

_TIME_TRAVEL_ORACLE = """
    WITH l AS (
      SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal FROM customer
    ),
    r AS (
      SELECT c_custkey, c_name,
             round(c_acctbal + CASE WHEN c_custkey % 11 = 0 THEN 10 ELSE 0 END,
                   2) AS bal
      FROM customer WHERE c_custkey % 13 <> 0
      UNION ALL
      SELECT c_custkey + 2000000, c_name, round(c_acctbal, 2)
      FROM customer WHERE c_custkey % 19 = 0
    ),
    j AS (
      SELECT coalesce(l.c_custkey, r.c_custkey) AS c_custkey,
             r.c_name AS c_name, r.bal AS bal,
             CASE
               WHEN l.c_custkey IS NULL THEN 'I'
               WHEN r.c_custkey IS NULL THEN 'D'
               WHEN (l.c_name IS NOT DISTINCT FROM r.c_name)
                AND (l.bal IS NOT DISTINCT FROM r.bal) THEN NULL
               ELSE 'U'
             END AS op
      FROM l FULL OUTER JOIN r ON l.c_custkey = r.c_custkey
    )
    SELECT c_custkey, op, c_name, bal
    FROM j WHERE op IS NOT NULL
"""


@query("table_time_travel", oracle=_TIME_TRAVEL_ORACLE)
def q_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit customer state A, overwrite with a perturbed state B
    (%13 dropped, %11 drifted, %19 net-new), then read the change data
    feed between the two RETAINED versions via sources.tables
    diff_versions — exercising read_version (time-travel isolation: A
    is unchanged by B's commit) and the keyed I/U/D diff. Promotes the
    previously pytest-only CDF surface into the oracle-gated catalog."""
    import hashlib
    import os
    import tempfile

    from ..sources.tables import ParquetTable, diff_versions

    cust = _t(spark, sf_dir, "customer")
    a = cust.select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("bal"))
    b = (
        cust.filter(F.col("c_custkey") % 13 != 0)
        .select(
            "c_custkey", "c_name",
            F.round(
                F.col("c_acctbal")
                + F.when(F.col("c_custkey") % 11 == 0, 10).otherwise(0),
                2,
            ).alias("bal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 19 == 0).select(
                (F.col("c_custkey") + 2000000).alias("c_custkey"),
                "c_name",
                F.round("c_acctbal", 2).alias("bal"),
            )
        )
    )
    # stable per-sf dir (deterministic digest — memory: never hash() for
    # paths); version numbers monotonically rise across invocations and
    # vacuum retains the trailing 2, so THIS call's pair always resolves
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"timetravel_fixture_{tag}")
    t = ParquetTable(spark, root)
    v1 = t.overwrite(a)
    v2 = t.overwrite(b)
    return diff_versions(t, ["c_custkey"], v1, v2)
