"""Deduplication operators for large-scale corpus preparation.

Charter extension (the reference has no dedup surface): exact dedup,
n-gram Jaccard near-dup, MinHash+LSH near-dup, SimHash near-dup, and
embedding-cosine near-dup — each designed so the 100 TB plan never
materializes an all-pairs product:

- exact:   one hash-shuffle on the md5 fingerprint (tiny key), map-side
           partial aggregation.
- jaccard: inverted-index self-join on shingles — cost is proportional to
           the number of *co-occurring* shingle postings, not |docs|².
           Optional `max_df` drops ultra-common shingles (skew + noise).
- minhash: fixed-size signatures (k mins) → banded bucket join: only
           same-bucket docs are paired, then candidates are verified with
           exact Jaccard. The standard sub-quadratic near-dup pipeline.
- simhash: 64-bit fingerprint; pigeonhole block join (4×16-bit chunks)
           finds all pairs within Hamming distance ≤ 3 without an
           all-pairs scan.
- cosine:  see operators/similarity.py (shared vector kernels).

All hashes are Spark-builtin (xxhash64/md5) — JVM-side, no Python.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, lit_array, shingle_hashes, tokens

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Group identical documents (by normalized-content md5); the survivor
    is the smallest id. Returns (canonical_id, dup_count) per distinct
    content. One shuffle keyed on the 32-char digest."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("canonical_id", "dup_count")
    )


def drop_exact_dups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep only the canonical (min-id) row per distinct content."""
    canon = exact_dedup(df, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(canon, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact, inverted-index join)
# ---------------------------------------------------------------------------


def _shingle_postings(
    df: DataFrame, id_col: str, text_col: str, n: int, max_df: int | None
) -> DataFrame:
    """(id, shingle) posting list, distinct per doc. `max_df` caps document
    frequency: shingles appearing in more docs are dropped from the JOIN
    side (standard skew guard; undercounts similarity conservatively)."""
    from ..session import fan_out

    post = fan_out(df).select(
        F.col(id_col).alias("id"),
        # hashed shingles: same set semantics as string shingles at ~1/3 the
        # scan cost (see functions.text.shingle_hashes)
        F.explode(shingle_hashes(text_col, n)).alias("s"),
    )
    if max_df is not None:
        keep = (
            post.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("s")
        )
        post = post.join(keep, "s", "left_semi")
    return post


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over n-gram shingle sets for every pair
    sharing ≥1 shingle. Returns (a_id, b_id, jaccard) with a_id < b_id and
    jaccard ≥ threshold.

    Scale: the self-join is keyed on the shingle (inverted index); with a
    `max_df` cap the postings per key are bounded, so the shuffle and the
    pair-count stay near-linear in corpus size for natural text.
    """
    post = _shingle_postings(df, id_col, text_col, n, max_df)
    sizes = post.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = post.select(F.col("id").alias("a_id"), "s")
    b = post.select(F.col("id").alias("b_id"), "s")
    common = (
        a.join(b, "s")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col("id").alias("a_id"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("id").alias("b_id"), F.col("n_sh").alias("nb"))
    return (
        common.join(na, "a_id")
        .join(nb, "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("na") + F.col("nb") - F.col("common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

def _sigs_expr(sh: Column, num_hashes: int) -> Column:
    """k-minhash signature array from a shingle-hash array, per row:
    sigs[i] = min over shingles of h_i(s) = xxhash64(s, i), computed as
    one `aggregate` fold carrying a k-wide running-min array
    (least(null, v) = v seeds it). Empty shingle set → all-null sigs.
    The xxhash64 family keeps it ANSI-safe (no wraparound arithmetic,
    which default-ANSI Spark 4 sessions reject)."""
    # one-expr literal array (r10): n F.lit calls = n py4j roundtrips
    # of pure driver time per query build; int element type preserved
    # (xxhash64(x, i) hashes the 4-byte int representation)
    idx = lit_array(range(num_hashes), "int")
    init = F.array_repeat(F.lit(None).cast("long"), num_hashes)
    return F.aggregate(
        sh,
        init,
        lambda acc, x: F.zip_with(acc, idx, lambda m, i: F.least(m, F.xxhash64(x, i))),
    )


def _band_structs_expr(bands: int, rows: int, sig_col: str = "sigs") -> Column:
    """LSH band keys as ONE SQL expr (r10): the per-element Column
    spelling cost ~0.36 s of py4j chatter per query build (16 structs ×
    indexed xxhash64 args) — measured as two 0.6-0.8 s driver gaps in
    the incremental query, which builds it for BOTH sides. One
    roundtrip, same resolved plan."""
    return F.expr(
        "array("
        + ", ".join(
            f"struct({j} as band, xxhash64("
            + ", ".join(f"{sig_col}[{j * rows + r}]" for r in range(rows))
            + ") as bh)"
            for j in range(bands)
        )
        + ")"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """k-minhash signature per doc, ZERO-shuffle (see `_sigs_expr`).
    Returns (id, sigs array<bigint>); docs with < n tokens get all-null
    sigs (downstream Jaccard verification drops their pairs).

    Replaces an explode → groupBy(k min-aggs) formulation: same
    signature statistics, but no docs×shingles shuffle — at 100 TB the
    signature build is a map-only pass pipelined into the scan."""
    return df.select(
        F.col(id_col).alias("id"),
        _sigs_expr(shingle_hashes(text_col, n), num_hashes).alias("sigs"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Banded-LSH candidate generation + exact-Jaccard verification.

    Signatures are split into `bands` bands of `num_hashes // bands` rows;
    docs colliding in ANY band become candidates (bucket join keyed on
    (band, xxhash64(band rows)) — never an all-pairs product). Candidates
    are then verified with exact shingle-set Jaccard (array_intersect on
    the two docs' distinct shingle arrays), so the output has no false
    positives; with 16×4 banding the false-negative probability at
    j≥0.8 is < 1e-6. Returns (a_id, b_id, jaccard ≥ threshold).
    """
    from ..session import fan_out, track_persist

    # tiny-file guard + derived-width sizing (r10): the persisted frame
    # carries the shingle-hash ARRAYS (~10× the scanned text bytes), so
    # partition count follows the row count, not the scan split count —
    # at sf100 the scan-sized cache held ~92 MB tasks (TASK_AUDIT_r09).
    n_docs = df.count()
    df = fan_out(df, rows=n_docs)
    rows = num_hashes // bands
    # ONE shingle pass, persisted: the signature build AND the
    # exact-Jaccard verification both read this frame — tokenizing the
    # corpus once is the single biggest cost at any scale (at 100 TB this
    # is the shingle-hash column you'd store next to the text). Both
    # persists are registered with session.release_persisted() so
    # long-lived sessions can free the storage between queries.
    sh_df = track_persist(
        df.select(F.col(id_col).alias("id"), shingle_hashes(text_col, n).alias("sh"))
    )
    # persist the signatures too: consumed by BOTH sides of the bucket
    # self-join (~0.5 KB/doc). Each persist is also the projection barrier
    # that keeps downstream selects reading the cached arrays instead of
    # re-inlining the shingle/fold expressions (CollapseProject would).
    sig = track_persist(
        sh_df.select("id", _sigs_expr(F.col("sh"), num_hashes).alias("sigs"))
    )
    band_structs = _band_structs_expr(bands, rows)
    buckets = sig.select(
        "id", F.explode(band_structs).alias("bk")
    ).select("id", "bk.band", "bk.bh")
    # r11 (VERDICT task #5 — the wrap's stacked-key trick applied to the
    # banded self-join), size-gated like hamming_pairs: past ~2 M band
    # rows, explode the band keys ONCE and repartition the single stream
    # by (band, bh); both alias sides of the self-join then share that
    # one exchange (ReusedExchange) and the shuffle_hash hint keeps the
    # join sort-free on the already-clustered stream. The r10 shape
    # planned the explode once PER SIDE — two sig-cache re-reads and two
    # full band-stream exchanges at scale. Below the gate the planner's
    # broadcast of the tiny exploded side stays cheaper than an
    # exchange, so the small shape keeps the r10 plan.
    hint = None
    if n_docs * bands > 2_000_000:
        buckets = buckets.repartition("band", "bh")
        hint = "shuffle_hash"
    a = buckets.select(F.col("id").alias("a_id"), "band", "bh")
    b = buckets.select(F.col("id").alias("b_id"), "band", "bh")
    if hint:
        b = b.hint(hint)
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    # (r5 note: a 64-hash signature-estimate prefilter between the band
    # join and the exact verification was measured at sf10 and REVERTED —
    # on ~100-token docs the shingle arrays are barely larger than the
    # signatures, so the two extra attach-joins cost more than the saved
    # intersects: 89 s → 111 s. Worth revisiting only for long-document
    # corpora where |shingles| ≫ num_hashes.)
    sets = sh_df
    verified = (
        cand.join(sets.select(F.col("id").alias("a_id"), F.col("sh").alias("sha")), "a_id")
        .join(sets.select(F.col("id").alias("b_id"), F.col("sh").alias("shb")), "b_id")
        .withColumn("common", F.size(F.array_intersect("sha", "shb")))
        .withColumn(
            "jaccard",
            # try_divide: a pair of empty shingle sets (both docs < n
            # tokens) hits 0/0, which ANSI sessions reject as an error —
            # null here, then dropped by the threshold filter
            F.round(
                F.try_divide(
                    F.col("common"),
                    F.size("sha") + F.size("shb") - F.col("common"),
                ),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("a_id", "b_id", "jaccard")


# ---------------------------------------------------------------------------
# canonicalization: near-dup pairs → connected components
# ---------------------------------------------------------------------------


#: cluster_pairs driver-dispatch gate, in SYMMETRIZED pair rows. Two
#: 8-byte ids/row ⇒ the collect is ≤ 64 MB — bounded by construction
#: under the session factory's maxResultSize floor (256 MB). Near-dup
#: pair lists are sparse (pairs ≈ true duplicates, not n²), so even
#: 100 TB corpora commonly sit under this; the distributed loop owns
#: everything above it.
_DRIVER_CC_LIMIT = 4_000_000


def _cluster_pairs_driver(sym: DataFrame, n_sym: int) -> DataFrame:
    """Exact connected components on the driver for bounded pair lists:
    numpy min-label pointer-jumping over the symmetrized edge set —
    the same min-id-per-component fixpoint as the distributed loop
    (parity-pinned in tests/test_dedup.py), one collect + one
    createDataFrame instead of O(rounds) join/checkpoint jobs."""
    import numpy as np
    import pandas as pd

    out_schema = (
        "doc_id " + sym.schema["u"].dataType.simpleString()
        + ", canonical_id " + sym.schema["v"].dataType.simpleString()
    )
    spark = sym.sparkSession
    if n_sym == 0:
        return spark.createDataFrame([], out_schema)
    pdf = sym.toPandas()
    uv = pdf["u"].to_numpy(np.int64)
    vv = pdf["v"].to_numpy(np.int64)
    ids = np.unique(uv)  # sorted ⇒ min index ⇔ min id
    u = np.searchsorted(ids, uv)
    v = np.searchsorted(ids, vv)
    # group the edge list by u once; each round is then two vectorized
    # gathers + one segmented min (reduceat) + pointer-halving — O(|E|)
    # per round, O(log diameter) rounds with the halving step
    order = np.argsort(u, kind="stable")
    us, vs = u[order], v[order]
    starts = np.flatnonzero(np.r_[True, us[1:] != us[:-1]])
    heads = us[starts]  # unique u in sorted order == all node indices
    lbl = np.arange(len(ids), dtype=np.int64)
    while True:
        nbr_min = np.minimum.reduceat(lbl[vs], starts)
        new = lbl.copy()
        new[heads] = np.minimum(new[heads], nbr_min)  # heads are unique
        new = np.minimum(new, new[new])  # pointer halving
        if np.array_equal(new, lbl):
            break
        lbl = new
    while True:  # resolve chains to the component root
        nxt = lbl[lbl]
        if np.array_equal(nxt, lbl):
            break
        lbl = nxt
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "canonical_id": ids[lbl]}), out_schema
    )


def cluster_pairs(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 20,
    driver_limit: int | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair list: every doc in a
    component maps to the component's minimum id (the canonical survivor
    a dedup pipeline keeps). Returns (doc_id, canonical_id), one row per
    doc appearing in at least one pair.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels, converging in
    O(component diameter) rounds with early exit on fixpoint. Near-dup
    components are small and shallow (duplicate clusters, not social
    graphs), so rounds stay in the low single digits; each round is one
    shuffle keyed on node id, and the label frame stays distributed — the
    driver loop carries only the loop counter and a changed-row count.
    `localCheckpoint` truncates the growing lineage so round N's plan
    does not replay rounds 1..N-1. (At web-graph scale swap in
    large-star/small-star [Kiveris et al., "Connected Components in
    MapReduce and Beyond", 2014] for O(log n) rounds — the per-round
    join shape is identical.)

    r10 optimization: the round is ONE join + one aggregate. Flagged
    self-loops fold the node's own label into the same min that gathers
    neighbor labels (the old left-join against the previous labels is
    gone), and the per-round change count reads the flagged old label
    back out of the aggregate (min over the unique self row) — a cheap
    scan of the just-checkpointed frame instead of a second join. The
    `.distinct()` on the symmetrized pair list is dropped: callers
    produce unique pairs (`dropDuplicates` upstream) and duplicates
    cannot change a MIN anyway.
    """
    # materialize the symmetrized pair list ONCE: nodes, the self-loop
    # branch, the labels init and every round's join all re-enter this
    # frame, and without the eager checkpoint each of those subtrees
    # re-executed the (expensive) upstream pair join — measured 6.8 s of
    # the 6.4 s multimodal_phash_dedup sf0.1 wall was exactly these
    # re-executions (5× the one-shot join cost)
    sym = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .union(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .localCheckpoint(eager=True)
    )
    # r10 size dispatch (guide §1.2 — fix the algorithm before the
    # constants): below the gate the ENTIRE pair list is a few dozen MB,
    # while the distributed loop pays (rounds × (join + agg + eager
    # checkpoint + count)) in job barriers — measured 2-3 s of pure
    # scheduling at sf0.1 for a 3-round fixpoint over <100 k pairs. A
    # bounded driver collect (the repo's auto_topk/coarse-centroid
    # pattern: 16 B/row × 4 M rows ≈ 64 MB, under every maxResultSize
    # this session factory produces) + vectorized numpy min-label
    # pointer-jumping computes the identical min-id-per-component
    # fixpoint in one job. Past the gate the distributed loop below is
    # unchanged — the operator stays unbounded-scale-safe.
    # r11 (advisor): the numpy kernel hard-casts ids via
    # to_numpy(np.int64) — non-integral id types (string doc ids, the
    # pre-r10 contract) would crash on the default path. Gate the
    # dispatch on the id column being integral and fall through to the
    # type-generic distributed loop otherwise. ``driver_limit`` (0 =
    # force distributed) lets the bench's forced-distributed leg pin the
    # distributed twin at every SF.
    from pyspark.sql.types import IntegralType

    gate = _DRIVER_CC_LIMIT if driver_limit is None else driver_limit
    n_sym = sym.count()  # cheap: sym is checkpointed
    if 0 < gate and n_sym <= gate and isinstance(
        sym.schema["u"].dataType, IntegralType
    ):
        return _cluster_pairs_driver(sym, n_sym)
    nodes = sym.select("u").distinct()
    edges = (
        sym.select("u", "v", F.lit(False).alias("_s"))
        .union(nodes.select("u", F.col("u").alias("v"), F.lit(True).alias("_s")))
        .persist()
    )
    labels = nodes.select("u", F.col("u").alias("lbl")).localCheckpoint(
        eager=True
    )
    for _ in range(max_iter):
        nxt = (
            edges.join(labels.select(F.col("u").alias("v"), "lbl"), "v")
            .groupBy("u")
            .agg(
                F.min("lbl").alias("lbl"),
                F.min(F.when(F.col("_s"), F.col("lbl"))).alias("_old"),
            )
            .localCheckpoint(eager=True)
        )
        changed = nxt.filter(F.col("lbl") < F.col("_old")).count()
        labels = nxt.select("u", "lbl")
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(
        F.col("u").alias("doc_id"), F.col("lbl").alias("canonical_id")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------


def portable_token_hash(t: Column) -> Column:
    """60-bit token hash computable bit-identically in Spark AND DuckDB
    (hence oracle-checkable): integer value of the first 15 hex chars of
    md5. Spark: conv(substring(md5(t),1,15),16,10); DuckDB:
    ('0x' || substr(md5(t),1,15))::BIGINT. 60 bits keeps the value
    comfortably inside a signed 64-bit long in both engines."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 64,
    hasher=None,
) -> DataFrame:
    """SimHash per doc: per-bit majority vote over hashed tokens
    (occurrence-weighted), as a per-row fold — the same formulation as
    the minhash signature build. The token array folds into a
    num_bits-wide vote array (zip_with against a bit-mask array), votes
    merge per id (|docs|-sized exchange, duplicate-id rows combine), and
    the positive votes sum their masks into the fingerprint. No explode:
    the exchange carries one vote array per ROW instead of |tokens| rows
    — ~4x faster than the 60-sum hash aggregate it replaces.
    Columns: (id, simhash). Bit 63's mask is the wrapped negative long —
    the intended two's-complement sign bit in the 64-bit default.

    `hasher` maps a token Column to a long Column; default xxhash64 (the
    fast JVM path). Pass `portable_token_hash` with num_bits=60 for the
    engine-portable fingerprint the correctness oracle replicates."""
    from ..session import fan_out

    hasher = hasher or F.xxhash64
    df = fan_out(df)  # tiny-file guard: per-token hashing + bit votes
    harr = F.transform(tokens(text_col), lambda t: hasher(t))
    masks = lit_array(
        ((1 << i) if i < 63 else -(1 << 63) for i in range(num_bits)),
        "bigint",
    )
    init = F.array_repeat(F.lit(0).cast("long"), num_bits)
    votes = F.aggregate(
        harr,
        init,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    # Per-id vote MERGE preserves the operator contract for duplicate-id
    # inputs (same doc ingested twice → ONE merged-vote fingerprint) and
    # drops null-text rows (null token array → null votes → dropped by
    # collect_list), exactly like the explode formulation did. The
    # shuffle carries one num_bits-wide array per ROW — tokens-fold cost
    # stays map-side; this exchange is |docs|-sized, not |tokens|-sized.
    merged = (
        df.select(F.col(id_col).alias("id"), votes.alias("__v"))
        .groupBy("id")
        .agg(F.collect_list("__v").alias("__vs"))
        .filter(F.size("__vs") > 0)
    )
    votes_m = F.aggregate(
        F.col("__vs"),
        init,
        lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
    )
    fp = F.aggregate(
        F.zip_with(
            votes_m,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return merged.select("id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    num_bits: int = 64,
    hasher=None,
    scheme: tuple[int, int] | None = None,
) -> DataFrame:
    """All pairs within Hamming distance ≤ max_distance, guaranteed
    complete by pigeonhole blocking, adaptively widened with corpus
    size (r5). Returns (a_id, b_id, hamming).

    Blocking schemes (both lossless for d ≤ max_distance):

    - **(c=d+1 chunks, keys = single chunks)** — the classic pigeonhole:
      a pair differing in ≤ d bits leaves ≥ 1 chunk untouched. Key width
      num_bits/(d+1) (16 bits at d=3/64) ⇒ random-collision candidates
      grow ~n²/2^16 — fine to ~30 k docs, birthday-quadratic past it
      (measured: `dedup_simhash` 15.9× for 10× data sf1→sf10 with the
      fixed 4×16-bit scheme).
    - **(c=6 chunks, keys = 3-chunk combinations)** — any pair with ≤ 3
      flipped bits touches ≤ 3 of the 6 chunks, so ≥ 3 chunks are
      untouched and at least one of the C(6,3)=20 combination keys
      matches exactly. Key width ~3·num_bits/6 = 32 bits ⇒ random
      collisions ~n²·20/2^32 — negligible through tens of millions of
      docs; the block join is then bounded by TRUE near-dups (linear by
      corpus construction). 20 exploded rows/doc instead of 4 — the
      constant the collision-free join buys.

    The cutover is internal: both schemes generate a candidate superset
    and the exact Hamming filter decides membership, so results are
    IDENTICAL — the oracle never sees the scheme."""
    from ..session import track_persist

    sh = track_persist(
        simhash(df, id_col, text_col, num_bits=num_bits, hasher=hasher)
    )
    n = None
    if scheme is None:
        n = sh.count()
        scheme = (max_distance + 1, 1) if n <= 30_000 or max_distance > 3 else (6, 3)
    return hamming_pairs(
        sh, "id", "simhash", max_distance=max_distance, num_bits=num_bits,
        scheme=scheme, n_rows=n,
    )


def hamming_pairs(
    fps: DataFrame,
    id_col: str,
    fp_col: str,
    max_distance: int,
    num_bits: int = 64,
    scheme: tuple[int, int] | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """All pairs of fingerprints within Hamming distance ≤ max_distance,
    guaranteed complete by pigeonhole combination blocking — the
    fingerprint-generic core of `simhash_pairs` (r7), shared by the text
    simhash path and the perceptual image-hash path
    (`functions.phash`). Returns (a_id, b_id, hamming).

    Scheme (c chunks, g-chunk combination keys): a pair with ≤ d flipped
    bits disturbs ≤ d chunks, so ≥ c−d chunks match exactly; whenever
    c − d ≥ g at least one of the C(c,g) combination keys collides.
    Blocking is therefore LOSSLESS for d ≤ c−g, and the exact
    `bit_count(xor)` filter decides membership — the scheme only shapes
    cost. Default: (d+1, 1) single chunks below 30 k rows (cheapest),
    else (d+3, 3) — key width ≥ 3·num_bits/(d+3) bits keeps random
    collisions birthday-safe into the tens of millions of rows (d=3:
    32-bit keys; d=6: 21-bit keys ⇒ ~n²·84/2²¹ spurious candidates —
    ~2·10⁸ at 2 M rows, each a 24-byte row killed by the pre-shuffle
    Hamming filter). ``n_rows`` is ``fps``' row count when the caller
    already has it; otherwise it is counted here."""
    import itertools

    # cheap: callers persist fps; also gates the layout
    n = fps.count() if n_rows is None else n_rows
    if scheme is not None:
        c, g = scheme
    else:
        c, g = (max_distance + 1, 1) if n <= 30_000 else (max_distance + 3, 3)
    if c - max_distance < g:
        raise ValueError(
            f"blocking scheme ({c},{g}) cannot guarantee Hamming <= {max_distance}"
        )

    base_w = num_bits // c
    rem = num_bits % c
    widths = [base_w + (1 if i < rem else 0) for i in range(c)]
    offsets = [sum(widths[:i]) for i in range(c)]

    def chunk_val(i):
        # full-width chunk (d=0 → one 64-bit chunk): 2^64-1 overflows a
        # long literal — an all-ones mask is just -1 in two's complement
        mask = -1 if widths[i] >= 64 else (1 << widths[i]) - 1
        return f"(shiftrightunsigned(__fp, {offsets[i]}) & cast({mask} as bigint))"

    sh = fps.select(F.col(id_col).alias("id"), F.col(fp_col).alias("__fp"))
    combos = list(itertools.combinations(range(c), g))
    # one-expr combo-key array (r10): the per-Column spelling costs
    # ~4 py4j roundtrips per struct — 0.4 s of driver time per build at
    # the (d+3, 3) scheme's C(9,3)=84 combos; one SQL string, same plan
    structs = []
    for ci, combo in enumerate(combos):
        shift = 0
        terms = []
        for i in combo:
            terms.append(
                f"shiftleft({chunk_val(i)}, {shift})" if shift else chunk_val(i)
            )
            shift += widths[i]
        structs.append(
            f"struct({ci} as ci, cast(0 as bigint) + "
            + " + ".join(terms)
            + " as cv)"
        )
    chunks = F.expr("array(" + ", ".join(structs) + ")")
    blocked = sh.select("id", "__fp", F.explode(chunks).alias("c")).select(
        "id", "__fp", "c.ci", "c.cv"
    )
    # r11 (stacked single-exchange block join, as minhash_lsh_pairs),
    # size-gated: past ~2 M blocked rows, explode the combo keys ONCE
    # and repartition the single stream by (ci, cv) — both alias sides
    # of the self-join share that one exchange (ReusedExchange) and
    # shuffle_hash keeps it sort-free. The r10 shape exploded per side;
    # at sf10 the planner then broadcast one 10 M-row exploded side (a
    # ~7 s single-threaded driver relation build: sf10 simhash 18.5 →
    # 12.7 s stacked), and at sf100 it exchanged the 100 M-row stream
    # twice. BELOW the gate the planner's broadcast of the tiny
    # exploded side is strictly cheaper than any exchange (sf0.1 A/B:
    # forcing the stacked layout cost +0.5 s on simhash and phash), so
    # the small shape keeps the r10 plan.
    join_hint = None
    if n * len(combos) > 2_000_000:
        blocked = blocked.repartition("ci", "cv")
        join_hint = "shuffle_hash"
    a = blocked.select(
        F.col("id").alias("a_id"), F.col("__fp").alias("fa"), "ci", "cv"
    )
    b = blocked.select(
        F.col("id").alias("b_id"), F.col("__fp").alias("fb"), "ci", "cv"
    )
    if join_hint:
        b = b.hint(join_hint)
    # Hamming filter BEFORE the pair-dedup shuffle: a pair agreeing on m
    # chunks surfaces m times from the block join, but only pairs inside
    # the distance budget need the dropDuplicates exchange — filtering
    # first keeps that shuffle proportional to true near-dups, not to all
    # block-join candidates.
    return (
        a.join(b, ["ci", "cv"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"))
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["a_id", "b_id"])
    )


def keep_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    order_cols: list | None = None,
) -> DataFrame:
    """Canonical-row selection for duplicate groups: within each
    normalized-content fingerprint group keep the single best row —
    by default longest text, then smallest id (curation convention:
    prefer the most complete copy, deterministic tiebreak). Returns the
    kept rows with their group's dup_count. One window pass over one
    shuffle keyed on the digest — same cost shape as exact_dedup, but
    the survivor is quality-chosen instead of min-id."""
    from pyspark.sql import Window

    order_cols = order_cols or [
        F.length(text_col).desc(),
        F.col(id_col).asc(),
    ]
    w = Window.partitionBy("fp").orderBy(*order_cols)
    return (
        df.withColumn("fp", fingerprint(text_col))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("rn") == 1)
        .drop("rn", "fp")
    )


def decontaminate(
    docs: DataFrame,
    eval_pred: Column,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_overlap_x2: int | None = None,
) -> DataFrame:
    """Train/eval decontamination — the corpus-hygiene step that keeps
    benchmark text out of training data. Splits `docs` by `eval_pred`
    (True → eval/benchmark doc), builds distinct n-gram shingle sets on
    both sides, and reports every TRAIN doc whose shingle overlap with
    the union of eval shingles reaches the threshold (default: ≥ half of
    the doc's own shingles; pass ``min_overlap_x2`` for a fixed
    2×-overlap integer floor instead).

    Output: (id, n_shingles, n_overlap, overlap_ratio) per contaminated
    train doc. ``overlap_ratio`` is 4-dp-truncated so it is
    engine-portable.

    100 TB posture: the eval side of a decontamination run is a
    benchmark suite — orders of magnitude smaller than the corpus — so
    its distinct-shingle "banlist" is broadcast; the train side is one
    explode + one broadcast hash join + one aggregate keyed on the doc
    id. The corpus is never self-joined and never shuffled on shingles.
    Shingles are 64-bit chained xxhash64 (`shingle_hashes`) — set
    semantics equal string n-grams modulo 2^-64 collisions, at ~1/10th
    the posting bytes.
    """
    from ..session import fan_out

    # fan_out (r10): the per-position chained-xxhash shingle explode is
    # the CPU core of both sides and ran at the scan's split width
    # (6 tasks on a sub-MB file at sf0.1 — 0.6 s serialized); no-op at
    # real scale where the corpus scan already splits wide.
    sh = fan_out(docs).select(
        F.col(id_col),
        eval_pred.alias("__is_eval"),
        F.explode(shingle_hashes(text_col, n)).alias("__sh"),
    )
    banlist = (
        sh.filter(F.col("__is_eval")).select("__sh").distinct()
        .withColumn("__hit", F.lit(1))
    )
    agg = (
        sh.filter(~F.col("__is_eval"))
        .join(F.broadcast(banlist), "__sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_overlap"),
        )
    )
    if min_overlap_x2 is None:
        flagged = agg.filter(F.col("n_overlap") * 2 >= F.col("n_shingles"))
    else:
        flagged = agg.filter(F.col("n_overlap") * 2 >= min_overlap_x2)
    return flagged.select(
        F.col(id_col),
        "n_shingles",
        "n_overlap",
        (
            F.floor(
                F.col("n_overlap").cast("double") * 10000 / F.col("n_shingles")
            )
            / 10000
        ).alias("overlap_ratio"),
    )


def blocked_levenshtein_pairs(
    df: DataFrame,
    name_col: str,
    block_key: Column,
    max_distance: int = 2,
    min_distance: int = 1,
) -> DataFrame:
    """Entity resolution by blocked edit distance: distinct names are
    compared only WITHIN a block (same ``block_key`` — e.g. same product
    noun, same soundex, same zip) and reported when their Levenshtein
    distance lands in [min_distance, max_distance]. Output: (a_name,
    b_name, lev) with a_name < b_name.

    Scale shape: names are deduplicated BEFORE pairing (entity
    resolution operates on the name universe, not the row count), and
    the self-join is keyed on the block — cost is Σ_b |block_b|², never
    |names|². Pick block keys so blocks stay small (compound keys,
    higher-fidelity phonetic codes) exactly as with any LSH family;
    Levenshtein runs JVM-side (whole-stage codegen), no UDF.
    """
    names = (
        df.select(F.col(name_col).alias("name"))
        .distinct()
        .withColumn("blk", block_key)
    )
    a = names.select(F.col("name").alias("a_name"), "blk")
    b = names.select(F.col("name").alias("b_name"), "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("a_name") < F.col("b_name"))
        .withColumn("lev", F.levenshtein("a_name", "b_name"))
        .filter(
            (F.col("lev") >= min_distance) & (F.col("lev") <= max_distance)
        )
        .select("a_name", "b_name", "lev")
    )


def boilerplate_ratio(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    df_frac: float = 0.003,
    min_df: int = 3,
    keep_max_ratio: float = 0.5,
) -> DataFrame:
    """Corpus-level boilerplate detection: an n-gram shingle present in
    more than max(min_df, df_frac·|docs|) documents is boilerplate
    (headers, footers, license blurbs, templated spans — the text that
    line-level dedup removes in web-corpus pipelines). Per doc, reports
    its distinct-shingle count, how many are boilerplate, the ratio, and
    a keep flag (ratio ≤ keep_max_ratio) — the standard pre-training
    quality gate on templated content.

    Scale: shingle document-frequency is one shingle-keyed aggregation
    (map-side combine on distinct-per-doc shingles); the boilerplate set
    is bounded by total_shingle_instances / df_threshold — at a fixed
    df_frac that is ≤ avg_shingles_per_doc / df_frac rows regardless of
    corpus size, so it broadcasts back. Per-doc scoring is then one
    doc-keyed aggregation. Docs shorter than n tokens have no shingles
    and are absent from the output (no spurious 0/0 rows).
    """
    from ..functions.text import shingles
    from ..session import fan_out

    docs = fan_out(docs)  # tiny-file guard: per-doc shingle construction
    sh = docs.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, n)).alias("s")
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df_counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    boiler = (
        df_counts.crossJoin(F.broadcast(total))
        .filter(
            F.col("df")
            > F.greatest(F.lit(min_df), F.col("n_docs") * F.lit(df_frac))
        )
        .select("s", F.lit(1).alias("is_b"))
    )
    ratio = F.round(F.col("n_boiler") / F.col("n_shingles"), 4)
    return (
        sh.join(F.broadcast(boiler), "s", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("is_b").alias("n_boiler"),
        )
        .select(
            "id",
            "n_shingles",
            "n_boiler",
            ratio.alias("boiler_ratio"),
            (ratio <= keep_max_ratio).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# incremental near-dup: new batch vs existing corpus signature store
# ---------------------------------------------------------------------------


def incremental_minhash_pairs(
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup a NEW batch against an EXISTING corpus without ever
    pairing the corpus with itself — the incremental form of
    `minhash_lsh_pairs`, and the shape every growing 100 TB corpus
    actually needs: at steady state you dedup each day's arrivals
    against the accumulated store, not the store against itself.

    The corpus side's (band, bucket-hash) index plays the role of the
    persisted signature store: at scale you compute it ONCE at ingest
    and keep it as a table keyed by (band, bh) next to the text (here it
    is derived inline from the corpus frame because the benchmark corpus
    is re-read per run). The delta side builds signatures for the new
    batch only — a map-only pass over the arrivals — and the candidate
    join is corpus×delta keyed on (band, bh): corpus self-pairs never
    form, so per-batch cost is O(|delta| + matching buckets), not
    O(|corpus|²) or even O(|corpus|). Candidates are verified with exact
    shingle-set Jaccard exactly like the batch path (no false positives;
    the corpus text fetch touches candidate rows only — at scale a
    point-lookup join against the store, not a corpus scan).

    Returns (corpus_id, delta_id, jaccard ≥ threshold): the delta rows
    to drop (or link) before appending the batch to the store.
    """
    from ..session import fan_out, track_persist

    rows = num_hashes // bands

    def _bucketize(df: DataFrame, side: str) -> tuple[DataFrame, DataFrame]:
        # derived-width sizing, as in minhash_lsh_pairs (r10 task #8)
        df = fan_out(df, rows=df.count())
        sh_df = track_persist(
            df.select(
                F.col(id_col).alias(f"{side}_id"),
                shingle_hashes(text_col, n).alias(f"{side}_sh"),
            )
        )
        sig = sh_df.select(
            f"{side}_id",
            _sigs_expr(F.col(f"{side}_sh"), num_hashes).alias("sigs"),
        )
        buckets = sig.select(
            f"{side}_id", F.explode(_band_structs_expr(bands, rows)).alias("bk")
        ).select(f"{side}_id", "bk.band", "bk.bh")
        return sh_df, buckets

    c_sh, c_buckets = _bucketize(corpus, "corpus")
    d_sh, d_buckets = _bucketize(delta, "delta")
    cand = (
        c_buckets.join(d_buckets, ["band", "bh"])
        .select("corpus_id", "delta_id")
        .dropDuplicates(["corpus_id", "delta_id"])
    )
    return (
        cand.join(c_sh, "corpus_id")
        .join(d_sh, "delta_id")
        .withColumn(
            "common", F.size(F.array_intersect("corpus_sh", "delta_sh"))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.try_divide(
                    F.col("common"),
                    F.size("corpus_sh")
                    + F.size("delta_sh")
                    - F.col("common"),
                ),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("corpus_id", "delta_id", "jaccard")
    )
