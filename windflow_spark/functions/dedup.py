"""Deduplication for training-data pipelines: exact, fingerprint,
MinHash+LSH, SimHash, n-gram Jaccard.

Scale posture (100 TB): every method is a constant number of shuffles
with pre-aggregation —
- exact/fingerprint: one hash-aggregate on a digest (no text shuffled);
- MinHash: shingle explode → per-(doc, hashfn) min (map-side combined)
  → band buckets → candidate pairs only within buckets (never the full
  O(n²) cross join);
- SimHash: one Arrow-batched pandas UDF pass + bucket join on rotated
  prefixes;
- n-gram Jaccard: restricted to candidate pairs (or small inputs).

All hash material is md5-based so a DuckDB oracle reproduces signatures
exactly (Spark's hash() is engine-private; md5 is portable).
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from windflow_spark.functions.text import fingerprint, ngram_array, tokens

# Persisted intermediates created by the persist=True defaults below
# (signatures in lsh_candidate_pairs, shingles in dedup_keep_list,
# banded table in simhash_near_pairs). These plans return lazily, so
# the caller — not this module — owns the terminal action; in a
# long-lived session call ``unpersist_all()`` after materializing
# results to release the cache instead of waiting for LRU eviction.
_PERSISTED: list[DataFrame] = []


def _track_persist(df: DataFrame, level) -> DataFrame:
    out = df.persist(level)
    _PERSISTED.append(out)
    return out


def unpersist_all(blocking: bool = False) -> int:
    """Unpersist every intermediate this module persisted (best-effort —
    a stopped SparkSession makes it a no-op). Returns how many were
    released. Call after the terminal action on returned plans."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass
    return n


@contextmanager
def persisted_scope(blocking: bool = False):
    """Scope the persist registry: intermediates persisted INSIDE the
    block are unpersisted on exit (after the caller's terminal action),
    so a long-lived session doesn't accumulate strong refs to every
    plan this module ever cached. Pre-existing entries are untouched.

        with dedup.persisted_scope():
            keep = dedup.dedup_keep_list(docs, "doc_id", "text")
            keep.write.parquet(out)   # terminal action inside the scope
    """
    mark = len(_PERSISTED)
    try:
        yield
    finally:
        while len(_PERSISTED) > mark:
            df = _PERSISTED.pop()
            try:
                df.unpersist(blocking)
            except Exception:
                pass


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: one row per distinct text — keeper = min id, plus
    duplicate count. Digest-groupBy so only 32-byte keys shuffle."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def fingerprint_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Near-exact dedup on the normalized-text fingerprint."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per doc, computed entirely map-side
    (zip_with against shifted tails — text.ngram_array; the per-index
    ``transform(sequence, i -> concat_ws(slice(t, i, n)))`` form
    re-sliced the array per position and measured 6× slower at sf0.1)
    then explode — no window function, so no exchange+sort of the token
    stream (the earlier lead()-based plan shuffled every token).

    ``distinct`` (default) dedupes (doc, shingle) — REQUIRED for set
    semantics (Jaccard sizes/intersections). Pass ``distinct=False``
    when feeding only duplicate-insensitive consumers (MinHash's min()
    is one): that drops the one remaining exchange, making the shingle
    stage fully map-side."""
    sh = ngram_array(text_col, n)
    out = df.select(F.col(id_col), F.explode(sh).alias("shingle"))
    return out.distinct() if distinct else out


# MinHash mixing: one md5 per shingle → 60-bit int → k universal-hash
# mixes h_j = (A_j*h + B_j) mod P over the 31-bit reduction. All md5 /
# integer arithmetic, reproducible bit-for-bit in ANSI SQL engines.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (prime)
MASK31 = 2_147_483_647


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (Knuth multiplicative
    constants; fixed, documented — the portable-signature contract)."""
    return [
        ((2_654_435_761 * (j + 1)) % MINHASH_P or 1, (40_503 * (j + 17)) % MINHASH_P)
        for j in range(k)
    ]


def shingle_hash31(col: Column | str) -> Column:
    """31-bit shingle hash: first 15 hex chars of md5 parsed as int,
    masked to 31 bits (portable: DuckDB ('0x'||substr)::UBIGINT)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c), 1, 15), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(MASK31))
    )


def minhash_signatures(shingled: DataFrame, id_col: str, k: int = 32) -> DataFrame:
    """MinHash signature per doc in WIDE form: columns m0..m{k-1}.

    One md5 per shingle, then k integer mixes aggregated as k min()
    columns in a single hash aggregate — no row explosion, one shuffle
    of (id, k×8 bytes). The scale path for n-doc corpora: shuffle bytes
    ≈ docs × k × 8 regardless of document size."""
    coeffs = minhash_coeffs(k)
    h = shingle_hash31("shingle")
    aggs = [
        F.min((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)).alias(f"m{j}")
        for j, (a, b) in enumerate(coeffs)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
    persist: bool = True,
    max_bucket: int | None = 256,
) -> DataFrame:
    """Band the wide signature (band b = columns m{b*r}..m{b*r+r-1};
    band key = md5 of their comma-joined values) and emit candidate
    pairs (a < b) sharing ≥1 band bucket. The self-join runs
    bucket-local — a (band, band_key) hash join, never a global cross
    product.

    ``persist``: both self-join sides re-evaluate the banding pipeline
    (tokenize → shingle → k-way min-agg → band + cap) — Spark's
    exchange reuse does not unify aliased subtrees — so the tiny
    BANDED table (docs × bands narrow rows, post-cap) is persisted by
    default to compute it once; persisting after the cap also runs the
    cap's rank window once instead of once per join arm.

    ``max_bucket`` caps DEGENERATE buckets (guide §2.5 — a single
    enormous key that AQE cannot split): a bucket with B members
    yields B(B-1)/2 bucket-local pairs, and boilerplate-heavy corpora
    produce buckets of 10⁵+ identical band keys at 100 TB, turning the
    band join quadratic. Each bucket keeps its ``max_bucket``
    smallest-id members for pair formation (deterministic rank cap;
    the rank window shares the join's (band, band_key) exchange, so
    normal buckets add one linear window pass and lose nothing).
    Recall tradeoff: members of an over-full bucket beyond the cap
    lose THAT band's votes — but a bucket that large means the docs
    are near-identical boilerplate, which the capped members still
    represent (any kept pair transitively links through
    `connected_components`/the keep-list greedy pass); other bands
    still vote independently. ``None`` disables the cap."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{b * rows_per_band + i}").cast("string")
                        for i in range(rows_per_band)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    banded = signatures.select(
        id_col, F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, "bb.band", "bb.band_key")
    if max_bucket is not None:
        # row_number ≤ cap compiles to WindowGroupLimit (a per-bucket
        # top-k, not a full sort of the banded table)
        w = Window.partitionBy("band", "band_key").orderBy(id_col)
        banded = (
            banded.withColumn("_bk_rank", F.row_number().over(w))
            .filter(F.col("_bk_rank") <= max_bucket)
            .drop("_bk_rank")
        )
    if persist:
        from pyspark.storagelevel import StorageLevel

        banded = _track_persist(banded, StorageLevel.MEMORY_AND_DISK)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    shingled: DataFrame,
    id_col: str,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Jaccard similarity on distinct shingle sets for pairs (a < b).

    With ``candidates`` (e.g. LSH output) the intersection is built
    FROM the candidate pairs — explode each pair against doc a's
    shingles (equi-join on id_a), then match doc b's shingles (equi-
    join on (id_b, shingle)), then count — so the physical plan never
    contains a shingle-keyed self-join and the cost is
    O(candidate_pairs × shingles/doc). (An earlier version semi-
    filtered AFTER the full inverted-index self-join; Catalyst cannot
    push a two-sided semi condition below a join, so the quadratic
    join still executed — plan-asserted against in test_plans.py.)
    Candidate pairs are normalized defensively (id_a < id_b, distinct)
    because duplicates would inflate intersection counts — the pair
    table is tiny next to the corpus, so the extra exchange is noise.

    Without ``candidates``, an inverted-index self-join on shingle
    (never a raw cross join; cost ~ sum of squared posting-list
    lengths) — which is quadratic in posting-list length, so ONE
    stop-shingle ("of the and") blows up at scale. ``max_df`` caps
    that: shingles appearing in more than ``max_df`` docs are dropped
    from the shingle sets entirely (sizes AND intersections — Jaccard
    over the filtered sets stays self-consistent), bounding every
    posting list at max_df. At 100 TB pass either ``candidates`` or
    ``max_df``; the unbounded path is for small corpora."""
    if max_df is not None:
        rare = (
            shingled.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
        )
        shingled = shingled.join(rare, "shingle", "left_semi")
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if candidates is not None:
        cand = (
            candidates.select("id_a", "id_b")
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct()
        )
        sha = shingled.select(F.col(id_col).alias("id_a"), "shingle")
        shb = shingled.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            cand.join(sha, "id_a")
            .join(shb, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        a, b = shingled.alias("a"), shingled.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "jaccard")
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components over an undirected edge list: returns
    ``(id, component)`` for every node appearing in ``edges``, where
    ``component`` is the MINIMUM node id in the component — the exact
    clustering the greedy ``dedup_keep_list`` rule approximates (its
    docstring's "exact clustering needs iterative components"; chains
    a→b→c where a,c never share an LSH bucket collapse correctly here).

    Algorithm: min-label propagation with POINTER JUMPING — each round
    (1) lowers every node's label to the min over its neighbors'
    labels, then (2) replaces each label by its label's label (path
    halving), so convergence is O(log diameter) rounds, not
    O(diameter). Labels are monotone non-increasing; the loop stops at
    the exact fixpoint (changed == 0 — an honest count, not a
    checksum). Each round is two shuffles (a neighbor-min aggregate +
    the jump join); lineage is truncated per round with
    localCheckpoint so the plan doesn't grow exponentially; a
    superseded round's checkpoint blocks are freed by Spark's
    ContextCleaner once its frame is garbage-collected. Skew note:
    the jump join keys by current label, which concentrates on big
    components' roots — AQE skew-split handles it (the join is 2-col
    lhs × 2-col rhs, salting-free by design).
    """
    sym = edges.select(
        F.col(id_a).alias("_u"), F.col(id_b).alias("_v")
    ).union(
        edges.select(F.col(id_b).alias("_u"), F.col(id_a).alias("_v"))
    )
    labels = (
        sym.select(F.col("_u").alias("_id"))
        .distinct()
        .withColumn("_c", F.col("_id"))
        .localCheckpoint()
    )
    sym = sym.localCheckpoint()
    for _ in range(max_iters):
        # (1) min over neighbors' labels (map-side combined)
        nb = (
            sym.join(labels.withColumnRenamed("_id", "_v"), "_v")
            .groupBy("_u")
            .agg(F.min("_c").alias("_nc"))
        )
        prop = (
            labels.join(nb.withColumnRenamed("_u", "_id"), "_id", "left")
            .select(
                "_id",
                F.least(F.col("_c"), F.coalesce("_nc", "_c")).alias("_c"),
            )
        )
        # (2) pointer jumping: label ← label's label
        jump = (
            prop.alias("a")
            .join(
                prop.select(
                    F.col("_id").alias("_jc"), F.col("_c").alias("_cc")
                ).alias("b"),
                F.col("a._c") == F.col("b._jc"),
                "left",
            )
            .select(
                F.col("a._id").alias("_id"),
                F.least(F.col("a._c"), F.coalesce("_cc", F.col("a._c"))).alias("_c"),
            )
            .localCheckpoint()
        )
        changed = (
            jump.alias("n")
            .join(labels.alias("o"), F.col("n._id") == F.col("o._id"))
            .filter(F.col("n._c") != F.col("o._c"))
            .limit(1)
            .count()
        )
        labels = jump
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
        )
    return labels.select(
        F.col("_id").alias("id"), F.col("_c").alias("component")
    )


def dedup_keep_list(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n: int = 3,
    minhash_k: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    max_df: int | None = None,
    persist: bool = True,
    transitive: bool = False,
) -> DataFrame:
    """End-to-end near-dup dedup pipeline: the composition a real
    training-data pipeline runs — shingle → MinHash signatures → LSH
    band candidates → exact Jaccard verification restricted to the
    candidates → keep rule. Returns (id, keep boolean) for every input
    doc.

    ``transitive=False`` (default): the greedy rule — a doc is DROPPED
    iff it pairs at ``jaccard ≥ threshold`` with any lower-id doc
    (first occurrence wins). On a chain a<c<b with edges (a,b), (c,b)
    this keeps BOTH a and c. ``transitive=True``: exact clustering —
    ``connected_components`` over the verified pairs, keep only each
    component's min id (one survivor per transitive duplicate class,
    the semantics most corpus-dedup recipes mean).

    Scale shape: every stage is the bounded-shuffle primitive it
    composes — no all-pairs join anywhere; the verification stage
    builds intersections FROM the LSH candidate pairs (cost
    O(candidates × shingles/doc), never a shingle-keyed self-join);
    the final decision is one left join on the id. Not a transitive closure: chains longer than the LSH
    candidate reach keep their local survivors (the standard greedy
    approximation; exact clustering needs iterative components).

    ``persist``: the shingle table feeds four branches (signatures,
    set sizes, both verification probe sides) and Spark's exchange
    reuse does
    NOT unify them — without persistence the corpus is tokenized and
    scanned per branch. Default persists shingles MEMORY_AND_DISK
    (≈ shingle-count × avg-shingle bytes; at extreme scale prefer
    pre-materializing the shingle table to parquet and persist=False)."""
    sh = word_shingles(docs, id_col, text_col, n=n)
    if persist:
        from pyspark.storagelevel import StorageLevel

        sh = _track_persist(sh, StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(sh, id_col, k=minhash_k)
    cands = lsh_candidate_pairs(sigs, id_col, bands=bands, rows_per_band=rows_per_band)
    pairs = ngram_jaccard_pairs(
        sh, id_col, threshold=threshold, candidates=cands, max_df=max_df
    )
    if transitive:
        comp = connected_components(pairs, "id_a", "id_b").withColumnRenamed(
            "id", id_col
        )
        return docs.select(id_col).join(comp, id_col, "left").select(
            id_col,
            (
                F.col("component").isNull()
                | (F.col("component") == F.col(id_col))
            ).alias("keep"),
        )
    # one LEFT join, not anti-join + union of the dropped side — the
    # union form would evaluate the whole candidate pipeline twice
    dropped = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return docs.select(id_col).join(dropped, id_col, "left").select(
        id_col, F.col("_dropped").isNull().alias("keep")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash per doc via an Arrow-batched pandas UDF (the per-token
    bit-vote loop is genuinely non-relational): token hash = first 16
    hex chars of md5 (64 bits), bit votes ±1, sign → signature bit.
    Deterministic (md5-based, order-independent sum)."""
    import hashlib

    shifts = np.arange(bits, dtype=np.uint64)

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        # memoize token hashes within the Arrow batch (Zipfian tokens
        # repeat heavily); bit votes fully vectorized in numpy
        cache: dict[str, int] = {}
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = (t or "").split()
            if not toks:
                continue
            hs = np.empty(len(toks), dtype=np.uint64)
            for j, tok in enumerate(toks):
                h = cache.get(tok)
                if h is None:
                    h = int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
                    cache[tok] = h
                hs[j] = h
            bits_m = ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            votes = (2 * bits_m - 1).sum(axis=0)
            sig = ((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
            out[i] = np.uint64(sig).astype(np.int64)
        return pd.Series(out)

    return df.select(F.col(id_col), _simhash(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    sims: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    persist: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket join on 16-bit bands (4 bands
    of a 64-bit signature — Hamming ≤ 3 guarantees ≥1 identical band),
    then exact Hamming filter via bit_count(xor).

    ``persist``: the banded table (4 narrow rows per doc) feeds both
    self-join sides; persisted by default so the upstream SimHash UDF
    runs once instead of per side."""
    banded = sims.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bkey"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bkey")
    if persist:
        from pyspark.storagelevel import StorageLevel

        banded = _track_persist(banded, StorageLevel.MEMORY_AND_DISK)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
