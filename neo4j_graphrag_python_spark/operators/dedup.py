"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's entity resolution, a 100 TB corpus pipeline needs
document-level dedup.  All operators take a DataFrame with (id_col,
text_col) and return either a per-document assignment or candidate
duplicate pairs.  Design points for scale:

  * exact:      one hash-groupBy (map-side combinable, AQE-skew safe);
  * MinHash:    signatures computed in one pass (an Arrow numpy kernel
                bit-compatible with Spark's xxhash64 — round 7; the
                historical JVM HOF form was excluded from whole-stage
                codegen), LSH banding by exploding (band, band_hash)
                keys and self-joining on the band bucket — the classic
                shingle→minhash→band→bucket-join;
  * SimHash:    64-bit fingerprint via token-hash bit voting (pandas UDF,
                Arrow-batched, numpy bit ops); near-dups = fingerprints
                within Hamming distance k, blocked on 4 16-bit sub-bands
                (exact-match blocking per Charikar/Manku et al.);
  * n-gram Jaccard: verification scorer for candidate pairs (pandas UDF);
  * embedding near-dup: cosine over an embedding column — exact
    (all-pairs within LSH buckets) or brute force for small dims.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

def widen_for_compute(df: DataFrame) -> DataFrame:
    """Widen a frame to the session's parallelism before a compute-dense
    projection (minhash/simhash/LSH signatures do ~10²-10³ hash or dot
    ops per input byte).

    Scan partitioning is sized for I/O (``maxPartitionBytes``), so a few
    MB of compressed text lands on 1-2 tasks and pins them while the
    rest of the cluster idles — measured at sf1: the 50k-doc minhash
    signature stage ran on 2 tasks of a local[32] session.  One narrow
    round-robin shuffle of the raw rows is trivial next to the hash
    work.  No-op when the frame is already at least as wide.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text"):
    """Group identical texts by md5; keep min-id as canonical.

    Returns (assignments, groups):
      assignments: (id, keeper_id) for every row;
      groups: (text_hash, n_dups, keeper_id).
    """
    hashed = df.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("text_hash")
    )
    groups = hashed.groupBy("text_hash").agg(
        F.count("*").alias("n_dups"), F.min("id").alias("keeper_id")
    )
    assignments = hashed.join(groups, "text_hash").select("id", "keeper_id")
    return assignments, groups


# ---------------------------------------------------------------------------
# MinHash + LSH banding (shingle → minhash → band → bucket join)
# ---------------------------------------------------------------------------


def _ascii_window_hasher(k: int):
    """Returns ``f(norm: str) -> np.ndarray[uint64]``: Spark-compatible
    ``xxhash64`` (seed 42) of every sliding ``k``-char shingle of a
    SINGLE-BYTE-UTF-8 string, vectorized — the scalar short-input XXH64
    loop unrolled into one numpy pass per 8/4/1-byte chunk class, same
    op order as functions/xxhash.py (whose JVM parity is test-pinned).
    Requires ``len(norm) >= k`` and k < 32."""
    import numpy as np

    U = np.uint64
    P1, P2, P3 = U(0x9E3779B185EBCA87), U(0xC2B2AE3D27D4EB4F), U(0x165667B19E3779F9)
    P4, P5 = U(0x85EBCA77C2B2AE63), U(0x27D4EB2F165667C5)

    def _rotl(x, r):
        return (x << U(r)) | (x >> U(64 - r))

    def _avalanche(h):
        h = h ^ (h >> U(33))
        h = h * P2
        h = h ^ (h >> U(29))
        h = h * P3
        return h ^ (h >> U(32))

    h_init = U((42 + 0x27D4EB2F165667C5 + k) & ((1 << 64) - 1))

    def hash_windows(norm: str) -> "np.ndarray":
        b = np.frombuffer(norm.encode("utf-8"), dtype=np.uint8)
        n_w = len(b) - k + 1
        h = np.full(n_w, h_init, dtype=U)
        win = np.lib.stride_tricks.sliding_window_view(b, k)
        i = 0
        while i <= k - 8:  # full 8-byte chunks
            word = np.zeros(n_w, dtype=U)
            for byte in range(8):
                word |= win[:, i + byte].astype(U) << U(8 * byte)
            h ^= _rotl(word * P2, 31) * P1
            h = _rotl(h, 27) * P1 + P4
            i += 8
        if i <= k - 4:  # one 4-byte chunk
            word = np.zeros(n_w, dtype=U)
            for byte in range(4):
                word |= win[:, i + byte].astype(U) << U(8 * byte)
            h ^= word * P1
            h = _rotl(h, 23) * P2 + P3
            i += 4
        while i < k:  # tail bytes
            h ^= win[:, i].astype(U) * P5
            h = _rotl(h, 11) * P1
            i += 1
        return _avalanche(h)

    return hash_windows


def _minhash_sig_udf(num_hashes: int, shingle_k: int):
    """Arrow pandas-UDF: normalized text → minhash signature array,
    bit-identical to the historical JVM expression chain
    ``array(array_min(transform(array_distinct(transform(shingles,
    xxhash64)), h -> xxhash64(h, lit(seed)))) for seed)``.

    Identities that make the kernel exact:

      * ``min`` over the rehash of DISTINCT shingle hashes equals the min
        over ALL shingle hashes (distinct only pruned work), so the
        kernel skips distinct entirely;
      * Spark's ``xxhash64`` is public-domain XXH64 chained from seed 42
        (strings: UTF-8 bytes; the rehash: [8 LE bytes, 4 LE bytes]) —
        parity with functions/xxhash.py is test-pinned, and the offline
        MINHASH fixture already established Python ``str.lower()`` /
        code-point slicing as the JVM normalization's equivalent;
      * the rehash chain factors into a seed-independent transform of
        each base hash plus a ~9-op vectorized tail per signature slot;
      * per-doc minima are SIGNED int64 (``array_min`` on LongType).

    The shingle base hashes take the vectorized path when the normalized
    text is single-byte UTF-8 (byte index == char index: sliding windows
    + the n<32 XXH64 tail, all numpy); other docs fall back to the
    pure-Python replica per shingle — correctness identical, cost
    proportional to the non-ASCII share of the corpus.
    """
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    from neo4j_graphrag_python_spark.functions.xxhash import xxh64

    U = np.uint64
    P1, P2, P3 = U(0x9E3779B185EBCA87), U(0xC2B2AE3D27D4EB4F), U(0x165667B19E3779F9)
    P4, P5 = U(0x85EBCA77C2B2AE63), U(0x27D4EB2F165667C5)
    MASK = (1 << 64) - 1

    def _rotl(x, r):
        return (x << U(r)) | (x >> U(64 - r))

    def _avalanche(h):
        h = h ^ (h >> U(33))
        h = h * P2
        h = h ^ (h >> U(29))
        h = h * P3
        return h ^ (h >> U(32))

    def _hash_longs(u):
        # xxh64(8 LE bytes of each long, seed=42): short-input path
        h0 = U((42 + 0x27D4EB2F165667C5 + 8) & MASK)
        h = h0 ^ (_rotl(u * P2, 31) * P1)
        h = _rotl(h, 27) * P1 + P4
        return _avalanche(h)

    # per-slot xor constants for the rehash tail:
    # (seed_literal_as_u32 * PRIME64_1) mod 2^64
    xor_consts = [U((s * 0x9E3779B185EBCA87) & MASK) for s in range(num_hashes)]
    p5_4 = U((0x27D4EB2F165667C5 + 4) & MASK)

    _base_hashes_ascii = _ascii_window_hasher(shingle_k)

    def _base_hashes(text) -> "np.ndarray":
        norm = ("" if text is None else str(text)).lower()
        if len(norm) >= shingle_k:
            enc = norm.encode("utf-8")
            if len(enc) == len(norm):
                return _base_hashes_ascii(norm)
            hs = {
                xxh64(norm[i : i + shingle_k].encode("utf-8"), 42)
                for i in range(len(norm) - shingle_k + 1)
            }
        else:
            hs = {xxh64(norm.encode("utf-8"), 42)}
        return np.array(sorted(hs), dtype=U)

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for col in it:
            texts = col.to_numpy()
            lens = np.empty(len(texts), dtype=np.int64)
            parts = []
            for i, t in enumerate(texts):
                bh = _base_hashes(t)
                lens[i] = len(bh)
                parts.append(bh)
            flat = np.concatenate(parts)
            hbase = _hash_longs(flat) + p5_4
            starts = np.zeros(len(texts), dtype=np.intp)
            np.cumsum(lens[:-1], out=starts[1:])
            sig_mat = np.empty((len(texts), num_hashes), dtype=np.int64)
            for sd in range(num_hashes):
                h2 = _avalanche(_rotl(hbase ^ xor_consts[sd], 23) * P2 + P3)
                sig_mat[:, sd] = np.minimum.reduceat(h2.view(np.int64), starts)
            yield pd.Series(sig_mat.tolist())

    return sig_udf


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, sig array<bigint>) — minhash signatures via long-rehash.

    Two-stage scheme (round 4), vectorized end-to-end in round 7:

    1. ONE string-hash pass: each shingle → ``xxhash64(shingle)``
       (UTF-8 encode + variable-length hash happens once, not
       ``num_hashes`` times);
    2. ``num_hashes`` cheap passes over the LONG hashes:
       ``xxhash64(h, lit(seed))`` chains [8-byte long, 4-byte int
       literal] — two fixed-size blocks, no string encode.

    Both passes now run inside one Arrow pandas-UDF numpy kernel
    (:func:`_minhash_sig_udf`) — the JVM HOF form was excluded from
    whole-stage codegen and interpreted per element.  Results are
    byte-identical (replicated by the offline fixture, and the old/new
    equivalence was asserted slot-for-slot at sf0.01 when the kernel
    landed).

    NULL texts normalize to '' (matching exact_jaccard_pairs and the
    offline oracle fixture), so every row gets a full signature.
    """
    # Round 7: both hashing passes run in one Arrow numpy kernel
    # (:func:`_minhash_sig_udf`) instead of the historical JVM HOF chain
    # — higher-order functions are excluded from whole-stage codegen and
    # were interpreted per element (measured ~18s executor time at sf0.1
    # for the 11M shingle hashes + 9M·96 rehash evals, plus driver
    # planning of a 96-branch expression tree).  Values are bit-identical
    # (see the UDF docstring for the exactness argument).
    base = widen_for_compute(df).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t")
    )
    _sig_udf = _minhash_sig_udf(num_hashes, shingle_k)
    return base.select("id", _sig_udf("_t").alias("sig"))


def _band_buckets_udf(bands: int):
    """Arrow pandas-UDF: signature array → per-band bucket ids.

    A bucket id only ever feeds EQUALITY comparisons (the band self-join
    and the bucket-size cap window), so the invariant that matters is
    bucket equality ⟺ band-slice equality — the same invariant the
    historical ``xxhash64(slice(sig, ...).cast('string'))`` form provided
    (and that the offline fixture models by grouping on the slice tuple
    itself).  This kernel keeps the identical slice boundaries (the same
    double-division/truncation index arithmetic) but hashes the slice as
    a chained XXH64 over its longs (seed 42) in numpy instead of
    building an interpreted per-row string per band (measured ~15s
    executor time at sf0.1).  Hash collisions are ~2⁻⁶⁴ per bucket pair
    in either scheme and the fixture pins the pair set at test scale.
    """
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    from neo4j_graphrag_python_spark.functions.xxhash import spark_xxhash64, Long

    U = np.uint64
    P1, P2, P3 = U(0x9E3779B185EBCA87), U(0xC2B2AE3D27D4EB4F), U(0x165667B19E3779F9)
    P4, P5 = U(0x85EBCA77C2B2AE63), U(0x27D4EB2F165667C5)

    def _rotl(x, r):
        return (x << U(r)) | (x >> U(64 - r))

    def _avalanche(h):
        h = h ^ (h >> U(33))
        h = h * P2
        h = h ^ (h >> U(29))
        h = h * P3
        return h ^ (h >> U(32))

    def _chain_long(u, seed_vec):
        # xxh64 of 8 LE bytes with a per-row running seed
        h = (seed_vec + P5 + U(8)) ^ (_rotl(u * P2, 31) * P1)
        h = _rotl(h, 27) * P1 + P4
        return _avalanche(h)

    @F.pandas_udf(ArrayType(LongType()))
    def bucket_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for col in it:
            sigs = col.to_numpy()
            n = len(sigs)
            out: list = [None] * n
            regular, irregular = [], []
            for i, s in enumerate(sigs):
                if s is None:
                    continue
                (irregular if any(x is None for x in s) else regular).append(i)
            if regular:
                mat = np.stack(
                    [np.asarray(sigs[i], dtype=np.int64) for i in regular]
                ).view(U)
                n_sig = mat.shape[1]
                rpb = n_sig / bands  # same double division as the old form
                res = np.empty((len(regular), bands), dtype=np.int64)
                for b in range(bands):
                    start = int(b * rpb + 1) - 1  # (b*rpb + 1).cast(int), 0-based
                    h = np.full(len(regular), U(42))
                    for j in range(start, start + int(rpb)):
                        h = _chain_long(mat[:, j], h)
                    res[:, b] = h.view(np.int64)
                rows = res.tolist()
                for k, i in enumerate(regular):
                    out[i] = rows[k]
            for i in irregular:
                # null-bearing signatures: hash the slice tuple via the
                # pure-Python replica with a None sentinel — equality
                # still tracks slice equality
                s = sigs[i]
                n_sig = len(s)
                rpb = n_sig / bands
                row = []
                for b in range(bands):
                    start = int(b * rpb + 1) - 1
                    sl = tuple(s[start : start + int(rpb)])
                    row.append(
                        spark_xxhash64(
                            *[Long(x if x is not None else -(1 << 62) + 7) for x in sl]
                        )
                    )
                out[i] = row
            yield pd.Series(out)

    return bucket_udf


def minhash_lsh_pairs(
    signatures: DataFrame, bands: int = 16, max_bucket_size: int | None = None
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands, hash each
    band, self-join on (band_idx, band_hash) buckets → candidate pairs
    (id_a < id_b).  Collision probability follows the usual S-curve in
    true Jaccard similarity.  The band bucket ids come from an Arrow
    numpy kernel (:func:`_band_buckets_udf`) — bucket equality tracks
    band-slice equality exactly as the historical string-cast form did.

    ``max_bucket_size``: optional guard for ADVERSARIAL corpora whose
    noise-floor Jaccard sits near the banding S-curve (boilerplate-heavy
    or tiny-vocabulary text): a band bucket of m members contributes
    C(m,2) pairs, so a few corpus-wide buckets make the join output
    quadratic.  Buckets larger than the cap are dropped (their members
    are overwhelmingly sub-threshold noise; genuinely similar pairs
    still meet in OTHER, sharper bands — measured, not just asserted:
    see ``derived_bucket_cap`` and the adversarial-corpus recall test).
    Off by default HERE (this is the low-level banding primitive);
    :func:`minhash_dedup_pairs` derives a corpus-sized cap by default.
    Deterministic either way.
    """
    # bucket arrays materialized BEFORE the posexplode: several
    # consumers (both sides of the bucket self-join and the bucket-size
    # cap) would each re-evaluate the bucket kernel, and the explode's
    # inferred size() filter doubles each evaluation again (measured ~4×
    # the kernel cost without the checkpoint)
    pre = signatures.select(
        "id", _band_buckets_udf(bands)("sig").alias("_bks")
    ).localCheckpoint(eager=False)
    banded = pre.select(
        "id", F.posexplode("_bks").alias("band", "bucket")
    )
    if max_bucket_size is not None:
        # bucket sizes via a map-side-combinable groupBy + join back —
        # identical filter to the historical count-over-window, without
        # the window's sort, and the aggregated (band, bucket, n) table
        # is bucket-count-sized so AQE broadcasts it at bench scale
        big = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("_bsz"))
            .where(F.col("_bsz") > max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(big, ["band", "bucket"], "left_anti")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def derived_bucket_cap(n_docs: int) -> int:
    """Default LSH band-bucket cap: ``ceil(sqrt(2·n))`` (floor 16).

    Derivation: a bucket of m members contributes C(m,2) candidate
    pairs, so capping m at sqrt(2n) bounds any SINGLE bucket's
    contribution to ≤ n pairs — one degenerate corpus-wide bucket
    (boilerplate slice, tiny vocabulary) can no longer make the
    candidate join quadratic on its own; it is clipped to linear.

    Recall cost model (measured in test_minhash_cap_adversarial_recall
    and scripts/bench_cap_recall.py, not just asserted): a true
    near-dup CLUSTER of size m produces per-band buckets of ≈ m·J^r
    members, so clusters up to ~cap/J^r survive intact — at n=60k the
    cap is 347, i.e. clusters of several hundred mutually-similar docs
    keep all their pairs, far above near-dup cluster sizes in
    exact-deduped corpora.  The one genuinely lossy shape is a cluster
    of IDENTICAL texts larger than the cap (identical signatures ⇒ the
    same over-cap bucket in EVERY band, nothing survives) — which is
    why exact dedup (:func:`dedup_exact_docs`) runs first in the
    documented pipeline order; it collapses those clusters to one
    representative before banding ever sees them.
    """
    return max(16, math.ceil(math.sqrt(2.0 * max(n_docs, 0))))


def derived_est_margin(jaccard_threshold: float, num_hashes: int) -> float:
    """Prefilter margin = 3 binomial σ of the signature-agreement
    estimator at the threshold: the agreement count over ``num_hashes``
    slots is Binomial(num_hashes, J), so a pair sitting exactly at
    J=threshold lands below ``threshold - margin`` with p≈0.001.  Scaling
    with signature length keeps the ≤0.1% boundary-recall bound true for
    ANY num_hashes (a fixed margin is only 3σ at one specific length)."""
    return 3.0 * math.sqrt(
        jaccard_threshold * (1.0 - jaccard_threshold) / num_hashes
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 96,
    bands: int = 32,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.7,
    est_margin: float | None = None,
    max_bucket_size: int | None | str = "auto",
) -> DataFrame:
    """Full near-dup pipeline: candidates via MinHash-LSH, pre-filtered
    by the JVM-side signature-agreement estimate, verified with exact
    n-gram Jaccard (pandas UDF) → (id_a, id_b, jaccard).

    The est-prefilter is the round-4 scale fix: on corpora with a high
    similarity noise floor (same-domain text, J≈0.2), shallow bands
    (rows-per-band = num_hashes/bands) emit CANDIDATES quadratically —
    measured 3.9M candidate pairs from 5,000 docs at (96, 32) — and the
    Python rescore was eating them all.  The agreement fraction of the
    two full signatures is an unbiased estimate of Jaccard (Binomial
    mean J over num_hashes slots), computed as one zip_with/aggregate
    over longs already in hand; pairs with
    ``est < jaccard_threshold - est_margin`` skip the exact rescore.
    ``est_margin=None`` (the default) derives the margin from the
    signature length: 3·sqrt(thr·(1−thr)/num_hashes) — three binomial
    standard deviations at the threshold boundary, so the recall loss
    is ≤0.1% regardless of num_hashes (a fixed 0.15 was only 2.6σ at
    the 64-hash default, ~0.5% boundary loss).  Noise-floor pairs are
    rejected JVM-side (measured 3.9M → ~tens of k reaching Python at
    sf0.1).  Deterministic, so the offline oracle fixture replicates it
    slot-for-slot.

    ``max_bucket_size="auto"`` (the default) derives the band-bucket cap
    from the corpus size (:func:`derived_bucket_cap`: ceil(sqrt(2n)), so
    no single degenerate bucket contributes more than n candidate
    pairs); pass ``None`` for exact uncapped banding or an int to pin
    it.  Run exact dedup first — identical-text clusters above the cap
    are the one shape banding cannot recover (same bucket every band).

    Signatures are localCheckpointed: four consumers read them (both
    sides of the band self-join, both sides of the est join) and each
    would otherwise recompute the signature projection from scratch.
    """
    if est_margin is None:
        est_margin = derived_est_margin(jaccard_threshold, num_hashes)
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_k
    ).localCheckpoint(eager=False)
    if max_bucket_size == "auto":
        # the count doubles as the checkpoint materialization the join
        # needs anyway; cap scales with the corpus (see derived_bucket_cap)
        max_bucket_size = derived_bucket_cap(sigs.count())
    pairs = minhash_lsh_pairs(sigs, bands, max_bucket_size=max_bucket_size)
    # slot-agreement count in one Arrow kernel: the zip_with/aggregate
    # HOF form is excluded from whole-stage codegen and was interpreted
    # per slot per candidate (measured ~25s executor time for 632k
    # candidates × 96 slots at sf0.1; a flat 96-term sum of
    # getItem-equality expressions was measured too and came out 3×
    # SLOWER than this kernel — the ~500-node expression falls out of
    # whole-stage codegen).  Signatures are always fully populated (the
    # signature kernel emits a value per slot), so the integer equality
    # count is exact.
    import numpy as np
    from pyspark.sql.types import IntegerType

    @F.pandas_udf(IntegerType())
    def _agree_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype="int32")
        A = np.stack([np.asarray(x, dtype=np.int64) for x in a.to_numpy()])
        B = np.stack([np.asarray(x, dtype=np.int64) for x in b.to_numpy()])
        return pd.Series((A == B).sum(axis=1).astype("int32"))

    agree = _agree_udf("sig_a", "sig_b")
    survivors = (
        pairs.join(
            sigs.withColumnsRenamed({"id": "id_a", "sig": "sig_a"}), "id_a"
        )
        .join(sigs.withColumnsRenamed({"id": "id_b", "sig": "sig_b"}), "id_b")
        .where(
            agree / F.lit(num_hashes) >= F.lit(jaccard_threshold - est_margin)
        )
        .select("id_a", "id_b")
    )
    texts = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    enriched = (
        survivors.join(
            texts.withColumnsRenamed({"id": "id_a", "text": "text_a"}), "id_a"
        )
        .join(texts.withColumnsRenamed({"id": "id_b", "text": "text_b"}), "id_b")
    )
    # repartition AFTER the texts join, right before the Python rescore:
    # the scorer's cost is per PAIR (two shingle-set builds over full
    # texts), but AQE sizes post-join partitioning by BYTES — a few MB
    # of surviving pairs coalesce to a handful of partitions and the
    # rescore runs near-serial (measured 21s over 5 tasks at sf0.1).
    # Two variants were measured and rejected: widening BEFORE the est
    # filter fuses two Python operators plus both broadcast builds into
    # one stage (~40% slower at sf0.1), and repartitioning the narrow id
    # pairs BETWEEN est and the texts join forces the texts attach into
    # a sort-merge join whose sort + rescore fuse into one stage (~20%
    # slower at sf3, where the texts side no longer broadcasts).  The
    # text-pair exchange here is linear in the surviving pairs — the
    # rescore input shuffles exactly once.
    sc = df.sparkSession.sparkContext
    scored = score_pairs_jaccard(
        enriched.repartition(sc.defaultParallelism), shingle_k
    )
    return scored.where(F.col("jaccard") >= jaccard_threshold).select(
        "id_a", "id_b", "jaccard"
    )


def score_pairs_jaccard(pairs: DataFrame, shingle_k: int = 5) -> DataFrame:
    """Exact character-shingle Jaccard for candidate pairs (Arrow batches).

    Round 7: shingle sets are represented as SORTED UNIQUE xxhash64
    arrays (the same vectorized window hashing as the signature kernel)
    and intersected with ``np.intersect1d`` instead of building Python
    string-set objects per pair — ~20× per pair (measured 26s → ~1s
    executor time at sf0.1).  |A∩B|/|A∪B| over hash sets equals the
    string-set value unless two distinct shingles of the same document
    pair collide in 64 bits (~n²/2⁶⁵ — far below the fixture's test
    scale, which pins the exact values).  A per-batch cache keys on the
    text object so each document is shingled once per batch, not once
    per pair.
    """
    import numpy as np

    def _shingle_hash_array(norm: str, base_fn) -> "np.ndarray":
        if len(norm) >= shingle_k:
            arr = np.unique(base_fn(norm).view(np.int64))
        else:
            from neo4j_graphrag_python_spark.functions.xxhash import xxh64

            v = xxh64(norm.encode("utf-8"), 42)
            arr = np.array([v - (1 << 64) if v >= (1 << 63) else v], dtype=np.int64)
        return arr

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # reuse the exact vectorized window hasher from the signature
        # kernel (num_hashes irrelevant here — only _base_hashes helpers)
        base_fn = _ascii_window_hasher(shingle_k)

        for pdf in batches:
            pdf = pdf.copy()
            cache: dict = {}

            def sets_for(t) -> "np.ndarray":
                key = t if t is not None else ""
                got = cache.get(key)
                if got is None:
                    norm = ("" if t is None else str(t)).lower()
                    enc = norm.encode("utf-8")
                    if len(enc) == len(norm):
                        got = _shingle_hash_array(norm, base_fn)
                    else:
                        from neo4j_graphrag_python_spark.functions.xxhash import (
                            xxh64,
                        )

                        if len(norm) < shingle_k:
                            hs = {xxh64(enc, 42)}
                        else:
                            hs = {
                                xxh64(norm[i : i + shingle_k].encode("utf-8"), 42)
                                for i in range(len(norm) - shingle_k + 1)
                            }
                        got = np.array(
                            sorted(
                                v - (1 << 64) if v >= (1 << 63) else v for v in hs
                            ),
                            dtype=np.int64,
                        )
                    cache[key] = got
                return got

            vals = []
            for a, b in zip(pdf["text_a"], pdf["text_b"]):
                sa, sb = sets_for(a), sets_for(b)
                inter = len(np.intersect1d(sa, sb, assume_unique=True))
                union = len(sa) + len(sb) - inter
                vals.append(inter / union if union else 1.0)
            pdf["jaccard"] = vals
            yield pdf

    from pyspark.sql import types as T

    schema = T.StructType(
        list(pairs.schema.fields) + [T.StructField("jaccard", T.DoubleType())]
    )
    return pairs.mapInPandas(score, schema=schema)


def exact_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.4,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Exact character-shingle Jaccard for ALL pairs above ``threshold``
    — the recall oracle for MinHash-LSH.

    Not all-pairs: intersection sizes come from an equi-join on the
    exploded distinct shingles (|A∩B| = count of shared shingles), unions
    from per-doc shingle counts — so cost is Σ_s df(s)², bounded by
    shingle popularity rather than n².  Still superlinear for very common
    shingles; use for gating/sampling, MinHash-LSH for production dedup.
    Everything is JVM built-ins (HOF shingling, explode, joins).

    ``max_df_frac``: document-frequency cap — shingles occurring in more
    than this fraction of documents are dropped BEFORE the self-join, and
    per-doc sizes are recomputed on the filtered shingle universe so the
    score stays a consistent Jaccard over that universe (the standard
    stop-shingle move in the dedup literature: ubiquitous shingles carry
    no pair-discriminating signal but dominate the join).  With the cap,
    every surviving shingle has df ≤ f·N, so the join cost
    Σ df(s)² ≤ f·N·Σ df(s) — linear in total postings for fixed f,
    instead of quadratic in the most popular shingle's df.  None (the
    default) keeps the exact uncapped semantics used by the oracle gate.
    """
    norm = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    n_sh = F.greatest(F.length(norm) - F.lit(shingle_k - 1), F.lit(1))
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_sh), lambda i: norm.substr(i, F.lit(shingle_k))
        )
    )
    sh = df.select(F.col(id_col).alias("id"), F.explode(shingles).alias("s"))
    if max_df_frac is not None:
        # shingles are distinct per doc, so count(*) per s IS the doc freq;
        # the keep-filter join shares its hash partitioning on `s` with the
        # intersection self-join below
        n_docs = df.select(F.count("*").alias("N"))
        keep = (
            sh.groupBy("s")
            .agg(F.count("*").alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .where(F.col("df") <= F.col("N") * F.lit(max_df_frac))
            .select("s")
        )
        sh = sh.join(keep, "s")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("i"))
    )
    j = (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n": "na"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n": "nb"}), "id_b")
    )
    raw = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        j.where(raw >= F.lit(threshold))
        .select("id_a", "id_b", F.round(raw, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(text: str) -> int:
    """Pure-python 64-bit SimHash (token-hash bit voting), deterministic
    across processes — blake2b, not builtin hash() (PYTHONHASHSEED varies
    between Spark workers).  Shared by the Spark UDF and offline oracle
    fixture generation so both engines see identical fingerprints."""
    import hashlib

    import numpy as np

    tokens = (text or "").lower().split()
    if not tokens:
        return 0
    hashes = np.array(
        [
            int.from_bytes(
                hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(),
                "little",
            )
            for t in tokens
        ],
        dtype=np.uint64,
    )
    bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    v = 0
    for i in range(64):
        if votes[i] > 0:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document (token-hash bit voting, numpy-vectorized
    per Arrow batch) → (id, simhash bigint)."""

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "simhash": [simhash64(t) for t in pdf[text_col]],
                }
            )

    return widen_for_compute(df).mapInPandas(fp, schema="id long, simhash long")


def simhash_neardup_pairs(
    fingerprints: DataFrame, max_hamming: int = 3, bands: int | None = None
) -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ max_hamming.

    Blocking is exact-match on contiguous sub-bands of the 64-bit
    fingerprint.  By pigeonhole, two fingerprints within Hamming distance
    ``k`` must agree *exactly* on at least one of ``k + 1`` disjoint bands
    (Manku, Jain & Das Sarma, WWW'07) — so the band count is derived from
    the radius, ``bands = max_hamming + 1``, never fewer.  A caller may
    pass more bands (finer blocks raise recall head-room at the cost of
    more candidate rows) but never fewer than ``max_hamming + 1``: the
    old fixed-4-band variant silently dropped pairs at distance ≥ 4 whose
    differing bits spread across all bands.

    Scale note: with ``b`` bands the per-band key is ``64 // b`` bits;
    for large radii the key space shrinks (k=8 → 9 bands of ~7 bits →
    128 buckets/band), so candidate volume grows ~n²/2^(64/b) per band.
    For web-scale dedup keep max_hamming ≤ 4 (the published operating
    point is k=3) or pre-partition by another key.
    """
    if bands is None:
        bands = max_hamming + 1
    if bands <= max_hamming:
        raise ValueError(
            f"bands={bands} cannot guarantee recall at max_hamming="
            f"{max_hamming}; need bands >= max_hamming + 1"
        )
    bands = min(bands, 64)
    # contiguous bit spans [start, start+width), widths as equal as possible
    base_w, extra = divmod(64, bands)
    spans = []
    start = 0
    for i in range(bands):
        w = base_w + (1 if i < extra else 0)
        spans.append((start, w))
        start += w
    banded = fingerprints.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        (
                            F.shiftrightunsigned("simhash", s)
                            if w >= 64
                            else F.shiftrightunsigned("simhash", s).bitwiseAND(
                                F.lit((1 << w) - 1)
                            )
                        ).alias("key"),
                    )
                    for i, (s, w) in enumerate(spans)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.key")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# embedding near-dup (cosine)
# ---------------------------------------------------------------------------


def embedding_neardup_exact(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine near-dup — the exact O(n²) baseline/oracle.

    Correct at any n but quadratic; use :func:`embedding_neardup_lsh` at
    scale and assert its recall against this on a sample.
    """
    ids = embeddings.select(F.col(id_col).alias("id"))
    cand = ids.alias("a").join(ids.alias("b"), F.col("a.id") < F.col("b.id"))
    return _rescored_pairs(
        cand.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")),
        embeddings,
        threshold,
        id_col,
        vec_col,
    )


def _rescored_pairs(
    cand: DataFrame,
    embeddings: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    broadcast: bool = True,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs → (id_a, id_b, cosine) for those whose
    canonical fold-order :func:`cosine_col` reaches ``threshold``.
    Vectors join back once per side; ``broadcast`` hints both (id,
    vector) sides so no candidate row is ever exchanged carrying
    vectors."""
    from neo4j_graphrag_python_spark.operators.similarity import cosine_col

    v = F.col(vec_col).cast("array<double>")
    va = embeddings.select(F.col(id_col).alias("id_a"), v.alias("v_a"))
    vb = embeddings.select(F.col(id_col).alias("id_b"), v.alias("v_b"))
    if broadcast:
        va, vb = F.broadcast(va), F.broadcast(vb)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b", cosine_col(F.col("v_a"), F.col("v_b")).alias("cosine")
        )
        .where(F.col("cosine") >= threshold)
    )


def lsh_params_for(
    threshold: float, target_recall: float = 0.95, max_tables: int = 64
) -> tuple[int, int]:
    """(planes_per_table, num_tables) for random-hyperplane LSH with
    per-pair recall ≥ ``target_recall`` at cosine ≥ ``threshold``.

    Per plane, sign agreement probability is p = 1 − arccos(s)/π
    (Charikar '02); one m-plane table collides w.p. p^m, L independent
    tables give recall 1 − (1 − p^m)^L.  m is chosen as large as possible
    (more planes = better pruning of dissimilar pairs) subject to L ≤
    max_tables for the requested recall.
    """
    import math
    import warnings

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    best = None
    for m in range(1, 33):
        pm = p**m
        if pm >= 1.0:
            best = (m, 1)
            continue
        L = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pm))
        if L <= max_tables:
            best = (m, L)
        else:
            break
    if best is None:
        # even m=1 needs more than max_tables (only possible at very low /
        # negative thresholds): clamp and warn, same policy as the
        # caller-override branches of embedding_neardup_lsh — never a
        # silent (1, 1) that would void the recall target with one table
        best = (1, max_tables)
        ach = lsh_achievable_recall(threshold, 1, max_tables)
        warnings.warn(
            f"lsh_params_for: recall target {target_recall} unreachable at "
            f"threshold={threshold} within max_tables={max_tables}; using "
            f"(m=1, L={max_tables}), model recall ≈ {ach:.3f}.",
            stacklevel=2,
        )
    return best


def lsh_achievable_recall(
    threshold: float, num_planes: int, num_tables: int
) -> float:
    """Model recall of (m, L) hyperplane LSH for a pair at exactly
    ``threshold`` cosine: 1 − (1 − p^m)^L with p = 1 − arccos(s)/π."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    pm = min(1.0, p**num_planes)
    return 1.0 - (1.0 - pm) ** num_tables


def embedding_neardup_ivf(
    embeddings: DataFrame,
    threshold: float = 0.4,
    num_centroids: int = 16,
    nprobe: int = 2,
    sample_n: int = 2048,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_rescore: bool = True,
) -> DataFrame:
    """Embedding near-dup via k-means IVF cell blocking + exact cosine
    rescore — the scale path for MODERATE thresholds, where sign-LSH
    floods: at cosine 0.4 the derived (m=6, L=46) hyperplane plan makes
    a RANDOM pair collide in some table with p ≈ 1−(1−1/64)⁴⁶ ≈ 0.52, so
    half of C(n,2) becomes candidates before any prune (measured ~10⁹
    candidates / OOM at 60k vectors).  Blocking by cluster cell instead
    makes candidates scale with cluster density: each vector pairs only
    with vectors whose PRIMARY cell is among its ``nprobe`` nearest
    cells, so candidate count ≈ nprobe · Σ|cell|²/n-shaped, independent
    of the threshold.

    Semantics: candidate (a, b) iff primary(b) ∈ probes(a) OR
    primary(a) ∈ probes(b); every candidate is exact-cosine rescored
    (precision exact, like the LSH path).  Recall is data-dependent —
    a qualifying pair straddling two non-adjacent clusters is missed —
    and is asserted against :func:`embedding_neardup_exact` on fixtures
    in tests (reference anchor resolver.py:266-271 is the all-pairs
    semantics being approximated).  Raise ``nprobe`` (or
    ``num_centroids``, which sharpens cells) to trade cost for recall;
    skew from an oversized cluster is fixed by MORE centroids, never by
    dropping cells — unlike the band-bucket caps, a cell is a content
    cluster, so capping it would drop precisely the duplicates.

    Plan shape: one widened projection computes the probe array (the
    fold-order Arrow kernel :func:`vec.centroid_topn_col`), and the
    candidate PAIRS never materialize: vectors are shipped to their
    primary cell (residents) and ``nprobe−1`` probe cells (visitors),
    and each cell group runs a tiled numpy GEMM over its members —
    resident×resident and visitor×resident scores (visitor×visitor
    pairs are NOT candidates: such a pair qualifies only through one
    member's primary cell, where it is scored) — thresholded with a
    margin INSIDE the kernel.  Only survivors (output-sized) reach
    a shuffle; they are deduped (a pair can surface in ≤2 cells) and
    rescored with the canonical fold-order :func:`cosine_col`, so the
    output is exactly the candidate semantics above (asserted against a
    straight-line Python oracle in tests).  Shuffle volume is nprobe·n
    vector rows (linear), never the candidate pair count; per-task
    memory is the largest cell × dim, bounded by the tile loop.  The
    codebook fit (:func:`fit_kmeans_centroids`) is the one driver-side
    step — codebook-sized, seeded, shared with ``ann_topk_kmeans``.

    ``broadcast_rescore=True`` (default) broadcasts the (id, vector)
    projections into the final rescore joins; the hint is right whenever
    the corpus's (id, vector) projection fits executor memory (up to
    ~10⁷ vectors).  Beyond that pass False and the output-sized
    survivors shuffle-join instead.
    """
    from neo4j_graphrag_python_spark.functions import vec
    from neo4j_graphrag_python_spark.operators.similarity import (
        fit_kmeans_centroids,
        sample_vectors,
    )

    if centroids is None:
        sample = sample_vectors(embeddings, sample_n, id_col, vec_col)
        if not sample:  # empty corpus → no pairs (don't fail the fit)
            return embeddings.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cosine double"
            )
        centroids = fit_kmeans_centroids(
            sample, num_centroids=num_centroids, seed=seed
        )
    v = F.col(vec_col).cast("array<double>")
    # probes materialized before consumption: two consumers (primary cell
    # + probe explode) would re-plan the centroid scoring per side, and
    # the probe explode's inferred ``size(probes) > 0`` filter would be
    # pushed below the widening exchange with the scoring inlined —
    # running all num_centroids·dim dots again on the narrow scan side
    assigned = widen_for_compute(embeddings).select(
        F.col(id_col).alias("id"),
        vec.centroid_topn_col(v, centroids, nprobe).alias("probes"),
    ).localCheckpoint(eager=False)
    base = embeddings.select(F.col(id_col).alias("id"), v.alias("v"))
    return _rescored_pairs(
        _ivf_cell_survivors(assigned, base, threshold),
        embeddings,
        threshold,
        id_col,
        vec_col,
        broadcast_rescore,
    )


def _ivf_cell_survivors(
    assigned: DataFrame,
    base: DataFrame,
    threshold: float,
    tile_rows: int = 4096,
) -> DataFrame:
    """Per-cell GEMM candidate survivors for :func:`embedding_neardup_ivf`.

    One vector-carrying exchange (explode probes → repartition by cell:
    nprobe·n rows, linear in the corpus), then ``applyInPandas`` per
    cell: normalize members, tiled ``R @ M.T`` where R = resident rows
    (primary == cell) and M = all members, keep scores ≥ threshold−1e-6,
    drop visitor×visitor implicitly (rows of the GEMM are residents
    only) and self/duplicate-orientation pairs by (id_a < id_b) OR
    visitor×resident one-sidedness.  Emitted pairs are output-sized —
    the candidate set never exists as rows anywhere."""
    import numpy as np

    member = (
        assigned.select(
            "id",
            F.explode("probes").alias("cell"),
            F.element_at("probes", 1).alias("prim"),
        )
        .join(base, "id")
        .select("cell", "id", "v", (F.col("prim") == F.col("cell")).alias("resident"))
    )
    # margin must cover BOTH float fold-order drift AND cosine_col's
    # round-to-6-decimals: a pair at raw cosine θ−4e-7 rounds UP to θ and
    # passes the exact rescore, so the prune may not drop it (measured: a
    # 1e-9 margin lost 5 boundary pairs of 370k at sf3)
    thr = float(threshold) - 1e-6

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        res = pdf["resident"].to_numpy(dtype=bool)
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat / np.where(nrm == 0, 1.0, nrm)
        r_idx = np.nonzero(res)[0]
        out_a, out_b = [], []
        for t0 in range(0, len(r_idx), tile_rows):
            rows = r_idx[t0 : t0 + tile_rows]
            scores = mat[rows] @ mat.T
            ii, jj = np.nonzero(scores >= thr)
            gi = rows[ii]
            # resident×resident counted once (gi < jj); visitor rows
            # (jj not resident) pair with every resident
            keep = np.where(res[jj], gi < jj, True)
            # a visitor×resident pair also excludes self-pairing (a
            # vector is never its own visitor, so gi != jj holds there)
            gi, gj = gi[keep], jj[keep]
            out_a.append(np.minimum(ids[gi], ids[gj]))
            out_b.append(np.maximum(ids[gi], ids[gj]))
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    return (
        member.groupBy("cell")
        .applyInPandas(per_cell, "id_a long, id_b long")
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_neardup_blocked_exact(
    embeddings: DataFrame,
    threshold: float = 0.4,
    block_rows: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT all-pairs cosine near-dup via distributed blocked GEMM —
    the scale path for moderate thresholds on corpora whose normalized
    matrix still fits in memory (n·dim ≤ ~10⁹ floats, i.e. up to ~10⁷
    vectors at dim 64–1536).

    Why it exists: at θ≈0.4, sign-LSH candidates are ~52% of C(n,2)
    (flood) and cluster blocking loses the near-isotropic tail — at
    moderate thresholds on diffuse data there IS no sparse candidate
    structure to exploit, so the honest answer is to make the exact
    computation fast instead of approximating it.  An n×n×dim GEMM at
    60k×64 is ~4.6e11 multiply-adds — seconds of BLAS — where the
    per-pair theta join (`embedding_neardup_exact`) grinds through
    1.8e9 interpreted row comparisons and the LSH plan OOMs on its own
    candidate dedup.

    Plan: the L2-normalized matrix is ONE Spark broadcast (n·dim
    float64 — 30 MB at 60k×64); the work unit is a BLOCK PAIR (i ≤ j)
    of ``block_rows``-row tiles, distributed as a tiny DataFrame and
    expanded by ``mapInPandas`` running ``A @ B.T`` per tile pair.
    The GEMM only PRUNES (threshold − 1e-6 margin); survivors are
    join-back rescored with the canonical fold-order
    :func:`cosine_col`, so the output is bit-identical to the
    all-pairs oracle — no float-reduction-order risk.  Ids are
    rank-ordered into contiguous blocks, so a cross-block tile (i < j)
    emits only id_a < id_b pairs by construction.

    Beyond the broadcast tier (10⁸+ vectors, the true 100 TB regime)
    all-pairs is infeasible for ANY method (10¹⁶ pairs); there the
    corpus must carry cluster structure and
    :func:`embedding_neardup_ivf` blocks by cell — these two operators
    are the two rungs of the documented tiering, dispatched by
    :func:`embedding_neardup` when the LSH noise model floods.
    """
    import numpy as np

    from neo4j_graphrag_python_spark.operators.similarity import (
        _broadcast_tiles,
    )

    prep = _broadcast_tiles(embeddings, block_rows, id_col, vec_col)
    if prep is None:
        return embeddings.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    bc, tiles = prep
    # margin must cover BOTH float fold-order drift AND cosine_col's
    # round-to-6-decimals: a pair at raw cosine θ−4e-7 rounds UP to θ and
    # passes the exact rescore, so the prune may not drop it (measured: a
    # 1e-9 margin lost 5 boundary pairs of 370k at sf3)
    thr = float(threshold) - 1e-6

    def _gemm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bids, bmat = bc.value
        for pdf in batches:
            for bi, bj in zip(pdf["bi"], pdf["bj"]):
                a0, a1 = bi * block_rows, min((bi + 1) * block_rows, len(bids))
                b0, b1 = bj * block_rows, min((bj + 1) * block_rows, len(bids))
                scores = bmat[a0:a1] @ bmat[b0:b1].T
                ii, jj = np.nonzero(scores >= thr)
                if bi == bj:
                    keep = ii < jj
                    ii, jj = ii[keep], jj[keep]
                yield pd.DataFrame(
                    {"id_a": bids[a0 + ii], "id_b": bids[b0 + jj]}
                )

    # survivors ≈ output size, but broadcasting the (id, vec) sides (the
    # same matrix the GEMM already broadcast) keeps the rescore streaming
    # — no survivor row is ever exchanged carrying vectors
    return _rescored_pairs(
        tiles.mapInPandas(_gemm, "id_a long, id_b long"),
        embeddings,
        threshold,
        id_col,
        vec_col,
    )


def embedding_neardup(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    target_recall: float = 0.95,
    max_noise_collision: float = 0.01,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """Threshold-aware dispatcher: sign-LSH where its pruning works,
    exact blocked GEMM or IVF cell blocking where it floods.

    The decision is the sign-LSH plan's own collision model: with the
    (m, L) that ``lsh_params_for`` derives for this threshold, an
    UNRELATED pair (cosine ≈ 0, per-plane agreement ½) still collides in
    some table with p_noise = 1 − (1 − 2^−m)^L.  When p_noise exceeds
    ``max_noise_collision`` the candidate set is a constant fraction of
    C(n,2) — quadratic whatever the data (p_noise ≈ 0.52 at threshold
    0.4, ≈ 0.05 at 0.7, ≈ 0.007 at 0.8 with the default recall target) —
    so LSH is abandoned.  Within the flood regime the tier is picked by
    corpus size (one count):

    * ``n·dim ≤ broadcast_cells`` — :func:`embedding_neardup_blocked_exact`.
      Measured (BENCH.md): at 60k×64/θ=0.4 the complete exact answer
      takes 29 s where IVF at a 2× candidate budget reached only recall
      0.42 — at moderate thresholds on DIFFUSE data there is no sparse
      candidate structure, so exact-but-fast beats approximate.
    * larger — :func:`embedding_neardup_ivf`: all-pairs is infeasible
      for any method at 10⁸⁺ vectors; a corpus that large must carry
      cluster structure for near-dup to be meaningful, and cell blocking
      exploits exactly that (planted-cluster recall ≥0.95 at nprobe=2).

    Extra ``kwargs`` pass through to the chosen implementation."""
    m, L = lsh_params_for(threshold, target_recall)
    p_noise = 1.0 - (1.0 - 0.5**m) ** L
    if p_noise > max_noise_collision:
        kwargs.pop("max_bucket_size", None)
        broadcast_cells = kwargs.pop("broadcast_cells", 50_000_000)
        n = embeddings.count()
        if n * dim <= broadcast_cells:
            for k in ("num_centroids", "nprobe", "sample_n", "centroids",
                      "seed", "broadcast_rescore"):
                kwargs.pop(k, None)
            return embedding_neardup_blocked_exact(
                embeddings,
                threshold=threshold,
                id_col=id_col,
                vec_col=vec_col,
                **kwargs,
            )
        kwargs.pop("block_rows", None)
        # beyond the broadcast tier the final canonical rescore must
        # SHUFFLE-join the output-sized survivors rather than broadcast
        # the full (id, vector) projection (which is exactly what doesn't
        # fit in this tier) — so broadcast_rescore is forced off, not
        # defaulted
        kwargs["broadcast_rescore"] = False
        return embedding_neardup_ivf(
            embeddings,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            **kwargs,
        )
    # strip every non-LSH kwarg so a caller's IVF/GEMM tuning knobs don't
    # make valid kwargs threshold-dependent (seed is shared: LSH takes it)
    for k in ("num_centroids", "nprobe", "sample_n", "centroids",
              "block_rows", "broadcast_rescore", "broadcast_cells"):
        kwargs.pop(k, None)
    return embedding_neardup_lsh(
        embeddings,
        dim=dim,
        threshold=threshold,
        target_recall=target_recall,
        id_col=id_col,
        vec_col=vec_col,
        **kwargs,
    )


def embedding_neardup_lsh(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    num_planes: int | None = None,
    num_tables: int | None = None,
    target_recall: float = 0.95,
    max_tables: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Bucketed embedding near-dup: multi-table random-hyperplane LSH
    blocking + exact cosine rescore — the 100 TB-shape replacement for
    the all-pairs theta join.

    Standard Indyk–Motwani amplification: L independent tables of m
    hyperplane sign bits; a pair becomes a candidate when it lands in the
    same bucket of ANY table, then every candidate is exact-cosine
    rescored, so precision is exact and recall ≥ ``target_recall`` by the
    collision model in :func:`lsh_params_for` (asserted against
    :func:`embedding_neardup_exact` in tests).  (m, L) derive from the
    threshold when not given — high thresholds (true near-dup, ≥0.9) get
    long signatures and few tables (strong pruning); moderate thresholds
    are inherently expensive for cosine LSH and get short signatures.

    Plan shape: one projection computes all L bucket ids (fold-order
    Arrow kernel over the (L·m, dim) plane matrix), explode to
    (table, bucket), equi-join on (table, bucket) — shuffle-partitionable
    by bucket key, never an all-pairs join.  Critically, the exploded
    frame carries ONLY ``(id, tbl, bucket)``: shipping the vector through
    the ×L explode would amplify every embedding's bytes ~2L× through the
    shuffle (L is 46–58 at the tested operating points — petabytes at
    100 TB of embeddings).  Vectors are joined back ONCE per side, to the
    deduped candidate-pair set, for the exact-cosine rescore.

    When the caller overrides one of (num_planes, num_tables) the other
    is derived for the stated recall target; a derived table count is
    clamped to ``max_tables`` (with a warning stating the achievable
    model recall), and an explicit ``num_tables`` too small for the
    target even at m=1 raises rather than silently voiding the
    docstring's recall promise.
    """
    import math
    import random
    import warnings

    from neo4j_graphrag_python_spark.functions import vec

    p_bit = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    if num_planes is None and num_tables is None:
        num_planes, num_tables = lsh_params_for(
            threshold, target_recall, max_tables=max_tables
        )
    elif num_tables is None:
        # recompute L for the CALLER'S plane count — reusing the jointly
        # derived L with a different m silently voids the recall target.
        # Clamp to max_tables: e.g. threshold=0.5 with num_planes=20 would
        # otherwise derive ~10,000 tables (a 10,000× explode + a plan with
        # 10k·m·dim gaussian literals).
        pm = p_bit**num_planes
        if pm >= 1.0:
            num_tables = 1
        else:
            need = math.ceil(
                math.log(1.0 - target_recall) / math.log(1.0 - pm)
            )
            num_tables = min(need, max_tables)
            if need > max_tables:
                ach = lsh_achievable_recall(threshold, num_planes, num_tables)
                warnings.warn(
                    f"embedding_neardup_lsh: recall target {target_recall} "
                    f"needs {need} tables at num_planes={num_planes} "
                    f"(threshold={threshold}); clamped to max_tables="
                    f"{max_tables}, model recall ≈ {ach:.3f}. Lower "
                    f"num_planes or raise max_tables.",
                    stacklevel=2,
                )
    elif num_planes is None:
        # largest m whose required table count fits the caller's L
        num_planes = None
        for m in range(1, 33):
            pm = p_bit**m
            if pm >= 1.0:
                num_planes = m
                continue
            need = math.ceil(
                math.log(1.0 - target_recall) / math.log(1.0 - pm)
            )
            if need <= num_tables:
                num_planes = m
            else:
                break
        if num_planes is None:
            ach = lsh_achievable_recall(threshold, 1, num_tables)
            raise ValueError(
                f"embedding_neardup_lsh: recall target {target_recall} is "
                f"unreachable within num_tables={num_tables} at threshold="
                f"{threshold} even with num_planes=1 (model recall "
                f"{ach:.3f}). Raise num_tables or lower target_recall."
            )

    rng = random.Random(seed)
    # one (L·m, dim) plane matrix, same draw order as the historical
    # per-table loop: table-major, plane-major, dim-minor
    planes_mat = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _ in range(num_tables * num_planes)
    ]

    # All L·m·dim dot products in one Arrow-vectorized pass instead of a
    # JVM HOF tree: higher-order functions are excluded from whole-stage
    # codegen (interpreted per element — measured 21s executor CPU at
    # 2000×58×13×64), and the L·m·dim literal matrix (~48k doubles)
    # costs seconds of driver-side analysis/codegen per query.  The
    # fold-order kernel (:func:`vec.sign_buckets_col`) replays the JVM
    # fold bit-exactly, degenerate rows included.
    #
    # Keys only through the explode — no vector payload; widened first:
    # L·m·dim dots per row on an I/O-sized scan would pin 1-2 tasks.
    # The L-table bucket array is materialized (localCheckpoint) BEFORE
    # the explode: both sides of the bucket self-join read it (the
    # un-materialized subtree is planned twice — 2× the L·m·dim dots),
    # and the explode's inferred ``size(...) > 0`` filter would otherwise
    # be pushed below the widening exchange with the whole computation
    # inlined, running it a further time on the narrow pre-shuffle side
    # (measured: a single straggler task owning the job)
    pre = widen_for_compute(embeddings).select(
        F.col(id_col).alias("id"),
        vec.sign_buckets_col(
            F.col(vec_col).cast("array<double>"), planes_mat, num_planes
        ).alias("tbs"),
    ).localCheckpoint(eager=False)
    bucketed = pre.select(
        "id", F.posexplode("tbs").alias("tbl", "bucket")
    )
    if max_bucket_size is not None:
        # same guard as minhash_lsh_pairs: a (tbl, bucket) cell of m
        # members contributes C(m,2) candidates, so dense regions (or a
        # low threshold's coarse signatures) make the join output
        # quadratic; truly similar pairs still meet in other tables'
        # sharper cells.  Deterministic, off by default.
        from pyspark.sql import Window

        wb = Window.partitionBy("tbl", "bucket")
        bucketed = (
            bucketed.withColumn("_bsz", F.count("*").over(wb))
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = bucketed.select(F.col("id").alias("id_a"), "tbl", "bucket")
    b = bucketed.select(F.col("id").alias("id_b"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # fetch vectors once per side for the exact rescore (un-exploded frame)
    return _rescored_pairs(
        cand, embeddings, threshold, id_col, vec_col, broadcast=False
    )
