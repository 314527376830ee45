"""Similarity search, retrievers, and text-analysis operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_graphrag_python_spark.functions.embedding import embed_text
from neo4j_graphrag_python_spark.operators.similarity import (
    build_ann_index,
    hybrid_fusion,
    topk_ann,
    topk_bruteforce,
    topk_multi_query,
)
from neo4j_graphrag_python_spark.operators.text_analysis import (
    doc_fingerprints,
    language_id,
    quality_score,
    token_stats,
)
from neo4j_graphrag_python_spark.retrievers import (
    fulltext_search,
    hybrid_search,
    vector_search,
)
from neo4j_graphrag_python_spark.types import NODES_SCHEMA


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_topk_bruteforce_self_is_best(spark, emb) -> None:
    q = emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]
    top = topk_bruteforce(emb, q, k=3).collect()
    assert top[0]["id"] == 7 and top[0]["score"] == 1.0


def test_ann_recall_vs_bruteforce(spark, emb) -> None:
    q = emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]
    exact = {r["id"] for r in topk_bruteforce(emb, q, k=10).collect()}
    indexed, planes = build_ann_index(emb, dim=64, num_planes=6)
    indexed = indexed.persist()
    approx = {r["id"] for r in topk_ann(indexed, planes, q, k=10, probe_hamming=2).collect()}
    # LSH with 6 planes and 2-flip probing should recover most of top-10
    assert len(exact & approx) >= 5
    assert 7 in approx


def test_topk_multi_query(spark, emb) -> None:
    queries = emb.where(F.col("vec_id").isin([0, 1])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = topk_multi_query(emb, queries, k=5)
    rows = res.collect()
    assert len(rows) == 10
    for r in rows:
        if r["id"] == r["query_id"]:
            assert r["rank"] == 1 and r["score"] == 1.0


def test_hybrid_fusion_max_and_linear(spark) -> None:
    v = spark.createDataFrame([(1, 0.8), (2, 0.4)], ["id", "score"])
    ft = spark.createDataFrame([(2, 2.0), (3, 1.0)], ["id", "score"])
    fused = {r["id"]: r["score"] for r in hybrid_fusion(v, ft, k=3).collect()}
    assert fused[1] == 1.0 and fused[2] == 1.0 and fused[3] == 0.5
    lin = {r["id"]: r["score"] for r in hybrid_fusion(v, ft, alpha=0.5, k=3).collect()}
    assert lin[2] == pytest.approx(0.75)  # 0.5*0.5 + 0.5*1.0


@pytest.fixture(scope="module")
def entity_nodes(spark):
    names = ["Alice", "Bob", "Alice Smith", "Acme Corp"]
    rows = [
        (
            f"n{i}",
            "Person",
            True,
            {"name": n},
            [float(x) for x in embed_text(n)],
            "c1",
            "u1",
        )
        for i, n in enumerate(names)
    ]
    return spark.createDataFrame(rows, NODES_SCHEMA)


def test_vector_search_with_filters(entity_nodes) -> None:
    res = vector_search(entity_nodes, query_text="Alice", top_k=2)
    assert res.collect()[0]["id"] == "n0"
    res = vector_search(
        entity_nodes,
        query_text="Alice",
        top_k=2,
        filters={"name": {"$ilike": "alice smith"}},
    )
    rows = res.collect()
    assert [r["id"] for r in rows] == ["n2"]


def test_fulltext_and_hybrid(entity_nodes) -> None:
    ft = fulltext_search(entity_nodes, "alice smith", top_k=3).collect()
    assert ft[0]["id"] == "n2" and ft[0]["score"] == 2.0
    hy = hybrid_search(entity_nodes, "Alice", top_k=2)
    assert hy.collect()[0]["id"] == "n0"


def test_fulltext_indexed_matches_scan(entity_nodes) -> None:
    """Inverted-index search = scan search for whole-token queries, and
    the plan is a broadcast join on term, not a corpus scan."""
    from neo4j_graphrag_python_spark.retrievers import (
        build_fulltext_index,
        fulltext_search_indexed,
    )

    index = build_fulltext_index(entity_nodes)
    rows = {(r["term"], r["id"]): r["tf"] for r in index.collect()}
    assert rows[("alice", "n0")] == 1 and rows[("alice", "n2")] == 1
    for q in ("alice smith", "acme", "bob alice"):
        scan = [(r["id"], r["score"]) for r in
                fulltext_search(entity_nodes, q, top_k=4).collect()]
        idx = [(r["id"], r["score"]) for r in
               fulltext_search_indexed(index, q, top_k=4).collect()]
        assert idx == scan, q
    plan = fulltext_search_indexed(index, "alice")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # hybrid path accepts the prebuilt index
    hy = hybrid_search(entity_nodes, "Alice", top_k=2, fulltext_index=index)
    assert hy.collect()[0]["id"] == "n0"
    with pytest.raises(ValueError):
        fulltext_search_indexed(index, "   ")


def test_fulltext_bucketed_prunes_buckets(spark, entity_nodes) -> None:
    """bucketBy(term) postings table: the term IN (...) filter prunes to
    the buckets holding the query terms (SelectedBucketsCount in the scan)
    and results equal the broadcast-join index path."""
    from neo4j_graphrag_python_spark.retrievers import (
        build_fulltext_index,
        fulltext_search_bucketed,
        fulltext_search_indexed,
        write_fulltext_index_bucketed,
    )

    index = build_fulltext_index(entity_nodes)
    table = "ft_postings_test"
    write_fulltext_index_bucketed(index, table, num_buckets=8)
    try:
        for q in ("alice smith", "acme", "bob alice"):
            idx = [(r["id"], r["score"]) for r in
                   fulltext_search_indexed(index, q, top_k=4).collect()]
            bkt = [(r["id"], r["score"]) for r in
                   fulltext_search_bucketed(spark, table, q, top_k=4).collect()]
            assert bkt == idx, q
        res = fulltext_search_bucketed(spark, table, "alice")
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan, plan
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m and int(m.group(1)) < int(m.group(2))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


@pytest.fixture(scope="module")
def textdocs(spark):
    return spark.createDataFrame(
        [
            (1, "The quick brown fox and the lazy dog in the yard"),
            (2, "der hund und die katze sind nicht das problem"),
            (3, ""),
            (4, "aaa aaa aaa aaa aaa aaa"),
        ],
        ["doc_id", "text"],
    )


def test_token_stats(textdocs) -> None:
    s = {r["id"]: r for r in token_stats(textdocs).collect()}
    assert s[1]["n_tokens"] == 11
    assert s[1]["n_distinct_tokens"] == 9  # 'the' ×3 (case-folded)
    assert s[3]["n_tokens"] == 0 and s[3]["n_chars"] == 0
    assert s[4]["n_distinct_tokens"] == 1


def test_quality_score(textdocs) -> None:
    q = {r["id"]: r for r in quality_score(textdocs).collect()}
    assert q[1]["quality"] > q[4]["quality"]  # repetition penalized
    assert q[3]["quality"] == 0.0
    assert 0 <= q[1]["alpha_ratio"] <= 1


def test_language_id(textdocs) -> None:
    langs = {r["id"]: r["lang_pred"] for r in language_id(textdocs).collect()}
    assert langs[1] == "en"
    assert langs[2] == "de"
    assert langs[3] == "und"


def test_doc_fingerprints(textdocs) -> None:
    fp = doc_fingerprints(textdocs)
    rows = fp.collect()
    assert all(r["fingerprint"] >= 0 for r in rows)
    # identical docs → identical fingerprint sets
    by_id: dict = {}
    for r in rows:
        by_id.setdefault(r["id"], set()).add(r["fingerprint"])
    assert by_id[1] and by_id[4]


def test_expand_neighborhood(spark) -> None:
    from pyspark.sql import functions as F

    from neo4j_graphrag_python_spark.retrievers import expand_neighborhood
    from neo4j_graphrag_python_spark.types import EDGES_SCHEMA

    edges = spark.createDataFrame(
        [
            ("a", "b", "KNOWS", {}, "c", "u"),
            ("b", "c", "KNOWS", {}, "c", "u"),
            ("c", "d", "WORKS_FOR", {}, "c", "u"),
            ("x", "y", "KNOWS", {}, "c", "u"),  # disconnected
        ],
        EDGES_SCHEMA,
    )
    start = spark.createDataFrame([("a",)], ["id"])
    got = {
        r["id"]: r["hop"]
        for r in expand_neighborhood(edges, start, hops=3).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}
    # type filter: WORKS_FOR excluded stops at c
    got2 = {
        r["id"]: r["hop"]
        for r in expand_neighborhood(
            edges, start, hops=3, rel_types=["KNOWS"]
        ).collect()
    }
    assert got2 == {"a": 0, "b": 1, "c": 2}
    # direction: 'in' from a finds nothing
    got3 = expand_neighborhood(edges, start, hops=2, direction="in").count()
    assert got3 == 1  # just the start node


def test_ann_index_partition_pruning(spark, emb, tmp_path) -> None:
    """The materialized ANN index is partitioned by bucket; probes become
    partition-pruned scans (only probed buckets' files are read)."""
    from neo4j_graphrag_python_spark.operators.similarity import (
        read_ann_index,
        write_ann_index,
    )

    q = emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]
    indexed, planes = build_ann_index(emb, dim=64, num_planes=6)
    path = str(tmp_path / "ann_index")
    write_ann_index(indexed, path)
    on_disk = read_ann_index(spark, path)
    res = topk_ann(on_disk, planes, q, k=10, probe_hamming=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # the probed scan must NOT read all 2^6 bucket partitions
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "partition filter must be pushed"
    got = {r["id"] for r in res.collect()}
    assert 7 in got
    # same results as the in-memory index
    mem = {r["id"] for r in topk_ann(indexed, planes, q, k=10, probe_hamming=2).collect()}
    assert got == mem


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """A corpus where random hyperplanes are weak: 8 tight gaussian
    clusters in 16-d.  True neighbors = own cluster."""
    import random

    rng = random.Random(7)
    centers = [[rng.gauss(0.0, 1.0) for _ in range(16)] for _ in range(8)]
    rows = []
    for ci, c in enumerate(centers):
        for j in range(50):
            rows.append(
                (ci * 50 + j, [x + rng.gauss(0.0, 0.05) for x in c])
            )
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).persist()


def test_kmeans_ivf_beats_hyperplanes_on_clustered_corpus(
    spark, clustered_emb
) -> None:
    """VERDICT r3 #5 acceptance: on a clustered fixture, the k-means
    coarse quantizer must reach recall ≥ the hyperplane table while
    probing no more candidates."""
    from neo4j_graphrag_python_spark.operators.similarity import (
        build_ivf_kmeans_index,
        topk_ivf_kmeans,
    )

    hp_indexed, planes = build_ann_index(clustered_emb, dim=16, num_planes=4)
    hp_indexed = hp_indexed.persist()
    km_indexed, centroids = build_ivf_kmeans_index(
        clustered_emb, num_centroids=8, sample_n=400
    )
    km_indexed = km_indexed.persist()
    queries = [0, 57, 103, 155, 201, 266, 312, 399]
    qvecs = {
        r["vec_id"]: r["embedding"]
        for r in clustered_emb.where(F.col("vec_id").isin(queries)).collect()
    }
    hp_recall = km_recall = 0.0
    hp_cands = km_cands = 0
    for qid in queries:
        q = qvecs[qid]
        exact = {r["id"] for r in topk_bruteforce(clustered_emb, q, k=10).collect()}
        hp = topk_ann(hp_indexed, planes, q, k=10, probe_hamming=1)
        km = topk_ivf_kmeans(km_indexed, centroids, q, k=10, nprobe=2)
        hp_recall += len({r["id"] for r in hp.collect()} & exact) / 10
        km_recall += len({r["id"] for r in km.collect()} & exact) / 10
        # candidates probed = rows surviving the bucket filter
        qb = 0
        for i, h in enumerate(planes):
            if sum(a * b for a, b in zip(q, h)) >= 0:
                qb |= 1 << i
        probes = {qb} | {qb ^ (1 << f) for f in range(len(planes))}
        hp_cands += hp_indexed.where(F.col("bucket").isin(list(probes))).count()
        dots = [sum(a * b for a, b in zip(q, c)) for c in centroids]
        kp = sorted(range(8), key=lambda j: (-dots[j], j))[:2]
        km_cands += km_indexed.where(F.col("bucket").isin(kp)).count()
    hp_recall, km_recall = hp_recall / len(queries), km_recall / len(queries)
    assert km_cands <= hp_cands, (km_cands, hp_cands)
    assert km_recall >= hp_recall, (km_recall, hp_recall)
    # clusters ≈ cells: the data-aware quantizer should be near-exact here
    assert km_recall >= 0.95


def test_kmeans_ivf_partition_pruning_and_determinism(
    spark, clustered_emb, tmp_path
) -> None:
    """The materialized k-means index probes as partition-pruned scans
    (only nprobe cells' files read), and fit/assign are deterministic."""
    import re as _re

    from neo4j_graphrag_python_spark.operators.similarity import (
        build_ivf_kmeans_index,
        fit_kmeans_centroids,
        read_ann_index,
        sample_vectors,
        topk_ivf_kmeans,
        write_ann_index,
    )

    sample = sample_vectors(clustered_emb, n=400)
    c1 = fit_kmeans_centroids(sample, num_centroids=8)
    c2 = fit_kmeans_centroids(sample, num_centroids=8)
    assert c1 == c2  # seeded fit is bit-stable
    indexed, centroids = build_ivf_kmeans_index(clustered_emb, centroids=c1)
    path = str(tmp_path / "ivf_kmeans")
    write_ann_index(indexed, path)
    on_disk = read_ann_index(spark, path)
    q = clustered_emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]
    res = topk_ivf_kmeans(on_disk, centroids, q, k=10, nprobe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "bucket probe must partition-prune"
    got = {r["id"] for r in res.collect()}
    assert 7 in got
    mem = {r["id"] for r in topk_ivf_kmeans(indexed, centroids, q, k=10, nprobe=2).collect()}
    assert got == mem


def test_upsert_vectors(spark) -> None:
    """Reference upsert_vectors semantics: provided ids get the new
    embedding, others keep theirs; schema unchanged."""
    from neo4j_graphrag_python_spark.operators.similarity import upsert_vectors
    from neo4j_graphrag_python_spark.types import NODES_SCHEMA

    nodes = spark.createDataFrame(
        [
            ("a", "Person", True, {"name": "A"}, [1.0, 0.0], "c", "u"),
            ("b", "Person", True, {"name": "B"}, None, "c", "u"),
        ],
        NODES_SCHEMA,
    )
    vecs = spark.createDataFrame([("b", [0.5, 0.5])], ["id", "embedding"])
    out = {r["id"]: r for r in upsert_vectors(nodes, vecs).collect()}
    assert out["b"]["embedding"] == [0.5, 0.5]
    assert out["a"]["embedding"] == [1.0, 0.0]
    assert set(out["a"].asDict()) == {c for c in nodes.columns}


def test_multi_vector_named_embeddings_end_to_end(spark) -> None:
    """embedding_properties parity (reference types.py:78-104 /
    neo4j_queries.py:56-66): nodes carry MULTIPLE named vectors as
    per-name columns; embed, search and upsert each by property name."""
    from neo4j_graphrag_python_spark.operators.embedder import (
        embed_named_columns,
    )
    from neo4j_graphrag_python_spark.operators.similarity import upsert_vectors
    from neo4j_graphrag_python_spark.retrievers import vector_search

    nodes = spark.createDataFrame(
        [
            ("n1", {"name": "alpha", "description": "zzz unrelated"}),
            ("n2", {"name": "beta", "description": "alpha"}),
        ],
        "id string, properties map<string,string>",
    )
    embedded = embed_named_columns(
        nodes,
        {
            "name_embedding": "properties['name']",
            "desc_embedding": "properties['description']",
        },
    ).cache()
    assert {"name_embedding", "desc_embedding"} <= set(embedded.columns)
    by_name = vector_search(
        embedded, query_text="alpha", top_k=1, embedding_col="name_embedding"
    ).collect()
    assert by_name[0]["id"] == "n1" and by_name[0]["score"] > 0.999
    by_desc = vector_search(
        embedded, query_text="alpha", top_k=1, embedding_col="desc_embedding"
    ).collect()
    assert by_desc[0]["id"] == "n2" and by_desc[0]["score"] > 0.999
    # per-name upsert: replace ONE named vector, the other is untouched
    new_vecs = spark.createDataFrame(
        [("n1", [0.0] * 64)], "id string, name_embedding array<float>"
    )
    up = {
        r["id"]: r
        for r in upsert_vectors(
            embedded, new_vecs, vec_col="name_embedding"
        ).collect()
    }
    assert up["n1"]["name_embedding"] == [0.0] * 64
    assert up["n1"]["desc_embedding"] is not None
    assert up["n2"]["name_embedding"] is not None
    embedded.unpersist()


def test_split_named_embeddings_from_map(spark) -> None:
    """Reference-shaped ingest: a MAP<STRING,ARRAY<FLOAT>> of named
    embeddings unwinds to one prunable column per name (kg_writer
    UNWIND-keys analog); absent names become NULL."""
    from neo4j_graphrag_python_spark.operators.writer import (
        split_named_embeddings,
    )

    df = spark.createDataFrame(
        [
            ("a", {"name_vec": [1.0, 0.0], "desc_vec": [0.0, 1.0]}),
            ("b", {"name_vec": [0.5, 0.5]}),
        ],
        "id string, embedding_properties map<string,array<float>>",
    )
    out = {r["id"]: r for r in split_named_embeddings(df).collect()}
    assert out["a"]["name_vec"] == [1.0, 0.0]
    assert out["a"]["desc_vec"] == [0.0, 1.0]
    assert out["b"]["desc_vec"] is None
    assert "embedding_properties" not in split_named_embeddings(df).columns
    # a name colliding with an existing column must raise, not overwrite
    # (reference forbids 'id' as an embedding property name)
    bad = spark.createDataFrame(
        [("a", {"id": [1.0]})],
        "id string, embedding_properties map<string,array<float>>",
    )
    with pytest.raises(ValueError, match="collide"):
        split_named_embeddings(bad)


def test_upsert_vectors_attaches_missing_column(spark) -> None:
    """Reference upsert_vectors (indexes.py:251) attaches the embedding
    property to nodes that don't yet have one — a node frame WITHOUT the
    vector column must gain it (advice finding)."""
    from neo4j_graphrag_python_spark.operators.similarity import upsert_vectors

    nodes = spark.createDataFrame([("a", "A"), ("b", "B")], ["id", "name"])
    vecs = spark.createDataFrame([("b", [0.5, 0.5])], ["id", "embedding"])
    out = {r["id"]: r for r in upsert_vectors(nodes, vecs).collect()}
    assert out["b"]["embedding"] == [0.5, 0.5]
    assert out["a"]["embedding"] is None
    assert list(out["a"].asDict()) == ["id", "name", "embedding"]


def test_pii_scrub_counts_and_redaction(spark) -> None:
    """All four PII kinds redacted; counts computed on the ORIGINAL text
    so later patterns can't hide earlier kinds; URL wins over email for
    @-containing URLs (replacement order)."""
    from neo4j_graphrag_python_spark.operators.text_analysis import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "visit https://ex.org/a?q=1 mail bob.smith+x@ex-co.uk "
                "call +1 (555) 123-4567 ip 10.0.12.34 end"),
            (2, "no pii here"),
            (3, None),
        ],
        ["doc_id", "text"],
    )
    out = {r["id"]: r for r in pii_scrub(df).collect()}
    r1 = out[1]
    assert (r1["n_url"], r1["n_email"], r1["n_ipv4"], r1["n_phone"]) == (1, 1, 1, 1)
    assert r1["clean_text"] == (
        "visit <URL> mail <EMAIL> call <PHONE> ip <IP> end"
    )
    assert out[2]["clean_text"] == "no pii here"
    assert out[2]["n_email"] == 0
    assert out[3]["clean_text"] == ""


def test_contamination_scores_overlap(spark) -> None:
    from neo4j_graphrag_python_spark.operators.text_analysis import (
        contamination_scores,
    )

    bench = spark.createDataFrame(
        [(100, "one two three four five six seven eight nine ten")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            # identical → all grams hit
            (1, "one two three four five six seven eight nine ten"),
            # shares the first 8 words then diverges: 1 of 3 grams hits
            (2, "one two three four five six seven eight X Y"),
            # disjoint
            (3, "a b c d e f g h i j"),
            # too short for 8-grams
            (4, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    out = {r["id"]: r for r in contamination_scores(docs, bench, n=8).collect()}
    assert out[1]["contamination"] == 1.0 and out[1]["n_grams"] == 3
    assert out[2]["n_grams"] == 3 and out[2]["n_hit"] == 1
    assert out[3]["contamination"] == 0.0
    assert out[4]["n_grams"] == 0 and out[4]["contamination"] == 0.0


def test_repetition_stats_top_ngram(spark) -> None:
    from neo4j_graphrag_python_spark.operators.text_analysis import (
        repetition_stats,
    )

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "all words differ here now"), (3, "one")],
        ["doc_id", "text"],
    )
    out = {r["id"]: r for r in repetition_stats(df, n=2).collect()}
    # grams: "a b","b a","a b","b a" → top count 2 of 4
    assert out[1]["n_ngrams"] == 4 and out[1]["top_ngram_count"] == 2
    assert out[1]["top_ngram_frac"] == 0.5
    assert out[2]["top_ngram_count"] == 1
    assert out[3]["n_ngrams"] == 0 and out[3]["top_ngram_frac"] == 0.0


def test_dup_span_stats_planted(spark) -> None:
    from neo4j_graphrag_python_spark.operators.text_analysis import (
        dup_span_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "x y z q r"),  # shares "x y z" and "y z q" with doc 2
            (2, "p p x y z q w"),
            (3, "x y"),  # shorter than the window
            (4, "m m m m"),  # same-doc repeat: "m m m" twice
            (5, "X Y Z"),  # case-normalized match with docs 1/2
        ],
        ["doc_id", "text"],
    )
    out = {r["id"]: r for r in dup_span_stats(df, window=3).collect()}
    assert out[1]["n_windows"] == 3 and out[1]["n_dup_windows"] == 2
    assert out[1]["dup_frac"] == round(2 / 3, 6)
    assert out[2]["n_windows"] == 5 and out[2]["n_dup_windows"] == 2
    assert out[3]["n_windows"] == 0 and out[3]["dup_frac"] == 0.0
    assert out[4]["n_windows"] == 2 and out[4]["n_dup_windows"] == 2
    assert out[4]["dup_frac"] == 1.0
    assert out[5]["n_windows"] == 1 and out[5]["n_dup_windows"] == 1


def test_dup_span_stats_matches_bruteforce(spark) -> None:
    """Randomized cross-check vs a pure-Python all-position count."""
    import random as _random
    from collections import Counter

    from neo4j_graphrag_python_spark.operators.text_analysis import (
        dup_span_stats,
    )

    rng = _random.Random(7)
    vocab = ["aa", "bb", "cc", "dd"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for i in range(40)
    ]
    w = 4
    spans = {
        i: [
            " ".join(t.lower().split()[j : j + w])
            for j in range(max(len(t.split()) - w + 1, 0))
        ]
        for i, t in rows
    }
    counts = Counter(s for ss in spans.values() for s in ss)
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r for r in dup_span_stats(df, window=w).collect()}
    assert set(out) == set(spans)
    for i, ss in spans.items():
        dup = sum(1 for s in ss if counts[s] > 1)
        assert out[i]["n_windows"] == len(ss)
        assert out[i]["n_dup_windows"] == dup
        expect = round(dup / len(ss), 6) if ss else 0.0
        assert out[i]["dup_frac"] == expect


def _spans_apply_replica(rows, w, policy="keep_first"):
    """Straight-line pure-Python replica of dedup_spans_apply: piece
    tokenization, corpus-wide span occurrence lists, keep-first/drop-all
    removal, interval merge, byte-exact reassembly."""
    import re

    occ: dict = {}
    pieces_by = {}
    for i, t in rows:
        t = t or ""
        ps = re.findall(r"\S+\s*", t)
        pieces_by[i] = (re.match(r"^\s*", t).group(0), ps, t)
        toks = [re.sub(r"\s+$", "", p) for p in ps]
        for j in range(len(toks) - w + 1):
            occ.setdefault(" ".join(toks[j : j + w]), []).append((i, j))
    removed: dict = {}
    for lst in occ.values():
        if len(lst) > 1:
            keep = min(lst) if policy == "keep_first" else None
            for o in lst:
                if o != keep:
                    removed.setdefault(o[0], set()).add(o[1])
    out = {}
    for i, _ in rows:
        lead, ps, t = pieces_by[i]
        rps = sorted(removed.get(i, ()))
        if not rps:
            out[i] = (0, 0, 0, t)
            continue
        ivs = []
        for r in rps:
            if ivs and r <= ivs[-1][1]:
                ivs[-1] = (ivs[-1][0], max(ivs[-1][1], r + w))
            else:
                ivs.append((r, r + w))
        cut = {k for s, e in ivs for k in range(s, e)}
        new = lead + "".join(p for j, p in enumerate(ps) if j not in cut)
        out[i] = (len(rps), len(ivs), sum(e - s for s, e in ivs), new)
    return out


def test_dedup_spans_apply_planted_byte_exact(spark) -> None:
    """Planted duplicates: byte-exact rewritten text, keeper survival,
    interval merging, and pass-through docs keeping messy whitespace."""
    from neo4j_graphrag_python_spark.operators.text_analysis import (
        dedup_spans_apply,
    )

    rows = [
        (1, "A B C D E"),
        # shares "A B C" (pos 1) and "B C D" (pos 2) with doc 1 — doc 1
        # is the keeper for both; the two windows merge to one maximal
        # span cutting tokens 1..4 with their ORIGINAL whitespace
        (2, "Z\tA  B\nC D  Q\n"),
        (3, "  lead\n\nkept   intact\t"),  # no dup: byte-exact pass-through
        (4, "x y"),  # shorter than the window
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r for r in dedup_spans_apply(df, window=3).collect()}
    assert out[1]["new_text"] == "A B C D E"  # keeper: untouched
    assert out[1]["n_windows_removed"] == 0
    assert out[2]["new_text"] == "Z\tQ\n"
    assert (
        out[2]["n_windows_removed"] == 2
        and out[2]["n_spans_removed"] == 1
        and out[2]["n_tokens_removed"] == 4
    )
    assert out[3]["new_text"] == "  lead\n\nkept   intact\t"
    assert out[4]["new_text"] == "x y" and out[4]["n_windows_removed"] == 0

    # drop_all: the keeper doc is cut too ("A B C" pos 0 + "B C D" pos 1
    # merge to [0, 4) — only the unique tail token "E" survives)
    out = {
        r["id"]: r
        for r in dedup_spans_apply(df, window=3, policy="drop_all").collect()
    }
    assert out[1]["new_text"] == "E"
    assert out[1]["n_windows_removed"] == 2 and out[1]["n_tokens_removed"] == 4
    assert out[2]["new_text"] == "Z\tQ\n"

    # the replica agrees on the planted case end-to-end
    for pol in ("keep_first", "drop_all"):
        exp = _spans_apply_replica(rows, 3, pol)
        got = {
            r["id"]: (
                r["n_windows_removed"],
                r["n_spans_removed"],
                r["n_tokens_removed"],
                r["new_text"],
            )
            for r in dedup_spans_apply(df, window=3, policy=pol).collect()
        }
        assert got == exp


def test_dedup_spans_apply_matches_bruteforce(spark) -> None:
    """Randomized byte-exact cross-check vs the pure-Python replica —
    messy whitespace, same-doc repeats, empty and sub-window docs."""
    import random as _random

    from neo4j_graphrag_python_spark.operators.text_analysis import (
        dedup_spans_apply,
    )

    rng = _random.Random(13)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    seps = [" ", "  ", "\t", "\n", " \n "]
    rows = []
    for i in range(60):
        n = rng.randint(0, 14)
        t = rng.choice(["", " ", "\n"]) + "".join(
            rng.choice(vocab) + rng.choice(seps) for _ in range(n)
        )
        rows.append((i, t))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for w, pol in ((3, "keep_first"), (3, "drop_all"), (5, "keep_first")):
        exp = _spans_apply_replica(rows, w, pol)
        got = {
            r["id"]: (
                r["n_windows_removed"],
                r["n_spans_removed"],
                r["n_tokens_removed"],
                r["new_text"],
            )
            for r in dedup_spans_apply(df, window=w, policy=pol).collect()
        }
        assert got == exp, (w, pol)


def test_dedup_spans_apply_validates_args(spark) -> None:
    import pytest as _pytest

    from neo4j_graphrag_python_spark.operators.text_analysis import (
        dedup_spans_apply,
    )

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        dedup_spans_apply(df, window=0)
    with _pytest.raises(ValueError):
        dedup_spans_apply(df, policy="nope")


def test_knn_join_matches_numpy_all_pairs(spark) -> None:
    """knn_join (tiled GEMM candidates + windowed rounded ranking) must
    equal the all-pairs numpy reference exactly — run with 64-row tiles
    so multi-tile candidate merging is actually exercised."""
    import numpy as np

    from neo4j_graphrag_python_spark.operators.similarity import knn_join

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack(
        [np.array(r["embedding"], dtype=np.float64) for r in rows]
    )
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    S = np.round(mat @ mat.T, 6)
    np.fill_diagonal(S, -np.inf)
    truth = {}
    for i in range(len(ids)):
        nb = sorted(range(len(ids)), key=lambda j: (-S[i, j], ids[j]))[:5]
        truth[ids[i]] = [(ids[j], S[i, j], r + 1) for r, j in enumerate(nb)]

    got = {}
    for r in knn_join(emb, k=5, block_rows=64).collect():
        got.setdefault(r["id"], []).append(
            (r["neighbor_id"], r["cosine"], r["rnk"])
        )
    for i in got:
        got[i].sort(key=lambda t: t[2])
    assert set(got) == set(truth)
    assert all(got[i] == truth[i] for i in truth)


def test_knn_join_empty_and_tiny(spark) -> None:
    """Empty corpus → empty result; corpus smaller than k returns the
    neighbors that exist."""
    from neo4j_graphrag_python_spark.operators.similarity import knn_join

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert knn_join(empty, k=5).count() == 0
    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = knn_join(tiny, k=5).collect()
    assert len(out) == 6  # each of 3 vectors has exactly 2 neighbors


def test_knn_join_ivf_recall_and_clustered(spark) -> None:
    """IVF-celled k-NN join: on the sf0.001 vectors a generous probe
    budget must recover ≥0.9 of the exact join's neighbor pairs; on
    CLUSTERED data (its target regime) nprobe=2 must recover the
    planted same-cluster neighbors."""
    import random

    from neo4j_graphrag_python_spark.operators.similarity import (
        knn_join,
        knn_join_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id"], r["neighbor_id"]) for r in knn_join(emb, k=5).collect()
    }
    approx = {
        (r["id"], r["neighbor_id"])
        for r in knn_join_ivf(
            emb, k=5, num_centroids=8, nprobe=6
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF knn recall {recall:.3f}"

    rng = random.Random(5)
    dim = 16
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(6)]
    rows = [
        (i, [x + rng.gauss(0, 0.03) for x in centers[i % 6]])
        for i in range(360)
    ]
    cl = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        (r["id"], r["neighbor_id"])
        for r in knn_join_ivf(
            cl, k=3, num_centroids=6, nprobe=2
        ).collect()
    }
    ex = {
        (r["id"], r["neighbor_id"]) for r in knn_join(cl, k=3).collect()
    }
    rec = len(ex & got) / len(ex)
    assert rec >= 0.95, f"clustered IVF knn recall {rec:.3f}"


def test_knn_join_ivf_empty(spark) -> None:
    from neo4j_graphrag_python_spark.operators.similarity import knn_join_ivf

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert knn_join_ivf(empty, k=3).count() == 0


def test_knn_join_tie_plateaus_with_duplicate_vectors(spark) -> None:
    """Duplicate vectors create rounded-cosine tie plateaus WIDER than k
    at the kth boundary — exactly where the kernel's tile-local margin
    could drop a tying candidate.  The windowed (rounded desc,
    neighbor_id) ranking must stay bit-equal to the numpy reference."""
    import numpy as np

    from neo4j_graphrag_python_spark.operators.similarity import knn_join

    # 12 copies of each of 3 distinct directions (plateaus of width 11
    # at every rank), plus two loners
    base = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.6, 0.8, 0.0]]
    rows = [(i, base[i % 3]) for i in range(36)]
    rows += [(100, [0.0, 0.0, 1.0]), (101, [0.0, 0.0, -1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    S = np.round(mat @ mat.T, 6)
    np.fill_diagonal(S, -np.inf)
    truth = {}
    for i in range(len(ids)):
        nb = sorted(range(len(ids)), key=lambda j: (-S[i, j], ids[j]))[:4]
        truth[ids[i]] = [(ids[j], S[i, j], r + 1) for r, j in enumerate(nb)]

    got = {}
    for r in knn_join(emb, k=4, block_rows=7).collect():
        got.setdefault(r["id"], []).append(
            (r["neighbor_id"], r["cosine"], r["rnk"])
        )
    for i in got:
        got[i].sort(key=lambda t: t[2])
    assert got == truth


def test_pq_fit_is_deterministic_and_shaped() -> None:
    import random as _r

    from neo4j_graphrag_python_spark.operators.similarity import (
        fit_pq_codebooks,
    )

    rng = _r.Random(3)
    sample = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(120)]
    a = fit_pq_codebooks(sample, m=4, num_centroids=8)
    b = fit_pq_codebooks(sample, m=4, num_centroids=8)
    assert a == b  # bit-stable: seeded init, fixed iters
    assert len(a) == 4 and all(len(book) == 8 for book in a)
    assert all(len(c) == 4 for book in a for c in book)
    with pytest.raises(ValueError):
        fit_pq_codebooks(sample, m=5)


def _pq_replicate(v, books, normalize=True):
    """Straight-line PQ assignment: fold-order norm and dots, first-wins
    argmax(dot − ½|c|²) per subspace."""
    n = 0.0
    for x in v:
        n += x * x
    n = n**0.5
    vn = [x / n for x in v] if normalize and n > 0 else list(v)
    out = []
    for s, book in enumerate(books):
        sub = len(book[0])
        block = vn[s * sub : (s + 1) * sub]
        best, best_adj = 0, None
        for j, c in enumerate(book):
            d = 0.0
            for x, y in zip(block, c):
                d += x * y
            adj = d - 0.5 * sum(float(y) * float(y) for y in c)
            if best_adj is None or adj > best_adj:
                best, best_adj = j, adj
        out.append(best)
    return out


def test_pq_codes_match_fold_order_replication(spark) -> None:
    import random as _r

    from neo4j_graphrag_python_spark.operators.similarity import (
        assign_pq_codes,
        fit_pq_codebooks,
    )

    rng = _r.Random(11)
    vecs = {i: [rng.gauss(0, 1) for _ in range(16)] for i in range(60)}
    books = fit_pq_codebooks(list(vecs.values()), m=4, num_centroids=6)
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], ["vec_id", "embedding"]
    )
    got = {
        r["id"]: list(r["codes"])
        for r in assign_pq_codes(df, books).collect()
    }
    assert got == {i: _pq_replicate(v, books) for i, v in vecs.items()}


def test_pq_code_tie_is_first_wins(spark) -> None:
    from neo4j_graphrag_python_spark.operators.similarity import (
        assign_pq_codes,
    )

    # duplicate centroids → exact tie → the FIRST wins
    books = [[[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]]
    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    out = assign_pq_codes(df, books).collect()
    assert list(out[0]["codes"]) == [0] == _pq_replicate([1.0, 0.0], books)


def test_pq_topk_lossless_at_rescore_on_clustered(spark) -> None:
    """With a healthy rescore budget the exact top-k must survive the ADC
    cut on a clustered corpus — the property the contract oracle uses."""
    import random as _r

    from neo4j_graphrag_python_spark.operators.similarity import (
        build_pq_index,
        topk_bruteforce,
        topk_pq,
    )

    rng = _r.Random(5)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    rows = []
    for i in range(300):
        c = centers[i % 4]
        rows.append((i, [x + rng.gauss(0, 0.3) for x in c]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = rows[0][1]
    codes, books = build_pq_index(df, m=4, num_centroids=16, sample_n=300)
    body = df.where(F.col("vec_id") != 0)
    pq = topk_pq(
        codes.where(F.col("id") != 0), body, books, q, k=10, rescore=50
    )
    brute = topk_bruteforce(body, q, k=10)
    assert pq.collect() == brute.collect()


def test_ivfpq_exact_when_probing_all_cells(spark) -> None:
    """Probing every cell with a corpus-sized rescore budget makes IVF-PQ
    a (slow) exact search — the composition must then equal brute force
    bit-for-bit (final values are fold-order cosine either way)."""
    import random as _r

    from neo4j_graphrag_python_spark.operators.similarity import (
        build_ivfpq_index,
        topk_bruteforce,
        topk_ivfpq,
    )

    rng = _r.Random(9)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    rows = [
        (i, [x + rng.gauss(0, 0.3) for x in centers[i % 4]])
        for i in range(240)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = rows[7][1]
    coded, cents, books = build_ivfpq_index(
        df, num_centroids=4, m=4, pq_centroids=8, sample_n=240
    )
    out = topk_ivfpq(
        coded, df, cents, books, q, k=10, nprobe=4, rescore=240
    )
    assert out.collect() == topk_bruteforce(df, q, k=10).collect()


def test_ivfpq_recall_with_narrow_probe_on_clustered(spark) -> None:
    """nprobe=1 on a clustered corpus: the query's own cell holds its
    cluster, so recall@10 stays high while the ADC scan touches ~1/4 of
    the codes."""
    import random as _r

    from neo4j_graphrag_python_spark.operators.similarity import (
        build_ivfpq_index,
        topk_bruteforce,
        topk_ivfpq,
    )

    rng = _r.Random(21)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    rows = [
        (i, [x + rng.gauss(0, 0.25) for x in centers[i % 4]])
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = rows[2][1]
    coded, cents, books = build_ivfpq_index(
        df, num_centroids=4, m=4, pq_centroids=16, sample_n=400
    )
    got = {
        r["id"]
        for r in topk_ivfpq(
            coded, df, cents, books, q, k=10, nprobe=1, rescore=60
        ).collect()
    }
    true = {r["id"] for r in topk_bruteforce(df, q, k=10).collect()}
    assert len(got & true) >= 8  # ≥0.8 recall on a cleanly clustered corpus


def test_ivfpq_codes_match_replication_and_carry_bucket(spark) -> None:
    """The residual quantizer emits (id, codes, bucket) equal to a
    straight-line replication given shared centroids and codebooks:
    fold-order unit norm, first-wins fold-dot cell, residual PQ codes."""
    import random as _r

    from neo4j_graphrag_python_spark.operators.similarity import (
        build_ivfpq_index,
    )

    rng = _r.Random(17)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(80)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    _, cents, books = build_ivfpq_index(
        df, num_centroids=3, m=4, pq_centroids=6, sample_n=80
    )
    coded, _, _ = build_ivfpq_index(df, centroids=cents, codebooks=books)
    got = {
        r["id"]: (r["bucket"], list(r["codes"])) for r in coded.collect()
    }

    def replicate(v):
        import math

        n = 0.0
        for x in v:
            n += x * x
        vu = [x / math.sqrt(n) for x in v]
        dots = []
        for c in cents:
            d = 0.0
            for x, y in zip(vu, c):
                d += x * y
            dots.append(d)
        cell = dots.index(max(dots))  # first-wins
        res = [x - y for x, y in zip(vu, cents[cell])]
        return cell, _pq_replicate(res, books, normalize=False)

    assert got == {i: replicate(v) for i, v in rows}
    assert set(v[0] for v in got.values()) <= {0, 1, 2}


def test_pq_topk_rescore_smaller_than_k(spark) -> None:
    from neo4j_graphrag_python_spark.operators.similarity import (
        build_pq_index,
        topk_pq,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(8)],
        ["vec_id", "embedding"],
    )
    codes, books = build_pq_index(df, m=1, num_centroids=4, sample_n=8)
    out = topk_pq(codes, df, books, [1.0, 1.0], k=10, rescore=3).collect()
    assert len(out) == 3


def test_pq_rescore_pushes_in_filter_to_scan(spark, tmp_path) -> None:
    """The rescore reads only the candidate ids: the In filter must reach
    the parquet scan (row-group pruning), not sit above a full read."""
    from neo4j_graphrag_python_spark.operators.similarity import (
        build_pq_index,
        topk_pq,
    )

    df = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(64)],
        ["vec_id", "embedding"],
    )
    p = str(tmp_path / "emb.parquet")
    df.write.parquet(p)
    emb = spark.read.parquet(p)
    codes, books = build_pq_index(emb, m=2, num_centroids=4, sample_n=64)
    out = topk_pq(codes, emb, books, [1.0] * 8, k=5, rescore=12)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "In(vec_id, [" in plan, plan
    assert len(out.collect()) == 5


def test_pq_codes_match_replication_on_gaussian_corpus(spark) -> None:
    """Every code of a 200-vector gaussian corpus equals the
    straight-line replication (float ties between distinct centroids are
    measure-zero here, so this checks the arithmetic, not the tie rule)."""
    import random as _r

    from neo4j_graphrag_python_spark.operators.similarity import (
        assign_pq_codes,
        fit_pq_codebooks,
    )

    rng = _r.Random(23)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)
    ]
    books = fit_pq_codebooks([v for _, v in rows], m=4, num_centroids=8)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["id"]: list(r["codes"])
        for r in assign_pq_codes(df, books).collect()
    }
    assert got == {i: _pq_replicate(v, books) for i, v in rows}


def test_linear_quality_classifier_matches_straightline(spark) -> None:
    """Score every doc against a tiny pinned model and replicate the
    bag-of-words logit in plain Python (scaled-long exactness)."""
    from neo4j_graphrag_python_spark.operators.text_analysis import (
        linear_quality_classifier,
    )
    import math

    vocab = [("good", 1.5), ("the", 0.25), ("spam", -2.0)]
    docs = [
        (1, "The GOOD the good  spam"),   # lower+trim; counts occurrences
        (2, "nothing matches here"),
        (3, ""),
        (4, "spam spam spam"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    vdf = spark.createDataFrame(vocab, ["token", "weight"])
    out = {
        r["id"]: r.asDict()
        for r in linear_quality_classifier(
            df, vdf, bias=-0.5, threshold=0.5
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}

    def expect(text):
        toks = text.lower().strip().split()
        w6 = sum(
            int(round(w * 1e6)) for t in toks for v, w in vocab if v == t
        )
        hits = sum(1 for t in toks for v, _ in vocab if v == t)
        logit = w6 / 1e6 - 0.5
        score = round(1 / (1 + math.exp(-logit)), 6)
        return hits, round(logit, 6), score, score >= 0.5

    for i, text in docs:
        hits, logit, score, keep = expect(text)
        got = out[i]
        assert (
            got["n_hits"], got["logit"], got["score"], got["keep"]
        ) == (hits, logit, score, keep), (i, got)


def test_linear_quality_classifier_broadcasts_and_drops_text(spark) -> None:
    """The vocab join must be a broadcast and the text column must not
    survive into the aggregation exchange."""
    from neo4j_graphrag_python_spark.operators.text_analysis import (
        linear_quality_classifier,
    )

    df = spark.createDataFrame(
        [(i, "a few words here") for i in range(100)], ["doc_id", "text"]
    )
    vdf = spark.createDataFrame([("words", 1.0)], ["token", "weight"])
    plan = (
        linear_quality_classifier(df, vdf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_ivfpq_partitioned_code_table_prunes_probes(spark, tmp_path) -> None:
    """The 10^9-vector operating shape: the (id, codes, bucket) table
    written bucket-partitioned makes the probe filter PARTITION PRUNING —
    the ADC scan reads only probed cells' files, and the result equals
    the in-memory path exactly."""
    import random as _r

    from neo4j_graphrag_python_spark.operators.similarity import (
        build_ivfpq_index,
        read_ann_index,
        topk_ivfpq,
        write_ann_index,
    )

    rng = _r.Random(31)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    rows = [
        (i, [x + rng.gauss(0, 0.3) for x in centers[i % 4]])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    coded, cents, books = build_ivfpq_index(
        df, num_centroids=4, m=4, pq_centroids=8, sample_n=300
    )
    path = str(tmp_path / "ivfpq_codes")
    write_ann_index(coded, path)
    disk = read_ann_index(spark, path)
    q = rows[5][1]
    mem = topk_ivfpq(coded, df, cents, books, q, k=5, nprobe=2, rescore=80)
    dsk = topk_ivfpq(disk, df, cents, books, q, k=5, nprobe=2, rescore=80)
    assert mem.collect() == dsk.collect()
    # the probe filter reaches the scan as partition pruning
    probe_plan = (
        disk.where(F.col("bucket").isin([0, 1]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in probe_plan and "bucket" in probe_plan
