"""The benchmark's workloads: seeded inputs, the product-path pass each
one times, the traced (layer-by-layer) mirror of that pass, and the
independent correctness oracles.

A product pass calls the library exactly as a user does
(``run_kg_pipeline``, ``run_similarity_resolution``,
``resolve_batch_incremental``).  A traced pass repeats the same call
sequence with the same arguments, one public layer function at a time,
inside ``Tracer.layer`` and with each layer's output materialized, so
Spark's task metrics can be attributed per layer.
"""

from __future__ import annotations

import itertools
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F

from neo4j_graphrag_python_spark import transcripts as tr
from neo4j_graphrag_python_spark.functions.fuzz import HAVE_RAPIDFUZZ, similarity
from neo4j_graphrag_python_spark.operators.assemble import assemble_documents
from neo4j_graphrag_python_spark.operators.extractor import (
    chunks_view,
    demo_rules,
    extract_from_documents,
    extract_graph_rows,
    regex_extractor,
    split_graph_rows,
)
from neo4j_graphrag_python_spark.operators.lexical import build_lexical_graph
from neo4j_graphrag_python_spark.operators.pruning import prune_graph
from neo4j_graphrag_python_spark.operators.resolver import (
    _resolve_texts,
    apply_merge_mapping,
    candidate_pairs_lsh,
    connected_components,
    prefilter_fuzzy_pairs,
    resolve_exact,
    score_pairs_fuzzy,
)
from neo4j_graphrag_python_spark.operators.splitter import split_fixed_size
from neo4j_graphrag_python_spark.operators.writer import checkpoint_stage
from neo4j_graphrag_python_spark.plans.pipeline import (
    run_kg_pipeline,
    run_similarity_resolution,
    triples_view,
)
from neo4j_graphrag_python_spark.schema import demo_schema
from neo4j_graphrag_python_spark.streaming.incremental import (
    resolve_batch_incremental,
)
from neo4j_graphrag_python_spark.types import PipelineConfig, SplitterConfig

#: transcripts scale factors.  kg_batch: 10k conversations, ~145k turns,
#: eleven 300-600-turn conversations.  kg_incremental: 2k conversations,
#: ~29k turns, three long ones.  Each is the largest at which a
#: run stays within about 70 s on a 4-core host; see README.md.
BATCH_SF = 0.05
INCREMENTAL_SF = 0.01
#: conversation-range batches of the incremental workload
BATCHES = 2
SPLITTER = SplitterConfig(600, 200, approximate=True)
FUZZY_THRESHOLD = 0.9
#: edge types the pipeline keeps out of resolution (run_kg_pipeline)
STRUCTURAL = ("NEXT_CHUNK", "FROM_DOCUMENT")

Triple = tuple[str, str, str]


@dataclass
class PassOutput:
    triples: set[Triple] = field(default_factory=set)
    batch_s: list[float] = field(default_factory=list)
    batch_cpu_s: list[float] = field(default_factory=list)
    #: (label, name) of entities before / after the fuzzy pass
    entities: set[tuple[str, str]] = field(default_factory=set)
    survivors: set[tuple[str, str]] = field(default_factory=set)
    fuzzy_scope: int = 0
    fuzzy_created: int = 0
    counters: dict[str, float] = field(default_factory=dict)


def _materialize(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


def _collect_triples(nodes: DataFrame, edges: DataFrame) -> set[Triple]:
    return {tuple(r) for r in triples_view(nodes, edges).collect()}


def _entity_names(nodes: DataFrame) -> set[tuple[str, str]]:
    rows = (
        nodes.where(F.col("is_entity"))
        .select("label", F.col("properties").getItem("name"))
        .collect()
    )
    return {(r[0], r[1]) for r in rows}


def _pipeline_config(checkpoint_dir: Path | None = None) -> PipelineConfig:
    return PipelineConfig(
        splitter=SPLITTER,
        checkpoint_dir=str(checkpoint_dir) if checkpoint_dir else None,
    )


def _extractor():
    return regex_extractor(demo_rules())


def check_triples(got: set[Triple], expected: set[Triple]) -> list[str]:
    if got == expected:
        return []
    return [
        f"triples: {len(got & expected)}/{len(expected)} expected found, "
        f"{len(got - expected)} unexpected"
    ]


def threshold_components(entities, threshold: float) -> dict:
    """Union-find over ``entities`` (key -> (label, name)): two keys join
    when their labels match and their names re-score >= ``threshold``
    under ``functions.fuzz.similarity``.  Returns key -> component root."""
    parent = {k: k for k in entities}

    def find(k):
        while parent[k] != k:
            parent[k] = parent[parent[k]]
            k = parent[k]
        return k

    for a, b in itertools.combinations(sorted(entities), 2):
        (la, na), (lb, nb) = entities[a], entities[b]
        if la == lb and similarity(na, nb) >= threshold:
            parent[find(a)] = find(b)
    return {k: find(k) for k in entities}


def check_fuzzy_merge(out: PassOutput, threshold: float) -> list[str]:
    """The fuzzy pass may only merge names joined by a chain of same-label
    pairs that re-score >= ``threshold`` offline, so every such component
    keeps at least one survivor."""
    problems = []
    if not out.survivors <= out.entities:
        problems.append("fuzzy: a surviving entity is not an input entity")
    if out.fuzzy_scope != len(out.entities):
        problems.append(
            f"fuzzy: {out.fuzzy_scope} in scope, {len(out.entities)} entities"
        )
    if out.fuzzy_created != len(out.survivors):
        problems.append(
            f"fuzzy: stats say {out.fuzzy_created} survivors, "
            f"output has {len(out.survivors)}"
        )
    root = threshold_components({e: e for e in out.entities}, threshold)
    covered = {root[s] for s in out.survivors & out.entities}
    orphans = [e for e in out.entities if root[e] not in covered]
    if orphans:
        problems.append(
            f"fuzzy: {len(orphans)} entities merged without a >= {threshold} "
            f"chain to a survivor, e.g. {orphans[0]}"
        )
    return problems


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class KgBatch:
    """Fused product path over the whole corpus, then the fuzzy pass."""

    name = "kg_batch"

    def __init__(self, work: Path, seed: int) -> None:
        self.work = work
        self.seed = seed

    def make_inputs(self) -> None:
        self.transcripts = tr.write_transcripts(
            self.work / "input" / "transcripts.parquet", BATCH_SF, self.seed
        )
        self.n_turns = pq.read_metadata(self.transcripts).num_rows
        self.expected = tr.expected_triples(BATCH_SF, self.seed)

    def run_pass(self, spark, tag: str, meter) -> PassOutput:
        out = PassOutput()
        with meter.batch(out):
            result = run_kg_pipeline(
                spark.read.parquet(str(self.transcripts)),
                _extractor(),
                demo_schema(),
                _pipeline_config(),
            )
            out.triples = _collect_triples(result.nodes, result.edges)
            fuzzy = run_similarity_resolution(
                result, method="fuzzy", similarity_threshold=FUZZY_THRESHOLD
            )
            out.survivors = _entity_names(fuzzy.nodes)
        # read for the check, outside the timed span
        out.entities = _entity_names(result.nodes)
        out.fuzzy_scope = fuzzy.resolution_stats.number_of_nodes_to_resolve
        out.fuzzy_created = fuzzy.resolution_stats.number_of_created_nodes
        spark.catalog.clearCache()
        return out

    def check(self, out: PassOutput) -> list[str]:
        return check_triples(out.triples, self.expected) + check_fuzzy_merge(
            out, FUZZY_THRESHOLD
        )

    def summary(self, out: PassOutput) -> str:
        return (
            f"{len(out.triples)} triples; fuzzy pass {len(out.entities)} -> "
            f"{len(out.survivors)} entities"
        )

    def traced_pass(self, spark, tracer, tag: str) -> PassOutput:
        cfg = _pipeline_config()
        with tracer.layer("assemble"):
            documents = _materialize(
                assemble_documents(spark.read.parquet(str(self.transcripts)))
            )
        with tracer.layer("extract"):
            graph_rows = checkpoint_stage(
                extract_from_documents(
                    documents,
                    _extractor(),
                    splitter_config=cfg.splitter,
                    on_error=cfg.on_error,
                    lexical_config=cfg.lexical,
                    num_partitions=cfg.extract_partitions,
                    fuse_max_doc_chars=cfg.fuse_max_doc_chars,
                    emit_chunk_rows=True,
                ),
                None,
                "graph_rows",
            )
        counters = _extract_counters(graph_rows)
        with tracer.layer("lexical"):
            chunks = checkpoint_stage(chunks_view(graph_rows), None, "chunks")
            lex_nodes, lex_edges = build_lexical_graph(
                documents, chunks, cfg.lexical
            )
            lex_nodes, lex_edges = _materialize(lex_nodes), _materialize(lex_edges)
        nodes, edges, stats = _prune_and_resolve(
            tracer, graph_rows, lex_nodes, lex_edges, cfg, None
        )
        counters.update(stats)
        with tracer.layer("triples"):
            out = PassOutput(triples=_collect_triples(nodes, edges))
        out.entities = _entity_names(nodes)
        fuzzy_nodes, _, fuzzy_counters = _traced_fuzzy(
            tracer, nodes, edges, FUZZY_THRESHOLD
        )
        out.survivors = _entity_names(fuzzy_nodes)
        out.fuzzy_scope = fuzzy_counters.pop("scope")
        out.fuzzy_created = fuzzy_counters.pop("created")
        counters.update(fuzzy_counters)
        out.counters = counters
        spark.catalog.clearCache()
        return out


class KgIncremental:
    """The same corpus fed as conversation-range batches, each through the
    checkpointed pipeline and then merged into a catalog database."""

    name = "kg_incremental"

    def __init__(self, work: Path, seed: int) -> None:
        self.work = work
        self.seed = seed

    def make_inputs(self) -> None:
        whole = tr.write_transcripts(
            self.work / "input" / "transcripts.parquet", INCREMENTAL_SF, self.seed
        )
        table = pq.read_table(whole)
        self.n_turns = table.num_rows
        n_convs = tr.n_convs_for_sf(INCREMENTAL_SF)
        self.batches = []
        for j in range(BATCHES):
            lo = f"conv{j * n_convs // BATCHES:07d}"
            hi = f"conv{(j + 1) * n_convs // BATCHES:07d}"
            conv = table["conv_id"]
            part = table.filter(
                pc.and_(pc.greater_equal(conv, lo), pc.less(conv, hi))
            )
            path = self.work / "input" / f"batch{j}.parquet"
            pq.write_table(part, path, row_group_size=50_000)
            self.batches.append(path)
        whole.unlink()
        self.expected = tr.expected_triples(INCREMENTAL_SF, self.seed)

    def _database(self, spark, tag: str) -> str:
        db = f"kgbench_{tag}"
        location = (self.work / "warehouse" / db).resolve().as_uri()
        spark.sql(f"CREATE DATABASE {db} LOCATION '{location}'")
        return db

    def _drop(self, spark, db: str, tag: str) -> None:
        spark.sql(f"DROP DATABASE {db} CASCADE")
        shutil.rmtree(self.work / "ckpt" / tag, ignore_errors=True)
        spark.catalog.clearCache()

    def run_pass(self, spark, tag: str, meter) -> PassOutput:
        db = self._database(spark, tag)
        out = PassOutput()
        for j, path in enumerate(self.batches):
            with meter.batch(out):
                result = run_kg_pipeline(
                    spark.read.parquet(str(path)),
                    _extractor(),
                    demo_schema(),
                    _pipeline_config(self.work / "ckpt" / tag / f"b{j}"),
                )
                resolve_batch_incremental(result.nodes, result.edges, f"{db}.kg")
        # checked outside the timed span: the merged catalog, read back
        out.triples = _catalog_triples(spark, db)
        self._drop(spark, db, tag)
        return out

    def check(self, out: PassOutput) -> list[str]:
        return check_triples(out.triples, self.expected)

    def summary(self, out: PassOutput) -> str:
        return f"{len(out.triples)} triples in the merged catalog"

    def traced_pass(self, spark, tracer, tag: str) -> PassOutput:
        db = self._database(spark, tag)
        counters: dict[str, float] = {}
        for j, path in enumerate(self.batches):
            ckpt = str(self.work / "ckpt" / tag / f"b{j}")
            cfg = _pipeline_config(Path(ckpt))
            with tracer.layer("assemble"):
                documents = _materialize(
                    assemble_documents(spark.read.parquet(str(path)))
                )
            with tracer.layer("split"):
                chunks = _materialize(split_fixed_size(documents, cfg.splitter))
            with tracer.layer("checkpoint"):
                chunks = checkpoint_stage(chunks, ckpt, "chunks")
            with tracer.layer("extract"):
                graph_rows = _materialize(
                    extract_graph_rows(
                        chunks,
                        _extractor(),
                        on_error=cfg.on_error,
                        lexical_config=cfg.lexical,
                        num_partitions=cfg.extract_partitions,
                    )
                )
            with tracer.layer("checkpoint"):
                graph_rows = checkpoint_stage(graph_rows, ckpt, "graph_rows")
            _add(counters, _extract_counters(graph_rows))
            with tracer.layer("lexical"):
                lex_nodes, lex_edges = build_lexical_graph(
                    documents, chunks, cfg.lexical
                )
                lex_nodes = _materialize(lex_nodes)
                lex_edges = _materialize(lex_edges)
            nodes, edges, stats = _prune_and_resolve(
                tracer, graph_rows, lex_nodes, lex_edges, cfg, ckpt
            )
            _add(counters, stats)
            with tracer.layer("incremental"):
                inc = resolve_batch_incremental(nodes, edges, f"{db}.kg")
            _add(
                counters,
                {
                    f"incremental.{k}": float(inc[k])
                    for k in ("exact_adopted", "new_canonicals")
                },
            )
            spark.catalog.clearCache()
        with tracer.layer("triples"):
            out = PassOutput(triples=_catalog_triples(spark, db), counters=counters)
        self._drop(spark, db, tag)
        return out


def _catalog_triples(spark, db: str) -> set[Triple]:
    return _collect_triples(
        spark.read.table(f"{db}.kg_nodes"), spark.read.table(f"{db}.kg_edges")
    )


def _add(acc: dict[str, float], more: dict[str, float]) -> None:
    for k, v in more.items():
        acc[k] = acc.get(k, 0) + v


def _extract_counters(graph_rows: DataFrame) -> dict[str, float]:
    by_status = {
        r["status"]: r["n"]
        for r in graph_rows.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    return {
        "extract.rows_out": float(sum(by_status.values())),
        "extract.rows_error": float(
            sum(n for s, n in by_status.items() if s != "ok")
        ),
    }


def _prune_and_resolve(tracer, graph_rows, lex_nodes, lex_edges, cfg, ckpt):
    """run_kg_pipeline's tail: union, prune, stage checkpoint, exact resolve."""
    entity_nodes, entity_edges = split_graph_rows(graph_rows)
    with tracer.layer("prune"):
        nodes = lex_nodes.unionByName(entity_nodes)
        edges = lex_edges.unionByName(entity_edges, allowMissingColumns=True)
        nodes, edges, _, _ = prune_graph(nodes, edges, demo_schema(), cfg.lexical)
        if ckpt:
            nodes, edges = _materialize(nodes), _materialize(edges)
    with tracer.layer("checkpoint" if ckpt else "prune"):
        nodes = checkpoint_stage(nodes, ckpt, "nodes_pre_resolve")
        edges = checkpoint_stage(edges, ckpt, "edges_pre_resolve")
    with tracer.layer("resolve_exact"):
        nodes, edges, stats = resolve_exact(
            nodes, edges, cfg.resolve_property, untouched_edge_types=STRUCTURAL
        )
        nodes, edges = _materialize(nodes), _materialize(edges)
    return nodes, edges, {
        "resolve_exact.mentions_in": float(stats.number_of_nodes_to_resolve),
        "resolve_exact.canonical_out": float(stats.number_of_created_nodes),
    }


def _traced_fuzzy(tracer, nodes, edges, threshold):
    """resolve_similarity(method="fuzzy") one public function at a time,
    with the same arguments it passes."""
    sc = nodes.sparkSession.sparkContext
    with tracer.layer("fuzzy.block"):
        texts = (
            _resolve_texts(nodes, ["name"])
            .coalesce(sc.defaultParallelism)
            .localCheckpoint(eager=False)
        )
        n_scope = texts.count()
        pairs = _materialize(candidate_pairs_lsh(texts, jaccard_distance=0.8))
        n_pairs = pairs.count()
    with tracer.layer("fuzzy.prefilter"):
        if not HAVE_RAPIDFUZZ:
            pairs = _materialize(prefilter_fuzzy_pairs(pairs, texts, threshold))
        n_kept = pairs.count()
    with tracer.layer("fuzzy.score"):
        scored = _materialize(
            score_pairs_fuzzy(pairs.repartition(sc.defaultParallelism))
        )
        matches = _materialize(scored.where(F.col("similarity") >= threshold))
        n_matches = matches.count()
    with tracer.layer("fuzzy.components"):
        comp = connected_components(matches.select("id_a", "id_b"))
        with_ord = comp.join(texts.select("id", "_ord"), "id")
        rep = with_ord.groupBy("canonical_id").agg(
            F.min_by("id", "_ord").alias("rep_id")
        )
        mapping = (
            with_ord.join(rep, "canonical_id")
            .select("id", F.col("rep_id").alias("canonical_id"))
            .localCheckpoint(eager=False)
        )
        n_merged = mapping.where(F.col("id") != F.col("canonical_id")).count()
    with tracer.layer("fuzzy.merge"):
        new_nodes, new_edges = apply_merge_mapping(nodes, edges, mapping)
        new_nodes, new_edges = _materialize(new_nodes), _materialize(new_edges)
    return new_nodes, new_edges, {
        "scope": n_scope,
        "created": n_scope - n_merged,
        "fuzzy.block.pairs": float(n_pairs),
        "fuzzy.prefilter.keep_ratio": n_kept / n_pairs if n_pairs else 1.0,
        "fuzzy.match_ratio": n_matches / n_kept if n_kept else 0.0,
    }


WORKLOADS = {w.name: w for w in (KgBatch, KgIncremental)}
