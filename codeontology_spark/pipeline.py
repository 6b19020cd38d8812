"""End-to-end pipeline: source table → entities → triples (+ invariants).

Mirrors the reference's CodebaseProcessor.process_codebase control flow
(/root/reference/src/pipeline/processor.py:126-227) as one lazy DataFrame
DAG; the only materialization points are an explicit persist of the entity
table (scanned by several emission projections) and the final write.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .emit import dedup_colliding_uris, triples_from_entities
from .extract import extract_entities, source_filter


@dataclass
class BuildResult:
    entities: DataFrame
    triples: DataFrame
    raw_entities: DataFrame | None = None  # the persisted pre-dedup stage

    def unpersist(self) -> None:
        if self.raw_entities is not None:
            self.raw_entities.unpersist()


def build_graph(
    source_df: DataFrame,
    apply_filters: bool = True,
    repartition: int | None = None,
    persist: bool = True,
    mode: str = "treesitter",
) -> BuildResult:
    """source rows → (entities, triples). Both returned lazily; entities is
    persisted because emission fans out into several projections over it.
    mode='fallback' runs the reference's regex-degraded parser semantics."""
    ents = extract_entities(
        source_df, apply_filters=apply_filters, repartition=repartition, mode=mode
    )
    if persist:
        # persist BEFORE the dedup split: dedup_colliding_uris unions two
        # branches over this subtree and Catalyst does no subplan CSE, so an
        # unpersisted extraction would run the Python stage twice (and the
        # ~10 emission projections many more times)
        ents = ents.persist(StorageLevel.MEMORY_AND_DISK)
    raw = ents if persist else None
    ents = dedup_colliding_uris(ents)
    triples = triples_from_entities(ents)
    return BuildResult(entities=ents, triples=triples, raw_entities=raw)


def verify_content_invariant(source_df: DataFrame, entities: DataFrame) -> DataFrame:
    """Per-row invariant (BASELINE.json): the module row's content sha256
    must equal sha2(content, 256) of the source table. Returns rows that
    VIOLATE the invariant (empty = pass). Anti-join keeps it one shuffle."""
    src = source_df.select(
        "repo", "path", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("content_sha256")
    )
    mods = entities.filter(F.col("kind") == "module").select("repo", "path", "content_sha256")
    return mods.join(src, on=["repo", "path", "content_sha256"], how="left_anti")


def changed_files(source_df: DataFrame, prev_state: DataFrame) -> DataFrame:
    """A3 change-detection anti-join (processor.py:306-319): skip files whose
    content hash is unchanged since the previous run. prev_state columns:
    (repo, path, content_sha256)."""
    cur = source_df.withColumn(
        "content_sha256", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256)
    )
    return cur.join(
        prev_state.select("repo", "path", "content_sha256"),
        on=["repo", "path", "content_sha256"],
        how="left_anti",
    ).drop("content_sha256")


def infer_patterns(entities: DataFrame) -> DataFrame:
    """A15 pattern inference (processor.py:370-438): name-heuristic design
    patterns (singleton / factory-or-create), module dependency rollup from
    import entities, and exported API boundaries. The reference only PRINTS
    these (no triples are emitted — the emission layer stays unchanged for
    fidelity); here the same findings come back as one labeled DataFrame
    (repo, finding, uri, detail) so they are queryable."""
    name_lc = F.lower(F.col("name"))
    singleton = entities.filter(name_lc.contains("singleton")).select(
        "repo", F.lit("singleton").alias("finding"), "uri",
        F.col("name").alias("detail"),
    )
    factory = entities.filter(
        name_lc.contains("factory") | name_lc.contains("create")
    ).select(
        "repo", F.lit("factory").alias("finding"), "uri",
        F.col("name").alias("detail"),
    )
    module_deps = entities.filter(F.col("kind") == "import").select(
        "repo", F.lit("module_dependency").alias("finding"), "uri",
        F.col("module_path").alias("detail"),
    )
    api = entities.filter(F.col("is_exported")).select(
        "repo", F.lit("public_api").alias("finding"), "uri",
        F.col("name").alias("detail"),
    )
    return (
        singleton.unionByName(factory).unionByName(module_deps).unionByName(api)
    )


def graph_stats(triples: DataFrame) -> DataFrame:
    """B16 get_entity_count (ontology_builder.py:396-418): COUNT(*) GROUP BY
    rdf:type over instance triples."""
    return (
        triples.filter(F.col("pred") == "rdf:type")
        .groupBy(F.col("obj").alias("entity_type"))
        .count()
        .orderBy(F.desc("count"), "entity_type")
    )


__all__ = [
    "BuildResult",
    "build_graph",
    "changed_files",
    "graph_stats",
    "infer_patterns",
    "source_filter",
    "verify_content_invariant",
]
