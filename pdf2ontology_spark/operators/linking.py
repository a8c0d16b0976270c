"""Entity linking beyond exact-name match (SURVEY.md §1.4/§7.2): name
normalization, MinHash-LSH blocking over character 3-gram shingles,
exact-Jaccard verification, connected-components canonicalization, and
graph rebuild on canonical ids.

This populates the reference's declared-but-never-written
Entity.canonical_form / entity dedup beyond exact name
(/root/reference/src/pydantic_models/knowledge_models.py:43-46; exact
name map at triplet_extractor.py:253-272).

Pipeline (all DataFrame ops):
1. surfaces: distinct (name, entity_type) with a normalized key
   (graph.canonical_key_col) — value-like types (numeric/date) keep
   exact keys and never enter fuzzy blocking.
2. exact-key contraction: every (key, entity_type) group is collapsed to
   its min-surface_id representative with ONE window/groupBy — exact-key
   pairs form cliques, so contracting them first yields identical
   connected components while the iterative CC loop only ever sees the
   (tiny) fuzzy bridge edges between group representatives. This removed
   the O(group²) exact self-join pairs and most CC work (round-1 profile:
   canonicalize was the most expensive bench query).
3. fuzzy pairs between representatives = MinHash-LSH band match AND
   char-3-gram Jaccard >= threshold. LSH bounds the self-join; the
   Jaccard check removes banding false positives. Signatures are
   computed once per distinct key, not once per surface, and in-row
   (``array_min`` over the rep's gram digests: no shingle explode, no
   groupBy exchange). The gram arrays ride the band rows, so the size
   prefilter and the exact Jaccard run on the band join's own output:
   no gram-dimension joins, one pair ``distinct``; the candidate plan
   has 4 exchanges, not 10. The arrays crossing the band join shuffle
   fewer bytes than the shingle groupBy and the two dimension joins
   they replace: canonicalize shuffled 401 KB vs 506 KB on a traced
   sf0.001 pass (perfbench ``operators.linking.shuffle_bytes``).
4. connected components (components.connected_components) over the
   bridge edges — iterative self-joins, the north-rule canonicalization.
5. canonical_nodes/canonical_edges: groupBy component, representative =
   most frequent surface form; edges remapped via an id -> component
   broadcast-size dimension join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdf2ontology_spark.operators import components, graph

JACCARD_THRESHOLD = 0.6
LSH_K = 12
LSH_BANDS = 6


def _char_shingles_expr(col_name: str, n: int = 3) -> Column:
    """Distinct character n-grams of a (normalized) string."""
    c = F.col(col_name)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
            lambda i: c.substr(i, F.lit(n)),
        )
    )


def surfaces(triples: DataFrame) -> DataFrame:
    """Distinct mention surfaces with canonical keys and stable ids."""
    return (
        graph.mentions(triples)
        .groupBy("name", "entity_type")
        .agg(F.count("*").cast("long").alias("n"), F.max("confidence").alias("max_conf"))
        .withColumn("key", graph.canonical_key_col(F.col("name"), F.col("entity_type")))
        .withColumn("surface_id", F.sha2(F.concat_ws("\x1f", "name", "entity_type"), 256))
    )


def exact_contract(surf: DataFrame) -> DataFrame:
    """surf + rep_id: min surface_id over each exact (key, entity_type)
    group. Exact-key candidate pairs are cliques by construction, so this
    single window aggregation replaces the exact self-join AND shrinks
    the connected-components input to one node per distinct key."""
    w = Window.partitionBy("key", "entity_type")
    return surf.withColumn("rep_id", F.min("surface_id").over(w))


def _fuzzy_base(reps: DataFrame) -> DataFrame:
    """Non-value-type reps with their char-3-gram arrays."""
    s = reps.select("surface_id", "entity_type", "key")
    return s.filter(~F.col("entity_type").isin(graph.VALUE_TYPES)).withColumn(
        "grams", _char_shingles_expr("key")
    )


def band_pairs(fuzzy_base: DataFrame) -> DataFrame:
    """LSH band-collision rows (id_a < id_b), one per colliding band,
    each carrying both gram arrays (ga, gb) — the blocking stage, before
    any verification. Reps with null or empty ``grams`` have no
    signature and stay out of banding."""
    # LSH_K independent md5('i:'||gram) digests per gram — NOT the
    # document dedup's one-digest mix family: the surfaces input is
    # tiny (distinct normalized keys, ~8 grams each) so the digest
    # cost is immaterial here, while the recall of specific near-dup
    # name pairs is fixture-pinned (tests/test_linking.py) and the
    # banding draw of this family is the one those pins encode.
    # In-row: the min over a rep's own gram array equals the
    # explode + groupBy-per-surface min (tests/test_linking.py), with
    # no exchange; SQL strings, one parse per slot (see dedup.simhash)
    mh = [
        F.expr(f"array_min(transform(grams, g -> substring(md5(concat('{i}:', g)), 1, 16)))")
        for i in range(LSH_K)
    ]
    r = LSH_K // LSH_BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *mh[b * r : (b + 1) * r])).alias("band_key"),
        )
        for b in range(LSH_BANDS)
    ]
    bands = (
        fuzzy_base.filter(F.size("grams") > 0)
        .select("surface_id", "entity_type", "grams", F.explode(F.array(*band_structs)).alias("bb"))
        .select("surface_id", "entity_type", "grams", "bb.band", "bb.band_key")
    )
    a = bands.select(
        F.col("surface_id").alias("id_a"), F.col("grams").alias("ga"),
        "entity_type", "band", "band_key",
    )
    b = bands.select(
        F.col("surface_id").alias("id_b"), F.col("grams").alias("gb"),
        "entity_type", "band", "band_key",
    )
    return (
        a.join(b, ["entity_type", "band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ga", "gb")
    )


def banded_candidates(fuzzy_base: DataFrame) -> DataFrame:
    """Distinct raw LSH band-collision pairs (id_a, id_b)."""
    return band_pairs(fuzzy_base).select("id_a", "id_b").distinct()


def prefiltered_pairs(fuzzy_base: DataFrame) -> DataFrame:
    """``band_pairs`` rows that pass the SIZE prefilter.
    Jaccard(A,B) <= min(|A|,|B|)/max(|A|,|B|), so ``min >= t*max``
    (epsilon-slack so float rounding can only over-admit, never wrongly
    drop) is a NECESSARY condition for the threshold — a pure
    prefilter: every surviving pair still gets the exact Jaccard
    verification, so no approximation (hash or otherwise) can ever
    create a false link. It spares the array intersect/union of
    mixed-length band collisions."""
    na, nb = F.size("ga"), F.size("gb")
    return band_pairs(fuzzy_base).filter(
        F.least(na, nb) >= F.lit(JACCARD_THRESHOLD) * F.greatest(na, nb) - F.lit(1e-9)
    )


def candidate_pairs(reps: DataFrame) -> DataFrame:
    """Fuzzy (id_a, id_b) bridge links between exact-group reps, within
    entity_type. Only non-value types; minhash over char-3-grams of the
    key, banded (LSH_BANDS bands of LSH_K/LSH_BANDS rows); band matches
    pass the size prefilter (``prefiltered_pairs``) and are then
    verified with exact Jaccard >= threshold, both on the band join's
    own rows.

    ``reps`` needs (surface_id, entity_type, key) — one row per distinct
    key (the exact-group representative).
    """
    jaccard = F.size(F.array_intersect("ga", "gb")) / F.size(F.array_union("ga", "gb"))
    return (
        prefiltered_pairs(_fuzzy_base(reps))
        .filter(jaccard >= JACCARD_THRESHOLD)
        .select("id_a", "id_b")
        .distinct()
    )


def canonicalize(triples: DataFrame) -> dict[str, DataFrame]:
    """Full LSH + connected-components canonicalization.

    Returns {surfaces, mapping, nodes, edges}: mapping is
    (surface_id -> canonical_id); nodes/edges are the canonical graph.
    Output is identical to running CC over exact ∪ fuzzy surface pairs:
    component labels are min surface_id, and each group rep IS the min
    surface_id of its exact group.
    """
    surf = exact_contract(surfaces(triples)).cache()
    # one aggregation instead of projecting the window result and
    # re-shuffling it through a distinct (round 7): min surface_id per
    # exact (key, entity_type) group IS the group's rep_id
    reps = surf.groupBy("key", "entity_type").agg(
        F.min("surface_id").alias("surface_id")
    ).select("surface_id", "entity_type", "key")
    pairs = candidate_pairs(reps)
    comp = components.connected_components(pairs, "id_a", "id_b")
    mapping = (
        surf.join(comp.withColumnRenamed("node", "rep_id"), "rep_id", "left")
        .withColumn("canonical_id", F.coalesce("component", "rep_id"))
        .select("surface_id", "name", "entity_type", "n", "max_conf", "canonical_id")
    )
    nodes = mapping.groupBy("canonical_id").agg(
        F.min_by("name", F.struct((-F.col("n")).alias("nn"), F.col("name"))).alias(
            "canonical_form"
        ),
        F.min_by("entity_type", F.struct((-F.col("n")).alias("nn"), F.col("name"))).alias(
            "entity_type"
        ),
        F.array_sort(F.collect_set("name")).alias("aliases"),
        F.sum("n").cast("long").alias("mention_count"),
        F.max("max_conf").alias("confidence"),
    )

    m_subj = mapping.select(
        F.col("name").alias("subj_name"),
        F.col("entity_type").alias("subj_type"),
        F.col("canonical_id").alias("subject_id"),
    )
    m_obj = mapping.select(
        F.col("name").alias("obj_name"),
        F.col("entity_type").alias("obj_type"),
        F.col("canonical_id").alias("object_id"),
    )
    edges = (
        triples.join(m_subj, ["subj_name", "subj_type"])
        .join(m_obj, ["obj_name", "obj_type"])
        .groupBy("subject_id", "predicate", "object_id")
        .agg(
            F.count("*").cast("double").alias("weight"),
            F.max("confidence").alias("confidence"),
        )
        .withColumn(
            "edge_id",
            F.sha2(F.concat_ws("\x1f", "subject_id", "predicate", "object_id"), 256),
        )
        .select("edge_id", "subject_id", "predicate", "object_id", "weight", "confidence")
    )
    return {"surfaces": surf, "pairs": pairs, "mapping": mapping, "nodes": nodes, "edges": edges}
