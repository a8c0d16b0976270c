"""Entity linking + canonicalization vs the golden alias clusters
(FIXTURES.md F4: pairwise precision/recall must be 1.0 at small scale).
The typo variants (e.g. "Samsonn AG") are reachable ONLY through the
MinHash-LSH + Jaccard path, so this also proves the fuzzy blocking is
load-bearing."""

from itertools import combinations

from pdf2ontology_spark.operators import components, linking
from pdf2ontology_spark.plans.pipeline import run_kg_pipeline
from pdf2ontology_spark.sources import tables
from pdf2ontology_spark import synth


def _pairs(groups: dict) -> set:
    out = set()
    for members in groups.values():
        out |= {tuple(sorted(p)) for p in combinations(set(members), 2)}
    return out


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")], "src string, dst string"
    )
    got = {r.node: r.component for r in components.connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_gather_equals_loop(spark):
    """Round-7 single-task gather finisher must produce the identical
    labels as the iterative min-label loop (forced via
    gather_threshold=0) — chains, a cycle, and a singleton edge."""
    edges = spark.createDataFrame(
        [("d", "c"), ("c", "b"), ("b", "a"), ("m", "n"), ("n", "o"), ("o", "m"), ("z", "q")],
        "src string, dst string",
    )
    fast = {r.node: r.component for r in components.connected_components(edges).collect()}
    slow = {
        r.node: r.component
        for r in components.connected_components(edges, gather_threshold=0).collect()
    }
    assert fast == slow == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "m": "m", "n": "m", "o": "m", "q": "q", "z": "q",
    }


def test_org_clusters_pairwise_exact(spark):
    trips = run_kg_pipeline(spark, "/root/testdata/sf0.001")["triples"]
    out = linking.canonicalize(trips)
    mapping = (
        out["mapping"].filter("entity_type = 'organization'").select("name", "canonical_id")
    ).collect()
    pred_groups: dict = {}
    for r in mapping:
        pred_groups.setdefault(r.canonical_id, []).append(r.name)

    # golden: cluster_id per surface form, restricted to names that occur
    golden = {
        v: i for i, cluster in enumerate(synth.ORG_CLUSTERS) for v in cluster
    }
    present = {r.name for r in mapping}
    gold_groups: dict = {}
    for name in present:
        gold_groups.setdefault(golden[name], []).append(name)

    pred_pairs, gold_pairs = _pairs(pred_groups), _pairs(gold_groups)
    assert pred_pairs == gold_pairs, (
        pred_pairs - gold_pairs,
        gold_pairs - pred_pairs,
    )
    # the typo variant must be present and linked (fuzzy path load-bearing)
    typo_present = [n for n in present if n in ("Samsonn AG", "Acmee GmbH", "TechCorpp Ltd")]
    assert typo_present, "generator should emit typo variants at sf0.001"


def _synth_reps(spark, n, seed=13):
    """Rep surfaces: normalized keys of mixed length — short codes,
    name+suffix near-dups, and long descriptors — within one type."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        base = f"anlage {rng.randrange(n // 4)} kreis {rng.randrange(9)}"
        kind = i % 4
        if kind == 0:
            key = base
        elif kind == 1:
            key = base + " x"  # near-dup variant of kind-0 keys
        elif kind == 2:
            key = f"k{i % 97}"  # short code
        else:
            key = base + " sehr langes beschreibungs suffix " + str(i)
        rows.append((f"s{i:06d}", "organization", key))
    return spark.createDataFrame(rows, "surface_id string, entity_type string, key string")


def _prefiltered(base):
    """Distinct band pairs that pass the size prefilter."""
    return linking.prefiltered_pairs(base).select("id_a", "id_b").distinct()


def test_prefilter_equivalence_and_volume(spark):
    """The size prefilter must (a) change NOTHING about the verified
    pair set vs exact-verifying every band candidate, and (b) drop
    most mixed-length band collisions before the array
    intersect/union — the 100x-reps guard from VERDICT r3 #7."""
    from pyspark.sql import functions as F

    reps = _synth_reps(spark, 600)
    base = linking._fuzzy_base(reps)
    got = {(r.id_a, r.id_b) for r in linking.candidate_pairs(reps).collect()}

    # unprefiltered reference: exact Jaccard over ALL band candidates
    grams_dim = base.select("surface_id", "grams")
    ref = (
        linking.banded_candidates(base)
        .join(grams_dim.withColumnRenamed("surface_id", "id_a").withColumnRenamed("grams", "ga"), "id_a")
        .join(grams_dim.withColumnRenamed("surface_id", "id_b").withColumnRenamed("grams", "gb"), "id_b")
        .withColumn(
            "j", F.size(F.array_intersect("ga", "gb")) / F.size(F.array_union("ga", "gb"))
        )
        .filter(F.col("j") >= linking.JACCARD_THRESHOLD)
    )
    assert got == {(r.id_a, r.id_b) for r in ref.collect()}

    raw = linking.banded_candidates(base).count()
    kept = _prefiltered(base).count()
    assert kept < raw, (kept, raw)
    # mixed-length band collisions must be dropped before verification
    assert kept <= 0.8 * raw, f"prefilter only kept {kept}/{raw}"


def test_prefilter_never_drops_true_pairs(spark):
    """Adversarial: pairs exactly AT the size boundary (min = t*max)
    must survive the prefilter (the epsilon guards float rounding)."""
    # 3-gram sets: key of 5 grams vs superset of... build keys where
    # gram counts are exactly 6 and 10 (0.6 ratio), one a subset
    rows = [
        ("a1", "organization", "abcdefgh"),   # grams: abc..fgh = 6
        ("a2", "organization", "abcdefghijkl"),  # grams: 10, superset
    ]
    reps = spark.createDataFrame(rows, "surface_id string, entity_type string, key string")
    base = linking._fuzzy_base(reps)
    pre = {(r.id_a, r.id_b) for r in _prefiltered(base).collect()}
    raw = {(r.id_a, r.id_b) for r in linking.banded_candidates(base).collect()}
    # if the LSH bands collide for this pair, the prefilter must keep it
    # (Jaccard = 6/10 = threshold exactly)
    assert pre == raw


def _explode_groupby_banded(base):
    """Reference LSH blocking: the per-surface signature as a shingle
    explode + groupBy min of md5('i:'||gram), then the same banding."""
    from pyspark.sql import functions as F

    sh = base.select("surface_id", "entity_type", F.explode("grams").alias("shingle"))
    sig = sh.groupBy("surface_id", "entity_type").agg(
        *[
            F.expr(f"min(substring(md5(concat('{i}:', shingle)), 1, 16)) AS mh_{i}")
            for i in range(linking.LSH_K)
        ]
    )
    r = linking.LSH_K // linking.LSH_BANDS
    bands = sig.select(
        "surface_id",
        "entity_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws("|", *[F.col(f"mh_{b * r + j}") for j in range(r)])
                        ).alias("band_key"),
                    )
                    for b in range(linking.LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("surface_id", "entity_type", "bb.band", "bb.band_key")
    a = bands.withColumnRenamed("surface_id", "id_a")
    b = bands.withColumnRenamed("surface_id", "id_b")
    return (
        a.join(b, ["entity_type", "band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def test_inrow_signature_equals_explode_groupby(spark):
    """The in-row ``array_min`` signature bands exactly like the
    explode + groupBy signature: on the mixed-length fixture, on null,
    empty and 1-char keys, and with null/empty gram arrays (no
    signature: never banded)."""

    def pairs(df):
        return {(r.id_a, r.id_b) for r in df.collect()}

    big = linking._fuzzy_base(_synth_reps(spark, 600))
    got = pairs(linking.banded_candidates(big))
    assert got == pairs(_explode_groupby_banded(big))
    assert len(got) == 88729  # raw band pairs of the explode + groupBy form

    edge_keys = [None, None, "", "", "a", "a", "b", "ab", "ab ", "abc", "abcd"]
    reps = spark.createDataFrame(
        [(f"e{i:02d}", "organization", k) for i, k in enumerate(edge_keys)],
        "surface_id string, entity_type string, key string",
    )
    edge = linking._fuzzy_base(reps)
    got = pairs(linking.banded_candidates(edge))
    assert got == pairs(_explode_groupby_banded(edge))
    assert {("e00", "e01"), ("e02", "e03"), ("e04", "e05")} <= got

    no_grams = spark.createDataFrame(
        [
            ("n1", "organization", "x", None),
            ("n2", "organization", "y", []),
            ("n3", "organization", "z", []),
            ("g1", "organization", "abc", ["abc"]),
            ("g2", "organization", "abc", ["abc"]),
        ],
        "surface_id string, entity_type string, key string, grams array<string>",
    )
    got = pairs(linking.banded_candidates(no_grams))
    assert got == pairs(_explode_groupby_banded(no_grams)) == {("g1", "g2")}


def test_canonical_graph_integrity(spark):
    trips = run_kg_pipeline(spark, "/root/testdata/sf0.001")["triples"]
    out = linking.canonicalize(trips)
    nodes, edges = out["nodes"], out["edges"]
    node_ids = {r.canonical_id for r in nodes.select("canonical_id").collect()}
    for col in ("subject_id", "object_id"):
        missing = {r[0] for r in edges.select(col).distinct().collect()} - node_ids
        assert not missing
