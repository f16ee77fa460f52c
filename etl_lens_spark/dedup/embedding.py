"""Embedding-cosine near-duplicate detection + duplicate clustering.

Near-dup pairs: vectors whose cosine similarity clears a threshold.
Two plans, one semantic (same split as similarity/knn.py):

- ``cosine_pairs`` — exact: self-join on ``id_a < id_b``, score every
  pair. Quadratic; the correctness baseline and the oracle at test sf.
- ``cosine_pairs_lsh`` — the 100 TB path: SRP-bucket both sides and
  score only within-bucket pairs (one equi-join shuffle on the bucket
  key, candidate count ~ n²/2^bits per band; recall tunable by number
  of bands).

Duplicate clustering: connected components over the near-dup pair
graph via iterative min-label propagation — each iteration is one
shuffle (join on edge endpoints + min-aggregate), converging in
O(diameter) ≤ O(log n) iterations for near-dup clusters (which are
small and dense). Lineage is truncated per iteration with
``freeze`` so the plan doesn't grow unboundedly — the classic
Spark iterative-algorithm discipline. No driver-side collect except
the O(1) convergence check.

The reference has no similarity machinery; this is [N] north-star
surface (SURVEY §2.3) built on the identity-key dedup idea of
``src/main.cpp:256-259`` generalized from exact keys to metric
neighborhoods.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_lens_spark.operators.staging import freeze, stage
from etl_lens_spark.similarity.knn import (
    _as_double,
    _srp_bits,
    dot,
    make_planes,
    norm,
)


def cosine_pairs(
    emb: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 100_000,
) -> DataFrame:
    """Exact near-dup pairs: all (a, b) with a < b and cosine >= tau.

    Returns (id_a, id_b, cos_sim). Quadratic BY DESIGN — the exactness
    oracle; ``cosine_pairs_lsh`` is the scale path. ``max_rows`` is a
    hard guard: the call fails fast (one cheap count job) rather than
    silently launching an O(n²) join on an oversized input. Raise it
    explicitly if you truly mean all-pairs.
    """
    # limit-probe: counts at most max_rows+1 rows (early-out scan)
    if emb.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"cosine_pairs is O(n²) and input has more than max_rows="
            f"{max_rows} rows; use cosine_pairs_lsh (the blocked scale "
            "path) or pass a larger max_rows explicitly"
        )
    # norms precomputed per side: the O(n²) stage does ONE dot product
    # per pair (array HOFs are interpreted, so per-pair work dominates)
    a = emb.select(
        F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("__va")
    ).withColumn("__na", norm(F.col("__va")))
    b = emb.select(
        F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("__vb")
    ).withColumn("__nb", norm(F.col("__vb")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        )
        .filter(F.col("cos_sim") >= tau)
        .select("id_a", "id_b", "cos_sim")
    )


def cosine_pairs_lsh(
    emb: DataFrame,
    tau: float,
    dim: int,
    n_bits: int = 8,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate near-dup pairs: SRP-bucket with ``n_bands``
    independent hash tables; a pair is scored iff it collides in at
    least one band (union of bands, then exact-cosine rescoring).

    Plan shape per band: add bucket column → self equi-join on
    (band, bucket) — a hash-partitioned shuffle whose per-bucket
    cardinality is n/2^bits expected, so the scored-pair count is
    ~ n²·bands/2^bits instead of n²/2. Dedup across bands happens on
    the (id_a, id_b) key before rescoring so each surviving pair's
    cosine is computed once.
    """
    base = emb.select(
        F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", norm(F.col("__v")))
    bands = []
    for band in range(n_bands):
        planes = make_planes(dim, n_bits, seed + band)
        keyed = base.withColumn("__bucket", _srp_bits(F.col("__v"), planes))
        a = keyed.select(
            F.col("__id").alias("id_a"),
            F.col("__v").alias("__va"),
            F.col("__n").alias("__na"),
            "__bucket",
        )
        b = keyed.select(
            F.col("__id").alias("id_b"),
            F.col("__v").alias("__vb"),
            F.col("__n").alias("__nb"),
            "__bucket",
        )
        bands.append(
            a.join(b, "__bucket").filter(F.col("id_a") < F.col("id_b"))
        )
    cands = bands[0]
    for extra in bands[1:]:
        cands = cands.unionByName(extra)
    cands = cands.dropDuplicates(["id_a", "id_b"])
    return (
        cands.withColumn(
            "cos_sim",
            dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        )
        .filter(F.col("cos_sim") >= tau)
        .select("id_a", "id_b", "cos_sim")
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by min-label propagation with pointer
    jumping.

    ``nodes``: one column ``node``; ``edges``: columns (``src``,
    ``dst``), undirected (either orientation). Returns (node,
    component) where component = min node id in the component.

    Each iteration does two hash-partitioned joins: (1) every node
    adopts min(own, neighbors') labels — one hop along edges; (2)
    pointer jumping, label(u) := label(label(u)) — which doubles the
    effective propagation distance, so convergence takes O(log
    diameter) iterations instead of O(diameter). ``edges`` is
    materialized ONCE up front (it is typically the expensive
    similarity-pair computation; referencing it lazily from both join
    orientations would run it twice). Lineage is truncated per
    iteration; the only driver-side action is the O(1) changed check.
    """
    from etl_lens_spark.operators.fixpoint import CHANGED_COL, iterate_fixpoint

    edges = stage(edges, "cc_edges")
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
        .dropDuplicates(["u", "v"])
        .transform(freeze, "bounded loop lineage")
    )

    labels0 = nodes.select(F.col("node"), F.col("node").alias("component"))

    def step(labels: DataFrame) -> DataFrame:
        neighbor_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("component").alias("nbr_min"))
        )
        hop = labels.join(
            neighbor_min, labels.node == neighbor_min.u, "left"
        ).select(
            "node",
            F.least(
                F.col("component"), F.coalesce("nbr_min", "component")
            ).alias("component"),
            (F.col("nbr_min") < F.col("component")).alias("__c1"),
        )
        ptr = hop.select(
            F.col("node").alias("__pn"), F.col("component").alias("__pc")
        )
        return hop.join(ptr, hop.component == ptr.__pn, "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("__pc", "component")
            ).alias("component"),
            (F.col("__c1") | (F.col("__pc") < F.col("component"))).alias(
                CHANGED_COL
            ),
        )

    return iterate_fixpoint(labels0, step, max_iter)
