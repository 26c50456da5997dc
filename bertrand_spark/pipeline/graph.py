"""Distributed connected components — the cluster step of near-dup dedup.

Near-dup detection (MinHash/SimHash/cosine — ``pipeline.dedup``) emits
*pairs*; deduplication needs *clusters* (every doc labeled with its
component, one canonical survivor kept per component).  Pair→cluster is
transitive closure, which Spark has no native operator for, so this module
implements the alternating **large-star / small-star** algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC'14):

* large-star(u): attach every neighbor v > u to m = min(Γ(u) ∪ {u})
* small-star(u): attach every neighbor v ≤ u (and u itself) to the
  minimum of those

Both rounds are a ``groupBy(node).min`` + a co-partitioned join — pure
shuffle-on-key, no global structure — and the alternation converges in
O(log² n) rounds (in practice 3-5 for dedup graphs, whose components are
small and star-like already).  This is the published scale-out algorithm:
each round touches each edge O(1) times, the only hotspot is a
high-degree component center, which is exactly the node the algorithm
re-attaches everything to (the star is the *output*, not a skew bug).

At 100 TB: edges (16-byte id pairs) are orders of magnitude smaller than
the corpus; per-round ``localCheckpoint`` cuts the iterative lineage so
round k does not replay rounds 1..k-1 (the same fix as x18's pipeline
checkpoint knob).  Reference analogue: none (the reference has no graph
ops); this is an engine extension in support of dedup, same status as the
MinHash pipeline itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import free_checkpoint

__all__ = ["connected_components", "cluster_labels", "dedup_keep_canonical"]


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set as distinct (hi > lo) pairs, self-loops dropped."""
    return (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
            F.least(F.col(src), F.col(dst)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Component labels for every node appearing in ``edges``.

    Returns ``(id, component)`` where ``component`` is the minimum node id
    in the node's connected component.  Nodes not in any edge are absent
    (add singletons with :func:`cluster_labels`).

    TWO-PHASE: alternates large-star / small-star (each round one
    checkpointed distributed job) while the edge count exceeds
    ``local_threshold``; once the (contracted) edge set is measurably
    small it is pulled to the driver (Arrow ``toPandas`` — two int64
    columns ≈ 16 B/edge, ~16 MB at the default; the union-find dict adds
    Python overhead on top, budget ~10× that on the driver heap) and
    finished with union-find in one pass.  The count comes free from
    the per-round fingerprint aggregate, so the collect is BOUNDED BY
    CONSTRUCTION — the same bounded-small contract as the candidate-id
    broadcasts elsewhere.  This is the production CC shape: star rounds
    shrink a billion-edge graph geometrically, but below memory scale
    each extra round is pure job-overhead (~1 s) that a local union-find
    replaces with microseconds.  Pass ``local_threshold=0`` to force the
    fully-iterative path, or lower it on a memory-tight driver.

    Fixpoint detection: count + order-insensitive xxhash64 aggregate —
    one tiny 1-row action per round, never a collect of unbounded data.

    Each round ``localCheckpoint``s the new edge set (cuts the iterative
    lineage) and frees the PREVIOUS round's checkpoint blocks — without
    the explicit unpersist every superseded round's materialized copy
    sits in executor storage until driver GC, which on a big edge set
    multiplies storage by the round count.
    """
    spark = edges.sparkSession

    def _local_finish(canon_df: DataFrame, pdf=None) -> DataFrame:
        """Union-find (path compression, min-id root) over a collected
        edge list; returns the same (id, component) schema.  ``pdf``:
        the already-pulled pandas edge list, when the caller's bounded
        probe pull covered the whole set (r15 — skips a second job)."""
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        # Arrow transfer + plain Python scalars: ~10-30x lighter on the
        # driver heap than a list of Row objects at the same edge count
        if pdf is None:
            pdf = canon_df.select("hi", "lo").toPandas()
        his = pdf["hi"].tolist()
        los = pdf["lo"].tolist()
        nodes = set(his)
        nodes.update(los)
        for h, l in zip(his, los):
            ra, rb = find(h), find(l)
            if ra != rb:
                # the smaller id stays the root → label = component min
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        from pyspark.sql.types import StructField, StructType

        dtype = canon_df.schema["hi"].dataType
        schema = StructType(
            [StructField("id", dtype), StructField("component", dtype)]
        )
        return spark.createDataFrame(
            [(n, find(n)) for n in sorted(nodes)], schema
        )

    # round 0 checkpoints the input edges; every round frees exactly its
    # predecessor's checkpoint (safe: nothing references it once the new
    # one is materialized), never an upstream cache materialized inside it
    canon = _canonical(edges, src, dst).localCheckpoint()

    def _fingerprint(e: DataFrame):
        # bit_xor, not sum: order-insensitive AND overflow-free under ANSI
        # mode; sound as a set fingerprint because the edge set is distinct
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(hi, lo))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    # round-0 probe (r15, guide §1.2: fewer jobs): the count-then-pull
    # pair — a fingerprint job deciding local-vs-distributed, then a
    # toPandas job — fuses into ONE bounded pull of at most
    # local_threshold+1 edges off the checkpoint.  A full pull means the
    # whole (already materialized) edge set is in hand → finish locally
    # without any further job; a truncated pull means the distributed
    # rounds are needed and the fingerprint runs as before.  The pull is
    # bounded by construction at any corpus size (CollectLimit), so the
    # driver contract is unchanged; the xxhash fingerprint is only ever
    # computed on the distributed path, where it gates the fixpoint.
    if local_threshold:
        probe = (
            canon.select("hi", "lo")
            .limit(local_threshold + 1)
            .toPandas()
        )
        if len(probe) <= local_threshold:
            out = _local_finish(canon, pdf=probe)
            free_checkpoint(canon)
            return out
        del probe

    prev = _fingerprint(canon)
    for _ in range(max_iter):
        if local_threshold and prev[0] <= local_threshold:
            # _local_finish materializes canon into the driver (toPandas)
            # and returns a locally-backed DataFrame, so this round's
            # checkpoint blocks are dead afterwards — free them here or
            # each per-micro-batch call (e.g. cluster_labels) leaks one
            # checkpointed edge set into executor storage until GC.
            out = _local_finish(canon)
            free_checkpoint(canon)
            return out
        # large-star: every canonical edge (hi, lo), seen from its smaller
        # endpoint lo, re-attaches hi to m(lo) = min(Γ(lo) ∪ {lo}).
        sym = canon.select("hi", "lo").union(
            canon.select(F.col("lo").alias("hi"), F.col("hi").alias("lo"))
        )  # (u=hi, v=lo) rows: every node's full neighbor list
        mins = sym.groupBy("hi").agg(
            # m = min(Γ(u) ∪ {u}): the node itself competes — without it a
            # locally-minimal node drops out of its own component
            F.least(F.min("lo"), F.first("hi")).alias("m")
        )
        large = (
            sym.filter(F.col("lo") > F.col("hi"))  # v > u: the re-attach set
            .join(mins, "hi")
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )

        # small-star: group canonical edges at their larger endpoint; with
        # m = min neighbor, attach every other small neighbor AND the
        # center itself to m.
        mins2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        part_center = mins2.select("hi", F.col("m").alias("lo"))
        part_small = (
            large.join(mins2, "hi")
            .filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        )
        prev_canon = canon
        canon = part_center.union(part_small).distinct().localCheckpoint()
        free_checkpoint(prev_canon)

        cur = _fingerprint(canon)
        if cur == prev:
            break
        prev = cur

    # fixpoint: stars — members are the hi side; centers label themselves
    members = canon.select(F.col("hi").alias("id"), F.col("lo").alias("component"))
    centers = canon.select(F.col("lo").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return members.union(centers)


def cluster_labels(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Label EVERY row of ``df``: component min for near-dup members,
    own id for singletons.  One broadcast-or-shuffle left join against the
    (small) component map."""
    comp = connected_components(pairs, src, dst)
    return (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
    )


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    prefer: str | None = None,
) -> DataFrame:
    """Drop all but one canonical member of each near-dup cluster.

    ``prefer=None`` keeps the minimum-id member.  ``prefer="<column>"``
    keeps the member with the HIGHEST value of that ``df`` column
    (quality score, length, recency-as-number, ...), ties broken by
    minimum id — "of these near-duplicates, keep the best one", which is
    what a curation run actually wants (the min-id pick is arbitrary).

    The anti-join side (non-canonical members) is exactly the component
    map minus its chosen representatives — small by construction
    (bounded by the number of near-dup docs, not the corpus).  With
    ``prefer`` the ranking window partitions by component over that same
    small member list (one hash shuffle of the members; the corpus
    itself still only anti-joins on its id).
    """
    comp = connected_components(pairs, src, dst)
    if prefer is None:
        drop = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        from pyspark.sql import Window

        scored = comp.join(
            df.select(
                F.col(id_col).alias("id"), F.col(prefer).alias("__sc")
            ),
            "id",
        )
        w = Window.partitionBy("component").orderBy(
            F.col("__sc").desc_nulls_last(), F.col("id")
        )
        drop = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
            .select(F.col("id").alias(id_col))
        )
    return df.join(drop, id_col, "left_anti")
