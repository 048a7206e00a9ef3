"""P5: canonicalization — connected components over synonym/xref edges.

The north rule's canonicalize stage: concepts that share a normalized
synonym term or an alternate-code xref collapse to one canonical CUI
(smallest CUI in the component, deterministic). The reference has no
explicit equivalent — its UMLS input is already CUI-canonical — but the
stage is required for multi-vocabulary merges (e.g. OBO + RRF loads where
the same entity carries two codes).

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014) — each round is two
groupBy shuffles keyed on node, converges in O(log^2 n) rounds on any
graph and O(log n) in practice; no driver-side state besides the
convergence counter. This is the standard Spark CC formulation that scales
to billions of edges (GraphFrames uses the same scheme).

When the driver already holds the ``Dictionary`` (the match stage
broadcasts it), ``dictionary_canonical_map`` computes the same map with a
union-find over ``term_map`` — the map is dictionary-scale, like the
broadcast — and the Spark path stays the reference it is tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..terminology.storage import Dictionary


def synonym_edges(term_index: DataFrame) -> DataFrame:
    """term_index(term, cuis) -> undirected edges between co-synonymous
    CUIs. Pairs are emitted against the per-term minimum CUI (star, not
    clique): |cuis|-1 edges per term instead of |cuis|^2/2 — same
    components, linear edge count even for hot synonym terms."""
    hub = F.array_min("cuis")
    return (term_index
            .where(F.size("cuis") > 1)
            .select(hub.alias("src"), F.explode("cuis").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct())


def xref_edges(code_xref: DataFrame) -> DataFrame:
    """code_xref(code, cui): two CUIs sharing one alternate code merge.

    ``build_tables``' ``code_xref`` keeps the first concept per code
    (``addConcept`` putIfAbsent, like ``Dictionary.code_map``), so on it
    every code has one CUI and these edges are always empty; they only
    arise from an xref table that lists several CUIs per code."""
    grouped = (code_xref.groupBy("code")
               .agg(F.sort_array(F.collect_set("cui")).alias("cuis"))
               .where(F.size("cuis") > 1))
    return (grouped.select(F.element_at("cuis", 1).alias("src"),
                           F.explode("cuis").alias("dst"))
            .where(F.col("src") != F.col("dst")))


def connected_components(edges: DataFrame, max_iter: int = 15) -> DataFrame:
    """edges(src, dst) -> components(cui, canonical_cui).

    Hash-min label propagation: every node starts labeled with itself and
    repeatedly takes the min of its own and its neighbors' labels. Rounds =
    graph diameter; synonym/xref graphs are unions of near-stars (hub =
    per-term min CUI from synonym_edges), so diameter is tiny (<=4) and
    each round is one shuffle join + one aggregation. For adversarial
    long-chain graphs at larger scale, swap in the alternating
    large-star/small-star scheme (Kiveris et al. 2014, O(log^2 n) rounds) —
    same (cui, canonical_cui) contract. Deterministic: min over string
    labels; convergence checked with an isEmpty() probe per round. Raises
    ``RuntimeError`` when the last of ``max_iter`` rounds still changed a
    label, instead of returning a partial labeling.
    """
    # symmetric edge list
    e = (edges.select("src", "dst")
         .unionByName(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
         .where(F.col("src") != F.col("dst"))
         .distinct())

    # each round references `labels` twice (neighbor flow + self), so the
    # logical plan would DOUBLE per iteration; localCheckpoint eagerly
    # truncates lineage — without it analysis OOMs after ~12 rounds
    e = e.localCheckpoint()
    labels = (e.select(F.col("src").alias("cui"))
              .distinct()
              .withColumn("label", F.col("cui"))
              .localCheckpoint())
    for _ in range(max_iter):
        nbr = (e.join(labels.withColumnRenamed("cui", "dst"), "dst")
               .groupBy("src").agg(F.min("label").alias("nbr_label"))
               .withColumnRenamed("src", "cui"))
        new_labels = (labels.join(nbr, "cui", "left")
                      .select("cui",
                              F.least("label", F.coalesce("nbr_label", "label"))
                              .alias("label"))
                      .localCheckpoint())
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "cui")
                   .where(F.col("n.label") != F.col("o.label")))
        labels = new_labels
        if changed.isEmpty():
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changed in round "
            f"max_iter={max_iter}; a component's diameter exceeds the cap")

    return labels.select("cui", F.col("label").alias("canonical_cui"))


def canonical_map(term_index: DataFrame, code_xref: DataFrame | None = None,
                  ) -> DataFrame:
    """Full P5: synonym + xref edges -> (cui, canonical_cui) mapping.

    With ``build_tables``' first-wins ``code_xref`` the xref edges are
    empty (see ``xref_edges``), so ``canonical_map(ti, xr)`` equals
    ``canonical_map(ti)``."""
    e = synonym_edges(term_index)
    if code_xref is not None:
        e = e.unionByName(xref_edges(code_xref)).distinct()
    return connected_components(e)


def dictionary_canonical_map(spark: SparkSession, dico: Dictionary
                             ) -> DataFrame:
    """P5 on the driver: the (cui, canonical_cui) map of a driver-held
    ``Dictionary``, by union-find over the ``term_map`` entries with more
    than one CUI; each component maps to its smallest CUI (Python string
    order is code-point order, the same as Spark's UTF-8 ``min``).

    Equals ``canonical_map`` over ``build_terminology``'s ``term_index``
    of the same concepts (pinned in tests), except that it reads the terms
    the matcher uses, where ``build_terminology`` re-selects preferred
    names from PT/PN terms first. Xref edges are skipped because
    ``code_map`` holds one CUI per code. Unlike the Spark path it has no
    round cap, so long synonym chains resolve fully. One partition: the
    map is dictionary-scale and is broadcast where it is used."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for cuis in dico.term_map.values():
        if len(cuis) < 2:
            continue
        for c in cuis:
            parent.setdefault(c, c)
        root = find(cuis[0])
        for c in cuis[1:]:
            other = find(c)
            # the smaller root wins, so every root is its component's min
            root, loser = min(root, other), max(root, other)
            parent[loser] = root
    rows = sorted((c, find(c)) for c in parent)
    return spark.createDataFrame(
        rows, "cui string, canonical_cui string").coalesce(1)


def canonicalize_mentions(mentions: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite mention CUIs to canonical ones; unmapped CUIs (singleton
    components) stay as-is. Mapping is dictionary-scale -> broadcast."""
    return (mentions.join(F.broadcast(mapping), "cui", "left")
            .withColumn("cui", F.coalesce("canonical_cui", "cui"))
            .drop("canonical_cui"))
