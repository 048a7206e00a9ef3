"""G-group + P5 tests: ancestor closure over the fixture ISA diamond,
paths-to-root limits, ancestry semi-join, connected-components
canonicalization (Spark and dictionary paths), and canonical triple
materialization."""

import random
from collections import deque

import pytest
from pyspark.sql import functions as F

from nobletools_spark.graph.canonicalize import (canonical_map,
                                                 canonicalize_mentions,
                                                 connected_components,
                                                 dictionary_canonical_map,
                                                 synonym_edges, xref_edges)
from nobletools_spark.graph.hierarchy import (ancestors_closure,
                                              has_ancestor, isa_edges_df,
                                              paths_to_root)
from nobletools_spark.terminology.build import build_terminology
from nobletools_spark.terminology.dataeng import dataeng_dictionary
from nobletools_spark.terminology.fixture import (FIXTURE_ISA_EDGES,
                                                  fixture_dictionary)
from nobletools_spark.terminology.storage import build_dictionary


@pytest.fixture(scope="module")
def edges(spark):
    return isa_edges_df(spark, fixture_dictionary()).cache()


@pytest.fixture(scope="module")
def closure(spark, edges):
    return ancestors_closure(edges).cache()


class TestAncestors:
    def test_depth_chain(self, closure):
        # cutaneous melanoma -> melanoma -> skin cancer -> cancer ->
        # neoplasm -> disease (depth 5)
        rows = {(r.anc_cui, r.min_depth)
                for r in closure.where(F.col("cui") == "C0151779").collect()}
        assert ("C0025202", 1) in rows      # melanoma
        assert ("C0007114", 1) in rows      # skin cancer (diamond short arm)
        assert ("C0006826", 2) in rows      # cancer via short arm
        assert ("C0012634", 4) in rows      # disease, min over both arms
        assert len(rows) == 5

    def test_min_depth_on_diamond(self, closure):
        # skin cancer reachable at depth 1 (direct) and 2 (via melanoma):
        # the closure must record 1
        r = closure.where((F.col("cui") == "C0151779")
                          & (F.col("anc_cui") == "C0007114")).collect()
        assert len(r) == 1 and r[0].min_depth == 1

    def test_closure_matches_python_bfs(self, closure):
        # oracle: driver-side BFS over the same edges
        from collections import deque
        parents = {}
        for c, p in FIXTURE_ISA_EDGES:
            parents.setdefault(c, []).append(p)
        expected = set()
        for start in {c for c, _ in FIXTURE_ISA_EDGES}:
            seen = {}
            q = deque([(start, 0)])
            while q:
                node, d = q.popleft()
                if d >= 7:
                    continue
                for p in parents.get(node, []):
                    if p not in seen or seen[p] > d + 1:
                        seen[p] = d + 1
                        q.append((p, d + 1))
            expected |= {(start, a, d) for a, d in seen.items()}
        got = {(r.cui, r.anc_cui, r.min_depth) for r in closure.collect()}
        assert got == expected

    def test_has_ancestor_semi_join(self, spark, closure):
        mentions = spark.createDataFrame(
            [("d1", "C0151779"), ("d1", "C0015967"), ("d2", "C0011389")],
            "doc_id string, cui string")
        kept = {r.cui for r in
                has_ancestor(closure, mentions, "C0006826").collect()}
        assert kept == {"C0151779", "C0011389"}  # both under cancer


class TestPaths:
    def test_paths_reach_root_and_respect_depth(self, edges):
        paths = {tuple([r.cui] + list(r.path))
                 for r in paths_to_root(edges).collect()
                 if r.cui == "C0151779"}
        # both diamond arms surface as separate root paths
        assert ("C0151779", "C0025202", "C0007114", "C0006826", "C0027651",
                "C0012634") in paths
        assert ("C0151779", "C0007114", "C0006826", "C0027651",
                "C0012634") in paths
        for p in paths:
            assert p[-1] == "C0012634"      # all end at the root
            assert len(p) - 1 <= 7

    def test_paths_dense_random_dag_no_blowup(self, spark):
        # 1k-node dense DAG (VERDICT r1 #6): every node gets 2-3 parents
        # among higher ids — without the per-round frontier dedup +
        # localCheckpoint the frontier multiplies geometrically and the
        # iterative plan OOMs at analysis. Deterministic edge choice.
        import hashlib
        n = 1000
        edge_rows = []
        for i in range(n - 1):
            h = int.from_bytes(
                hashlib.blake2b(str(i).encode(), digest_size=8).digest(),
                "big")
            for k in range(2 + h % 2):
                p = i + 1 + (h >> (8 * k)) % (n - 1 - i)
                edge_rows.append((f"N{i:04d}", f"N{p:04d}"))
        edges = spark.createDataFrame(
            sorted(set(edge_rows)), "child_cui string, parent_cui string")
        out = paths_to_root(edges, max_depth=7, max_paths=10)
        rows = out.collect()          # must complete without plan blowup
        assert rows
        per_cui = {}
        adj = {(c, p) for c, p in set(edge_rows)}
        for r in rows:
            per_cui[r.cui] = per_cui.get(r.cui, 0) + 1
            assert len(r.path) <= 7
            hops = [r.cui] + list(r.path)
            for a, b in zip(hops, hops[1:]):   # every hop is a real edge
                assert (a, b) in adj
        assert max(per_cui.values()) <= 10
        # determinism: a second run returns the identical path set
        again = {(r.cui, tuple(r.path))
                 for r in paths_to_root(edges, max_depth=7,
                                        max_paths=10).collect()}
        assert again == {(r.cui, tuple(r.path)) for r in rows}


class TestCanonicalize:
    def test_synonym_edges_star_shape(self, spark):
        ti = spark.createDataFrame(
            [("cold", ["C0009264", "C0009443"]),
             ("melanoma", ["C0025202"])],
            "term string, cuis array<string>")
        got = {(r.src, r.dst) for r in synonym_edges(ti).collect()}
        assert got == {("C0009264", "C0009443")}

    def test_xref_edges(self, spark):
        xr = spark.createDataFrame(
            [("X1", "A"), ("X1", "B"), ("X2", "C")],
            "code string, cui string")
        got = {(r.src, r.dst) for r in xref_edges(xr).collect()}
        assert got == {("A", "B")}

    def test_connected_components_chain_and_star(self, spark):
        e = spark.createDataFrame(
            [("b", "a"), ("c", "b"), ("d", "c"),      # chain a-b-c-d
             ("x", "y"), ("x", "z")],                 # star x-{y,z}
            "src string, dst string")
        cc = {r.cui: r.canonical_cui
              for r in connected_components(e).collect()}
        assert cc == {"a": "a", "b": "a", "c": "a", "d": "a",
                      "x": "x", "y": "x", "z": "x"}

    def test_canonical_map_merges_shared_synonym(self, spark):
        from nobletools_spark.terminology.build import build_terminology
        from nobletools_spark.terminology.fixture import FIXTURE_CONCEPTS
        tables = build_terminology(spark, FIXTURE_CONCEPTS)
        cmap = canonical_map(tables["term_index"], tables["code_xref"])
        got = {r.cui: r.canonical_cui for r in cmap.collect()}
        # 'cold' is shared by common cold + cold temperature
        assert got["C0009443"] == got["C0009264"] == "C0009264"
        # fish/FISH share normalized term 'fish'
        assert got["C0016153"] == got["C0016163"]

    def test_canonicalize_mentions_rewrites_and_keeps_singletons(self, spark):
        mapping = spark.createDataFrame(
            [("B", "A")], "cui string, canonical_cui string")
        mentions = spark.createDataFrame(
            [("d1", "B"), ("d1", "Z")], "doc_id string, cui string")
        got = {(r.doc_id, r.cui)
               for r in canonicalize_mentions(mentions, mapping).collect()}
        assert got == {("d1", "A"), ("d1", "Z")}


def _word(i: int) -> str:
    """A distinct vowel-free word per index: no stemming rule or stop word
    applies, so each stays its own normalized term."""
    letters = "bcdfghjklmnpqrtvwxz"
    out = "zk"
    while True:
        out += letters[i % len(letters)]
        i //= len(letters)
        if not i:
            return out


def _random_concepts(seed: int, n: int = 80, shared: int = 20,
                     codes: int = 12) -> list[dict]:
    """Concepts with private names, 0-2 synonyms drawn from a small shared
    pool (the synonym edges) and codes drawn from a small pool (shared
    codes). CUIs mix prefixes so the component minimum is a real string
    comparison ('C' < 'D' < 'c')."""
    rng = random.Random(seed)
    cuis = [rng.choice("CDc") + f"{k:07d}"
            for k in rng.sample(range(10 ** 6), n)]
    return [{"cui": cui, "name": _word(i),
             "synonyms": [_word(1000 + rng.randrange(shared))
                          for _ in range(rng.choice((0, 1, 1, 2)))],
             "codes": {"SRC": f"K{rng.randrange(codes)}"}}
            for i, cui in enumerate(cuis)]


def _chain_concepts(n: int) -> list[dict]:
    """Concept i shares one synonym with concept i+1: a path of n CUIs."""
    return [{"cui": f"C{i:03d}", "name": _word(i),
             "synonyms": [_word(1000 + i), _word(1000 + i + 1)]}
            for i in range(n)]


def _hash_min_rounds(term_map) -> int:
    """Largest distance from a CUI to its component minimum over the
    star-shaped synonym edges: the rounds hash-min label propagation
    needs before its convergence probe."""
    adj: dict[str, set[str]] = {}
    for cuis in term_map.values():
        for c in cuis[1:]:
            adj.setdefault(cuis[0], set()).add(c)
            adj.setdefault(c, set()).add(cuis[0])
    worst, seen = 0, set()
    for root in sorted(adj):
        if root in seen:
            continue
        dist, queue = {root: 0}, deque([root])
        while queue:
            x = queue.popleft()
            for y in adj[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    queue.append(y)
        seen |= set(dist)
        worst = max(worst, *dist.values())
    return worst


def _as_dict(df) -> dict[str, str]:
    rows = [(r.cui, r.canonical_cui) for r in df.collect()]
    out = dict(rows)
    assert len(out) == len(rows)
    return out


def _spark_map(spark, dico) -> dict[str, str]:
    tables = build_terminology(spark, list(dico.concepts.values()),
                               dico.build_config)
    return _as_dict(canonical_map(tables["term_index"], tables["code_xref"]))


class TestDictionaryCanonicalMap:
    """The driver-side union-find map against the Spark reference."""

    @pytest.mark.parametrize("name", ["fixture", "dataeng", "random-1",
                                      "random-2", "random-3"])
    def test_equals_spark_canonical_map(self, spark, name):
        if name == "fixture":
            dico = fixture_dictionary()
        elif name == "dataeng":
            dico = dataeng_dictionary()
        else:
            dico = build_dictionary(_random_concepts(int(name[-1])))
            assert _hash_min_rounds(dico.term_map) < 15  # under the cap
        got = _as_dict(dictionary_canonical_map(spark, dico))
        assert got == _spark_map(spark, dico)
        if name.startswith("random"):
            assert len(got) >= 20  # components to merge, not a trivial map
            assert len(set(dico.code_map.values())) < len(dico.concepts)

    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_first_wins_code_xref_adds_no_edges(self, spark, seed):
        concepts = _random_concepts(seed)
        tables = build_terminology(spark, concepts)
        codes = [c["codes"]["SRC"] for c in concepts]
        assert len(set(codes)) < len(codes)  # codes really are shared
        assert xref_edges(tables["code_xref"]).count() == 0
        assert (_as_dict(canonical_map(tables["term_index"],
                                       tables["code_xref"]))
                == _as_dict(canonical_map(tables["term_index"])))

    def test_long_chain_resolves_where_spark_cap_raises(self, spark):
        dico = build_dictionary(_chain_concepts(24))
        assert _hash_min_rounds(dico.term_map) == 23
        got = _as_dict(dictionary_canonical_map(spark, dico))
        assert got == {f"C{i:03d}": "C000" for i in range(24)}
        with pytest.raises(RuntimeError, match="max_iter=15"):
            _spark_map(spark, dico)

    def test_empty_when_no_term_is_shared(self, spark):
        dico = build_dictionary(_chain_concepts(1))
        df = dictionary_canonical_map(spark, dico)
        assert df.columns == ["cui", "canonical_cui"] and df.count() == 0


class TestConnectedComponentsCap:
    def test_unconverged_labeling_raises(self, spark):
        # 24-concept chain: 15 rounds leave C016-C023 labeled C001-C008
        tables = build_terminology(spark, _chain_concepts(24))
        with pytest.raises(RuntimeError, match="max_iter=15"):
            canonical_map(tables["term_index"]).collect()


class TestCanonicalTriples:
    def test_materialize_with_canonical_map(self, spark):
        from nobletools_spark.pipeline.stages import materialize_triples
        dico = fixture_dictionary()
        mentions = spark.createDataFrame(
            [("d1", "C0009443"), ("d2", "C0025202")],
            "doc_id string, cui string")
        mapping = spark.createDataFrame(
            [("C0009443", "C0009264")], "cui string, canonical_cui string")
        t = materialize_triples(mentions, spark, dico, canonical=mapping)
        doc = {(r.subj, r.obj) for r in
               t.where(F.col("pred") == "mentions_concept").collect()}
        assert ("d1", "C0009264") in doc and ("d2", "C0025202") in doc
        # isa edges rewritten: common cold -> disease becomes
        # cold temperature -> disease
        isa = {(r.subj, r.obj) for r in
               t.where(F.col("pred") == "isa").collect()}
        assert ("C0009264", "C0012634") in isa
        assert not any(s == "C0009443" for s, _ in isa)
