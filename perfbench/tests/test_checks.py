"""Each correctness check of the benchmark passes on the true output and
fails on a corrupted one.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import checks as C  # noqa: E402
import gen  # noqa: E402


def corruptions(triples: set[tuple]) -> dict[str, set[tuple]]:
    """A dropped, an added and an altered triple."""
    victim = sorted(t for t in triples if t[1] == "mentions_concept")[0]
    return {
        "dropped": triples - {victim},
        "added": triples | {(victim[0], victim[1], "C_NOT_A_CUI", victim[3])},
        "altered": (triples - {victim})
        | {(victim[0], victim[1], victim[2] + "x", victim[3])},
    }


@pytest.fixture(scope="module")
def dataeng(tmp_path_factory):
    out = tmp_path_factory.mktemp("dataeng")
    import pyarrow.parquet as pq
    table = gen.dataeng_table(seed=3, n_docs=256)
    path = str(out / "docs.parquet")
    pq.write_table(table, path)
    return C.oracle_triples([path])


def test_oracle_subset_is_nonempty_and_has_isa(dataeng):
    docs = {t[3] for t in dataeng if t[3]}
    assert docs and all(C.in_subset(d) for d in docs)
    assert any(t[1] == "isa" for t in dataeng)


def test_oracle_check_passes_on_itself(dataeng):
    assert C.compare("kg_oracle", set(dataeng), dataeng)["ok"]


@pytest.mark.parametrize("kind", ["dropped", "added", "altered"])
def test_oracle_check_fails_on_corruption(dataeng, kind):
    v = C.compare("kg_oracle", corruptions(dataeng)[kind], dataeng)
    assert not v["ok"] and v["missing"] + v["unexpected"] > 0


def test_oracle_check_fails_on_empty_expectation():
    assert not C.compare("kg_oracle", set(), set())["ok"]


@pytest.fixture(scope="module")
def clinical():
    from nobletools_spark.config import for_search_method
    from nobletools_spark.terminology.fixture import fixture_dictionary
    table = gen.clinical_table(seed=5, n_docs=16)
    docs = [(r["doc_id"], r["spans"]) for r in table.to_pylist()]
    return C.reference_mentions(docs, fixture_dictionary(),
                                for_search_method("best-match"))


def test_reference_mentions_cover_every_document(clinical):
    assert len({m[0] for m in clinical}) == 16


@pytest.mark.parametrize("kind", ["dropped", "added", "shifted"])
def test_reference_check_fails_on_corruption(clinical, kind):
    victim = sorted(clinical)[0]
    bad = {"dropped": clinical - {victim},
           "added": clinical | {(victim[0], "C_NOT_A_CUI") + victim[2:]},
           "shifted": (clinical - {victim})
           | {victim[:2] + (victim[2] + 1, victim[3])}}[kind]
    assert C.compare("sequential_reference", set(clinical), clinical)["ok"]
    assert not C.compare("sequential_reference", bad, clinical)["ok"]


def test_expected_cuis_check():
    table, cuis = gen.large_vocab_table(seed=2, n_docs=32, n_concepts=1000,
                                        shared_words=250)
    docs = [r["doc_id"] for r in table.to_pylist()]
    expected = dict(zip(docs, cuis))
    got = set(expected.items())
    assert C.check_expected_cuis(got, expected)["ok"]
    d0 = docs[0]
    for bad in (got - {(d0, expected[d0])},
                got | {(d0, "V99999999")},
                (got - {(d0, expected[d0])}) | {(d0, expected[docs[1]])}):
        assert not C.check_expected_cuis(bad, expected)["ok"]


def test_identical_check():
    same = {"checkpoint": (10, 7), "committed": (10, 7), "resumed": (10, 7)}
    assert C.check_identical("x", same)["ok"]
    assert not C.check_identical("x", dict(same, resumed=(10, 8)))["ok"]
    assert not C.check_identical("x", dict(same, resumed=(9, 7)))["ok"]
    assert not C.check_identical("x", {"a": (0, 0), "b": (0, 0)})["ok"]


def test_generators_are_seeded():
    a = gen.dataeng_table(seed=11, n_docs=64)
    assert a.equals(gen.dataeng_table(seed=11, n_docs=64))
    assert not a.equals(gen.dataeng_table(seed=12, n_docs=64))
    words = set(" ".join(a.column("text").to_pylist()).split(" "))
    assert all(w == w.lower() for w in words)
    assert all("  " not in t for t in a.column("text").to_pylist())
