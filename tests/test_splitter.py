"""Sentence splitter: the synoptic-line test stays linear on hostile input
(a whitespace-free blob or a long dot run in one document must not stall
its task) and accepts exactly the lines the reference's patterns do."""

import random
import re
import time

import pytest

from nobletools_spark.sentence.splitter import _SYNOPTIC, is_synoptic

# SynopticReportDetector's original forms: quadratic under search() on
# whitespace-free input, kept here as the acceptance reference
REFERENCE = (re.compile(r"[^\s]+[\._]{4,}[^\s]+"),
             re.compile(r"[^\s]+[\t]{1,}[^\s]+"))


def test_linear_patterns_accept_the_reference_lines():
    rng = random.Random(0)
    linear = (_SYNOPTIC[0], _SYNOPTIC[2])
    for _ in range(50_000):
        line = "".join(rng.choice("a._\t \n")
                       for _ in range(rng.randint(0, 14)))
        for ref, new in zip(REFERENCE, linear):
            assert bool(ref.search(line)) == bool(new.search(line)), repr(line)


def _best_of(line: str, repeats: int = 5) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        is_synoptic(line)
        best = min(best, time.perf_counter() - t0)
    return best


@pytest.mark.parametrize("unit", ["ab", "a.", "x_"],
                         ids=["no_space", "dot_run", "underscore_run"])
def test_is_synoptic_size_ladder(unit):
    n = 2_000
    small = _best_of(unit * (n // 2))
    large = _best_of(unit * (4 * n // 2))
    assert large / small < 6, (small, large)
