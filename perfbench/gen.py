"""Seeded input generators for the three benchmark workloads.

Each generator writes the workload's input as a directory of parquet files
(``part-00000.parquet`` ...), in document order, plus ``manifest.json``.
The same seed always gives byte-identical tables. The parallelism probe of
``run.py`` reads the first quarter of the files, so the file count is a
multiple of four and every file holds the same number of documents.

    python3 perfbench/gen.py --workload dataeng_match --seed 7 --out DIR

Workloads:

- ``dataeng_match``: flat ``(doc_id bigint, text string)`` documents, a
  single-space bag of lowercase words over the closed dataeng vocabulary.
  Words and document lengths are drawn from the frequencies recorded in
  ``data/dataeng_distribution.json`` (taken from the dataeng corpus), so the
  DuckDB re-derivation in ``relational/kg_oracle.py`` applies unchanged.
- ``clinical_checkpointed``: interleaved clinical notes in the pipeline's
  ``documents`` shape, from ``pipeline.documents.generate_documents_local``.
- ``large_vocab``: one-sentence documents, each quoting one term of the
  ``scripts/vocab_scale.synthetic_vocab`` vocabulary; the manifest records
  the vocabulary size and the CUI each document must yield.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

FILES = 16

# documents per workload and the large_vocab vocabulary shape
SIZES = {
    "dataeng_match": {"docs": 2048},
    "clinical_checkpointed": {"docs": 512},
    "large_vocab": {"docs": 2048, "concepts": 10_000, "shared_words": 2_500},
}

DOCUMENTS_ARROW = pa.schema([
    pa.field("doc_id", pa.string(), False),
    pa.field("spans", pa.list_(pa.struct([
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string(), False),
        pa.field("media_ref", pa.string(), False),
        pa.field("offset", pa.int32(), False),
    ])), False),
])


def part_paths(out: str, files: int = FILES) -> list[str]:
    """The first ``files`` parquet files of a generated input."""
    return [os.path.join(out, f"part-{i:05d}.parquet") for i in range(files)]


def _write(table: pa.Table, out: str, manifest: dict) -> None:
    os.makedirs(out, exist_ok=True)
    n = table.num_rows
    if n % FILES:
        raise ValueError(f"{n} documents do not split into {FILES} files")
    per = n // FILES
    for i, path in enumerate(part_paths(out)):
        pq.write_table(table.slice(i * per, per), path)
    manifest = dict(manifest, docs=n, files=FILES)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)


def dataeng_table(seed: int, n_docs: int) -> pa.Table:
    with open(os.path.join(HERE, "data", "dataeng_distribution.json")) as f:
        dist = json.load(f)
    words = sorted(dist["words"])
    wp = np.array([dist["words"][w] for w in words], dtype=float)
    lengths = sorted(int(k) for k in dist["lengths"])
    lp = np.array([dist["lengths"][str(k)] for k in lengths], dtype=float)
    rng = np.random.default_rng(seed)
    n_words = rng.choice(lengths, size=n_docs, p=lp / lp.sum())
    picks = rng.choice(len(words), size=int(n_words.sum()), p=wp / wp.sum())
    texts, at = [], 0
    for k in n_words:
        texts.append(" ".join(words[j] for j in picks[at:at + k]))
        at += k
    return pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                     "text": pa.array(texts, pa.string())})


def clinical_table(seed: int, n_docs: int) -> pa.Table:
    from nobletools_spark.pipeline.documents import generate_documents_local
    rows = generate_documents_local(n_docs, seed=seed, sentences_per_doc=8,
                                    media_every=4, skew=0.3)
    return pa.Table.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in rows], schema=DOCUMENTS_ARROW)


def vocab_term(i: int, shared_words: int) -> tuple[str, str]:
    """(surface term, CUI) of concept ``i`` in ``synthetic_vocab``."""
    return f"w{i % shared_words} u{i}", f"V{i:08d}"


def large_vocab_table(seed: int, n_docs: int, n_concepts: int,
                      shared_words: int) -> tuple[pa.Table, list[str]]:
    rng = np.random.default_rng(seed)
    picks = rng.choice(n_concepts, size=n_docs, replace=False)
    rows, cuis = [], []
    for k, i in enumerate(picks):
        term, cui = vocab_term(int(i), shared_words)
        text = f"The patient shows {term} on examination."
        rows.append({"doc_id": f"lv-{k:07d}",
                     "spans": [{"kind": "text", "text": text,
                                "media_ref": "", "offset": 0}]})
        cuis.append(cui)
    return pa.Table.from_pylist(rows, schema=DOCUMENTS_ARROW), cuis


def generate(workload: str, seed: int, out: str) -> dict:
    size = SIZES[workload]
    manifest = {"workload": workload, "seed": seed}
    if workload == "dataeng_match":
        table = dataeng_table(seed, size["docs"])
    elif workload == "clinical_checkpointed":
        table = clinical_table(seed, size["docs"])
    elif workload == "large_vocab":
        table, cuis = large_vocab_table(seed, size["docs"], size["concepts"],
                                        size["shared_words"])
        manifest.update(concepts=size["concepts"],
                        shared_words=size["shared_words"], expected_cui=cuis)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    _write(table, out, manifest)
    return manifest


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    m = generate(a.workload, a.seed, a.out)
    print(json.dumps({"workload": m["workload"], "docs": m["docs"]}))


if __name__ == "__main__":
    main()
