"""Correctness evidence for the benchmark's outputs.

``expectation`` derives, without Spark, what the pipeline must produce on a
workload's input:

- dataeng_match: the triples of an md5-bucketed document subset, from the
  DuckDB re-derivation ``relational.kg_oracle.kg_triples_sql``;
- clinical_checkpointed: the mentions of the subset, from a single-process
  sequential run of the splitter, the matcher and the per-document acronym
  pass (``reference_mentions``);
- large_vocab: for every document, the CUI of the term it quotes.

``compare`` (and ``check_expected_cuis``, ``check_identical``) turn a
comparison into a verdict ``{"check", "ok", ...}``. They take plain Python
collections, so the benchmark's tests feed them corrupted sets without
Spark.
"""

from __future__ import annotations

import hashlib
import os

# a document is in the checked subset when md5(doc_id) starts with this
SUBSET_PREFIX = "0"


def in_subset(doc_id: str) -> bool:
    return hashlib.md5(str(doc_id).encode()).hexdigest().startswith(
        SUBSET_PREFIX)


def compare(check: str, got: set, expected: set, **extra) -> dict:
    missing, unexpected = expected - got, got - expected
    return dict(extra, check=check, ok=not missing and not unexpected
                and bool(expected), compared=len(expected),
                missing=len(missing), unexpected=len(unexpected),
                examples=sorted(map(str, list(missing)[:2]
                                    + list(unexpected)[:2])))


def oracle_triples(parquet_files: list[str]) -> set[tuple]:
    """DuckDB ``kg_triples`` over the subset of the given flat documents."""
    import duckdb

    from nobletools_spark.relational.kg_oracle import kg_triples_sql
    files = ", ".join("'" + f.replace("'", "''") + "'" for f in parquet_files)
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT doc_id, text "
            f"FROM read_parquet([{files}]) WHERE substr(md5(CAST(doc_id AS "
            f"VARCHAR)), 1, {len(SUBSET_PREFIX)}) = '{SUBSET_PREFIX}'")
        return set(map(tuple, con.execute(kg_triples_sql()).fetchall()))
    finally:
        con.close()


def reference_mentions(docs, dico, cfg) -> set[tuple]:
    """Sequential reference for ``annotate_documents``' mentions:
    ``(doc_id, cui, absolute offset, annotation text)`` for each document of
    ``docs`` (``(doc_id, spans)`` pairs with span dicts), split and filtered
    as ``split_sentences`` does, scrubbed of DeID tags, matched sentence by
    sentence, with one ``AcronymState`` per document."""
    from nobletools_spark.context.acronyms import AcronymState
    from nobletools_spark.matcher.core import process_sentence
    from nobletools_spark.sentence import splitter as SP

    out = set()
    for doc_id, spans in docs:
        state = AcronymState(dico)
        for span in spans:
            if span["kind"] != "text" or not span["text"]:
                continue
            stext = span["text"]
            rows, _ = SP.process_document(stext, SP.TYPE_MEDICAL_REPORT)
            for r in rows:
                text = r.text
                over = r.offset + len(text) - len(stext)
                if over > 0:
                    text = text[:-over]
                if SP.filter_sentence(text, r.sent_type, filter_header=True):
                    continue
                scrubbed = SP.filter_deid_tags(text)
                mentions = state.process(
                    scrubbed, process_sentence(scrubbed, dico, cfg))
                for m in mentions:
                    for t, o in m.annotations:
                        out.add((doc_id, m.cui, span["offset"] + r.offset + o,
                                 t))
    return out


def check_expected_cuis(got: set[tuple], expected: dict[str, str]) -> dict:
    """``got``: ``(doc_id, cui)`` mention triples; ``expected``: doc -> CUI."""
    return compare("expected_cuis", got, set(expected.items()))


def check_identical(check: str, digests: dict[str, list]) -> dict:
    """All named digests equal (and non-empty)."""
    values = {tuple(d) for d in digests.values()}
    return dict(check=check, ok=len(values) == 1 and all(
        d and d[0] > 0 for d in values), digests=digests)


def expectation(workload: str, paths: list[str], manifest: dict):
    """What the pipeline must produce on the documents in ``paths``, derived
    without Spark: the oracle's subset triples (dataeng_match), the
    reference mentions of the subset (clinical_checkpointed), or each
    document's CUI (large_vocab). JSON-serialisable."""
    import pyarrow.parquet as pq
    if workload == "dataeng_match":
        return sorted(oracle_triples(paths))
    if workload == "clinical_checkpointed":
        from nobletools_spark.config import for_search_method
        from nobletools_spark.terminology.fixture import fixture_dictionary
        docs = [(r["doc_id"], r["spans"])
                for r in pq.read_table(paths).to_pylist()
                if in_subset(r["doc_id"])]
        return sorted(reference_mentions(docs, fixture_dictionary(),
                                         for_search_method("best-match")))
    n = pq.read_table(paths, columns=["doc_id"]).num_rows
    return {f"lv-{k:07d}": cui
            for k, cui in enumerate(manifest["expected_cui"][:n])}


def reference_pr_status() -> str:
    """Status of the compiled-reference triple P/R evidence, which this
    benchmark does not run itself (``scripts/triple_pr.py`` does)."""
    import shutil
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts"))
    import matcher_parity
    if not os.path.isdir(matcher_parity.REF_SRC):
        return f"skipped, {matcher_parity.REF_SRC.rsplit('/src/', 1)[0]} absent"
    if shutil.which("javac") is None:
        return "skipped, javac absent"
    return "not run here, reference present: run scripts/triple_pr.py"
