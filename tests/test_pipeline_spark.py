"""Spark pipeline end-to-end tests: P0 ingest -> P1 split -> P2 match ->
P6 triples, the span-sequence invariant, and generation determinism."""

import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from nobletools_spark.pipeline.documents import (generate_documents,
                                                 interleave_flat_documents)
from nobletools_spark.pipeline.stages import (dedup_redundant_mentions,
                                              run_pipeline)
from nobletools_spark.terminology.fixture import fixture_dictionary


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_documents(spark, 40, seed=7, partitions=4).cache()


@pytest.fixture(scope="module")
def pipeline_out(spark, corpus):
    out = run_pipeline(spark, corpus, fixture_dictionary(), "best-match")
    out["mentions"] = out["mentions"].cache()
    out["triples"] = out["triples"].cache()
    return out


class TestPipeline:
    def test_sentences_have_doc_absolute_offsets(self, spark, corpus, pipeline_out):
        full = corpus.select("doc_id", F.expr(
            "concat_ws('', transform(filter(spans, s -> s.kind = 'text'),"
            " s -> s.text))").alias("full"))
        joined = (pipeline_out["sentences"].join(full, "doc_id")
                  .select("text", "offset", "full").collect())
        assert joined
        for r in joined:
            sl = r.full[r.offset:r.offset + len(r.text)]
            assert sl.replace("\n", " ") == r.text.replace("\n", " ")

    def test_mentions_annotations_index_into_document(self, spark, corpus, pipeline_out):
        full = corpus.select("doc_id", F.expr(
            "concat_ws('', transform(filter(spans, s -> s.kind = 'text'),"
            " s -> s.text))").alias("full"))
        rows = (pipeline_out["mentions"].join(full, "doc_id")
                .select("annotations", "full").collect())
        assert rows
        for r in rows:
            for a in r.annotations:
                assert r.full[a.offset:a.offset + len(a.text)] == a.text

    def test_triples_shape(self, pipeline_out):
        t = pipeline_out["triples"]
        preds = {r.pred for r in t.select("pred").distinct().collect()}
        assert preds == {"mentions_concept", "isa"}
        # mentions_concept triples are distinct per (doc, cui)
        mc = t.where(F.col("pred") == "mentions_concept")
        assert mc.count() == mc.distinct().count()

    def test_span_sequence_invariant(self, spark, corpus):
        """Per-row span-sequence equality (kind, text, media_ref, order)
        preserved through the pipeline (input_hint invariant) — the pipeline
        never mutates the documents frame."""
        before = corpus.select("doc_id", F.sha2(F.to_json("spans"), 256)
                               .alias("fp")).collect()
        run_pipeline(spark, corpus, fixture_dictionary(), "best-match")
        after = corpus.select("doc_id", F.sha2(F.to_json("spans"), 256)
                              .alias("fp")).collect()
        assert sorted(map(tuple, before)) == sorted(map(tuple, after))

    def test_generation_partition_independent(self, spark):
        a = generate_documents(spark, 30, seed=9, partitions=1) \
            .select("doc_id", F.sha2(F.to_json("spans"), 256).alias("fp")).collect()
        b = generate_documents(spark, 30, seed=9, partitions=8) \
            .select("doc_id", F.sha2(F.to_json("spans"), 256).alias("fp")).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_mentions_match_local_matcher(self, spark, corpus, pipeline_out):
        """Distributed result == driver-side sequential matcher result."""
        from nobletools_spark.config import for_search_method
        from nobletools_spark.matcher.core import process_sentence
        from nobletools_spark.sentence.splitter import (TYPE_HEADER,
                                                        filter_sentence,
                                                        process_document)
        dico = fixture_dictionary()
        cfg = for_search_method("best-match")
        expected = set()
        for row in corpus.collect():
            for span in row.spans:
                if span.kind != "text" or not span.text:
                    continue
                sents, _ = process_document(span.text)
                for s in sents:
                    if filter_sentence(s.text, s.sent_type):
                        continue
                    for m in process_sentence(s.text, dico, cfg):
                        for t, o in m.annotations:
                            expected.add((row.doc_id, m.cui, span.offset + s.offset + o, t))
        got = set()
        for r in pipeline_out["mentions"].collect():
            for a in r.annotations:
                got.add((r.doc_id, r.cui, a.offset, a.text))
        assert got == expected


def _multiset(df) -> Counter:
    return Counter(json.dumps(r.asDict(recursive=True), sort_keys=True)
                   for r in df.collect())


@pytest.fixture(scope="module")
def corpora(spark):
    """(documents, dictionary) per corpus shape: flat bag-of-words text over
    the dataeng vocabulary through the interleave adapter, and generated
    clinical notes with headers, media spans and paragraphs."""
    import random

    from nobletools_spark.terminology.dataeng import dataeng_dictionary
    dataeng = dataeng_dictionary()
    vocab = sorted({w for c in dataeng.concepts.values()
                    for s in c.synonyms for w in s.split()})
    rng = random.Random(3)
    flat = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) + ("." if rng.random() < 0.1 else "")
                      for _ in range(rng.randint(5, 60))))
         for i in range(200)], "doc_id long, text string")
    return {
        "flat": (interleave_flat_documents(flat).cache(), dataeng),
        "clinical": (generate_documents(spark, 60, seed=11, partitions=3)
                     .cache(), fixture_dictionary()),
    }


class TestFusedMatchStage:
    """``run_pipeline`` without context splits and matches in one Python
    stage; it must emit exactly the rows of the two public stages."""

    @pytest.mark.parametrize("corpus_name", ["flat", "clinical"])
    @pytest.mark.parametrize("method", ["best-match", "all-match",
                                        "precise-match", "partial-match",
                                        "nonoverlap-match"])
    def test_mentions_equal_split_then_detect(self, spark, corpora,
                                              corpus_name, method):
        from nobletools_spark.config import for_search_method
        from nobletools_spark.pipeline.stages import (detect_mentions,
                                                      split_sentences)
        docs, dico = corpora[corpus_name]
        fused = run_pipeline(spark, docs, dico, method)["mentions"]
        staged = detect_mentions(split_sentences(docs),
                                 spark.sparkContext.broadcast(dico),
                                 for_search_method(method))
        expected = _multiset(staged)
        assert sum(expected.values()) > 0
        assert _multiset(fused) == expected

    @pytest.mark.parametrize("corpus_name", ["flat", "clinical"])
    def test_triples_equal_checkpointed_pipeline(self, spark, corpora,
                                                 corpus_name, tmp_path):
        from nobletools_spark.pipeline.checkpoint import \
            run_checkpointed_pipeline
        docs, dico = corpora[corpus_name]
        fused = run_pipeline(spark, docs, dico, "best-match")["triples"]
        ckpt = run_checkpointed_pipeline(spark, docs, dico, str(tmp_path),
                                         "best-match")["triples"].df
        assert _multiset(fused) == _multiset(ckpt)


class TestParagraphScope:
    def test_paragraph_action_scopes_across_sentences(self, spark):
        from nobletools_spark.config import for_search_method
        from nobletools_spark.context.lexicon import modifier_dictionary
        from nobletools_spark.pipeline.documents import DOCUMENTS_SCHEMA
        from nobletools_spark.pipeline.stages import (annotate_documents,
                                                      split_sentences)
        text = ("The following were not identified: melanoma, rash.\n"
                "Also fever was evaluated.\n\n"
                "Second paragraph has nevus.\n")
        docs = spark.createDataFrame(
            [("p1", [{"kind": "text", "text": text, "media_ref": "",
                      "offset": 0}])], schema=DOCUMENTS_SCHEMA)
        sents = split_sentences(docs)
        # the blank line splits paragraphs
        pids = {r.text.strip()[:6]: r.paragraph_id for r in sents.collect()}
        assert pids["The fo"] == pids["Also f"] != pids["Second"]
        ann = annotate_documents(
            sents, spark.sparkContext.broadcast(fixture_dictionary()),
            spark.sparkContext.broadcast(modifier_dictionary()),
            for_search_method("best-match"))
        pol = {r.cui: r.modifiers.get("Polarity") for r in ann.collect()}
        # C5+hasParagraphAction: the list-negation phrase scopes FORWARD
        # over its whole paragraph — fever (next sentence) is negated...
        assert pol["C0025202"] == "Negative_Polarity"   # melanoma (local)
        assert pol["C0015967"] == "Negative_Polarity"   # fever (paragraph)
        # ...but not into the next paragraph
        assert pol["C0027960"] == "Positive_Polarity"   # nevus


class TestInterleaveAdapter:
    def test_flat_adapter_preserves_text(self, spark):
        flat = spark.createDataFrame(
            [(1, "hash join beats sort merge on big data"),
             (2, "x"), (3, "nospaceshere")], ["doc_id", "text"])
        docs = interleave_flat_documents(flat)
        rows = {r.doc_id: r.spans for r in docs.collect()}
        for key, orig in [("1", "hash join beats sort merge on big data"),
                          ("2", "x"), ("3", "nospaceshere")]:
            text = "".join(s.text for s in rows[key] if s.kind == "text")
            assert text == orig
            kinds = [s.kind for s in rows[key]]
            assert any(k != "text" for k in kinds)  # interleaved media span

    def test_adapter_offsets_cumulative(self, spark):
        flat = spark.createDataFrame([(9, "alpha beta gamma delta")],
                                     ["doc_id", "text"])
        spans = interleave_flat_documents(flat).collect()[0].spans
        text_so_far = 0
        for s in spans:
            if s.kind == "text":
                assert s.offset == text_so_far
                text_so_far += len(s.text)


class TestDedup:
    def test_redundant_mention_removal(self, spark):
        from nobletools_spark.pipeline.stages import MENTIONS_SCHEMA
        rows = [
            ("d1", 0, "C1", "n", "deep margin", "deep margin", 1.0,
             [{"text": "deep", "offset": 0}], 0, 11, [], []),
            ("d1", 0, "C1", "n", "deep", "deep", 1.0,
             [{"text": "deep", "offset": 0}], 0, 4, [], []),
            ("d1", 0, "C2", "n", "deep", "deep", 1.0,
             [{"text": "deep", "offset": 0}], 0, 4, [], []),
        ]
        df = spark.createDataFrame(rows, schema=MENTIONS_SCHEMA)
        kept = dedup_redundant_mentions(df).select("cui", "start", "end").collect()
        assert {(r.cui, r.start, r.end) for r in kept} == {("C1", 0, 11), ("C2", 0, 4)}
