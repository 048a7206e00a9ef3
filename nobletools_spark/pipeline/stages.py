"""Pipeline stages: documents -> sentences -> mentions -> triples.

Stage architecture (SURVEY.md §7): each stage is a pure DataFrame ->
DataFrame transform; the heavy lexical work runs inside Arrow-batched
Python map stages over a broadcast dictionary (the Spark analog of the
reference's single-JVM loop over JDBM hashtables — every sentence is
independent, so the per-sentence matcher parallelizes embarrassingly
across executors; the only shuffles in the whole pipeline are the
document-level context pass (groupBy doc_id) and the final triple dedupe).

One Python stage per pass: ``run_pipeline`` without a modifier
terminology splits and matches in a single ``mapInArrow`` over the
documents (``_split_and_match``) instead of chaining ``split_sentences``
into ``detect_mentions``. Every Python task pays a fixed worker set-up:
the worker calls ``importlib.invalidate_caches()`` per task, so each
cached zipimporter over ``pyspark.zip`` re-reads the zip directory —
110-185 ms of worker CPU per task on a 4-core host, where a do-nothing
``mapInArrow`` over 16 partitions adds 0.95 s to a pass and two chained
ones 2.1 s, against ~0.5 s of wall for the matcher itself. Fusing halves
the task launches and drops the sentences' JVM round trip. The public
stages stay for checkpoints, streaming and the context pass, and share
the fused stage's code: ``_doc_sentences`` (one document's sentences)
and ``MentionColumns`` (the column-wise mention row build, straight into
Arrow arrays with no per-mention dicts and no pandas).

Scale posture:
- dictionaries travel once per executor via ``SparkContext.broadcast``;
- sentence-split and mention-detect are narrow (no shuffle);
- the hot-word skew the reference fights with its blacklist
  (BlacklistHandler.java) is defused the same way here (pre-pruned posting
  lists) plus optional salted repartition (``salt_documents``) so hot
  documents spread over all partitions;
- `spark.sql.adaptive.enabled` is assumed on for runtime skew re-splits.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from ..config import SearchConfig, for_search_method
from ..matcher.core import process_sentence
from ..sentence import splitter as SP
from ..terminology.storage import Dictionary

SENTENCES_SCHEMA = ST.StructType([
    ST.StructField("doc_id", ST.StringType(), False),
    ST.StructField("sent_id", ST.IntegerType(), False),
    ST.StructField("sent_type", ST.StringType(), False),
    ST.StructField("text", ST.StringType(), False),
    ST.StructField("offset", ST.IntegerType(), False),
    # C5: paragraph index within the document (-1 = outside any
    # paragraph); paragraph-action modifiers scope over this
    ST.StructField("paragraph_id", ST.IntegerType(), False),
])

MENTIONS_SCHEMA = ST.StructType([
    ST.StructField("doc_id", ST.StringType(), False),
    ST.StructField("sent_id", ST.IntegerType(), False),
    ST.StructField("cui", ST.StringType(), False),
    ST.StructField("concept_name", ST.StringType(), False),
    ST.StructField("matched_term", ST.StringType(), False),
    ST.StructField("normalized_term", ST.StringType(), False),
    ST.StructField("score", ST.DoubleType(), False),
    ST.StructField("annotations", ST.ArrayType(ST.StructType([
        ST.StructField("text", ST.StringType(), False),
        ST.StructField("offset", ST.IntegerType(), False),
    ])), False),
    ST.StructField("start", ST.IntegerType(), False),
    ST.StructField("end", ST.IntegerType(), False),
    ST.StructField("sem_types", ST.ArrayType(ST.StringType()), False),
    ST.StructField("sources", ST.ArrayType(ST.StringType()), False),
])

TRIPLES_SCHEMA = ST.StructType([
    ST.StructField("subj", ST.StringType(), False),
    ST.StructField("pred", ST.StringType(), False),
    ST.StructField("obj", ST.StringType(), False),
    ST.StructField("doc_id", ST.StringType(), False),
])


def salt_documents(documents: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """Skew defense: spread documents evenly regardless of content hot
    spots. Round-robin repartition — each row (one whole document) lands
    in exactly one partition with perfect balance, breaking any clustering
    of hot-term documents. (Hashing a computed salt column would re-hash
    the salt into buckets and collide; round-robin IS the salted spread
    for row-granular work. Key-salting proper applies to the join-based
    match path, where AQE's skew-join handles it.)"""
    if salt_buckets <= 0:
        return documents
    return documents.repartition(salt_buckets)


def _doc_sentences(doc_id: str, spans, doc_type: str = SP.TYPE_MEDICAL_REPORT,
                   filter_headers: bool = True) -> Iterator[tuple]:
    """Typed sentences of one document's ``kind='text'`` spans, yielded as
    ``SENTENCES_SCHEMA`` tuples with document-absolute offsets (C1-C6)."""
    sent_id = 0
    para_base = 0
    for span in spans:
        stext = span["text"]
        if span["kind"] != "text" or not stext:
            continue
        rows, secs = SP.process_document(stext, doc_type)
        paras = SP.find_paragraphs(stext, secs)

        def pid_for(off: int) -> int:
            for j, p in enumerate(paras):
                if p.start <= off < max(p.end, p.start + 1):
                    return para_base + j
            return -1

        for r in rows:
            # clip the phantom trailing pad the line-splitter appends past
            # the end of the span (parity artifact of re-appending '\n' to
            # the final split line)
            over = (r.offset + len(r.text)) - len(stext)
            if over > 0:
                r.text = r.text[:-over]
            if SP.filter_sentence(r.text, r.sent_type,
                                  filter_header=filter_headers):
                continue
            yield (doc_id, sent_id, r.sent_type, r.text,
                   int(span["offset"]) + r.offset, pid_for(r.offset))
            sent_id += 1
        para_base += len(paras)


def split_sentences(documents: DataFrame, doc_type: str = SP.TYPE_MEDICAL_REPORT,
                    filter_headers: bool = True) -> DataFrame:
    """P1: explode ``kind='text'`` spans into typed sentences with
    document-absolute offsets (C1-C6). Narrow transform, no shuffle."""
    columns = SENTENCES_SCHEMA.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [s for doc_id, spans in zip(pdf["doc_id"], pdf["spans"])
                    for s in _doc_sentences(doc_id, spans, doc_type,
                                            filter_headers)]
            if rows:  # empty frames infer float64 cols, breaking Arrow
                yield pd.DataFrame.from_records(rows, columns=columns)

    return documents.mapInPandas(gen, schema=SENTENCES_SCHEMA)


class MentionColumns:
    """``MENTIONS_SCHEMA`` rows accumulated column-wise: matcher output goes
    into one list per column (list columns as flat values plus end
    offsets) and leaves as a single ``pyarrow.RecordBatch`` — no
    per-mention dicts and no pandas frame on the way to Arrow. Annotation
    offsets are rebased to document-absolute (Mention.java:75-81)."""

    def __init__(self) -> None:
        self.doc_id: list = []
        self.sent_id: list = []
        self.cui: list = []
        self.concept_name: list = []
        self.matched_term: list = []
        self.normalized_term: list = []
        self.score: list = []
        self.start: list = []
        self.end: list = []
        self.ann_text: list = []
        self.ann_offset: list = []
        self.ann_ends: list = [0]
        self.sem_types: list = []
        self.sem_ends: list = [0]
        self.sources: list = []
        self.src_ends: list = [0]

    def add(self, doc_id: str, sent_id: int, offset: int, mentions) -> None:
        """Append the mentions of the sentence at document offset
        ``offset``."""
        for m in mentions:
            anns = m.annotations
            self.doc_id.append(doc_id)
            self.sent_id.append(sent_id)
            self.cui.append(m.cui)
            self.concept_name.append(m.concept_name)
            self.matched_term.append(m.matched_term)
            self.normalized_term.append(m.normalized_term)
            self.score.append(float(m.score))
            if anns:
                self.start.append(offset + anns[0][1])
                self.end.append(offset + max(o + len(t) for t, o in anns))
            else:
                self.start.append(-1)
                self.end.append(-1)
            self.ann_text.extend(t for t, _ in anns)
            self.ann_offset.extend(offset + o for _, o in anns)
            self.ann_ends.append(len(self.ann_text))
            self.sem_types.extend(m.sem_types)
            self.sem_ends.append(len(self.sem_types))
            self.sources.extend(m.sources)
            self.src_ends.append(len(self.sources))

    def batch(self) -> pa.RecordBatch:
        def strings(xs: list) -> pa.Array:
            return pa.array(xs, pa.string())

        def ints(xs: list) -> pa.Array:
            return pa.array(xs, pa.int32())

        def listed(ends: list, values: pa.Array) -> pa.Array:
            return pa.ListArray.from_arrays(ints(ends), values)

        annotations = pa.StructArray.from_arrays(
            [strings(self.ann_text), ints(self.ann_offset)],
            names=["text", "offset"])
        return pa.RecordBatch.from_arrays([
            strings(self.doc_id), ints(self.sent_id), strings(self.cui),
            strings(self.concept_name), strings(self.matched_term),
            strings(self.normalized_term), pa.array(self.score, pa.float64()),
            listed(self.ann_ends, annotations),
            ints(self.start), ints(self.end),
            listed(self.sem_ends, strings(self.sem_types)),
            listed(self.src_ends, strings(self.sources)),
        ], names=MENTIONS_SCHEMA.fieldNames())


def _mention_batch(sentences, dico_bc, cfg: SearchConfig,
                   deid_scrub: bool = True) -> pa.RecordBatch:
    """Match ``(doc_id, sent_id, text, offset)`` sentences into one
    ``MENTIONS_SCHEMA`` batch."""
    dico: Dictionary = dico_bc.value if hasattr(dico_bc, "value") else dico_bc
    out = MentionColumns()
    for doc_id, sent_id, text, offset in sentences:
        stext = SP.filter_deid_tags(text) if deid_scrub else text
        out.add(doc_id, sent_id, offset, process_sentence(stext, dico, cfg))
    return out.batch()


def detect_mentions(sentences: DataFrame, dico_bc, cfg: SearchConfig | None = None,
                    deid_scrub: bool = True) -> DataFrame:
    """P2: the match stage. Broadcast-dictionary probe inside mapInArrow —
    relationally a broadcast hash semi-join of sentence words against the WT
    table followed by the TC expansion, executed as in-memory dict probes.
    """
    cfg = cfg or for_search_method(None)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield _mention_batch(
                zip(*(b.column(c).to_pylist()
                      for c in ("doc_id", "sent_id", "text", "offset"))),
                dico_bc, cfg, deid_scrub)

    return sentences.mapInArrow(gen, schema=MENTIONS_SCHEMA)


def _split_and_match(documents: DataFrame, dico_bc,
                     cfg: SearchConfig) -> DataFrame:
    """P1+P2 fused: ``detect_mentions(split_sentences(documents))`` as ONE
    Python stage — each document is split and its kept sentences matched
    in the same Arrow batch, so a pass pays one Python task per partition
    and never ships the sentences back through the JVM."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield _mention_batch(
                ((doc_id, sent_id, text, offset)
                 for doc_id, spans in zip(b.column("doc_id").to_pylist(),
                                          b.column("spans").to_pylist())
                 for _, sent_id, _, text, offset, _ in _doc_sentences(
                     doc_id, spans)),
                dico_bc, cfg)

    return (documents.select("doc_id", "spans")
            .mapInArrow(gen, schema=MENTIONS_SCHEMA))


ANNOTATED_SCHEMA = ST.StructType(
    MENTIONS_SCHEMA.fields +
    [ST.StructField("modifiers",
                    ST.MapType(ST.StringType(), ST.StringType()), False)])


def annotate_documents(sentences: DataFrame, dico_bc, context_bc=None,
                       cfg: SearchConfig | None = None,
                       deid_scrub: bool = True,
                       negex: bool = False) -> DataFrame:
    """P2+P3 fused: per document (groupBy doc_id, applyInPandas), run the
    matcher, then the acronym doc-pass (F1/F2 — the only doc-scoped state),
    then ConText modifier assignment (F3/F4) or NegEx (F5) per sentence.

    This is the reference's per-sentence chain (NobleCoder.process:312-336:
    terminology -> AcronymDetector -> ConText) lifted onto Spark: one
    shuffle on doc_id buys document-ordered sentence processing; documents
    parallelize across executors. Dictionaries ride broadcasts.

    Implementation: repartition(doc_id) + sortWithinPartitions + a
    PARTITION-level mapInPandas, NOT groupBy().applyInPandas — the latter
    invokes Python once per doc (5k docs = 5k calls + 5k Arrow frames,
    dominating runtime); here one Python stream handles the whole
    partition, carrying the per-doc acronym/section state across Arrow
    batch boundaries (sorting guarantees a doc's sentences arrive
    contiguously even when a doc straddles two batches).
    """
    cfg = cfg or for_search_method(None)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from types import SimpleNamespace

        from ..context.acronyms import AcronymState
        from ..context.context import (ConTextEngine, ModifierOut,
                                       _add_modifier)
        from ..context import negex as NX

        dico: Dictionary = dico_bc.value if hasattr(dico_bc, "value") else dico_bc
        engine = None
        if context_bc is not None:
            cdico = context_bc.value if hasattr(context_bc, "value") else context_bc
            engine = ConTextEngine(cdico)

        # doc-scoped state carried across Arrow batches of this partition
        state: AcronymState | None = None
        cur_doc = None
        section_mods: list = []
        # per-doc buffers: rows await the doc flush so paragraph-action
        # modifiers (which scope beyond their sentence, backward included)
        # can be applied before emission (ConText.getMatchingModifiers)
        buf_rows: list[dict] = []
        buf_para: list[tuple] = []  # (pid, action, abs_start, abs_end, ModifierOut)
        out: dict[str, list] = {f.name: [] for f in ANNOTATED_SCHEMA.fields}

        def flush_doc():
            for pid, action, a_start, a_end, val in buf_para:
                if pid < 0:
                    continue
                for row in buf_rows:
                    if row["_pid"] != pid:
                        continue
                    before = a_end <= row["start"]   # modifier before target
                    after = a_start >= row["end"]    # modifier after target
                    if not ((action in ("forward", "bidirectional") and before)
                            or (action in ("backward", "bidirectional")
                                and after)):
                        continue
                    slot = row["_slot"]
                    cur = slot.get(val.type, [])
                    # local sentence modifiers win (NobleMentions:158-169)
                    if all(m.is_default for m in cur):
                        _add_modifier(
                            slot,
                            ModifierOut(type=val.type, value=val.value,
                                        start=a_start, end=a_end),
                            SimpleNamespace(start=row["start"],
                                            end=row["end"]))
            for row in buf_rows:
                slot = row.pop("_slot")
                row.pop("_pid")
                if slot is not None:
                    row["modifiers"] = {
                        t: ",".join(m.value for m in lst)
                        for t, lst in slot.items()}
                for k, v in row.items():
                    out[k].append(v)
            buf_rows.clear()
            buf_para.clear()

        for pdf in batches:
            for doc_id, sent_id, sent_type, text, offset, pid in zip(
                    pdf["doc_id"], pdf["sent_id"], pdf["sent_type"],
                    pdf["text"], pdf["offset"], pdf["paragraph_id"]):
                if doc_id != cur_doc:
                    flush_doc()
                    cur_doc = doc_id
                    state = AcronymState(dico)  # cleared per doc (:273)
                    section_mods = []
                stext = SP.filter_deid_tags(text) if deid_scrub else text

                # section headers aren't coded, but section-action
                # modifiers found in them scope every mention until the
                # next header (ConText HAS_SECTION_ACTION; headers survive
                # only when the caller split with filter_headers=False)
                if sent_type == SP.TYPE_HEADER:
                    section_mods = (engine.section_modifiers(stext)
                                    if engine is not None else [])
                    continue

                mentions = process_sentence(stext, dico, cfg)
                mentions = state.process(stext, mentions)

                slots_out: list
                if engine is not None:
                    slots, global_mods = engine.process_with_globals(
                        stext, mentions)
                    for slot, target in zip(slots, mentions):
                        for smod in section_mods:
                            # local sentence modifiers win over section
                            # scope (NobleMentions.process:158-169)
                            cur = slot.get(smod.type, [])
                            if all(m.is_default for m in cur):
                                _add_modifier(slot, smod, target)
                    slots_out = slots
                    # paragraph-action modifiers scope to the whole
                    # paragraph; collected here, applied at the doc flush
                    for gm in global_mods:
                        ga = engine.global_action(gm.cui)
                        if ga is None or ga[0] != "paragraph":
                            continue
                        for val in engine.modifier_values(gm):
                            buf_para.append((int(pid), ga[1],
                                             int(offset) + gm.start,
                                             int(offset) + gm.end, val))
                elif negex:
                    nmods = NX.process(stext, mentions)
                    slots_out = [
                        {m.type: [m] for m in lst} for lst in nmods]
                else:
                    slots_out = [None] * len(mentions)

                for m, slot in zip(mentions, slots_out):
                    anns = [{"text": t, "offset": int(offset) + o}
                            for t, o in m.annotations]
                    start = anns[0]["offset"] if anns else -1
                    end = (max(a["offset"] + len(a["text"]) for a in anns)
                           if anns else -1)
                    buf_rows.append({
                        "doc_id": doc_id, "sent_id": int(sent_id),
                        "cui": m.cui, "concept_name": m.concept_name,
                        "matched_term": m.matched_term,
                        "normalized_term": m.normalized_term,
                        "score": float(m.score), "annotations": anns,
                        "start": start, "end": end,
                        "sem_types": list(m.sem_types),
                        "sources": list(m.sources),
                        "modifiers": {}, "_slot": slot, "_pid": int(pid)})
            # end of Arrow batch: emit completed docs (the current doc may
            # continue in the next batch, its rows stay buffered)
            if out["doc_id"]:
                yield pd.DataFrame(out)
                out = {f.name: [] for f in ANNOTATED_SCHEMA.fields}
        flush_doc()
        if out["doc_id"]:
            yield pd.DataFrame(out)

    spark_parallelism = sentences.sparkSession.sparkContext.defaultParallelism
    return (sentences
            .repartition(spark_parallelism, "doc_id")
            .sortWithinPartitions("doc_id", "sent_id")
            .mapInPandas(gen, schema=ANNOTATED_SCHEMA))


def dedup_redundant_mentions(mentions: DataFrame) -> DataFrame:
    """F6: same concept + contained span -> keep widest
    (DomainOntology.removeRedundantMentions:645-670). Window over
    (doc_id, cui) — a single shuffle on the natural key."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("doc_id", "cui")
    return (mentions
            .withColumn("_w", F.collect_list(F.struct("start", "end")).over(w))
            .where(~F.exists(
                "_w", lambda o: (o["start"] <= F.col("start")) &
                                (F.col("end") <= o["end"]) &
                                ((o["end"] - o["start"]) > (F.col("end") - F.col("start")))))
            .drop("_w"))


def mention_triples(mentions: DataFrame) -> DataFrame:
    """P6a: doc -mentions_concept-> CUI (distinct per document)."""
    return (mentions
            .select(F.col("doc_id").alias("subj"),
                    F.lit("mentions_concept").alias("pred"),
                    F.col("cui").alias("obj"),
                    "doc_id")
            .distinct())


def isa_triples(spark: SparkSession, dico: Dictionary) -> DataFrame:
    """P6b: CUI -isa-> CUI from the terminology's BROADER edges."""
    rows = [(c, "isa", p, "") for c, p in dico.isa_edges]
    return spark.createDataFrame(rows, schema=TRIPLES_SCHEMA)


def materialize_triples(mentions: DataFrame, spark: SparkSession,
                        dico: Dictionary, include_isa: bool = True,
                        canonical: DataFrame | None = None) -> DataFrame:
    """P5+P6: optionally rewrite mention CUIs through the canonical map
    (connected components over synonym/xref edges, graph.canonicalize)
    before emitting doc->mentions_concept->CUI and CUI->isa->CUI triples."""
    if canonical is not None:
        from ..graph.canonicalize import canonicalize_mentions
        mentions = canonicalize_mentions(mentions, canonical)
    t = mention_triples(mentions)
    if include_isa and dico.isa_edges:
        isa = isa_triples(spark, dico)
        if canonical is not None:
            cmap = F.broadcast(canonical)
            isa = (isa.join(cmap.withColumnRenamed("cui", "subj"), "subj", "left")
                   .withColumn("subj", F.coalesce("canonical_cui", "subj"))
                   .drop("canonical_cui")
                   .join(cmap.withColumnRenamed("cui", "obj"), "obj", "left")
                   .withColumn("obj", F.coalesce("canonical_cui", "obj"))
                   .drop("canonical_cui")
                   .where(F.col("subj") != F.col("obj"))
                   .select("subj", "pred", "obj", "doc_id").distinct())
        t = t.unionByName(isa)
    return t


def run_pipeline(spark: SparkSession, documents: DataFrame, dico: Dictionary,
                 method: str | None = None, salt_buckets: int = 0,
                 context_dico: Dictionary | None = None,
                 ) -> dict[str, DataFrame]:
    """End-to-end P0->P6. Without a modifier terminology, split and match
    run fused in one narrow Python stage over the documents; with one, the
    fused doc-level annotate pass (P2+P3) runs over the split sentences —
    one shuffle on doc_id. Returns all frames; ``sentences`` is the lazy
    ``split_sentences`` of the documents either way."""
    cfg = for_search_method(method)
    dico_bc = spark.sparkContext.broadcast(dico)
    docs = salt_documents(documents, salt_buckets)
    sentences = split_sentences(docs)
    if context_dico is not None:
        context_bc = spark.sparkContext.broadcast(context_dico)
        mentions = annotate_documents(sentences, dico_bc, context_bc, cfg)
    else:
        mentions = _split_and_match(docs, dico_bc, cfg)
    triples = materialize_triples(mentions, spark, dico)
    return {"documents": docs, "sentences": sentences,
            "mentions": mentions, "triples": triples}
