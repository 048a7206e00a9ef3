"""The three workloads, driven through the pipeline's public functions.

Each workload object lives in one Spark session process (``worker.py``) and
offers:

- ``setup()``: load the input table and build the dictionary or
  terminology tables the passes need (timed as ``setup_s``);
- ``expect(path)``: load the expected output, derived without Spark by
  ``checks.expectation``;
- ``run_pass()``: one untraced pass from the input table to the final
  triples, ending in a digest (row counts and xors of row hashes), then,
  untimed, the check of that pass against the expectation;
- ``traced(tracer)``: the same work as one pass, but each layer's public
  function is called on the previous layer's cached output inside its own
  span; then the layers the pass does not use run beside it as probes.
  ``traced_metrics`` turns the spans into the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import checks as C
from gen import part_paths
from spans import Tracer, stage_metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from nobletools_spark.config import for_search_method  # noqa: E402
from nobletools_spark.pipeline import stages as S  # noqa: E402

METHOD = "best-match"
KERNEL_SENTENCES = 2000

# every per-layer metric, with its unit; a metric that neither the pass nor
# a probe of the workload measures reports 0
LAYER_METRICS = {
    "documents.interleave_s": "s", "documents.docs_out": "count",
    "sentence.split_s": "s", "sentence.sentences_out": "count",
    "sentence.cpu_s": "s",
    "matcher.match_s": "s", "matcher.mentions_out": "count",
    "matcher.mentions_per_sentence": "ratio",
    "matcher.kernel_us_per_sentence": "us",
    "matcher.boundary_ratio": "ratio",
    "context.annotate_s": "s", "context.extra_s": "s",
    "context.shuffle_write_bytes": "bytes",
    "stages.materialize_s": "s", "stages.triples_out": "count",
    "stages.distinct_ratio": "ratio",
    "canonicalize.map_s": "s", "canonicalize.rows_out": "count",
    "checkpoint.overhead_s": "s", "checkpoint.bytes_written": "bytes",
    "checkpoint.skew_ratio": "ratio", "checkpoint.noop_rerun_s": "s",
    "tables.commit_s": "s", "tables.bytes_written": "bytes",
    "shuffle_match.match_s": "s",
    "shuffle_match.shuffle_write_bytes": "bytes",
    "shuffle_match.task_skew": "ratio",
    "terminology.build_s": "s", "terminology.terms": "count",
    "spark.executor_cpu_s": "s", "spark.cpu_util": "ratio",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.task_skew": "ratio", "spark.scaling_efficiency": "ratio",
    "trace.overhead_s": "s", "trace.ledger_coverage": "ratio",
    "host.canary_s": "s",
}

TRIPLE_COLS = ("subj", "pred", "obj", "doc_id")


def subset_col(col: str):
    return F.substring(F.md5(F.col(col)), 1, len(C.SUBSET_PREFIX)) \
        == C.SUBSET_PREFIX


def in_checked_subset():
    """Triples of the checked document subset, plus the document-less isa
    triples."""
    return (F.col("doc_id") == "") | subset_col("doc_id")


def digest(df: DataFrame) -> list[int]:
    """``[rows, xor of row hashes, subset rows, xor of subset row hashes]``
    over the triple columns: the order-free identity of a distinct triple
    set and of its checked subset, computed by the pass's own final
    action."""
    h = F.xxhash64(*TRIPLE_COLS)
    sub = in_checked_subset()
    r = df.agg(F.count(F.lit(1)), F.bit_xor(h), F.count_if(sub),
               F.bit_xor(F.when(sub, h))).first()
    return [int(v or 0) for v in r]


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, input_dir: str, files: int,
                 work_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.input_dir = input_dir
        self.paths = part_paths(input_dir, files)
        with open(os.path.join(input_dir, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.docs = self.manifest["docs"] * files // self.manifest["files"]
        self.work_dir = work_dir
        self.cfg = for_search_method(METHOD)
        self.passes = 0

    def read(self) -> DataFrame:
        return self.spark.read.parquet(*self.paths)

    def setup(self, tracer: Tracer | None = None) -> None:
        self.spark.catalog.clearCache()
        n = self.read().count()
        if n != self.docs:
            raise RuntimeError(f"input has {n} documents, expected {self.docs}")
        self.build(tracer)

    def build(self, tracer: Tracer | None) -> None:
        raise NotImplementedError

    def triples(self) -> DataFrame:
        raise NotImplementedError

    def expect(self, path: str) -> None:
        """Load the independent derivation every pass is checked against
        (``checks.expectation``)."""
        with open(path) as f:
            self.load_expectation(json.load(f))

    def load_expectation(self, data) -> None:
        raise NotImplementedError

    def digest_of(self, triples: set[tuple]) -> list[int]:
        return digest(self.spark.createDataFrame(sorted(triples),
                                                 S.TRIPLES_SCHEMA))

    def run_pass(self, resume: bool = False) -> dict:
        """Timed from the input table to the digest of the final triples;
        the check that follows is not timed."""
        d, wall = timed(lambda: digest(self.triples()))
        return {"wall_s": wall, "digest": d, "checks": [self.verify(d)]}

    def verify(self, d: list[int]) -> dict:
        raise NotImplementedError

    # -- tracing -----------------------------------------------------------

    # run the layers the pass does not exercise on the pass's own outputs,
    # beside the pass, so every layer reports a measured time
    PROBE = True

    def _root(self) -> str:
        self.passes += 1
        root = os.path.join(self.work_dir, f"pass-{self.passes}")
        shutil.rmtree(root, ignore_errors=True)
        return root

    def layer(self, tracer: Tracer, name: str, layer: str, fn) -> DataFrame:
        """Call ``fn`` (a layer's public function on the previous layer's
        cached output) in a span; cache and count what it returns."""
        with tracer.span(name, layer) as s:
            df = fn().cache()
            s.counts["rows"] = df.count()
        self._cached.append(df)
        return df

    def persist(self, tracer: Tracer, name: str, cm, stage: str,
                df: DataFrame):
        """``CheckpointManager.run_stage`` of an already cached output: the
        span holds only the checkpoint write, read-back and lineage."""
        from nobletools_spark.pipeline.checkpoint import fingerprint
        fp = fingerprint(stage, *self._fps.values())
        self._fps[stage] = fp
        with tracer.span(name, "checkpoint"):
            return cm.run_stage(stage, fp, lambda: df)

    def terminology(self, tracer: Tracer, name: str) -> dict:
        """``terminology.build`` of the workload's dictionary as
        ``run_checkpointed_pipeline`` calls it; the two tables
        ``canonical_map`` reads are cached and counted."""
        from nobletools_spark.terminology.build import build_terminology
        with tracer.span(name, "terminology") as s:
            tables = build_terminology(
                self.spark, list(self.dico.concepts.values()),
                self.dico.build_config)
            for k in ("term_index", "code_xref"):
                tables[k] = tables[k].cache()
                self._cached.append(tables[k])
                n = tables[k].count()
                if k == "term_index":
                    s.counts["rows"] = n
        return tables

    def traced(self, tracer: Tracer) -> dict:
        from nobletools_spark.context.lexicon import modifier_dictionary
        from nobletools_spark.graph.canonicalize import canonical_map
        from nobletools_spark.pipeline.checkpoint import CheckpointManager
        from nobletools_spark.pipeline.shuffle_match import \
            detect_mentions_shuffle
        from nobletools_spark.pipeline.tables import \
            commit_triples_idempotent
        from nobletools_spark.terminology.build import compact_word_index

        self._cached, self._fps = [], {}
        root = self._root()
        self.bc = self.sc.broadcast(self.dico)
        with tracer.span("pass") as pass_span:
            out = self.traced_pass(tracer, root)
        done = {s.layer for s in tracer.spans if s.parent == pass_span.id}
        sents, tri = out["sentences"], out["triples"]
        if self.PROBE:
            ctx_bc = self.sc.broadcast(modifier_dictionary())
            with tracer.span("probes"):
                if "matcher" not in done:
                    self.layer(tracer, "probe.matcher", "matcher",
                               lambda: S.detect_mentions(sents, self.bc,
                                                         self.cfg))
                if "context" not in done:
                    self.layer(tracer, "probe.context", "context",
                               lambda: S.annotate_documents(
                                   sents, self.bc, ctx_bc, self.cfg))
                tables = out.get("tables") or self.terminology(
                    tracer, "probe.terminology")
                if "canonicalize" not in done:
                    self.layer(tracer, "probe.canonicalize", "canonicalize",
                               lambda: canonical_map(tables["term_index"],
                                                     tables["code_xref"]))
                if "shuffle_match" not in done:
                    def shuffle_match():
                        tables["word_index_compact"] = compact_word_index(
                            tables["term_index"], tables["word_stats"])
                        return detect_mentions_shuffle(sents, tables,
                                                       self.cfg)
                    self.layer(tracer, "probe.shuffle_match",
                               "shuffle_match", shuffle_match)
                cm = out.get("cm")
                if cm is None:
                    cm = CheckpointManager(self.spark,
                                           os.path.join(root, "ckpt"))
                    self.persist(tracer, "probe.checkpoint", cm, "triples",
                                 tri)
                with tracer.span("probe.checkpoint_noop", "checkpoint_noop"):
                    for stage, fp in self._fps.items():
                        if not cm.run_stage(stage, fp, lambda: None).resumed:
                            raise RuntimeError(f"{stage} was not resumed")
                if "tables" not in done:
                    with tracer.span("probe.tables", "tables"):
                        commit_triples_idempotent(
                            self.spark, cm.results["triples"].df,
                            os.path.join(root, "table"),
                            self._fps["triples"])
            ctx_bc.unpersist()
            out["skew_ratio"] = max(cm.skew_report(s)["skew_ratio"] or 0.0
                                    for s in cm.results)
        out["digest"] = digest(tri)
        out["kernel_us"] = (self.kernel_us(sents) if "matcher" in
                            {s.layer for s in tracer.spans} else 0.0)
        out["checkpoint_bytes"] = du(os.path.join(root, "ckpt"))
        out["table_bytes"] = du(os.path.join(root, "table"))
        for df in self._cached:
            df.unpersist()
        self.bc.unpersist()
        shutil.rmtree(root, ignore_errors=True)
        return out

    def traced_pass(self, tracer: Tracer, root: str) -> dict:
        """The pass, layer by layer; returns the cached ``sentences`` and
        ``triples``, the row count of the layer that made the mentions
        (``mentions_rows``), and what the probes can reuse (``tables``,
        ``cm``)."""
        raise NotImplementedError

    def kernel_us(self, sentences: DataFrame) -> float:
        """Single-thread, in-process ``process_sentence`` per sentence over the
        first KERNEL_SENTENCES sentences, as ``detect_mentions`` calls it."""
        from nobletools_spark.matcher.core import process_sentence
        from nobletools_spark.sentence.splitter import filter_deid_tags
        rows = (sentences.orderBy("doc_id", "sent_id")
                .limit(KERNEL_SENTENCES).select("text").collect())
        texts = [filter_deid_tags(r.text) for r in rows]
        t0 = time.perf_counter()
        for t in texts:
            process_sentence(t, self.dico, self.cfg)
        return (time.perf_counter() - t0) / max(len(texts), 1) * 1e6


class DataengMatch(Workload):
    """Flat dataeng documents through ``run_pipeline`` with no context:
    the match stage is most of the work."""

    name = "dataeng_match"

    def build(self, tracer):
        from nobletools_spark.terminology.dataeng import dataeng_dictionary
        self.dico = dataeng_dictionary()

    def flat_documents(self) -> DataFrame:
        from nobletools_spark.pipeline.documents import \
            interleave_flat_documents
        return interleave_flat_documents(self.read())

    def triples(self) -> DataFrame:
        return S.run_pipeline(self.spark, self.flat_documents(), self.dico,
                              METHOD)["triples"]

    def load_expectation(self, rows) -> None:
        self.expected = {tuple(r) for r in rows}
        self.expected_digest = self.digest_of(self.expected)

    def verify(self, d):
        """The pass's subset digest against the DuckDB oracle's; on a
        mismatch the subset is collected and compared row by row."""
        if d[2:] == self.expected_digest[:2]:
            return {"check": "kg_oracle", "ok": True,
                    "compared": len(self.expected)}
        got = {tuple(r) for r in self.triples().where(in_checked_subset())
               .select(*TRIPLE_COLS).collect()}
        return C.compare("kg_oracle", got, self.expected)

    def traced_pass(self, tracer, root):
        docs = self.layer(tracer, "documents", "documents",
                          self.flat_documents)
        sents = self.layer(tracer, "sentence", "sentence",
                           lambda: S.split_sentences(docs))
        men = self.layer(tracer, "matcher", "matcher",
                         lambda: S.detect_mentions(sents, self.bc, self.cfg))
        tri = self.layer(tracer, "stages", "stages",
                         lambda: S.materialize_triples(men, self.spark,
                                                       self.dico))
        return {"sentences": sents, "triples": tri,
                "mentions_rows": men.count()}


class ClinicalCheckpointed(Workload):
    """Clinical notes through ``run_checkpointed_pipeline`` with ConText,
    canonicalization and the snapshot commit, then a simulated kill after
    the mentions checkpoint and a resume."""

    name = "clinical_checkpointed"

    def build(self, tracer):
        from nobletools_spark.context.lexicon import modifier_dictionary
        from nobletools_spark.terminology.fixture import fixture_dictionary
        self.dico = fixture_dictionary()
        self.context = modifier_dictionary()

    def checkpointed(self, root: str) -> dict:
        from nobletools_spark.pipeline.checkpoint import \
            run_checkpointed_pipeline
        return run_checkpointed_pipeline(
            self.spark, self.read(), self.dico, os.path.join(root, "ckpt"),
            method=METHOD, context_dico=self.context, canonicalize=True,
            table_root=os.path.join(root, "table"))

    def committed(self, root: str) -> list[int]:
        from nobletools_spark.pipeline.tables import SnapshotTable
        return digest(SnapshotTable(self.spark,
                                    os.path.join(root, "table")).read())

    @staticmethod
    def kill(root: str) -> None:
        """The state a kill after the mentions checkpoint leaves: the
        canonical and triples manifests were never written, and nothing was
        committed."""
        for stage in ("canonical", "triples"):
            os.remove(os.path.join(root, "ckpt", stage, "_manifest.json"))
        shutil.rmtree(os.path.join(root, "table"))

    def load_expectation(self, rows) -> None:
        self.expected = {tuple(r) for r in rows}

    def run_pass(self, resume=False):
        """A cold checkpointed pass into a fresh root (timed), then, with
        ``resume``, the simulated kill and the resume (timed). The subset's
        mentions checkpoint is checked against the sequential reference,
        and the triples checkpoint, the committed snapshot and the resumed
        output must agree."""
        root = self._root()
        res, wall = timed(lambda: self.checkpointed(root))
        got = {(r.doc_id, r.cui, a.offset, a.text)
               for r in res["mentions"].df.where(subset_col("doc_id"))
               .select("doc_id", "cui", "annotations").collect()
               for a in r.annotations}
        digests = {"checkpoint": digest(res["triples"].df),
                   "committed": self.committed(root)}
        out = {"wall_s": wall, "digest": digests["committed"]}
        if resume:
            self.kill(root)
            res, out["resume_s"] = timed(lambda: self.checkpointed(root))
            resumed = {k: r.resumed for k, r in res.items()}
            if resumed != {"sentences": True, "mentions": True,
                           "canonical": False, "triples": False}:
                raise RuntimeError(f"resume recomputed the wrong stages: "
                                   f"{resumed}")
            digests["resumed"] = self.committed(root)
            digests["resumed_checkpoint"] = digest(res["triples"].df)
        shutil.rmtree(root)
        out["checks"] = [
            C.compare("sequential_reference", got, self.expected),
            C.check_identical("checkpoint_commit_resume", digests)]
        return out

    def traced_pass(self, tracer, root):
        """Mirrors the stage order of ``run_checkpointed_pipeline``: each
        stage's output is made and cached by its layer span, then persisted
        by a checkpoint span, and the triples are committed."""
        from nobletools_spark.graph.canonicalize import canonical_map
        from nobletools_spark.pipeline.checkpoint import CheckpointManager
        from nobletools_spark.pipeline.tables import \
            commit_triples_idempotent
        cm = CheckpointManager(self.spark, os.path.join(root, "ckpt"))
        ctx_bc = self.sc.broadcast(self.context)
        docs = self.layer(tracer, "documents", "documents", self.read)
        sents = self.layer(tracer, "sentence", "sentence",
                           lambda: S.split_sentences(docs))
        sent_ck = self.persist(tracer, "checkpoint.sentences", cm,
                               "sentences", sents)
        ann = self.layer(tracer, "context", "context",
                         lambda: S.annotate_documents(sent_ck.df, self.bc,
                                                      ctx_bc, self.cfg))
        men_ck = self.persist(tracer, "checkpoint.mentions", cm, "mentions",
                              ann)
        tables = self.terminology(tracer, "terminology")
        canon = self.layer(tracer, "canonicalize", "canonicalize",
                           lambda: canonical_map(tables["term_index"],
                                                 tables["code_xref"]))
        canon_ck = self.persist(tracer, "checkpoint.canonical", cm,
                                "canonical", canon)
        tri = self.layer(tracer, "stages", "stages",
                         lambda: S.materialize_triples(
                             men_ck.df, self.spark, self.dico,
                             canonical=canon_ck.df))
        tri_ck = self.persist(tracer, "checkpoint.triples", cm, "triples",
                              tri)
        with tracer.span("tables"):
            commit_triples_idempotent(self.spark, tri_ck.df,
                                      os.path.join(root, "table"),
                                      self._fps["triples"])
        ctx_bc.unpersist()
        return {"sentences": sents, "triples": tri, "tables": tables,
                "cm": cm, "mentions_rows": ann.count()}


class LargeVocab(Workload):
    """One-sentence documents matched through the shuffle-join path against
    a synthetic vocabulary built in set-up."""

    name = "large_vocab"
    PROBE = False

    def build(self, tracer):
        from contextlib import nullcontext

        from nobletools_spark.terminology.build import (build_tables,
                                                        compact_word_index)
        from nobletools_spark.terminology.storage import Dictionary
        from vocab_scale import synthetic_vocab
        with tracer.span("terminology") if tracer else nullcontext() as sp:
            tables = build_tables(synthetic_vocab(
                self.spark, self.manifest["concepts"],
                self.manifest["shared_words"]))
            tables["word_index_compact"] = compact_word_index(
                tables["term_index"], tables["word_stats"])
            self.tables = {k: tables[k].cache() for k in
                           ("concepts", "term_index", "word_index_compact")}
            terms = self.tables["term_index"].count()
            if sp is not None:
                sp.counts["rows"] = terms
            for k in ("concepts", "word_index_compact"):
                self.tables[k].count()
        self.dico = Dictionary()  # no isa edges in the synthetic vocabulary

    def triples(self) -> DataFrame:
        from nobletools_spark.pipeline.shuffle_match import \
            detect_mentions_shuffle
        sents = S.split_sentences(self.read())
        men = detect_mentions_shuffle(sents, self.tables, self.cfg)
        return S.materialize_triples(men, self.spark, self.dico)

    def load_expectation(self, cuis) -> None:
        self.expected = cuis
        self.expected_digest = self.digest_of(
            {(d, "mentions_concept", c, d) for d, c in cuis.items()})

    def verify(self, d):
        """The pass's digest against that of one triple per document with
        its quoted CUI; on a mismatch the triples are collected and compared
        document by document."""
        if d[:2] == self.expected_digest[:2]:
            return {"check": "expected_cuis", "ok": True,
                    "compared": len(self.expected)}
        got = {(r.doc_id, r.obj) for r in
               self.triples().select("doc_id", "obj").collect()}
        return C.check_expected_cuis(got, self.expected)

    def traced_pass(self, tracer, root):
        from nobletools_spark.pipeline.shuffle_match import \
            detect_mentions_shuffle
        docs = self.layer(tracer, "documents", "documents", self.read)
        sents = self.layer(tracer, "sentence", "sentence",
                           lambda: S.split_sentences(docs))
        men = self.layer(tracer, "shuffle_match", "shuffle_match",
                         lambda: detect_mentions_shuffle(sents, self.tables,
                                                         self.cfg))
        tri = self.layer(tracer, "stages", "stages",
                         lambda: S.materialize_triples(men, self.spark,
                                                       self.dico))
        return {"sentences": sents, "triples": tri,
                "mentions_rows": men.count()}


WORKLOADS = {w.name: w for w in (DataengMatch, ClinicalCheckpointed,
                                 LargeVocab)}


def traced_metrics(wl: Workload, tracer: Tracer, untraced_s: float) -> dict:
    """Run the traced pass and turn its spans, the probes' spans and Spark's
    stage counters into the per-layer metrics."""
    out = wl.traced(tracer)
    rest = stage_metrics(wl.spark)
    root = tracer.root("pass")
    spans = [s for s in tracer.spans if s.parent is not None]
    in_pass = [s for s in spans if _under(tracer, s, root.id)]

    def of(layer):
        return [s for s in spans if s.layer == layer]

    def wall(layer):
        return sum(s.wall_s for s in of(layer))

    def rows(layer):
        return sum(s.counts.get("rows", 0) for s in of(layer))

    def stage(layer, key):
        groups = [rest[s.name] for s in of(layer) if s.name in rest]
        if key == "task_skew":
            return max((g[key] for g in groups), default=0.0)
        return sum(g[key] for g in groups)

    n_sent = rows("sentence")
    kernel = out["kernel_us"]
    layer_self = tracer.layer_self_s(root)
    pass_groups = [rest[s.name] for s in in_pass if s.name in rest]
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    m.update({
        "documents.interleave_s": wall("documents"),
        "documents.docs_out": rows("documents"),
        "sentence.split_s": wall("sentence"),
        "sentence.sentences_out": n_sent,
        "sentence.cpu_s": sum(s.cpu_s for s in of("sentence")),
        "matcher.match_s": wall("matcher"),
        "matcher.mentions_out": rows("matcher"),
        "matcher.mentions_per_sentence": rows("matcher") / max(n_sent, 1),
        "matcher.kernel_us_per_sentence": kernel,
        "matcher.boundary_ratio": (
            sum(s.cpu_s for s in of("matcher")) / max(n_sent, 1) * 1e6
            / kernel if kernel else 0.0),
        "context.annotate_s": wall("context"),
        "context.extra_s": wall("context") - wall("matcher"),
        "context.shuffle_write_bytes": stage("context",
                                             "shuffle_write_bytes"),
        "stages.materialize_s": wall("stages"),
        "stages.triples_out": rows("stages"),
        "stages.distinct_ratio": rows("stages") / max(out["mentions_rows"],
                                                      1),
        "canonicalize.map_s": wall("canonicalize"),
        "canonicalize.rows_out": rows("canonicalize"),
        "checkpoint.overhead_s": wall("checkpoint"),
        "checkpoint.bytes_written": out["checkpoint_bytes"],
        "checkpoint.skew_ratio": out.get("skew_ratio", 0.0),
        "checkpoint.noop_rerun_s": wall("checkpoint_noop"),
        "tables.commit_s": wall("tables"),
        "tables.bytes_written": out["table_bytes"],
        "shuffle_match.match_s": wall("shuffle_match"),
        "shuffle_match.shuffle_write_bytes": stage("shuffle_match",
                                                   "shuffle_write_bytes"),
        "shuffle_match.task_skew": stage("shuffle_match", "task_skew"),
        "terminology.build_s": wall("terminology"),
        "terminology.terms": rows("terminology"),
        "spark.executor_cpu_s": sum(g["executor_cpu_s"] for g in pass_groups),
        "spark.cpu_util": root.cpu_s / (root.wall_s * wl.cores),
        "spark.gc_s": sum(g["gc_s"] for g in pass_groups),
        "spark.shuffle_write_bytes": sum(g["shuffle_write_bytes"]
                                         for g in pass_groups),
        "spark.task_skew": max(pass_groups, key=lambda g: g["widest_tasks"],
                               default={"task_skew": 0.0})["task_skew"],
        "trace.overhead_s": root.wall_s - untraced_s,
        "trace.ledger_coverage": sum(layer_self.values()) / root.wall_s,
    })
    return {"digest": out["digest"], "metrics": m, "layer_self_s": layer_self,
            "pass_wall_s": root.wall_s, "stage_metrics": rest,
            "spans": tracer.dump()}


def _under(tracer: Tracer, span, root_id: int) -> bool:
    while span.parent is not None:
        if span.parent == root_id:
            return True
        span = tracer.spans[span.parent]
    return False
