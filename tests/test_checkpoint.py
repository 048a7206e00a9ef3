"""Checkpoint/resume tests: kill-and-rerun semantics, fingerprint
invalidation (config and terminology content), footer lineage counters
against a groupBy count, skew report, and the canonicalizing pipeline
against the Spark canonical map."""

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nobletools_spark.context.lexicon import modifier_dictionary
from nobletools_spark.graph.canonicalize import canonical_map
from nobletools_spark.pipeline.checkpoint import (CheckpointManager,
                                                  dictionary_digest,
                                                  fingerprint,
                                                  footer_lineage,
                                                  run_checkpointed_pipeline)
from nobletools_spark.pipeline.documents import generate_documents
from nobletools_spark.pipeline.stages import materialize_triples
from nobletools_spark.pipeline.tables import SnapshotTable
from nobletools_spark.terminology.build import build_terminology
from nobletools_spark.terminology.fixture import (FIXTURE_CONCEPTS,
                                                  FIXTURE_ISA_EDGES,
                                                  fixture_dictionary)
from nobletools_spark.terminology.storage import build_dictionary


@pytest.fixture()
def corpus(spark):
    return generate_documents(spark, 30, seed=5, partitions=3)


class TestStageCheckpoint:
    def test_compute_then_resume(self, spark, tmp_path):
        cm = CheckpointManager(spark, str(tmp_path))
        calls = []

        def compute():
            calls.append(1)
            return spark.range(100).withColumn("v", F.col("id") * 2)

        r1 = cm.run_stage("s1", "fp-a", compute)
        assert not r1.resumed and r1.rows == 100 and calls == [1]
        r2 = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp-a", compute)
        assert r2.resumed and r2.rows == 100 and calls == [1]  # no recompute
        assert sorted(x["rows_out"] for x in r2.lineage) == \
            sorted(x["rows_out"] for x in r1.lineage)

    def test_resumed_schema_matches_fresh(self, spark, tmp_path):
        # ADVICE r1: resumed stages leaked the internal _pid lineage column
        compute = lambda: spark.range(50).withColumn("v", F.col("id") + 1)
        r1 = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp-a", compute)
        r2 = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp-a", compute)
        assert r2.resumed
        assert r2.df.columns == r1.df.columns
        assert "_pid" not in r2.df.columns

    def test_fingerprint_change_invalidates(self, spark, tmp_path):
        cm = CheckpointManager(spark, str(tmp_path))
        calls = []

        def compute():
            calls.append(1)
            return spark.range(10)

        cm.run_stage("s1", "fp-a", compute)
        r = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp-b", compute)
        assert not r.resumed and calls == [1, 1]

    def test_half_written_checkpoint_reruns(self, spark, tmp_path):
        cm = CheckpointManager(spark, str(tmp_path))
        cm.run_stage("s1", "fp-a", lambda: spark.range(10))
        # simulate a kill between data write and manifest write
        os.remove(tmp_path / "s1" / "_manifest.json")
        calls = []
        r = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp-a", lambda: (calls.append(1), spark.range(10))[1])
        assert not r.resumed and calls == [1]

    def test_lineage_counters_sum_to_rows(self, spark, tmp_path):
        cm = CheckpointManager(spark, str(tmp_path))
        r = cm.run_stage("s1", "fp", lambda: spark.range(1000).repartition(7))
        assert sum(x["rows_out"] for x in r.lineage) == 1000
        assert len(r.lineage) == 7
        rep = cm.skew_report("s1")
        assert rep["partitions"] == 7 and rep["skew_ratio"] >= 1.0


def _groupby_lineage(spark, path):
    rows = (spark.read.parquet(path).groupBy("_pid")
            .agg(F.count(F.lit(1)).alias("n")).collect())
    return [{"partition_id": p, "rows_out": n} for p, n in sorted(rows)]


def _data_files(path):
    return [f for f in os.listdir(path) if not f.startswith(("_", "."))]


class TestFooterLineage:
    """Lineage read from the written parquet footers equals a groupBy
    count of the written data."""

    @pytest.mark.parametrize("write", ["repartition", "coalesce", "empty"])
    def test_equals_groupby_count(self, spark, tmp_path, write):
        frames = {
            "repartition": lambda: spark.range(1000).repartition(7),
            "coalesce": lambda: spark.range(0, 900, 1, 6).coalesce(4),
            "empty": lambda: spark.range(50).where(F.col("id") < 0),
        }
        cm = CheckpointManager(spark, str(tmp_path))
        r = cm.run_stage("s1", "fp", frames[write])
        data = str(tmp_path / "s1" / "data")
        assert r.lineage == _groupby_lineage(spark, data)
        assert r.rows == spark.read.parquet(data).count()
        if write == "empty":
            assert r.lineage == [] and r.rows == 0

    def test_several_files_per_partition(self, spark, tmp_path):
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "40")
        try:
            cm = CheckpointManager(spark, str(tmp_path))
            r = cm.run_stage("s1", "fp",
                             lambda: spark.range(0, 500, 1, 3))
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        data = str(tmp_path / "s1" / "data")
        assert len(_data_files(data)) > 3 * 3  # split within partitions
        assert r.lineage == _groupby_lineage(spark, data)
        assert [x["rows_out"] for x in r.lineage] == [166, 167, 167]

    def test_footer_spanning_partitions_raises(self, tmp_path):
        pq.write_table(pa.table({"_pid": pa.array([0, 1], pa.int32())}),
                       tmp_path / "part-0.parquet")
        with pytest.raises(RuntimeError, match="part-0.parquet"):
            footer_lineage(str(tmp_path))

    def test_footer_without_statistics_raises(self, tmp_path):
        pq.write_table(pa.table({"_pid": pa.array([2, 2], pa.int32())}),
                       tmp_path / "part-1.parquet", write_statistics=False)
        with pytest.raises(RuntimeError, match="part-1.parquet"):
            footer_lineage(str(tmp_path))


class TestPipelineResume:
    def test_kill_and_rerun_skips_completed_stages(self, spark, tmp_path, corpus):
        root = str(tmp_path / "ckpt")
        res1 = run_checkpointed_pipeline(
            spark, corpus, fixture_dictionary(), root, "best-match")
        assert not any(r.resumed for r in res1.values())
        triples1 = {tuple(r) for r in res1["triples"].df.collect()}

        # simulate kill after mentions completed: drop only the last stage
        shutil.rmtree(os.path.join(root, "triples"))
        res2 = run_checkpointed_pipeline(
            spark, corpus, fixture_dictionary(), root, "best-match")
        assert res2["sentences"].resumed
        assert res2["mentions"].resumed
        assert not res2["triples"].resumed
        triples2 = {tuple(r) for r in res2["triples"].df.collect()}
        assert triples1 == triples2

    def test_config_change_invalidates_downstream_only(self, spark, tmp_path, corpus):
        root = str(tmp_path / "ckpt")
        run_checkpointed_pipeline(spark, corpus, fixture_dictionary(), root,
                                  "best-match")
        res = run_checkpointed_pipeline(spark, corpus, fixture_dictionary(),
                                        root, "all-match")
        assert res["sentences"].resumed          # upstream untouched
        assert not res["mentions"].resumed       # method changed
        assert not res["triples"].resumed        # downstream of mentions

    def test_manifest_contents(self, spark, tmp_path, corpus):
        root = str(tmp_path / "ckpt")
        run_checkpointed_pipeline(spark, corpus, fixture_dictionary(), root)
        with open(os.path.join(root, "mentions", "_manifest.json")) as f:
            m = json.load(f)
        assert m["stage"] == "mentions"
        assert m["rows"] == sum(x["rows_out"] for x in m["lineage"])
        assert all({"partition_id", "rows_out"} <= set(x) for x in m["lineage"])


class TestTerminologyFingerprint:
    def test_digest_is_content_based(self):
        a, b = fixture_dictionary(), build_dictionary(
            FIXTURE_CONCEPTS, isa_edges=FIXTURE_ISA_EDGES)
        assert a is not b and dictionary_digest(a) == dictionary_digest(b)
        assert dictionary_digest(a) != dictionary_digest(
            modifier_dictionary())

    def test_changed_dictionary_recomputes_mentions(self, spark, tmp_path,
                                                    corpus):
        root = str(tmp_path / "ckpt")
        res1 = run_checkpointed_pipeline(
            spark, corpus, fixture_dictionary(), root, "best-match",
            canonicalize=True)
        counts = {r.cui: r.n for r in res1["mentions"].df.groupBy("cui")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        # drop the most-mentioned concept that has no isa edge of its own
        in_isa = {c for e in FIXTURE_ISA_EDGES for c in e}
        dropped = max((c for c in counts if c not in in_isa),
                      key=lambda c: (counts[c], c))
        smaller = build_dictionary(
            [c for c in FIXTURE_CONCEPTS if c["cui"] != dropped],
            isa_edges=FIXTURE_ISA_EDGES)
        res2 = run_checkpointed_pipeline(spark, corpus, smaller, root,
                                         "best-match", canonicalize=True)
        assert res2["sentences"].resumed
        assert not any(res2[s].resumed
                       for s in ("mentions", "canonical", "triples"))
        assert res2["mentions"].df.where(F.col("cui") == dropped).count() == 0
        triples = {tuple(r) for r in res2["triples"].df.collect()}
        assert not any(dropped in (t[0], t[2]) for t in triples)


class TestCanonicalizingPipeline:
    """``run_checkpointed_pipeline`` with ConText and canonicalization:
    its triples equal ``materialize_triples`` over its own mentions
    checkpoint with the Spark ``canonical_map`` as the reference map,
    fresh and after a kill that left only sentences and mentions."""

    def _reference(self, spark, res, dico):
        tables = build_terminology(spark, list(dico.concepts.values()),
                                   dico.build_config)
        ref_map = canonical_map(tables["term_index"], tables["code_xref"])
        mapping = {r.cui: r.canonical_cui for r in ref_map.collect()}
        mentioned = {r.cui for r in res["mentions"].df.select("cui")
                     .distinct().collect()}
        # the corpus exercises the rewrite, not only the identity
        assert any(mapping.get(c, c) != c for c in mentioned)
        return {tuple(r) for r in materialize_triples(
            res["mentions"].df, spark, dico, canonical=ref_map).collect()}

    def test_fresh_and_resumed_match_spark_reference(self, spark, tmp_path,
                                                     corpus):
        dico, ctx = fixture_dictionary(), modifier_dictionary()
        root, table = str(tmp_path / "ckpt"), str(tmp_path / "table")

        def run():
            return run_checkpointed_pipeline(
                spark, corpus, dico, root, "best-match", context_dico=ctx,
                canonicalize=True, table_root=table)

        res = run()
        assert not any(r.resumed for r in res.values())
        expected = self._reference(spark, res, dico)
        assert {tuple(r) for r in res["triples"].df.collect()} == expected
        assert ({tuple(r) for r in SnapshotTable(spark, table).read()
                 .select("subj", "pred", "obj", "doc_id").collect()}
                == expected)

        # kill after the mentions checkpoint: nothing downstream persisted
        for stage in ("canonical", "triples"):
            os.remove(os.path.join(root, stage, "_manifest.json"))
        shutil.rmtree(table)
        res = run()
        assert {k: r.resumed for k, r in res.items()} == {
            "sentences": True, "mentions": True, "canonical": False,
            "triples": False}
        assert self._reference(spark, res, dico) == expected
        assert {tuple(r) for r in res["triples"].df.collect()} == expected
        assert ({tuple(r) for r in SnapshotTable(spark, table).read()
                 .select("subj", "pred", "obj", "doc_id").collect()}
                == expected)


def test_fingerprint_stable():
    assert fingerprint("a", "b") == fingerprint("a", "b")
    assert fingerprint("a", "b") != fingerprint("ab")
