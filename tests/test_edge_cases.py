"""Robustness: empty feeds, single-row groups, null-heavy inputs."""

import pytest

import pyspark.sql.functions as F

from oracdc_spark.operators import cdc
from tests.test_cdc_semantics import SCHEMA, mk, row


def test_empty_feed_all_operators(spark):
    empty = mk(spark, [])
    assert cdc.committed_changes(empty).count() == 0
    assert cdc.commit_ordered(empty).count() == 0
    assert cdc.apply_changes(empty).count() == 0
    assert cdc.txn_stats(empty).count() == 0
    r = cdc.restart_scn(empty).collect()
    assert len(r) == 1 and r[0].restart_scn is None


def test_commit_without_statements(spark):
    feed = mk(spark, [row(20, "A", 7)])  # bare commit, no DML
    assert cdc.committed_changes(feed).count() == 0
    assert cdc.apply_changes(feed).count() == 0


def test_only_rollback_marker(spark):
    # a partial-rollback marker with no original and no control record:
    # never emitted, but the transaction counts as open (the marker may
    # pair with a change that arrives later — suspicious-first-record)
    feed = mk(spark, [row(14, "A", 3, pk=1, rollback=True)])
    assert cdc.committed_changes(feed).count() == 0
    assert cdc.open_transactions(feed).count() == 1
    assert cdc.restart_scn(feed).first().restart_scn == 14


def test_delete_then_reinsert_same_pk(spark):
    feed = mk(
        spark,
        [
            row(10, "A", 1, pk=1, totalprice=1.0, status="O"),
            row(11, "A", 2, pk=1, b_tp=1.0, b_st="O"),
            row(12, "A", 1, pk=1, totalprice=2.0, status="N"),
            row(20, "A", 7),
        ],
    )
    out = cdc.apply_changes(feed).collect()
    assert len(out) == 1 and out[0].totalprice == 2.0 and out[0].status == "N"


def test_assemble_fn_empty_group(spark):
    """The state function itself handles an empty pandas iterator."""
    import pandas as pd

    from oracdc_spark.streaming.assembly import ROW_FIELDS, assemble_fn

    class FakeState:
        exists = False

        def update(self, v):
            self.saved = v

        def remove(self):
            pass

    out = list(assemble_fn(("A",), iter([pd.DataFrame(columns=ROW_FIELDS)]), FakeState()))
    assert out == []


def test_near_dups_candidates_bounded_by_lsh_buckets(spark):
    """embedding_near_dups must score only pairs sharing (cell, band) —
    the LSH bound — and every emitted pair really clears the threshold
    with an exact score (round-2 verdict item 7)."""
    import pyspark.sql.functions as F

    from oracdc_spark.catalog import load_table
    from oracdc_spark.operators.similarity import (
        embedding_near_dups,
        lsh_signatures,
        quantized,
    )

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = embedding_near_dups(vecs, threshold_score=0.05).collect()
    sig = {
        r.vec_id: (r.band0, r.band1)
        for r in lsh_signatures(quantized(vecs)).collect()
    }
    cell = {r.vec_id: r.label for r in vecs.select("vec_id", "label").collect()}
    assert out, "expected some pairs at the looser threshold"
    for r in out:
        assert cell[r.v1] == cell[r.v2]
        b1, b2 = sig[r.v1], sig[r.v2]
        assert b1[0] == b2[0] or b1[1] == b2[1]  # agree on >= 1 band
        assert r.score >= 0.05


@pytest.mark.slow
def test_dedup_clusters_transitive(spark):
    """Connected components must be transitive: A~B and B~C put all three
    in one cluster even when A and C share nothing directly."""
    import pyspark.sql.functions as F

    from oracdc_spark.operators.dedup import dedup_clusters

    # build texts so doc1~doc2 and doc2~doc3 share >=50% 2-shingles but
    # doc1 and doc3 do not
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e f g h"),       # supersedes 1's shingles
            (3, "c d e f g h i j"),       # overlaps 2, not 1 enough
            (4, "totally different text here now ok"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(docs, n=2, threshold=0.5).collect()}
    assert out[4] == 4  # singleton
    assert out[1] == out[2] == out[3] == 1  # one transitive component


def test_sq8_codes_bounded_and_recall_sane(spark):
    """SQ8 codes must stay in [0, 255]; decoded search must recover most
    exact neighbors (scalar quantization loses little on smooth data)."""
    import pyspark.sql.functions as F

    from oracdc_spark.catalog import load_table
    from oracdc_spark.operators import similarity as sim

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    comps = sim.sq8_components(vecs)
    stats = sim.sq8_train(comps)
    codes = sim.sq8_encode(comps, stats)
    mm = codes.agg(F.min("c"), F.max("c")).first()
    assert mm[0] >= 0 and mm[1] <= 255
    rec = sim.sq8_recall(vecs, 100, 5).agg(F.avg("recall")).first()[0]
    assert rec >= 0.6


def test_multiprobe_recall_dominates_single_probe(spark):
    """nprobe=2 must recover at least the single-probe recall vs the
    brute-force ground truth, and the probe set must include the query's
    own cell (distance 0 to its own region's centroid region is not
    guaranteed, but recall must not drop)."""
    from oracdc_spark.catalog import load_table
    from oracdc_spark.operators.similarity import (
        brute_force_topk,
        ivf_multiprobe_topk,
        ivf_topk,
    )

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(vecs, 100, 3).collect()
    }
    single = {
        (r.query_id, r.neighbor_id) for r in ivf_topk(vecs, 100, 3).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in ivf_multiprobe_topk(vecs, 100, 3, 2).collect()
    }
    assert truth
    r_single = len(single & truth) / len(truth)
    r_multi = len(multi & truth) / len(truth)
    assert r_multi >= r_single


@pytest.mark.slow
def test_simhash_recall_audit_zero_guard_and_bounds(spark):
    """Audit emits one row PER rotation count (r6 contract); each row
    is defined (1.0) on a corpus with no exact near-dup pairs, and hits
    can never exceed either side's pair count."""
    from oracdc_spark.operators.dedup import simhash_recall_audit

    distinct = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        "doc_id long, text string",
    )
    rows = simhash_recall_audit(distinct).collect()
    assert sorted(r.rotations for r in rows) == [1, 3]
    for r in rows:
        assert r.n_exact == 0 and r.recall == 1.0

    dups = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog today"),
         (3, "completely different content with no overlap at all here")],
        "doc_id long, text string",
    )
    rows = sorted(simhash_recall_audit(dups).collect(), key=lambda r: r.rotations)
    assert [r.rotations for r in rows] == [1, 3]
    for r in rows:
        assert r.n_exact == 1
        assert r.n_hits <= r.n_exact and r.n_hits <= r.n_candidates
        assert r.recall == r.n_hits / r.n_exact
    # more rotations can only add candidate buckets, never remove hits
    assert rows[1].n_hits >= rows[0].n_hits


class TestDedupClustersFast:
    @pytest.mark.slow
    def test_matches_label_propagation_on_corpus(self, spark):
        from oracdc_spark.catalog import load_table
        from oracdc_spark.operators import dedup

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        a = {(r.doc_id, r.cluster_id) for r in dedup.dedup_clusters(docs).collect()}
        b = {
            (r.doc_id, r.cluster_id)
            for r in dedup.dedup_clusters_fast(docs).collect()
        }
        assert a == b

    @pytest.mark.slow
    def test_deep_chain_converges_in_log_rounds(self, spark):
        """A 24-doc chain (diameter 23) needs ~23 plain-propagation
        rounds; the pointer-jumping variant must finish the whole
        component inside 6 rounds (log2(24) ~ 4.6 + margin)."""
        from oracdc_spark.operators import dedup

        chunks = [" ".join(f"c{j}w{t}" for t in range(12)) for j in range(25)]
        rows = [(i, chunks[i] + " " + chunks[i + 1]) for i in range(24)]
        chain = spark.createDataFrame(rows, "doc_id long, text string")
        # adjacent docs share 12 of ~36 distinct 5-shingles -> use a low
        # threshold so the chain is actually connected
        out = dedup.dedup_clusters_fast(chain, threshold=0.15, max_iters=6)
        clusters = {r.cluster_id for r in out.collect()}
        assert clusters == {0}
