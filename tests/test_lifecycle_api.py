"""The lifecycle API (operators/lifecycle.py) end-to-end: build →
probe → append → probe, append-equals-rebuild, for all three
incremental modalities. The raw-recipe pins live in
tests/test_round7_ops.py / test_round8_ops.py; these tests assert the
PRODUCT API reproduces them, including the sidecar-count maintenance
(per-key counts as appended rows summed partition-local) that replaces
from-scratch census recomputes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from overturelink_data_pipeline_spark.operators.lifecycle import (
    BandIndex,
    PostingIndex,
    SemanticRelease,
    temp_name,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _body(tag: str, n: int = 30) -> str:
    return " ".join(f"{tag}{i}" for i in range(n))


RELEASE = lambda: [(i, _body(f"a{i}")) for i in range(1, 11)] + [(11, _body("dup"))]
CRAWL_B = lambda: [(1_000_011, _body("dup")), (1_000_050, _body("nov"))]
CRAWL_C = lambda: [
    (2_000_003, _body("a3")),
    (2_000_050, _body("nov")),
    (2_000_099, _body("zz")),
]


def _pairs(df):
    return {(r["new_id"], r["match_id"], r["jaccard"]) for r in df.collect()}


@pytest.mark.parametrize("cls", [PostingIndex, BandIndex])
def test_text_index_lifecycle(spark, cls):
    """build(release) → probe(B) finds the planted release dup;
    append(B) → probe(C) finds both cross-release dups AND equals a
    from-scratch rebuild over (release ∪ B)."""
    idx = cls(spark, temp_name(cls.__name__.lower()))
    rebuilt = cls(spark, temp_name("rebuild"))
    try:
        idx.build(_docs(spark, RELEASE()))
        probe_b = _pairs(idx.probe(_docs(spark, CRAWL_B())))
        matched_b = {(n, m) for (n, m, _) in probe_b}
        assert (1_000_011, 11) in matched_b
        assert all(n != 1_000_050 for (n, _) in matched_b)

        idx.append(_docs(spark, CRAWL_B()))
        via_append = _pairs(idx.probe(_docs(spark, CRAWL_C())))

        rebuilt.build(_docs(spark, RELEASE() + CRAWL_B()))
        via_rebuild = _pairs(rebuilt.probe(_docs(spark, CRAWL_C())))

        assert via_append == via_rebuild
        matched_c = {(n, m) for (n, m, _) in via_append}
        assert (2_000_003, 3) in matched_c
        assert (2_000_050, 1_000_050) in matched_c
        assert all(n != 2_000_099 for (n, _) in matched_c)
    finally:
        idx.drop()
        rebuilt.drop()


def test_posting_index_crawl_can_push_key_over_cap(spark):
    """The probe merges the crawl's keys into the stored count sidecar
    BEFORE the cap filter: a crawl that pushes a shingle over the cap
    suppresses it exactly as a rebuild would (and the hot add-back
    keeps surviving pairs' Jaccard exact)."""
    boiler = _body("bp", 12)
    release = _docs(
        spark,
        [(i, f"{boiler} {_body(f'u{i}', 20)}") for i in range(1, 4)],
    )
    # crawl: 2 docs sharing the boilerplate prefix + unique tails, one
    # of them a true near-dup of release doc 1
    crawl = _docs(
        spark,
        [
            (1_000_001, f"{boiler} {_body('u1', 20)}"),
            (1_000_777, f"{boiler} {_body('zz', 20)}"),
        ],
    )
    # cap low enough that the boilerplate shingles go hot only once the
    # crawl lands on top of the release's three carriers
    idx = PostingIndex(spark, temp_name("hotcap"), cap=4)
    rebuilt = PostingIndex(spark, temp_name("hotcap_rb"), cap=4)
    try:
        idx.build(release)
        via_index = _pairs(idx.probe(crawl))
        rebuilt.build(release)  # identical content, fresh sidecars
        via_rebuild = _pairs(rebuilt.probe(crawl))
        assert via_index == via_rebuild
        matched = {(n, m) for (n, m, _) in via_index}
        assert (1_000_001, 1) in matched  # true dup survives the cap
        # the boilerplate-only pairing must NOT reach tau (unique tails
        # dominate), even though the shared prefix is hot
        assert (1_000_777, 2) not in matched
    finally:
        idx.drop()
        rebuilt.drop()


def _phys_nodes(n):
    yield n
    ch = n.children()
    for i in range(ch.size()):
        yield from _phys_nodes(ch.apply(i))


def test_posting_probe_index_side_is_exchange_free(spark):
    """The scale property the bucketed layout exists for, asserted at
    the API level with the physical-tree walk (not a string match —
    ADVICE r6): the probe join's child holding the bucketed
    ``{name}_post`` scan contains no ShuffleExchange, so the index
    side moves zero bytes at probe time. BroadcastExchange (the hot
    census) is allowed — it never moves the corpus."""
    idx = PostingIndex(spark, temp_name("exfree"))
    try:
        idx.build(_docs(spark, RELEASE()))
        qe = idx.probe(_docs(spark, CRAWL_B()))._jdf.queryExecution()
        root = qe.executedPlan()
        if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            root = root.inputPlan()
        cands = []
        for n in _phys_nodes(root):
            if "Join" not in n.getClass().getSimpleName():
                continue
            ch = n.children()
            for i in range(ch.size()):
                sub = ch.apply(i)
                s = sub.toString()
                if idx._post in s and (
                    "SelectedBucketsCount" in s or "Bucketed: true" in s
                ):
                    cands.append(sub)
        assert cands, (
            "no join child contains the bucketed index scan:\n"
            + root.toString()[:3000]
        )
        index_side = min(cands, key=lambda x: len(x.toString()))
        shuffles = [
            x.getClass().getSimpleName()
            for x in _phys_nodes(index_side)
            if "ShuffleExchange" in x.getClass().getSimpleName()
        ]
        assert not shuffles, (
            "shuffle above the bucketed index scan: "
            + str(shuffles)
            + "\n"
            + index_side.toString()[:3000]
        )
    finally:
        idx.drop()


@pytest.mark.parametrize("seed", [3, 17])
def test_posting_lifecycle_random_property(spark, seed):
    """Seeded-random property: for arbitrary small corpora with random
    token overlap, two appended crawls then a probe equals a
    from-scratch rebuild over everything appended — not just the
    planted-dup cases."""
    import random

    rng = random.Random(seed)
    vocab = [f"tok{v}" for v in range(40)]

    def rand_doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25)))

    release = [(i, rand_doc()) for i in range(1, 16)]
    crawl_b = [(1_000_000 + i, rand_doc()) for i in range(6)]
    crawl_c = [(2_000_000 + i, rand_doc()) for i in range(6)]

    idx = PostingIndex(spark, temp_name(f"rand{seed}"))
    rebuilt = PostingIndex(spark, temp_name(f"randrb{seed}"))
    try:
        idx.build(_docs(spark, release))
        idx.append(_docs(spark, crawl_b))
        via_append = _pairs(idx.probe(_docs(spark, crawl_c)))
        rebuilt.build(_docs(spark, release + crawl_b))
        via_rebuild = _pairs(rebuilt.probe(_docs(spark, crawl_c)))
        assert via_append == via_rebuild
    finally:
        idx.drop()
        rebuilt.drop()


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def test_semantic_release_lifecycle(spark):
    """build fits + freezes centroids (persisted as a table sidecar);
    append assigns under them; probe equals a rebuild-with-the-same-
    centroids — and the centroid sidecar round-trips exactly."""

    def base(i, eps=0.0):
        anchor = [(10.0, 0.0, 0.0), (0.0, 10.0, 0.0), (0.0, 0.0, 10.0)][i % 3]
        return [anchor[0] + eps, anchor[1] + 0.01 * i, anchor[2]]

    release = _vecs(spark, [(i, base(i)) for i in range(12)])
    crawl_b = _vecs(
        spark, [(1_000_004, base(4, eps=0.001)), (1_000_007, [5.0, 5.0, 0.0])]
    )
    crawl_c = _vecs(
        spark,
        [
            (2_000_002, base(2, eps=0.001)),
            (2_000_007, [5.0, 5.001, 0.0]),
            (2_000_099, [-7.0, 1.0, 1.0]),
        ],
    )
    rel = SemanticRelease(spark, temp_name("semrel"), k=3)
    try:
        rel.build(release)
        cents = rel.centroids()
        assert len(cents) == 3 and all(len(c) == 3 for c in cents.values())

        rel.append(crawl_b)
        got = {
            (r["vec_id"], r["keeper_id"]) for r in rel.probe(crawl_c).collect()
        }
        # rebuild under the SAME frozen centroids
        from overturelink_data_pipeline_spark.operators.similarity import (
            _lloyd_assign,
            incremental_cell_prune,
        )

        rebuilt = incremental_cell_prune(
            _lloyd_assign(release.unionByName(crawl_b), cents, kernel="arrow"),
            _lloyd_assign(crawl_c, cents, kernel="arrow"),
        )
        assert got == {
            (r["vec_id"], r["keeper_id"]) for r in rebuilt.collect()
        }
        pruned = dict(got)
        assert pruned.get(2_000_002) == 2
        assert pruned.get(2_000_007) == 1_000_007
        assert 2_000_099 not in pruned
    finally:
        rel.drop()


# ---------------------------------------------------------------------------
# Round-9 maintenance surfaces: admission guard, sidecar compaction,
# partial-append recovery, auto-k (ADVICE r8 + VERDICT r8 asks #4/#5).
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("cls", [PostingIndex, BandIndex])
def test_append_overlap_rejected(spark, cls):
    """Re-appending a crawl (the retried-monthly-job case) must raise,
    not silently duplicate sidecar rows — and probe() rejects an
    overlapping crawl too (it would corrupt Jaccard denominators)."""
    idx = cls(spark, temp_name("ovl"))
    try:
        idx.build(_docs(spark, RELEASE()))
        idx.append(_docs(spark, CRAWL_B()))
        with pytest.raises(ValueError, match="overlap"):
            idx.append(_docs(spark, CRAWL_B()))
        with pytest.raises(ValueError, match="overlap"):
            idx.probe(_docs(spark, CRAWL_B()))
        # disjoint crawl still admitted after the rejected retry
        probe_c = _pairs(idx.probe(_docs(spark, CRAWL_C())))
        assert (2_000_003, 3) in {(n, m) for (n, m, _) in probe_c}
    finally:
        idx.drop()


def test_semantic_overlap_rejected(spark):
    rel = SemanticRelease(spark, temp_name("semovl"), k=3)
    crawl = _vecs(spark, [(1_000_001, [1.0, 2.0, 3.0])])
    try:
        rel.build(_vecs(spark, [(i, [float(i), 1.0, 0.0]) for i in range(12)]))
        rel.append(crawl)
        with pytest.raises(ValueError, match="overlap"):
            rel.append(crawl)
        with pytest.raises(ValueError, match="overlap"):
            rel.probe(crawl)
    finally:
        rel.drop()


@pytest.mark.parametrize("cls", [PostingIndex, BandIndex])
def test_compact_preserves_probe_and_bounds_sidecar(spark, cls):
    """After ≥5 appends the count sidecar holds one row per key PER
    APPEND; compact() collapses it to one row per key under the same
    bucket spec, probe results unchanged (VERDICT r8 ask #5)."""
    idx = cls(spark, temp_name("cmp"))
    count_table = idx._hcount if cls is PostingIndex else idx._bcount
    try:
        idx.build(_docs(spark, RELEASE()))
        for i in range(5):
            idx.append(
                _docs(
                    spark,
                    [
                        ((i + 1) * 1_000_000 + 111, _body("dup")),
                        ((i + 1) * 1_000_000 + 500, _body(f"c{i}")),
                    ],
                )
            )
        crawl = _docs(spark, CRAWL_C())
        before_rows = spark.table(count_table).count()
        before_probe = _pairs(idx.probe(crawl))
        idx.compact()
        after_rows = spark.table(count_table).count()
        after_probe = _pairs(idx.probe(crawl))
        assert after_probe == before_probe
        assert after_rows < before_rows  # the 'dup' keys appeared 6x
        # compacted table is still keyed uniquely
        key_cols = ["h"] if cls is PostingIndex else ["band", "bucket"]
        distinct_keys = (
            spark.table(count_table).select(*key_cols).dropDuplicates().count()
        )
        assert after_rows == distinct_keys
    finally:
        idx.drop()


def test_compact_keeps_probe_index_side_exchange_free(spark):
    """The rename-based rewrite must preserve the bucket layout: the
    count merge's stored-side SUM stays partition-local after
    compact() (same physical-tree walk as the build-time assert)."""
    idx = PostingIndex(spark, temp_name("cmpex"))
    try:
        idx.build(_docs(spark, RELEASE()))
        idx.append(_docs(spark, CRAWL_B()))
        idx.compact()
        qe = idx.probe(_docs(spark, CRAWL_C()))._jdf.queryExecution()
        root = qe.executedPlan()
        if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            root = root.inputPlan()
        offenders = []
        for n in _phys_nodes(root):
            s = n.toString()
            if (
                "ShuffleExchange" in n.getClass().getSimpleName()
                and idx._hcount in s
            ):
                offenders.append(s[:500])
        assert not offenders, "hcount scan re-exchanged after compact:\n" + "\n".join(
            offenders
        )
    finally:
        idx.drop()


def test_posting_reconcile_and_repair(spark):
    """A partial append (postings written, sidecars not — the
    between-jobs crash) is detected by reconcile() and healed by
    repair(): probe equals a clean rebuild afterwards."""
    from overturelink_data_pipeline_spark.operators.lifecycle import _postings

    idx = PostingIndex(spark, temp_name("rec"))
    rebuilt = PostingIndex(spark, temp_name("recrb"))
    try:
        idx.build(_docs(spark, RELEASE()))
        assert idx.reconcile()["consistent"]
        # simulate the crash: postings land, sidecars never do
        _postings(_docs(spark, CRAWL_B())).write.bucketBy(
            idx.buckets, "h"
        ).sortBy("h").mode("append").saveAsTable(idx._post)
        rec = idx.reconcile()
        assert not rec["consistent"]
        assert rec["postings"] > rec["hcount_sum"]
        idx.repair()
        assert idx.reconcile()["consistent"]
        via_repaired = _pairs(idx.probe(_docs(spark, CRAWL_C())))
        rebuilt.build(_docs(spark, RELEASE() + CRAWL_B()))
        assert via_repaired == _pairs(rebuilt.probe(_docs(spark, CRAWL_C())))
    finally:
        idx.drop()
        rebuilt.drop()


def test_band_reconcile_and_repair(spark):
    from overturelink_data_pipeline_spark.operators.lifecycle import _postings
    from overturelink_data_pipeline_spark.operators.dedup import (
        _band_table,
        minhash_signatures_agg,
    )

    idx = BandIndex(spark, temp_name("brec"))
    try:
        idx.build(_docs(spark, RELEASE()))
        assert idx.reconcile()["consistent"]
        bands = _band_table(minhash_signatures_agg(_postings(_docs(spark, CRAWL_B()))))
        bands.write.bucketBy(idx.buckets, "band", "bucket").sortBy(
            "band", "bucket"
        ).mode("append").saveAsTable(idx._bands)
        rec = idx.reconcile()
        assert not rec["consistent"]
        idx.repair()
        rec2 = idx.reconcile()
        # bcount healed from _bands; the _sh gap is the documented
        # unrecoverable half (needs the crawl itself) and stays flagged
        assert rec2["band_rows"] == rec2["bcount_sum"]
        assert rec2["band_docs"] != rec2["sh_docs"]
    finally:
        idx.drop()


def test_semantic_auto_k(spark):
    """k=None sizes k ∝ n at build (TARGET_CELL mean cell); tiny corpora
    floor at 8, and a corpus past the target scales k up."""
    rel = SemanticRelease(spark, temp_name("autok"))
    big = SemanticRelease(spark, temp_name("autokb"))
    try:
        rel.build(_vecs(spark, [(i, [float(i), 1.0, 0.0]) for i in range(12)]))
        assert rel.k == 8
        assert len(rel.centroids()) == 8
        n = SemanticRelease.TARGET_CELL * 20
        big.build(
            _vecs(
                spark,
                [(i, [float(i % 97), float(i % 13), 1.0]) for i in range(n)],
            )
        )
        assert big.k == 20
    finally:
        rel.drop()
        big.drop()


@pytest.mark.parametrize("cls", [PostingIndex, BandIndex])
def test_append_after_compact_still_equals_rebuild(spark, cls):
    """compact() rewrites the count sidecar via temp-table + catalog
    RENAME — this pins that the bucket spec survives the rename for
    SUBSEQUENT appends (mode('append').saveAsTable must keep landing
    rows in the same layout) and that the whole
    build→append→compact→append→probe chain still equals a rebuild."""
    idx = cls(spark, temp_name("cmpapp"))
    rebuilt = cls(spark, temp_name("cmpapp_rb"))
    try:
        idx.build(_docs(spark, RELEASE()))
        idx.append(_docs(spark, CRAWL_B()))
        idx.compact()
        extra = [(3_000_003, _body("a3")), (3_000_777, _body("qq"))]
        idx.append(_docs(spark, extra))
        via_compacted = _pairs(idx.probe(_docs(spark, CRAWL_C())))
        rebuilt.build(_docs(spark, RELEASE() + CRAWL_B() + extra))
        assert via_compacted == _pairs(rebuilt.probe(_docs(spark, CRAWL_C())))
        # and the index side is still exchange-free after rename+append
        if cls is PostingIndex:
            qe = idx.probe(_docs(spark, CRAWL_C()))._jdf.queryExecution()
            root = qe.executedPlan()
            if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                root = root.inputPlan()
            offenders = [
                n.toString()[:300]
                for n in _phys_nodes(root)
                if "ShuffleExchange" in n.getClass().getSimpleName()
                and idx._hcount in n.toString()
            ]
            assert not offenders
    finally:
        idx.drop()
        rebuilt.drop()


def _delete_stamp(spark, name):
    """Remove the release-stamp sidecar file and check its ``.crc``
    checksum twin goes with it."""
    from overturelink_data_pipeline_spark.operators.lifecycle import _stamp_file

    path, fs = _stamp_file(spark, name)
    fs.delete(path, False)
    crc = spark._jvm.org.apache.hadoop.fs.Path(path.getParent(), f".{path.getName()}.crc")
    assert not fs.exists(path) and not fs.exists(crc)


def test_release_stamp_idempotence(spark):
    """The stamp makes release maintenance idempotent: same fingerprint
    → skip; changed corpus → different fingerprint; stamp absent until
    written; and a rebuild-after-change is what the caller does."""
    from overturelink_data_pipeline_spark.operators.lifecycle import (
        corpus_fingerprint,
        release_stamp,
        write_release_stamp,
    )

    name = temp_name("stamp")
    try:
        assert release_stamp(spark, name) is None
        a = _docs(spark, RELEASE())
        fp_a = corpus_fingerprint(a, "doc_id", "text")
        # order-insensitive: same rows, different frame order
        fp_a2 = corpus_fingerprint(
            _docs(spark, list(reversed(RELEASE()))), "doc_id", "text"
        )
        assert fp_a == fp_a2
        fp_b = corpus_fingerprint(
            _docs(spark, RELEASE() + CRAWL_B()), "doc_id", "text"
        )
        assert fp_a != fp_b
        write_release_stamp(spark, name, fp_a)
        assert release_stamp(spark, name) == fp_a
        write_release_stamp(spark, name, fp_b)  # re-stamp after change
        assert release_stamp(spark, name) == fp_b
    finally:
        _delete_stamp(spark, name)
