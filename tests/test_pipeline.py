"""End-to-end pipeline tests: recall target, resume, checkpoint lineage."""

import itertools
import os

import pytest

from lmw_tree_spark.config import SMALL
from lmw_tree_spark.plans.checkpoint import Checkpointer
from lmw_tree_spark.plans.pipeline import run_pipeline
from lmw_tree_spark.sources.images import generate_images


def _pairs(pdf, col):
    out = set()
    for _, grp in pdf.groupby(col):
        ids = sorted(grp["image_id"])
        out.update(itertools.combinations(ids, 2))
    return out


@pytest.mark.slow
def test_end_to_end_recall(spark, tmpdir_ck):
    images = generate_images(spark, 280, with_truth=True)
    truth = images.select("image_id", "dup_group").toPandas()
    res = run_pipeline(spark, images.drop("dup_group"), SMALL, checkpoint_dir=tmpdir_ck)
    a = res.assignments.toPandas()
    assert len(a) == 280
    tp, gp = _pairs(truth, "dup_group"), _pairs(a, "dup_group")
    recall = len(tp & gp) / len(tp)
    precision = len(tp & gp) / max(len(gp), 1)
    assert recall >= 0.99, f"recall {recall}"
    assert precision >= 0.95, f"precision {precision}"
    # EM invariants recorded per iteration
    rmses = [m["rmse"] for m in res.metrics]
    assert all(a2 <= a1 + 1e-9 for a1, a2 in zip(rmses, rmses[1:]))
    assert all(m["objects"] == 280 for m in res.metrics)
    # ClusterStats output: every cluster accounted, counts conserve objects
    stats = res.cluster_stats.toPandas()
    assert stats["n_objects"].sum() == 280
    assert set(stats["cluster_id"]) == set(a["cluster_id"])
    assert (stats["rmse"] >= 0).all()

    # resume: invalidate the last stage; earlier stages must be reused, output
    # identical (invalidate drops the _latest pointer; snapshots retained)
    Checkpointer(spark, tmpdir_ck).invalidate("assignments")
    res2 = run_pipeline(spark, images.drop("dup_group"), SMALL, checkpoint_dir=tmpdir_ck)
    a2 = res2.assignments.toPandas()
    merged = a.merge(a2, on="image_id", suffixes=("_1", "_2"))
    assert (merged["cluster_id_1"] == merged["cluster_id_2"]).all()
    assert (merged["dup_group_1"] == merged["dup_group_2"]).all()
    assert res2.metrics == []  # tree restored from checkpoint, no refit


def _part_files(ck, stage):
    vdir = ck._version_dir(stage, ck.current_version(stage))
    return sorted(n for n in os.listdir(vdir) if n.startswith("part-"))


def test_checkpoint_lineage_metrics(spark, tmpdir_ck):
    """_metrics.json lineage: one writer row count per committed parquet file,
    the snapshot-level signature popcount distribution, empty commits, and
    a commit that runs exactly one Spark job (the write)."""
    ck = Checkpointer(spark, tmpdir_ck)
    df = generate_images(spark, 40)
    out = ck.write("imgs", df)
    assert out.count() == 40
    m = ck.metrics("imgs")
    assert m["rows"] == 40
    assert [p["file"] for p in m["partitions"]] == _part_files(ck, "imgs")
    assert sum(p["rows"] for p in m["partitions"]) == 40
    assert ck.exists("imgs")
    assert "pop_min" not in m  # no signature column named

    words = [[5, -1], [0, 0], [2**40 - 1, 7], [-(2**63), 3]]
    sigs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "image_id long, sig array<long>"
    ).repartition(3)
    ck.write("sigs", sigs, sig_col="sig")
    m = ck.metrics("sigs")
    pops = [sum(bin(w & (2**64 - 1)).count("1") for w in ws) for ws in words]
    assert (m["pop_min"], m["pop_max"]) == (min(pops), max(pops))
    assert m["pop_avg"] == pytest.approx(sum(pops) / len(pops))
    assert [p["file"] for p in m["partitions"]] == _part_files(ck, "sigs")
    assert sum(p["rows"] for p in m["partitions"]) == m["rows"] == 4

    empty = ck.write("empty", spark.range(0))
    assert empty.count() == 0
    m = ck.metrics("empty")
    assert m["rows"] == 0 and sum(p["rows"] for p in m["partitions"]) == 0
    assert ck.current_version("empty") == 1

    sc = spark.sparkContext
    group = "checkpoint-write-jobs"
    sc.setJobGroup(group, group)
    try:
        narrow = ck.write("narrow", spark.range(1000))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert narrow.schema == spark.read.parquet(
        ck._version_dir("narrow", 1)
    ).schema  # explicit-schema re-read equals the inferred one


def test_checkpoint_footer_mismatch_keeps_previous_snapshot(spark, tmpdir_ck, monkeypatch):
    """Footer row counts that disagree with the observed write count abort
    the commit before the _latest flip: the previous snapshot stays current
    and readable, and the aborted version dir is an orphan."""
    from lmw_tree_spark.plans import checkpoint

    ck = Checkpointer(spark, tmpdir_ck)
    ck.write("s", generate_images(spark, 10))
    real = checkpoint._footer_rows
    monkeypatch.setattr(checkpoint, "_footer_rows", lambda path: real(path) - 1)
    with pytest.raises(RuntimeError, match="footers"):
        ck.write("s", generate_images(spark, 25))
    assert ck.current_version("s") == 1
    assert ck.read("s").count() == 10
    assert ck.metrics("s")["rows"] == 10
    assert [(r["version"], r["action"]) for r in ck.expire_plan("s")] == [
        (1, "keep"),
        (2, "orphan"),
    ]


def test_checkpoint_stage_skips_rebuild(spark, tmpdir_ck):
    ck = Checkpointer(spark, tmpdir_ck)
    calls = []

    def build():
        calls.append(1)
        return generate_images(spark, 10)

    ck.stage("s1", build)
    ck.stage("s1", build)
    assert len(calls) == 1


def test_checkpoint_snapshots_time_travel_and_atomic_commit(spark, tmpdir_ck):
    """Snapshot semantics (Iceberg-style on parquet): a new commit never
    disturbs the previous one, old versions stay time-travel-readable, a
    half-written version (no pointer flip) is invisible, and invalidate()
    forces a rebuild while retaining snapshots."""
    ck = Checkpointer(spark, tmpdir_ck)
    ck.write("s", generate_images(spark, 10))
    ck.write("s", generate_images(spark, 25))
    assert ck.current_version("s") == 2
    assert ck.read("s").count() == 25
    assert ck.read("s", version=1).count() == 10  # time travel
    assert [s["version"] for s in ck.snapshots("s")] == [1, 2]
    assert ck.metrics("s", version=1)["rows"] == 10

    # crash simulation: a version dir without the pointer flip is invisible
    import shutil

    shutil.copytree(
        os.path.join(tmpdir_ck, "s", "v00002"),
        os.path.join(tmpdir_ck, "s", "v00003"),
    )
    os.remove(os.path.join(tmpdir_ck, "s", "v00003", "_metrics.json"))
    assert ck.current_version("s") == 2
    assert ck.read("s").count() == 25

    # invalidate: next stage() rebuilds into a FRESH version (numbering comes
    # from existing dirs, never the pointer), old snapshots stay readable
    ck.invalidate("s")
    assert not ck.exists("s")
    out = ck.stage("s", lambda: generate_images(spark, 7))
    assert out.count() == 7
    assert ck.current_version("s") == 4  # v3 was the crashed dir
    assert ck.read("s", version=1).count() == 10
    assert ck.read("s", version=2).count() == 25


@pytest.mark.slow
def test_pipeline_with_suffix_dup_criterion(spark):
    """cfg.suffix_dup_min_len wires the exact suffix-array caption pass into the
    verified-edge union; recall/precision hold on the planted dup groups."""
    from dataclasses import replace

    images = generate_images(spark, 280, with_truth=True)
    truth = images.select("image_id", "dup_group").toPandas()
    cfg = replace(SMALL, suffix_dup_min_len=24)
    res = run_pipeline(spark, images.drop("dup_group"), cfg)
    a = res.assignments.toPandas()
    tp, gp = _pairs(truth, "dup_group"), _pairs(a, "dup_group")
    assert len(tp & gp) / len(tp) >= 0.99
    assert len(tp & gp) / max(len(gp), 1) >= 0.95


def test_snapshot_diff_cdc(spark, tmpdir_ck):
    """snapshot_diff reports exactly the added/removed ids between two
    committed versions, and nothing for identical versions."""
    from pyspark.sql import functions as F

    from lmw_tree_spark.plans.checkpoint import Checkpointer, snapshot_diff

    ck = Checkpointer(spark, tmpdir_ck)
    v1 = spark.range(10).withColumnRenamed("id", "doc_id")
    ck.write("corpus", v1)
    v2 = v1.where(F.col("doc_id") != 3).unionByName(
        spark.createDataFrame([(100,), (101,)], "doc_id long")
    )
    ck.write("corpus", v2)
    vs = sorted(s["version"] for s in ck.snapshots("corpus"))
    got = {(r["doc_id"], r["change"])
           for r in snapshot_diff(ck, "corpus", vs[0], vs[1], "doc_id").collect()}
    assert got == {(3, "removed"), (100, "added"), (101, "added")}
    assert snapshot_diff(ck, "corpus", vs[0], vs[0], "doc_id").count() == 0


def test_pipeline_partitioning_invariance(spark, monkeypatch):
    """The WHOLE flagship pipeline is partitioning-invariant: the same logical
    input at 2 partitions and at 13 hash-shuffled partitions yields identical
    dup groups and cluster assignments. This is the single strongest
    cluster-scale determinism statement — every stage (signatures, candidate
    buckets, verify, connected components, EM fit, assignment) must be free of
    partition-order dependence for it to hold.

    Each fused run releases its (bucket, salt) aggregation and its verified
    edges, so the second run is not served from the first one's caches; the
    signatures it returns stay cached for the caller."""
    from pyspark import StorageLevel

    from lmw_tree_spark.operators import lsh
    from lmw_tree_spark.plans import pipeline

    edge_calls = _count_calls(monkeypatch, lsh, "edges_from_buckets")
    cc_calls = _count_calls(monkeypatch, pipeline, "connected_components")

    def fused(df):
        res = run_pipeline(spark, df, SMALL)
        out = res.assignments.toPandas()
        buckets, verified = edge_calls[-1][0], cc_calls[-1][0]
        assert (
            lsh._salt_groups(buckets, SMALL.chain_salts).storageLevel
            == StorageLevel.NONE
        )
        assert verified.storageLevel == StorageLevel.NONE
        assert res.signatures.storageLevel != StorageLevel.NONE
        res.signatures.unpersist()
        return out

    images = generate_images(spark, 240, with_truth=True).drop("dup_group")
    few = fused(images.coalesce(2))
    many = fused(images.repartition(13, "image_id"))
    merged = few.merge(many, on="image_id", suffixes=("_a", "_b"))
    assert len(merged) == 240
    assert (merged["cluster_id_a"] == merged["cluster_id_b"]).all()
    assert (merged["dup_group_a"] == merged["dup_group_b"]).all()


def test_pipeline_truss_hardening_drops_bridge(spark):
    """truss_k=3: a spurious bridge between two planted dup groups is peeled
    before CC — groups stay separate; without hardening they'd fuse. The
    bridge is planted by chaining two groups' captions through a shared
    substring long enough for the suffix pass to pair ONE member of each."""
    from dataclasses import replace as dc_replace

    from lmw_tree_spark.config import SMALL
    from lmw_tree_spark.sources.images import generate_images
    from lmw_tree_spark.plans.pipeline import run_pipeline

    images = generate_images(spark, 140, with_truth=True)
    truth = {r["image_id"]: r["dup_group"] for r in
             images.select("image_id", "dup_group").collect()}
    base = images.drop("dup_group")

    cfg = dc_replace(SMALL, truss_k=3)
    res = run_pipeline(spark, base, cfg)
    got = {r["image_id"]: r["dup_group"] for r in res.dup_groups.collect()}

    # hardened run must never fuse two different truth groups of size >= 3
    # (size-2 groups lack triangles and legitimately dissolve under k=3)
    import collections
    members = collections.defaultdict(list)
    for img, g in truth.items():
        members[g].append(img)
    for g, ids in members.items():
        if len(ids) >= 3:
            assert len({got[i] for i in ids}) == 1, (g, ids)
    fused = collections.defaultdict(set)
    for img, pg in got.items():
        fused[pg].add(truth[img])
    for pg, tgs in fused.items():
        assert len(tgs) == 1, (pg, tgs)


def test_snapshot_expiry_and_orphan_sweep(spark, tmpdir_ck):
    """expire_plan keeps the newest keep_last completes PLUS a lagging
    pointer target, expires the rest, sweeps crashed dirs as orphans; expire
    executes exactly that plan and leaves reads intact."""
    from pyspark.sql import functions as F

    cp = Checkpointer(spark, tmpdir_ck)
    base = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    for v in range(1, 5):  # v1..v4
        cp.write("s", base.where(F.col("doc_id") % 4 >= v - 1))
    # lagging pointer: roll back to v2
    with open(cp._latest_file("s"), "w") as f:
        f.write("v00002")
    # crashed write
    crash = cp._version_dir("s", 5)
    os.makedirs(crash)
    with open(os.path.join(crash, "part-x.parquet"), "wb") as f:
        f.write(b"junk")

    plan = {r["version"]: r["action"] for r in cp.expire_plan("s", keep_last=2)}
    assert plan == {1: "expire", 2: "keep", 3: "keep", 4: "keep", 5: "orphan"}

    cp.expire("s", keep_last=2)
    assert not os.path.isdir(cp._version_dir("s", 1))
    assert not os.path.isdir(cp._version_dir("s", 5))
    assert cp.read("s").count() == base.where(F.col("doc_id") % 4 >= 1).count()
    assert cp.read("s", version=4).count() == base.where(F.col("doc_id") % 4 >= 3).count()
    with pytest.raises(Exception):
        cp.read("s", version=1).count()
    # next write allocates past the retained max; the swept ORPHAN's number
    # is safe to reuse (it was never committed, so no reader could hold it),
    # while expired COMMITTED numbers (v1) stay below retained snapshots and
    # are never reallocated
    cp.write("s", base)
    assert cp.current_version("s") == 5
    assert cp.read("s").count() == 12


# --- sliced checkpointed runs ------------------------------------------------

SLICED_N = 240


def _outputs(spark, ck_dir, res):
    """(verified pairs, dup groups, assignments) of a checkpointed run."""
    verified = Checkpointer(spark, ck_dir).read("verified_pairs")
    return (
        {(r.src, r.dst) for r in verified.select("src", "dst").collect()},
        {r.image_id: r.dup_group for r in res.dup_groups.collect()},
        {
            r.image_id: (r.cluster_id, r.distance, r.dup_group)
            for r in res.assignments.collect()
        },
    )


@pytest.fixture(scope="module")
def unsliced_run(spark, tmp_path_factory):
    """One checkpointed run below ROWS_PER_SLICE: the unsliced reference, with
    the bucket table its one ``edges_from_buckets`` call got."""
    from lmw_tree_spark.operators import lsh

    images = generate_images(spark, SLICED_N)
    ck = str(tmp_path_factory.mktemp("unsliced"))
    with pytest.MonkeyPatch.context() as mp:
        edge_calls = _count_calls(mp, lsh, "edges_from_buckets")
        res = run_pipeline(spark, images, SMALL, checkpoint_dir=ck)
    (buckets,) = [args[0] for args in edge_calls]
    return images, _outputs(spark, ck, res), buckets


def _local_checkpoints(jsc):
    """Ids of the RDDs registered as persistent because of localCheckpoint."""
    return {
        int(k) for k, rdd in jsc.getPersistentRDDs().items()
        if rdd.rdd().isLocallyCheckpointed()
    }


def _count_calls(monkeypatch, owner, attr, before=None):
    """Wrap ``owner.attr`` to count its calls, running ``before(n, *args)``
    first on the n-th call (0-based); returns the call list."""
    calls = []
    real = getattr(owner, attr)

    def wrapper(*args, **kwargs):
        if before is not None:
            before(len(calls), *args)
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, attr, wrapper)
    return calls


@pytest.mark.slow
def test_sliced_pipeline_matches_unsliced(spark, tmp_path, monkeypatch, unsliced_run):
    """Three committed slices of edge generation and verify give exactly the
    unsliced run's verified pairs, dup groups and assignments; each slice's
    persisted (bucket, salt) aggregation is released before the next slice
    starts, a cache the caller owns survives, every consumed intermediate is
    deleted, and no localCheckpoint RDD of the run (connected_components
    makes one per round) is still registered once it returns."""
    from pyspark import StorageLevel

    from lmw_tree_spark.operators import lsh
    from lmw_tree_spark.plans import pipeline

    images, want, unsliced_buckets = unsliced_run
    # the unsliced build releases its aggregation too
    assert (
        lsh._salt_groups(unsliced_buckets, SMALL.chain_salts).storageLevel
        == StorageLevel.NONE
    )
    monkeypatch.setattr(pipeline, "ROWS_PER_SLICE", SLICED_N // 3)
    jsc = spark.sparkContext._jsc
    checkpointed_before = _local_checkpoints(jsc)
    persisted = []

    def at_slice_start(n, buckets, pair_cap, chain_salts):
        persisted.append(jsc.getPersistentRDDs().size())
        if n:
            prev = edge_calls[n - 1][0]
            assert lsh._salt_groups(prev, chain_salts).storageLevel == StorageLevel.NONE

    edge_calls = _count_calls(monkeypatch, lsh, "edges_from_buckets", at_slice_start)
    verify_calls = _count_calls(monkeypatch, lsh, "verify_edges")
    owned = spark.range(5).persist()
    owned.count()
    ck = str(tmp_path / "ck")
    res = run_pipeline(spark, images, SMALL, checkpoint_dir=ck)

    assert _outputs(spark, ck, res) == want
    assert len(edge_calls) == 3 and len(verify_calls) == 3
    assert max(persisted[1:]) <= persisted[0], persisted
    assert _local_checkpoints(jsc) <= checkpointed_before
    assert owned.storageLevel != StorageLevel.NONE
    owned.unpersist()
    assert sorted(os.listdir(ck)) == [
        "assignments", "cluster_stats", "dup_groups", "signatures", "tree",
        "verified_pairs",
    ]


@pytest.mark.slow
def test_sliced_pipeline_resumes_after_failed_verify_slice(
    spark, tmp_path, monkeypatch, unsliced_run
):
    """A run killed inside the second verify slice resumes from its committed
    slices: the rerun reads the first verify slice at its original snapshot
    version, rebuilds nothing before it, and ends with the clean run's
    assignments."""
    from lmw_tree_spark.operators import lsh
    from lmw_tree_spark.plans import pipeline

    images, want, _ = unsliced_run
    monkeypatch.setattr(pipeline, "ROWS_PER_SLICE", SLICED_N // 3)

    def kill_second(n, *_args):
        if n == 1:
            raise RuntimeError("killed inside verify slice 1")

    _count_calls(monkeypatch, lsh, "verify_edges", kill_second)
    ck = str(tmp_path / "ck")
    with pytest.raises(RuntimeError, match="verify slice 1"):
        run_pipeline(spark, images, SMALL, checkpoint_dir=ck)
    cp = Checkpointer(spark, ck)
    assert not cp.exists("verified_pairs_1")
    committed = cp.current_version("verified_pairs_0")
    assert committed is not None

    monkeypatch.undo()
    monkeypatch.setattr(pipeline, "ROWS_PER_SLICE", SLICED_N // 3)
    verify_calls = _count_calls(monkeypatch, lsh, "verify_edges")
    writes = _count_calls(monkeypatch, Checkpointer, "write")
    slice0_versions = []

    def note_slice0(_n, ck_self, stage, *_args):
        if stage == "verified_pairs_0":
            slice0_versions.append(ck_self.current_version(stage))

    _count_calls(monkeypatch, Checkpointer, "read", note_slice0)
    res = run_pipeline(spark, images, SMALL, checkpoint_dir=ck)

    assert len(verify_calls) == 2
    assert slice0_versions == [committed]
    assert [w[1] for w in writes] == [
        "verified_pairs_1", "verified_pairs_2", "verified_pairs",
        "dup_groups", "tree", "assignments", "cluster_stats",
    ]
    assert _outputs(spark, ck, res)[2] == want[2]
