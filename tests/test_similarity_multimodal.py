"""Similarity-search + multimodal plumbing tests."""

from __future__ import annotations

import pytest

from end_to_end_ml_spark.operators import multimodal, similarity
from pyspark.sql import functions as F

VECS = [
    (1, [1.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0]),   # close to 1
    (3, [0.0, 1.0, 0.0]),
    (4, [0.0, 0.9, 0.1]),   # close to 3
    (5, [-1.0, 0.0, 0.0]),  # opposite of 1
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, ["vec_id", "embedding"])


def test_brute_force_topk_neighbors(spark, vecs):
    out = similarity.brute_force_topk(vecs, "vec_id", "embedding", k=1)
    nn = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    assert nn[1] == 2 and nn[2] == 1 and nn[3] == 4 and nn[4] == 3


def test_brute_force_excludes_self(spark, vecs):
    out = similarity.brute_force_topk(vecs, "vec_id", "embedding", k=4)
    assert all(r["query_id"] != r["neighbor_id"] for r in out.collect())


def test_brute_force_cosine_value(spark, vecs):
    out = similarity.brute_force_topk(vecs, "vec_id", "embedding", k=1)
    r = [x for x in out.collect() if x["query_id"] == 1][0]
    expected = 0.9 / (1.0 * (0.9**2 + 0.1**2) ** 0.5)
    assert r["cosine_sim"] == pytest.approx(expected, abs=1e-6)


def test_lsh_subset_of_bruteforce_space(spark, vecs):
    out = similarity.lsh_topk(vecs, "vec_id", "embedding", k=2, n_planes=8, bands=4, dim=3)
    rows = out.collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)
    assert len(rows) > 0


def test_lsh_deterministic(spark, vecs):
    a = similarity.lsh_topk(vecs, "vec_id", "embedding", k=2, dim=3).collect()
    b = similarity.lsh_topk(vecs, "vec_id", "embedding", k=2, dim=3).collect()
    assert a == b


def test_payload_metadata_magic(spark):
    df = spark.createDataFrame([(1, bytearray(b"\xff\xd8\xffrest")), (2, bytearray(b"plain"))], ["id", "payload"])
    out = {r["id"]: r for r in multimodal.payload_metadata(df, "id", "payload").collect()}
    assert out[1]["format"] == "jpeg"
    assert out[2]["format"] == "unknown"
    assert out[1]["n_bytes"] == 7


def test_sample_frames_shape(spark):
    """Every ``every``-th fixed-size frame, the last one short, each
    hashed over exactly its own bytes."""
    import hashlib

    payload = bytes(range(200))
    df = spark.createDataFrame([(1, bytearray(payload))], ["id", "payload"])
    rows = multimodal.sample_frames_stride(
        df, "id", "payload", frame_size=16, every=4
    ).collect()
    assert [r["frame_idx"] for r in rows] == [0, 4, 8, 12]  # ceil(200/16) = 13 frames
    for r in rows:
        start = r["frame_idx"] * 16
        assert r["frame_md5"] == hashlib.md5(payload[start:start + 16]).hexdigest()


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (dedup d5/d6)
# ---------------------------------------------------------------------------


def test_embedding_near_dup_pairs(spark, vecs):
    from end_to_end_ml_spark.operators import dedup

    out = dedup.embedding_near_dup_pairs(vecs, "vec_id", "embedding", threshold=0.9)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(1, 2), (3, 4)}  # the two near-parallel pairs


def test_embedding_near_dup_symmetric_canonical(spark, vecs):
    from end_to_end_ml_spark.operators import dedup

    out = dedup.embedding_near_dup_pairs(vecs, "vec_id", "embedding", threshold=-1.1)
    rows = out.collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert len(rows) == 10  # C(5,2): every unordered pair exactly once


def test_embedding_near_dup_lsh_subset_of_exact(spark, vecs):
    from end_to_end_ml_spark.operators import dedup

    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            vecs, "vec_id", "embedding", threshold=0.5
        ).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_lsh(
            vecs, "vec_id", "embedding", threshold=0.5, n_planes=8, bands=4, dim=3
        ).collect()
    }
    assert approx <= exact
    assert (1, 2) in approx  # near-identical vectors always share a bucket


def _planted_clusters(spark, n_clusters=4, per_cluster=16, dim=8):
    """Deterministic tight clusters: one base axis direction per cluster
    plus a tiny deterministic perturbation — cell radii are small, so the
    angular triangle-inequality pruning has room to act."""
    rows = []
    vid = 0
    for c in range(n_clusters):
        for i in range(per_cluster):
            v = [0.0] * dim
            v[c] = 1.0
            v[(c + 1) % dim] = 0.01 * ((i % 5) + 1)  # tiny in-cluster spread
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


class TestIvfProbePairs:
    def _brute(self, df, threshold):
        """Cross-split brute-force reference via the exact d5 kernel."""
        from end_to_end_ml_spark.operators import dedup

        pairs = dedup.embedding_near_dup_pairs(
            df, "vec_id", "embedding", threshold=threshold
        ).collect()
        out = set()
        for r in pairs:
            a, b, c = r["id_a"], r["id_b"], r["cosine_sim"]
            if a % 4 == 0 and b % 4 != 0:
                out.add((a, b, c))
            elif b % 4 == 0 and a % 4 != 0:
                out.add((b, a, c))
        return out

    def test_exact_on_planted_clusters_and_pruning_engages(self, spark):
        df = _planted_clusters(spark)
        batch = df.filter(F.col("vec_id") % 4 == 0)
        hist = df.filter(F.col("vec_id") % 4 != 0)
        idx = similarity.ivf_build_index(
            hist, "vec_id", "embedding", n_centroids=8
        )
        try:
            got = {
                (r["new_id"], r["hist_id"], r["cosine_sim"])
                for r in similarity.ivf_probe_pairs(
                    batch, "vec_id", "embedding", threshold=0.9, index=idx
                ).collect()
            }
            assert got == self._brute(df, 0.9) and got
            # pruning must actually engage on tight clusters: candidate
            # (cell, query) rows < queries × cells means cells were skipped
            cand = similarity._probe_candidate_cells(
                batch, "vec_id", "embedding", idx, 0.9
            )
            n_q = batch.count()
            n_cells = idx.cells.select("cell").distinct().count()
            assert cand.count() < n_q * n_cells
        finally:
            idx.unpersist()
            idx.unpersist()  # idempotent

    def test_index_path_equals_selfcontained(self, spark):
        df = _planted_clusters(spark)
        batch = df.filter(F.col("vec_id") % 4 == 0)
        hist = df.filter(F.col("vec_id") % 4 != 0)
        idx = similarity.ivf_build_index(hist, "vec_id", "embedding", n_centroids=8)
        try:
            a = similarity.ivf_probe_pairs(
                batch, "vec_id", "embedding", threshold=0.9, index=idx
            ).collect()
            b = similarity.ivf_probe_pairs(
                batch, "vec_id", "embedding", threshold=0.9, hist_df=hist,
                n_centroids=8,
            ).collect()
            assert a == b
        finally:
            idx.unpersist()

    def test_requires_hist_or_index(self, spark, vecs):
        with pytest.raises(ValueError, match="hist_df or index"):
            similarity.ivf_probe_pairs(vecs, "vec_id", "embedding")

    def test_pruning_respects_rounded_acceptance_boundary(self, spark):
        """Round-8 ADVICE (medium): the verify stage accepts
        round(cos, 6) >= threshold, i.e. true cosines down to
        threshold - 5e-7, so a pair just BELOW the raw threshold must
        not sit in a pruned cell. One history vector (centroid = itself,
        radius 0) at cos = threshold - 2.5e-7 from the query: pruning
        against arccos(threshold) would drop the cell; pruning against
        the rounded boundary keeps it and the pair surfaces."""
        import math

        thr = 0.9
        target = thr - 2.5e-7  # inside [thr - 5e-7, thr): oracle-accepted
        s = math.sqrt(1.0 - target * target)
        hist = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
        batch = spark.createDataFrame(
            [(2, [target, s])], ["vec_id", "embedding"]
        )
        idx = similarity.ivf_build_index(hist, "vec_id", "embedding", n_centroids=1)
        try:
            got = similarity.ivf_probe_pairs(
                batch, "vec_id", "embedding", threshold=thr, index=idx
            ).collect()
            assert len(got) == 1
            assert got[0]["new_id"] == 2 and got[0]["hist_id"] == 1
            assert got[0]["cosine_sim"] == pytest.approx(thr)  # rounded up
        finally:
            idx.unpersist()

    def test_pruning_report_detects_regimes(self, spark):
        """Round-8 verdict #4: pruned_fraction > 0 on the planted-cluster
        fixture (tight cells, pruning engages) and ≈ 0 on a
        near-uniform-direction corpus (the degenerate regime a
        maintenance loop should detect and route to the approximate sim3
        path)."""
        df = _planted_clusters(spark)
        batch = df.filter(F.col("vec_id") % 4 == 0)
        hist = df.filter(F.col("vec_id") % 4 != 0)
        idx = similarity.ivf_build_index(hist, "vec_id", "embedding", n_centroids=8)
        try:
            rep = similarity.ivf_pruning_report(
                batch, "vec_id", "embedding", idx, threshold=0.9
            ).collect()[0]
            assert rep["pruned_fraction"] > 0.0
            assert rep["n_queries"] == batch.count()
            assert rep["candidate_cell_rows"] <= rep["n_queries"] * rep["cells_total"]
        finally:
            idx.unpersist()
        # degenerate regime: positive-orthant directions (like real
        # normalized embeddings — the sf* testdata corpus has radii
        # 1.3-1.45 rad, τ=0.4) cap every query-centroid angle at π/2
        # while cell radii stay large relative to arccos(τ), so NO cell
        # is prunable: a quarter-circle arc, 2 wide cells, τ=0.2
        # (arccos ≈ 1.37 > π/2 − radius ≈ 1.18)
        import math

        rows = [
            (i, [math.cos(math.pi * i / 46), math.sin(math.pi * i / 46), 0.1])
            for i in range(24)
        ]
        arc = spark.createDataFrame(rows, ["vec_id", "embedding"])
        idx2 = similarity.ivf_build_index(
            arc.filter(F.col("vec_id") % 4 != 0), "vec_id", "embedding", n_centroids=2
        )
        try:
            rep2 = similarity.ivf_pruning_report(
                arc.filter(F.col("vec_id") % 4 == 0),
                "vec_id",
                "embedding",
                idx2,
                threshold=0.2,
            ).collect()[0]
            assert rep2["pruned_fraction"] == pytest.approx(0.0, abs=1e-9)
        finally:
            idx2.unpersist()


class TestIvfProbePairsAdaptive:
    def test_routes_exact_on_clusterable_corpus(self, spark):
        """Planted clusters: pruning engages, the router picks the
        lossless path and the result equals brute force."""
        from end_to_end_ml_spark.operators import dedup

        df = _planted_clusters(spark)
        batch = df.filter(F.col("vec_id") % 4 == 0)
        hist = df.filter(F.col("vec_id") % 4 != 0)
        idx = similarity.ivf_build_index(hist, "vec_id", "embedding", n_centroids=8)
        try:
            out, mode = similarity.ivf_probe_pairs_adaptive(
                batch, "vec_id", "embedding", idx, threshold=0.9
            )
            assert mode == "exact"
            got = {(r["new_id"], r["hist_id"]) for r in out.collect()}
            brute = {
                tuple(sorted((r["id_a"], r["id_b"]), key=lambda v: v % 4 != 0))
                for r in dedup.embedding_near_dup_pairs(
                    df, "vec_id", "embedding", threshold=0.9
                ).collect()
                if (r["id_a"] % 4 == 0) != (r["id_b"] % 4 == 0)
            }
            brute = {
                (a, b) if a % 4 == 0 else (b, a) for a, b in brute
            }
            assert got == brute and got
        finally:
            idx.unpersist()

    def test_routes_approx_on_degenerate_corpus(self, spark):
        """Positive-orthant arc (nothing prunable): the router picks the
        bounded approximate path; every emitted pair is a TRUE pair
        (subset of brute force — the verify stage is exact), and the
        mode string records the weaker contract."""
        import math

        from end_to_end_ml_spark.operators import dedup

        rows = [
            (i, [math.cos(math.pi * i / 46), math.sin(math.pi * i / 46), 0.1])
            for i in range(24)
        ]
        arc = spark.createDataFrame(rows, ["vec_id", "embedding"])
        batch = arc.filter(F.col("vec_id") % 4 == 0)
        hist = arc.filter(F.col("vec_id") % 4 != 0)
        idx = similarity.ivf_build_index(hist, "vec_id", "embedding", n_centroids=2)
        try:
            out, mode = similarity.ivf_probe_pairs_adaptive(
                batch, "vec_id", "embedding", idx, threshold=0.2, n_probe=1
            )
            assert mode == "approx"
            got = {(r["new_id"], r["hist_id"]) for r in out.collect()}
            brute = {
                (r["id_a"], r["id_b"]) if r["id_a"] % 4 == 0 else (r["id_b"], r["id_a"])
                for r in dedup.embedding_near_dup_pairs(
                    arc, "vec_id", "embedding", threshold=0.2
                ).collect()
                if (r["id_a"] % 4 == 0) != (r["id_b"] % 4 == 0)
            }
            assert got and got <= brute
        finally:
            idx.unpersist()


def test_real_testdata_embeddings_are_the_degenerate_regime(spark):
    """Executable pin of the r8-verdict observation: on the REAL synthetic
    embeddings corpus (near-uniform directions, radii ~1.3-1.45 rad) NO
    cell is prunable at τ=0.4 — pruned_fraction is exactly 0 and the
    adaptive router deliberately takes the bounded approximate path
    instead of paying the exact cross join."""
    from end_to_end_ml_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    hist = emb.filter(F.col("vec_id") % 4 != 0)
    idx = similarity.ivf_build_index(hist, "vec_id", "embedding", n_centroids=16)
    try:
        rep = similarity.ivf_pruning_report(
            batch, "vec_id", "embedding", idx, threshold=0.4
        ).collect()[0]
        assert rep["pruned_fraction"] == 0.0
        out, mode = similarity.ivf_probe_pairs_adaptive(
            batch, "vec_id", "embedding", idx, threshold=0.4
        )
        assert mode == "approx"
        rows = out.collect()
        assert len(rows) > 0
        # approximate pairs are still EXACT-verified: round(cos,6) >= τ
        assert all(r["cosine_sim"] >= 0.4 for r in rows)
    finally:
        idx.unpersist()


def test_ivf_topk_high_recall_vs_bruteforce(spark):
    """IVF with generous probes on a small set should recover most exact
    neighbors; structure checks: no self matches, k per query."""
    import random

    rng = random.Random(3)
    vecs = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)],
        ["vec_id", "embedding"],
    )
    exact = similarity.brute_force_topk(vecs, "vec_id", "embedding", k=3)
    approx = similarity.ivf_topk(
        vecs, "vec_id", "embedding", k=3, n_centroids=4, n_probe=3
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert all(q != n for q, n in a)
    assert len(a) == 60 * 3
    recall = len(a & e) / len(e)
    assert recall >= 0.8, recall


def test_ivf_topk_never_collects_the_corpus(spark, monkeypatch):
    """Scale audit (VERDICT r1 #2): the only driver-side materialization in
    the IVF path is the quantizer SAMPLE — never the full corpus — and the
    rerank is the cell-sharded cogroup, not a broadcast of all vectors."""
    import random

    rng = random.Random(7)
    vecs = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(100)],
        ["vec_id", "embedding"],
    )
    cls = type(vecs)  # the concrete DataFrame class actually dispatched to
    collected = []
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    out = similarity.ivf_topk(
        vecs, "vec_id", "embedding", k=3, n_centroids=4, n_probe=2, sample_mod=5
    )
    # plan built: exactly one driver collect so far, of the 20-row sample
    assert collected == [20], collected
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan, plan
    rows = orig(out.limit(5))
    assert len(rows) == 5


def test_quantizer_sample_bounded(spark):
    """The quantizer's driver collect must stay O(max_driver_sample) even
    with sample_mod=1 (the convenient small-SF default) — at 100 TB an
    unbounded sample would be a full-corpus driver collect."""
    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(200)],
        ["vec_id", "embedding"],
    )
    sample = similarity._quantizer_sample(
        vecs, "vec_id", "embedding", sample_mod=1, max_driver_sample=50
    )
    # n=200, cap=50 -> stride 4 -> ids % 4 == 0, exactly 50 rows, sorted
    assert [r["vec_id"] for r in sample] == list(range(0, 200, 4))
    # under the cap: stride 1, sample_mod alone decides
    full = similarity._quantizer_sample(
        vecs, "vec_id", "embedding", sample_mod=5, max_driver_sample=50
    )
    assert [r["vec_id"] for r in full] == list(range(0, 200, 5))


def test_bruteforce_sharded_equals_broadcast(spark):
    """n_shards forces the no-broadcast block-nested-loop path; results must
    be row-identical to the default driver-side matmul path."""
    import random

    rng = random.Random(11)
    vecs = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(90)],
        ["vec_id", "embedding"],
    )
    a = similarity.brute_force_topk(vecs, "vec_id", "embedding", k=4).collect()
    b = similarity.brute_force_topk(
        vecs, "vec_id", "embedding", k=4, n_shards=5
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    plan_b = similarity.brute_force_topk(
        vecs, "vec_id", "embedding", k=4, n_shards=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan_b, plan_b


def test_brute_force_autoroutes_to_sharded_above_threshold(spark, caplog):
    """The driver mode must never silently collect a big input: when the
    corpus or the query side holds more than max_broadcast_rows rows it
    auto-routes to the sharded exact path. Both modes return the same rows
    in the same (query_id, cosine_sim desc, neighbor_id) order, with and
    without a query frame, and with a tiny corpus under a query side over
    the bound; the tied integer-valued vectors exercise the neighbor-id
    tie-break. Each call logs its decision once, with its inputs."""
    emb = spark.range(0, 60).selectExpr(
        "id as vec_id",
        "array(cast(id % 7 as double), cast((id * 3) % 5 as double), 1.0d) as embedding",
    )
    tiny = emb.filter("vec_id < 8")

    def topk(corpus, **kw):
        caplog.clear()
        with caplog.at_level("INFO", logger=similarity.__name__):
            out = similarity.brute_force_topk(corpus, "vec_id", "embedding", k=3, **kw)
        logged = [r.getMessage() for r in caplog.records if r.name == similarity.__name__]
        return out, logged

    cases = [
        # (corpus, query frame, rows out, driver log, routed log)
        (emb, None, 60 * 3, "queries=60 corpus=60", "queries=>10 corpus=>10"),
        (emb, emb.filter("vec_id % 4 = 1"), 15 * 3,
         "queries=15 corpus=60", "queries=uncollected corpus=>10"),
        (tiny, emb, 60 * 3, "queries=60 corpus=8", "queries=>10 corpus=8"),
    ]
    for corpus, queries, n_rows, driver_sizes, routed_sizes in cases:
        kw = {} if queries is None else {"query_df": queries}
        driver, driver_log = topk(corpus, **kw)
        routed, routed_log = topk(corpus, max_broadcast_rows=10, **kw)
        assert driver_log == [
            f"brute_force_topk on_driver=True {driver_sizes} max_broadcast_rows=200000"
        ]
        assert routed_log == [
            f"brute_force_topk on_driver=False {routed_sizes} max_broadcast_rows=10"
        ]
        assert "LocalRelation" in driver._jdf.queryExecution().optimizedPlan().toString()
        assert "FlatMapCoGroupsInPandas" in (
            routed._jdf.queryExecution().executedPlan().toString()
        )
        rows = [tuple(r) for r in driver.collect()]
        assert len(rows) == n_rows
        assert rows == [tuple(r) for r in routed.collect()]


def test_sample_frames_stride_shape_and_determinism(spark):
    """Frame sampling: correct frame count/indices for known payload sizes,
    byte-exact frames, and partitioning independence."""
    import hashlib

    rows = [(1, "a" * 300), (2, "xyz"), (3, "b" * 64)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    payloads = multimodal.attach_binary_payload(df, "text")
    out = multimodal.sample_frames_stride(payloads, "doc_id", "payload", frame_size=64, every=4)
    got = [(r["doc_id"], r["frame_idx"], r["frame_md5"]) for r in out.collect()]
    # doc 1: 300 bytes -> 5 frames (0..4), every 4th -> idx 0 and 4
    assert [(d, i) for d, i, _ in got] == [(1, 0), (1, 4), (2, 0), (3, 0)]
    md5 = lambda b: hashlib.md5(b).hexdigest()  # noqa: E731
    assert got[0][2] == md5(b"a" * 64)
    assert got[1][2] == md5(b"a" * (300 - 256))  # last partial frame
    assert got[2][2] == md5(b"xyz")
    assert got[3][2] == md5(b"b" * 64)
    re_got = multimodal.sample_frames_stride(
        payloads.repartition(5), "doc_id", "payload", frame_size=64, every=4
    ).collect()
    assert [(r["doc_id"], r["frame_idx"], r["frame_md5"]) for r in re_got] == got


def test_resize_payloads_stride_semantics(spark):
    import hashlib

    from end_to_end_ml_spark.operators.multimodal import (
        attach_binary_payload,
        resize_payloads,
    )

    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xy")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in resize_payloads(
            attach_binary_payload(df, "text"), "doc_id", "payload", stride=4
        ).collect()
    }
    assert out[1]["in_bytes"] == 10 and out[1]["out_bytes"] == 3  # a,e,i
    assert out[1]["out_md5"] == hashlib.md5(b"aei").hexdigest()
    assert out[2]["out_bytes"] == 1 and out[2]["out_md5"] == hashlib.md5(b"x").hexdigest()


def test_read_binary_files_feeds_payload_metadata(spark, tmp_path):
    """binaryFile source -> multimodal metadata: one row per file, glob
    filters at listing time, magic bytes sniffed from real file content."""
    from end_to_end_ml_spark.operators import multimodal

    (tmp_path / "a.png").write_bytes(b"\x89PNG\r\n\x1a\nrest-of-png")
    (tmp_path / "b.jpg").write_bytes(b"\xff\xd8\xff\xe0JFIFdata")
    (tmp_path / "notes.txt").write_bytes(b"ignore me")
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{png,jpg}")
        .load(str(tmp_path))
    )
    assert files.count() == 2
    meta = {
        r["id"].rsplit("/", 1)[-1]: r
        for r in multimodal.payload_metadata(
            files.select(F.col("path").alias("id"), "content"), "id", "content"
        ).collect()
    }
    assert meta["a.png"]["format"] == "png"
    assert meta["b.jpg"]["format"] == "jpeg"
    assert meta["a.png"]["n_bytes"] == len(b"\x89PNG\r\n\x1a\nrest-of-png")


def test_ann_maintenance_runner_e2e(spark):
    """tools/run_ann_maintenance.maintain: on the real (degenerate-regime)
    embeddings the runner records mode=approx with pruned_fraction 0 and
    exact-verified pairs; stats reconcile with the returned rows."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from run_ann_maintenance import maintain

    pairs, index, stats = maintain(spark, "/root/testdata/sf0.001", threshold=0.4)
    try:
        rows = pairs.collect()  # test-only materialization; maintain() no
        # longer collects (round-9 ADVICE: the runner must stay distributed)
        assert stats["mode"] == "approx"
        assert stats["pruned_fraction"] == 0.0
        assert "n_pairs" not in stats  # counted off the written parquet in main()
        assert len(rows) > 0
        assert stats["n_queries"] > 0
        assert [f.name for f in pairs.schema.fields] == [
            "new_id", "hist_id", "cosine_sim",
        ]
        assert all(r["cosine_sim"] >= 0.4 for r in rows)
    finally:
        index.unpersist()


class TestIvfIndexAdd:
    def test_probe_then_add_loop_exact_across_epochs(self, spark):
        """ivf_index_add (round-10): the probe-then-add maintenance loop
        on planted-cluster geometry. Each epoch's EXACT-mode probe must
        return precisely the brute-force pairs of (epoch batch) x
        (history + every EARLIER batch) — proving added vectors are
        genuinely probed by later epochs — and per-cell radii must be
        monotonically non-decreasing across adds (the lossless-pruning
        invariant)."""
        import numpy as np

        from end_to_end_ml_spark.operators import similarity

        df = _planted_clusters(spark, n_clusters=4, per_cluster=16)
        rows = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
                for r in df.collect()}
        hist_ids = [i for i in rows if i % 4 != 0]
        batch_ids = lambda e: [  # noqa: E731
            i for i in rows if i % 4 == 0 and (i // 4) % 2 == e
        ]

        def brute(qids, nids, thr=0.5):
            out = set()
            for q in qids:
                for n in nids:
                    x, y = rows[q], rows[n]
                    c = round(float(
                        (x @ y) / (np.sqrt(x @ x) * np.sqrt(y @ y))
                    ), 6)
                    if c >= thr:
                        out.add((q, n, c))
            return out

        index = similarity.ivf_build_index(
            df.filter("vec_id % 4 != 0"), "vec_id", "embedding", n_centroids=8
        )
        seen = list(hist_ids)
        try:
            for e in range(2):
                batch = df.filter(
                    f"vec_id % 4 == 0 AND (vec_id div 4) % 2 == {e}"
                )
                pairs, mode = similarity.ivf_probe_pairs_adaptive(
                    batch, "vec_id", "embedding", index, threshold=0.5
                )
                assert mode == "exact"
                got = {
                    (r["new_id"], r["hist_id"], r["cosine_sim"])
                    for r in pairs.collect()
                }
                assert got == brute(batch_ids(e), seen)
                old_radii = index.radii.copy()
                # supersede contract: the add shares cached layers with its
                # input — only the final index of the chain is unpersisted
                index = similarity.ivf_index_add(
                    index, batch, "vec_id", "embedding"
                )
                assert (index.radii >= old_radii - 1e-12).all()
                seen += batch_ids(e)
            # the grown index holds every vector exactly once
            assert index.cells.count() == len(rows)
        finally:
            index.unpersist()


def test_ann_maintenance_epochs_runner(spark, tmp_path):
    """tools/run_ann_maintenance.maintain_epochs on the real (degenerate)
    embeddings: 3 probe-then-add nights, approx mode recorded per epoch,
    pairs written per epoch, final index holds history + all batches."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from run_ann_maintenance import maintain_epochs

    from end_to_end_ml_spark.sources import load_table

    out = str(tmp_path / "epochs")
    paths, stats = maintain_epochs(
        spark, "/root/testdata/sf0.001", threshold=0.4, n_epochs=3, out_dir=out
    )
    assert len(paths) == 3 and len(stats["epochs"]) == 3
    for e, s in enumerate(stats["epochs"]):
        assert s["mode"] == "approx"  # degenerate regime on raw embeddings
        assert s["n_pairs"] == spark.read.parquet(paths[e]).count()
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    assert stats["index_rows"] == emb.count()


def test_rebuild_policy_signal_decays_and_recovers(spark):
    """The operational story ivf_index_add's docstring promises, made
    executable: ingesting a DRIFTED batch (four brand-new cluster
    directions) through probe-then-add inflates some cell radius
    (monotone max — pruning stays lossless but weakens), so
    pruned_fraction DECAYS versus the pre-add index; a REBUILD over the
    union (fresh Lloyd centroids) recovers pruning strictly above the
    degraded post-add level. This is the measurable signal a
    maintenance loop's rebuild policy watches (recorded per epoch by
    tools/run_ann_maintenance.maintain_epochs)."""
    from end_to_end_ml_spark.operators import similarity

    dim = 8
    rows = []
    vid = 0
    for c in range(4):
        for i in range(16):
            v = [0.0] * dim
            v[c] = 1.0
            v[(c + 1) % dim] = 0.01 * ((i % 5) + 1)
            rows.append((vid, v))
            vid += 1
    hist = spark.createDataFrame(rows, ["vec_id", "embedding"])
    drift = []
    for j in range(16):
        v = [0.0] * dim
        v[4 + (j % 4)] = 1.0
        v[(5 + j) % dim] = 0.01 * ((j % 5) + 1)
        drift.append((1000 + j, v))
    batch = spark.createDataFrame(drift, ["vec_id", "embedding"])
    queries = spark.createDataFrame(rows, ["vec_id", "embedding"])

    idx = similarity.ivf_build_index(hist, "vec_id", "embedding", n_centroids=8)
    idx2 = None
    idx3 = None
    try:
        before = similarity.ivf_pruning_report(
            queries, "vec_id", "embedding", idx, 0.9
        ).collect()[0]["pruned_fraction"]
        idx2 = similarity.ivf_index_add(idx, batch, "vec_id", "embedding")
        assert idx2.radii.max() > idx.radii.max()  # drift inflated a radius
        after_add = similarity.ivf_pruning_report(
            queries, "vec_id", "embedding", idx2, 0.9
        ).collect()[0]["pruned_fraction"]
        idx3 = similarity.ivf_build_index(
            hist.unionByName(batch), "vec_id", "embedding", n_centroids=8
        )
        after_rebuild = similarity.ivf_pruning_report(
            queries, "vec_id", "embedding", idx3, 0.9
        ).collect()[0]["pruned_fraction"]
        assert after_add < before          # the decay the policy watches
        assert after_rebuild > after_add   # the rebuild recovers pruning
    finally:
        # idx2 supersedes idx (shared layers) — unpersisting idx too is a
        # harmless no-op on already-freed frames, kept for the error path
        # where idx2 was never created
        (idx2 or idx).unpersist()
        if idx2 is not None:
            idx.unpersist()
        if idx3 is not None:
            idx3.unpersist()
