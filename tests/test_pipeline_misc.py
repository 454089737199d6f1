"""dedup / similarity / text functions / rasterize / checkpoint tests."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geeflow_spark.functions import text as T
from geeflow_spark.operators import dedup, rasterize, similarity
from geeflow_spark.plans import checkpoint
from geeflow_spark.sources import synth


def test_exact_dedup(spark):
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["Hello  World", "hello world", "unique one",
                 "HELLO WORLD ", "another"],
    })
    out = dedup.exact_dedup(spark.createDataFrame(pdf)).toPandas()
    assert sorted(out["doc_id"]) == [1, 3, 5]  # min id survives


def test_minhash_finds_near_dups(spark):
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the green forest all day long " * 3)
    near = base.replace("green", "dark")
    other = ("completely different content about spark joins and "
             "shuffle partitions in distributed systems " * 3)
    pdf = pd.DataFrame({"doc_id": [1, 2, 3],
                        "text": [base, near, other]})
    pairs = dedup.minhash_duplicate_pairs(
        spark.createDataFrame(pdf), num_perm=64, bands=16,
        verify_jaccard=0.5).toPandas()
    assert set(map(tuple, pairs[["a", "b"]].itertuples(index=False))) == \
        {(1, 2)}


def test_simhash_close_for_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    near = base.replace("zeta", "zetaa")
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": [base, near]})
    out = spark.createDataFrame(pdf).select(
        dedup.simhash_udf()(F.col("text")).alias("h")).toPandas()
    h1, h2 = int(out["h"][0]), int(out["h"][1])
    hamming = bin((h1 ^ h2) & ((1 << 64) - 1)).count("1")
    assert hamming <= 16


def test_similarity_bf_vs_numpy(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.brute_force_topk(q, emb, 3).toPandas()
    e = emb.toPandas()
    mat = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    ids = e["vec_id"].to_numpy()
    qp = q.toPandas()
    for _, row in qp.iterrows():
        v = np.asarray(row["embedding"], dtype=np.float64)
        scores = mat @ v / (np.linalg.norm(mat, axis=1) * np.linalg.norm(v))
        order = np.lexsort((ids, -scores))[:3]
        exp = ids[order].tolist()
        g = got[got["query_id"] == row["query_id"]].sort_values("rank")
        assert g["vec_id"].tolist() == exp


def test_lsh_topk_high_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.limit(20).select(F.col("vec_id").alias("query_id"), "embedding")
    bf = similarity.brute_force_topk(q, emb, 5).toPandas()
    ap = similarity.lsh_topk(q, emb, 5, dim=64, n_planes=16,
                             bands=8).toPandas()
    bf_set = set(map(tuple, bf[["query_id", "vec_id"]]
                     .itertuples(index=False)))
    ap_set = set(map(tuple, ap[["query_id", "vec_id"]]
                     .itertuples(index=False)))
    recall = len(bf_set & ap_set) / len(bf_set)
    assert recall >= 0.5  # approximate path; exact rerank inside buckets


def test_text_functions(spark):
    pdf = pd.DataFrame({"text": [
        "the cat and the dog", "der hund und die katze ist da",
        "", "a!!! b??? c...",
    ]})
    df = spark.createDataFrame(pdf)
    out = df.select(
        T.token_count(F.col("text")).alias("tc"),
        T.lang_id(F.col("text")).alias("lang"),
        T.punct_ratio(F.col("text")).alias("pr"),
        T.stopword_ratio(F.col("text")).alias("sr"),
        T.quality_score(F.col("text")).alias("q"),
        T.fingerprint64(F.col("text")).alias("fp"),
    ).toPandas()
    assert out["tc"].tolist() == [5, 7, 0, 3]
    assert out["lang"].tolist()[0] == "en"
    assert out["lang"].tolist()[1] == "de"
    assert out["pr"][3] > 0.5
    assert out["sr"][0] > 0.5
    assert (out["q"] >= 0).all() and (out["q"] <= 1).all()
    # fingerprint invariant to whitespace/case
    df2 = spark.createDataFrame(pd.DataFrame(
        {"text": ["The  CAT and the  dog"]}))
    fp2 = df2.select(T.fingerprint64(F.col("text")).alias("fp")) \
        .collect()[0]["fp"]
    assert fp2 == out["fp"][0]


def test_rasterize_first_max_exists(spark):
    # Two overlapping unit squares with different values.
    regs = pd.DataFrame({
        "region_id": [0, 1],
        "ring": [[0.0, 0, 2, 0, 2, 2, 0, 2], [1.0, 0, 3, 0, 3, 2, 1, 2]],
        "class_name": ["a", "b"],
        "gridcode": [10, 20],
    })
    rois = spark.createDataFrame(pd.DataFrame([
        {"x_min": 0.0, "y_min": 0.0, "cell_size": 1.0,
         "width": 3, "height": 2},
    ]))
    got_max = rasterize.rasterize_fc(rois, regs, "gridcode", reducer="max") \
        .collect()[0]["raster"]
    # grid row-major top row first: pixel centers x=.5,1.5,2.5 / y=1.5,0.5
    assert got_max["values"] == [10.0, 20.0, 20.0, 10.0, 20.0, 20.0]
    assert got_max["mask"] == [1, 1, 1, 1, 1, 1]
    got_first = rasterize.rasterize_fc(rois, regs, "gridcode",
                                       reducer="first").collect()[0]["raster"]
    assert got_first["values"] == [10.0, 10.0, 20.0, 10.0, 10.0, 20.0]
    got_ex = rasterize.rasterize_fc(
        rois, regs, rasterize.FEATURE_EXISTS_INTEGER_KEY,
        reducer="max").collect()[0]["raster"]
    assert got_ex["values"] == [1.0] * 6
    # class remap with drop-missing (ee_algo.py:176-183)
    got_cls = rasterize.rasterize_fc(
        rois, regs, "class_name", reducer="max",
        class_names=["b"]).collect()[0]["raster"]
    assert got_cls["mask"] == [0, 1, 1, 0, 1, 1]  # region a dropped
    assert got_cls["values"][1] == 0.0  # class b -> index 0


def test_checkpoint_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    docs = synth.docs(spark, 300).withColumn(
        "part", (F.crc32(F.col("doc_id")) % 4).cast("int"))
    recs = checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3],
                                      id_col="doc_id",
                                      input_fingerprint="docs:300")
    assert len(recs) == 4
    assert all(r["rows"] > 0 for r in recs)
    assert all(r["lineage"]["input_fingerprint"] == "docs:300" for r in recs)
    # Relaunch: nothing to do.
    recs2 = checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3])
    assert recs2 == []
    # All rows present exactly once.
    total = spark.read.parquet(out + "/part=*").count()
    assert total == 300
    # Partial resume: drop one manifest -> only that partition re-runs.
    import os
    os.remove(os.path.join(checkpoint.manifest_dir(out), "2.json"))
    recs3 = checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3])
    assert [r["partition"] for r in recs3] == ["2"]


def test_checkpoint_resume_torn_partition(spark, tmp_path):
    # Failure injection: a crash mid-write leaves a PARTIAL partition
    # directory (stray temp/garbage files, no manifest record). The
    # relaunch must recompute exactly the uncommitted partitions, and
    # the torn directory must be fully replaced (no leftover rows, no
    # double counting).
    import os
    out = str(tmp_path / "out")
    docs = synth.docs(spark, 300).withColumn(
        "part", (F.crc32(F.col("doc_id")) % 4).cast("int"))
    checkpoint.run_partitioned(docs, out, "part", [0, 1],
                               id_col="doc_id")
    # Simulate the torn write for partition 2: a directory with a
    # half-written (corrupt) parquet file and no manifest.
    torn = os.path.join(out, "part=2")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1\x00\x00torn")  # truncated garbage
    with open(os.path.join(torn, ".part-00001.parquet.crc"), "wb") as f:
        f.write(b"\x00")
    recs = checkpoint.run_partitioned(docs, out, "part", [0, 1, 2, 3],
                                      id_col="doc_id")
    # exactly the uncommitted partitions re-ran
    assert [r["partition"] for r in recs] == ["2", "3"]
    # the torn file is gone (overwrite replaced the directory) and the
    # dataset reads back complete and exactly-once
    assert not os.path.exists(os.path.join(torn, "part-00000.parquet")) \
        or spark.read.parquet(torn).count() == recs[0]["rows"]
    total = spark.read.parquet(out + "/part=*")
    assert total.count() == 300
    assert total.select("doc_id").distinct().count() == 300


def test_exact_dedup_hash_collision_safe(spark):
    # Force a first-digest collision via an injected constant hasher:
    # the second independent digest must keep distinct texts apart.
    pdf = pd.DataFrame({"doc_id": [1, 2, 3],
                        "text": ["alpha text", "totally different", "alpha  TEXT"]})
    out = dedup.exact_dedup(
        spark.createDataFrame(pdf),
        key_fns=[lambda c: F.lit(0), lambda c: F.sha2(c, 256)]).toPandas()
    assert sorted(out["doc_id"]) == [1, 2]  # collision did not merge 1 & 2


def test_ngram_jaccard_exact_all_pairs(spark):
    a = "one two three four five six seven eight"
    b = "one two three four five six seven nine"   # high overlap with a
    c = "alpha beta gamma delta epsilon"
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [a, b, c]})
    got = dedup.ngram_jaccard_pairs(
        spark.createDataFrame(pdf), threshold=0.3, shingle_k=3).toPandas()
    assert set(map(tuple, got[["a", "b"]].itertuples(index=False))) == {(1, 2)}
    # exact value: shingles(a)=6, shingles(b)=6, common=5 -> 5/7
    import math
    assert math.isclose(got["jaccard"].iloc[0], 5 / 7, rel_tol=1e-9)


def test_shingle_hashes_jvm_matches_python_semantics(spark):
    # Cardinalities match the python mirror for normal/short/empty text.
    pdf = pd.DataFrame({"text": ["a b c d e", "a b", "", "one"]})
    got = spark.createDataFrame(pdf).select(
        F.size(dedup.shingle_hashes_col(F.col("text"), 3)).alias("n")
    ).toPandas()["n"].tolist()
    exp = [len(dedup._token_shingles(t, 3)) for t in pdf["text"]]
    assert got == exp


def test_hash64_vectorized_matches_scalar():
    strs = ["", "a", "hello world", "x" * 100, "unicode ☃ ümlaut"]
    got = dedup._hash64_strs(strs)
    for s, g in zip(strs, got):
        h = 0xCBF29CE484222325
        for byte in s.encode("utf-8"):
            h = ((h ^ byte) * 0x100000001B3) % (1 << 64)
        assert int(g) == h


def test_simhash_candidate_pairs(spark):
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the green forest all day long " * 2)
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [base, base.replace("green", "dark"),
                 "entirely different words about spark shuffles"]})
    # bands=16 -> pigeonhole guarantees recall for hamming <= 15
    # (4 bands only guarantees hamming <= 3; near-dups here land ~9-15).
    out = dedup.simhash_candidate_pairs(
        spark.createDataFrame(pdf), bands=16, max_hamming=15).toPandas()
    assert set(map(tuple, out[["a", "b"]].itertuples(index=False))) \
        == {(1, 2)}
    assert (out["hamming"] <= 15).all()


def test_connected_components_vs_union_find(spark):
    # random sparse pair graphs vs an independent python union-find
    rng = np.random.default_rng(17)
    for trial in range(3):
        n = 60
        m = rng.integers(20, 60)
        a = rng.integers(0, n, m)
        off = rng.integers(1, n, m)
        b = (a + off) % n
        pdf = pd.DataFrame({"a": a, "b": b}).drop_duplicates()
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for x, y in pdf.itertuples(index=False):
            parent[find(int(x))] = find(int(y))
        seen = sorted(set(pdf["a"]) | set(pdf["b"]))
        roots = {}
        expect = {}
        for v in seen:  # ascending: root label = min member
            r = find(v)
            roots.setdefault(r, v)
            expect[v] = roots[r]
        got = dedup.connected_components(
            spark.createDataFrame(pdf)).toPandas()
        got_map = dict(zip(got["id"], got["component"]))
        assert got_map == expect, trial


def test_connected_components_chain_and_empty(spark):
    # worst-case diameter: a pure chain (converges, label = 0) and an
    # empty edge set (empty output, correct schema)
    chain = pd.DataFrame({"a": range(0, 15), "b": range(1, 16)})
    got = dedup.connected_components(
        spark.createDataFrame(chain)).toPandas()
    assert sorted(got["id"]) == list(range(16))
    assert set(got["component"]) == {0}
    empty = spark.createDataFrame([], "a long, b long")
    out = dedup.connected_components(empty)
    assert out.columns == ["id", "component"]
    assert out.count() == 0


def test_connected_components_long_chain_log_rounds(spark):
    # Pointer jumping: a diameter-120 chain must close in O(log d)
    # rounds (plain min-label propagation would need 120 and trip any
    # reasonable max_iter). max_iter=12 both proves the bound and
    # guards against a regression to linear-round propagation.
    chain = pd.DataFrame({"a": range(0, 120), "b": range(1, 121)})
    got = dedup.connected_components(
        spark.createDataFrame(chain), max_iter=12).toPandas()
    assert set(got["component"]) == {0}
    assert len(got) == 121
    assert dedup._last_cc_rounds <= 12


def test_connected_components_releases_checkpoints(spark):
    # Superseded per-round localCheckpoint blocks must be released as
    # the loop advances; after unpersisting the returned frame the
    # session holds no more persisted RDDs than before the call.
    sc = spark.sparkContext
    spark.catalog.clearCache()
    before = dedup._persistent_rdd_ids(sc)
    chain = pd.DataFrame({"a": range(0, 40), "b": range(1, 41)})
    out = dedup.connected_components(spark.createDataFrame(chain))
    assert out.count() == 41
    after = dedup._persistent_rdd_ids(sc) - before
    # only the final round's checkpoint may remain live (the result)
    assert len(after) <= 2, after
    dedup.release_component_labels()
    assert not (dedup._persistent_rdd_ids(sc) - before)


def test_dedup_survivors(spark):
    # pairs {1-2, 2-3} and {7-9}: components {1,2,3} (survivor 1) and
    # {7,9} (survivor 7); docs 4, 5 appear in no pair and pass through.
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2, 3, 4, 5, 7, 9],
         "text": list("abcdefg")}))
    pairs = spark.createDataFrame(pd.DataFrame(
        {"a": [1, 2, 7], "b": [2, 3, 9]}))
    out = dedup.dedup_survivors(docs, pairs).toPandas()
    assert sorted(out["doc_id"]) == [1, 4, 5, 7]
    assert list(out.columns) == ["doc_id", "text"]
    assert dedup._last_survivors_path == "broadcast"
    dedup.release_survivors_state()


def test_dedup_survivors_quality(spark):
    # quality_col winner selection: component {1,2,3} keeps 2 (highest
    # quality; null on 3 ranks lowest), component {4,5} ties on
    # quality and falls back to the min-id rule (keeps 4); doc 6 is in
    # no pair and passes through. Winner 2 != min id 1 pins that the
    # argmax actually ran.
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 5, 6],
                      "text": list("abcdef"),
                      "q": [5.0, 9.0, None, 7.0, 7.0, 1.0]}))
    pairs = spark.createDataFrame(pd.DataFrame(
        {"a": [1, 2, 4], "b": [2, 3, 5]}))
    out = dedup.dedup_survivors(docs, pairs, quality_col="q").toPandas()
    assert sorted(out["doc_id"]) == [2, 4, 6]
    assert list(out.columns) == ["doc_id", "text", "q"]
    dedup.release_survivors_state()


def test_dedup_survivors_broadcast_gate(spark):
    # Majority-duplicate corpus (the web-scale regime the gate exists
    # for): 300 docs in 100 chains of 3 -> 200 dropped. With the
    # threshold below the drop count the anti-join must NOT be forced
    # to broadcast (AQE plans it); survivors must be identical on both
    # paths, and neither path may leak drop-list blocks after
    # release_survivors_state().
    sc = spark.sparkContext
    spark.catalog.clearCache()
    docs = spark.range(300).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(pd.DataFrame(
        {"a": [3 * i + j for i in range(100) for j in (0, 1)],
         "b": [3 * i + j for i in range(100) for j in (1, 2)]}))
    before = dedup._persistent_rdd_ids(sc)

    forced = dedup.dedup_survivors(docs, pairs, broadcast_max_rows=50)
    got_shuffle = sorted(r["doc_id"] for r in forced.collect())
    assert dedup._last_survivors_path == "shuffle"
    # the forced path's logical plan carries no broadcast hint
    assert "broadcast" not in forced._jdf.queryExecution() \
        .logical().toString().lower()

    bcast = dedup.dedup_survivors(docs, pairs, broadcast_max_rows=10**6)
    got_bcast = sorted(r["doc_id"] for r in bcast.collect())
    assert dedup._last_survivors_path == "broadcast"

    expect = sorted(3 * i for i in range(100))
    assert got_shuffle == got_bcast == expect
    dedup.release_survivors_state()
    assert not (dedup._persistent_rdd_ids(sc) - before)


def test_block_combo_masks_properties():
    # Pure-python pigeonhole property: for random hash pairs with
    # d <= blocks - t flipped bits, SOME combination mask sees equal
    # masked values; masks jointly cover all 64 bits; count = C(B,t).
    from math import comb
    rng = np.random.default_rng(9)
    for blocks, t in ((6, 3), (8, 4), (4, 2), (5, 5)):
        masks = dedup._block_combo_masks(blocks, t)
        assert len(masks) == comb(blocks, t)
        m_u = [np.uint64(m % (1 << 64)) for m in masks]
        cover = np.uint64(0)
        for m in m_u:
            cover |= m
        if t == blocks:
            assert cover == np.uint64(0xFFFFFFFFFFFFFFFF)
        d_max = blocks - t
        for _ in range(200):
            h = np.uint64(rng.integers(0, 1 << 63))
            flips = rng.choice(64, size=rng.integers(0, d_max + 1),
                               replace=False)
            h2 = h
            for b in flips:
                h2 = h2 ^ (np.uint64(1) << np.uint64(b))
            assert any((h & m) == (h2 & m) for m in m_u), \
                (blocks, t, flips)


def test_simhash_block_combo_recall(spark):
    # Manku block-combination keys (blocks=6, t=3): EVERY pair with
    # hamming <= blocks - t = 3 must be found (pigeonhole guarantee),
    # and nothing above max_hamming may appear. Truth = brute-force
    # popcount over the same simhashes.
    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(500)]
    base = [" ".join(rng.choice(vocab, 30)) for _ in range(40)]
    texts = base + base[:10]  # 10 exact dups (hamming 0)
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    got = dedup.simhash_candidate_pairs(
        df, shingle_k=2, blocks=6, block_t=3, max_hamming=3).toPandas()
    hp = df.select("doc_id", dedup.simhash_udf(2)(F.col("text"))
                   .alias("h")).toPandas().sort_values("doc_id")
    h = hp["h"].to_numpy(np.int64).astype(np.uint64)
    truth = {(a, b) for a in range(len(h)) for b in range(a + 1, len(h))
             if bin(int(h[a] ^ h[b])).count("1") <= 3}
    assert truth  # the exact dups guarantee a non-trivial truth set
    assert set(map(tuple, got[["a", "b"]].itertuples(index=False))) \
        == truth
    assert (got["hamming"] <= 3).all()


def test_xxh64_twin_matches_spark(spark):
    from tools.xxh64 import xxh64_str_signed
    strs = ["", "a", "hello world", "x" * 40, "ünïcode ☃", "y" * 31]
    df = spark.createDataFrame(pd.DataFrame({"s": strs}))
    got = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    assert got == [xxh64_str_signed(s) for s in strs]


def test_ivf_full_probe_equals_brute_force(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 6) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.ivf_topk(q, emb, k=4, n_centroids=8, nprobe=8,
                              train_rows=512).toPandas()
    exp = similarity.brute_force_topk(q, emb, 4).toPandas()
    key = ["query_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    e = exp.sort_values(key).reset_index(drop=True)
    assert list(g["vec_id"]) == list(e["vec_id"])  # row-for-row


def test_ivf_partial_probe_recall(spark):
    # clustered data: IVF with nprobe=2/8 must keep high recall@k
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 16)) * 4
    vecs = np.concatenate([c + rng.standard_normal((40, 16))
                           for c in centers])
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs)),
                        "embedding": [v.astype(np.float32).tolist()
                                      for v in vecs]})
    emb = spark.createDataFrame(pdf)
    q = emb.filter(F.col("vec_id") % 40 == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.ivf_topk(q, emb, k=10, n_centroids=8, nprobe=2,
                              train_rows=320).toPandas()
    exp = similarity.brute_force_topk(q, emb, 10).toPandas()
    exp_pairs = set(map(tuple, exp[["query_id", "vec_id"]]
                        .itertuples(index=False)))
    got_pairs = set(map(tuple, got[["query_id", "vec_id"]]
                        .itertuples(index=False)))
    recall = len(got_pairs & exp_pairs) / len(exp_pairs)
    assert recall >= 0.9, recall
    # determinism: second run identical
    got2 = similarity.ivf_topk(q, emb, k=10, n_centroids=8, nprobe=2,
                               train_rows=320).toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values(["query_id", "rank"]).reset_index(drop=True),
        got2.sort_values(["query_id", "rank"]).reset_index(drop=True))


def test_ivf_train_sample_order_independent(spark):
    # The quantizer trains on a hash-ordered sample: shuffling /
    # repartitioning the input must not change the centroids (a
    # first-k-ids sample would be stable too, but biased toward
    # id-correlated content; hash order is both uniform AND stable).
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    shuffled = emb.orderBy(F.col("vec_id").desc()).repartition(7)
    a = similarity.ivf_build(emb, n_centroids=8, train_rows=256)
    b = similarity.ivf_build(shuffled, n_centroids=8, train_rows=256)
    try:
        np.testing.assert_array_equal(a.centroids, b.centroids)
    finally:
        a.release()
        b.release()


def test_ivf_build_probe_reuse(spark, tmp_path, monkeypatch):
    # Build once (path-backed inverted lists), probe twice with
    # DIFFERENT query batches: the corpus assignment must not be
    # recomputed by probes (monkeypatch makes any assign attempt
    # raise), the probe scan must be partition-PRUNED to the probed
    # lists, and full-probe results stay exact vs brute force.
    import re
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = similarity.ivf_build(emb, n_centroids=8, train_rows=512,
                               path=str(tmp_path / "ivf_lists"))

    def _boom(*a, **k):
        raise AssertionError("assignment recomputed after build")

    monkeypatch.setattr(similarity, "_assign_udf", _boom)
    for lo, hi in ((0, 6), (6, 12)):
        q = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)) \
            .select(F.col("vec_id").alias("query_id"), "embedding")
        got_df = similarity.ivf_probe(q, idx, emb, k=4, nprobe=8)
        got = got_df.toPandas()
        exp = similarity.brute_force_topk(q, emb, 4).toPandas()
        key = ["query_id", "rank"]
        g = got.sort_values(key).reset_index(drop=True)
        e = exp.sort_values(key).reset_index(drop=True)
        assert list(g["vec_id"]) == list(e["vec_id"])

    # partial probe: the executed plan's list scan carries a NON-EMPTY
    # PartitionFilters (directory pruning on _c).
    q = emb.filter(F.col("vec_id") < 3) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    plan = similarity.ivf_probe(q, idx, emb, k=2, nprobe=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]", plan), plan


_SPAN_SCHEMA = ("doc_id long, spans array<struct<"
                "kind:string,text:string,media_ref:string,offset:int>>")


def _span_docs(spark):
    rows = [
        (1, [("text", "Common Header", None, 0),
             ("media", None, "m/1/1", 32),
             ("text", "unique A", None, 64),
             ("text", "common  header", None, 96)]),   # within-doc dup
        (2, [("text", "COMMON HEADER ", None, 3),      # cross-doc dup
             ("text", "unique B", None, 35),
             ("text", "", None, 67)]),                 # empty: bypasses
        (3, [("media", None, "m/3/0", 5)]),
    ]
    return spark.createDataFrame(rows, _SPAN_SCHEMA)


def test_span_dedup(spark):
    docs = _span_docs(spark)
    out = dedup.span_dedup(docs)
    assert out.schema == docs.schema  # same shape out as in
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"],
                          s["offset"]) for s in r["spans"]]
           for r in out.collect()}
    # doc 1: within-doc dup at pos 3 dropped; order + offsets intact
    assert got[1] == [("text", "Common Header", None, 0),
                      ("media", None, "m/1/1", 32),
                      ("text", "unique A", None, 64)]
    # doc 2: cross-doc dup (pos 0, normalized equal to doc 1 pos 0)
    # dropped; empty-text span bypasses dedup
    assert got[2] == [("text", "unique B", None, 35),
                      ("text", "", None, 67)]
    # doc 3: media only, untouched
    assert got[3] == [("media", None, "m/3/0", 5)]


def test_span_dedup_collision_safe(spark):
    # Constant first digest: the second independent digest must keep
    # DISTINCT span texts apart (exact_dedup's collision contract).
    docs = _span_docs(spark)
    out = dedup.span_dedup(
        docs, key_fns=[lambda c: F.lit(0), lambda c: F.sha2(c, 256)])
    kept = {(r["doc_id"], s["offset"])
            for r in out.collect() for s in r["spans"]}
    # "unique A" and "unique B" both survive despite colliding k0
    assert (1, 64) in kept and (2, 35) in kept


def test_repetition_metrics(spark):
    from geeflow_spark.operators import text_metrics
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["A a b", "x x x x", "solo", "   ", None],
    })
    out = (text_metrics.repetition_metrics(spark.createDataFrame(pdf))
           .toPandas().set_index("doc_id").sort_index())
    assert list(out.index) == [1, 2, 3]  # blank/null rows dropped
    # doc 1: words [a, a, b] (case-folded)
    assert out.loc[1, "n_words"] == 3
    assert out.loc[1, "distinct_word_frac"] == round(2 / 3, 6)
    assert out.loc[1, "top_word_frac"] == round(2 / 3, 6)
    assert out.loc[1, "dup_bigram_frac"] == 0.0   # "a a" != "a b"
    # doc 2: pure repetition
    assert out.loc[2, "n_words"] == 4
    assert out.loc[2, "distinct_word_frac"] == 0.25
    assert out.loc[2, "top_word_frac"] == 1.0
    assert out.loc[2, "dup_bigram_frac"] == round(1 - 1 / 3, 6)
    # doc 3: single word - no bigrams, frac pinned to 0
    assert out.loc[3, "n_words"] == 1
    assert out.loc[3, "dup_bigram_frac"] == 0.0


def test_containment_directional(spark):
    # Short doc quoted whole inside a long one: containment(a->b)=1.0
    # while Jaccard (3/8) and the reverse direction (3/8) stay low -
    # the signal symmetric near-dup misses by construction.
    short = "one two three four five"
    long_ = "zero one two three four five six seven eight nine"
    pdf = pd.DataFrame({"doc_id": [1, 2, 3],
                        "text": [short, long_, "alpha beta gamma delta"]})
    got = dedup.containment_pairs(
        spark.createDataFrame(pdf), threshold=0.9, window=3).toPandas()
    assert list(map(tuple, got[["a", "b"]].itertuples(index=False))) == [(1, 2)]
    assert got["containment"].iloc[0] == 1.0
    # reverse direction visible (and correct) at a lower threshold
    lo = dedup.containment_pairs(
        spark.createDataFrame(pdf), threshold=0.3, window=3).toPandas()
    rev = lo[(lo.a == 2) & (lo.b == 1)]["containment"]
    assert len(rev) == 1 and abs(rev.iloc[0] - 3 / 8) < 1e-9


def test_containment_max_postings_cap(spark):
    # A boilerplate window shared by every doc: with the cap below the
    # corpus size its posting list is dropped (no pair survives); with
    # the cap at corpus size the 0.25-containment pairs appear. The
    # denominator always counts ALL fingerprints (capped containment
    # only underestimates - conservative).
    docs = [f"common boiler plate u{i} v{i} w{i}" for i in range(5)]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(5), "text": docs}))
    capped = dedup.containment_pairs(
        df, threshold=0.2, window=3, max_postings=4).toPandas()
    assert capped.empty
    full = dedup.containment_pairs(
        df, threshold=0.2, window=3, max_postings=5).toPandas()
    assert len(full) == 20  # 5*4 ordered pairs, each 1/4
    assert (full["containment"] == 0.25).all()


def test_decontaminate(spark):
    # train doc 10 embeds the benchmark 8-gram verbatim -> dropped;
    # doc 11 shares only 7 consecutive tokens -> kept; doc 12 is
    # disjoint and doc 13 empty -> kept. Case-insensitive (the
    # benchmark is uppercased). The gated (non-broadcast) path must
    # return identical survivors.
    bench = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1], "text": ["ALPHA beta gamma delta epsilon zeta eta theta"]}))
    train = spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 11, 12, 13],
        "text": [
            "intro words alpha beta gamma delta epsilon zeta eta theta tail",
            "alpha beta gamma delta epsilon zeta eta DIFFERENT",
            "totally unrelated content here",
            ""]}))
    out = dedup.decontaminate(train, bench, window=8).toPandas()
    assert sorted(out["doc_id"]) == [11, 12, 13]
    gated = dedup.decontaminate(train, bench, window=8,
                                broadcast_max_rows=0).toPandas()
    assert sorted(gated["doc_id"]) == [11, 12, 13]
    dedup.release_decontaminate_state()


def test_gopher_quality_flags(spark):
    from geeflow_spark.operators import text_metrics as tm
    good = ("the quick brown fox and that dog have fun with all of it "
            * 6)
    bullets = "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\nplain"
    dots = "one...\ntwo...\nthree fine\nfour fine"
    docs = pd.DataFrame({"doc_id": [1, 2, 3, 4, 5],
                         "text": [good, "# # # short", bullets, dots,
                                  ""]})
    out = tm.gopher_quality_flags(
        spark.createDataFrame(docs), min_words=10).toPandas() \
        .set_index("doc_id")
    assert bool(out.loc[1, "gopher_pass"])
    # symbol + alpha + stopword failures on the hash-spam doc
    assert not out.loc[2, ["symbol_ok", "alpha_ok",
                           "stopword_ok"]].any()
    assert not out.loc[3, "bullet_ok"]      # 9/10 lines bulleted
    assert not out.loc[4, "ellipsis_ok"]    # 2/4 lines end ...
    assert out.loc[4, "bullet_ok"]
    assert out.loc[5, "n_words"] == 0 and not out.loc[5, "wc_ok"]
    assert bool(out.loc[5, "bullet_ok"])    # vacuous: zero lines


def test_c4_line_clean(spark):
    from geeflow_spark.operators import text_metrics as tm
    doc1 = ("Good first sentence here.\n"
            "no terminal punct line\n"
            "Too short.\n"
            "Uses javascript for menus.\n"
            "Another keeper with a question mark?\n")
    docs = pd.DataFrame({"doc_id": [1, 2, 3],
                         "text": [doc1,
                                  "Lorem ipsum dolor sit amet.",
                                  "closing brace only } fine sentence."]})
    out = tm.c4_line_clean(spark.createDataFrame(docs)) \
        .toPandas().set_index("doc_id")
    # doc 1: keeps the two punctuated >=3-word non-js lines
    assert out.loc[1, "clean_text"] == (
        "Good first sentence here.\n"
        "Another keeper with a question mark?")
    assert out.loc[1, "n_lines_kept"] == 2
    assert out.loc[1, "n_lines_dropped"] == 3
    assert bool(out.loc[1, "c4_keep"])
    # page tells: lorem ipsum and curly brace fail the page
    assert not out.loc[2, "c4_keep"]
    assert not out.loc[3, "c4_keep"]
    # punct check off: the bare line qualifies too
    relaxed = tm.c4_line_clean(
        spark.createDataFrame(docs), require_terminal_punct=False) \
        .toPandas().set_index("doc_id")
    assert relaxed.loc[1, "n_lines_kept"] == 3


def test_dedup_survivors_quality_string_ids(spark):
    # The (quality DESC, id ASC) tie-break must hold for STRING doc
    # ids too (negating a string id casts to NULL and silently breaks
    # argmax determinism - the bug this pins).
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["doc02", "doc01", "doc03", "doc09"],
        "text": list("abcd"),
        "q": [7.0, 7.0, 9.0, 1.0]}))
    pairs = spark.createDataFrame(pd.DataFrame(
        {"a": ["doc01", "doc02"], "b": ["doc02", "doc03"]}))
    out = dedup.dedup_survivors(docs, pairs, quality_col="q").toPandas()
    # component {doc01,doc02,doc03}: doc03 wins on quality
    assert sorted(out["doc_id"]) == ["doc03", "doc09"]
    # quality tie between doc01/doc02 alone -> min id wins
    pairs2 = spark.createDataFrame(pd.DataFrame(
        {"a": ["doc01"], "b": ["doc02"]}))
    out2 = dedup.dedup_survivors(docs, pairs2,
                                 quality_col="q").toPandas()
    assert sorted(out2["doc_id"]) == ["doc01", "doc03", "doc09"]
    dedup.release_survivors_state()


def test_pii_redact(spark):
    from geeflow_spark.operators import text_metrics as tm
    docs = pd.DataFrame({"doc_id": [1, 2, 3, 4],
                         "text": [
        "reach me at jo.na+1@sub.example.org or admin@ex.io thanks",
        "server 192.168.0.1 then call 555-010-1234 ok",
        "plain text with no pii at all",
        "a@b.co 1.2.3.4 999 888 7777",
    ], "keepme": [10, 20, 30, 40]})
    out = tm.pii_redact(spark.createDataFrame(docs)) \
        .toPandas().set_index("doc_id")
    assert out.loc[1, "text"] == "reach me at <EMAIL> or <EMAIL> thanks"
    assert out.loc[1, "pii_email"] == 2
    assert out.loc[2, "text"] == "server <IP> then call <PHONE> ok"
    assert (out.loc[2, "pii_ipv4"], out.loc[2, "pii_phone"]) == (1, 1)
    # no-PII rows pass through untouched, zero counts
    assert out.loc[3, "text"] == docs.set_index("doc_id").loc[3, "text"]
    assert out.loc[3, ["pii_email", "pii_ipv4", "pii_phone"]].sum() == 0
    # space-separated phone form; other columns ride along
    assert out.loc[4, "text"] == "<EMAIL> <IP> <PHONE>"
    assert list(out["keepme"]) == [10, 20, 30, 40]
    # counts=False adds no columns
    bare = tm.pii_redact(spark.createDataFrame(docs), counts=False)
    assert set(bare.columns) == {"doc_id", "text", "keepme"}


def test_substring_dedup(spark):
    rows = [
        (1, "a b c d e f g h i j"),      # first occurrence -> kept
        (2, "x y a b c d e f g h k"),    # same 8-run at pos 2 -> cut
        (3, "p q r s"),                  # short unique -> kept
        (4, "p q r s"),                  # short exact dup -> emptied
        (5, ""),                         # empty passthrough
        (6, "m n o a b c d e f g h m n o a b c d e f g h"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.substring_dedup(df, window=8).toPandas() \
        .set_index("doc_id").sort_index()
    assert out.loc[1, "text"] == "a b c d e f g h i j"
    assert out.loc[2, "text"] == "x y k"
    assert (out.loc[2, "ss_n_tokens"], out.loc[2, "ss_n_removed"]) \
        == (11, 8)
    assert out.loc[3, "text"] == "p q r s"
    assert out.loc[4, "text"] == ""          # whole-doc window dup
    assert out.loc[5, "text"] == ""
    assert out.loc[5, "ss_n_removed"] == 0
    # within-doc repeat: overlapping dup windows cover everything
    # after the first occurrence's unique prefix
    assert out.loc[6, "text"] == "m n o"
    assert out.loc[6, "ss_n_removed"] == 19
    # keep_first=False cuts every occurrence, including the first
    allcut = dedup.substring_dedup(df, window=8, keep_first=False) \
        .toPandas().set_index("doc_id")
    assert allcut.loc[1, "text"] == "i j"
    assert allcut.loc[3, "text"] == ""
    # min_count above a window's occurrence count spares it: the
    # whole-doc "p q r s" window occurs exactly twice, so doc 4
    # survives at min_count=3 (the a..h run occurs 4x - doc 6 has it
    # twice - and keeps being cut)
    rare = dedup.substring_dedup(df, window=8, min_count=3) \
        .toPandas().set_index("doc_id")
    assert rare.loc[4, "text"] == "p q r s"
    assert rare.loc[2, "text"] == "x y k"
    # metrics=False keeps the original schema
    bare = dedup.substring_dedup(df, window=8, metrics=False)
    assert bare.columns == ["doc_id", "text"]


def test_substring_dedup_matches_reference(spark):
    # property check vs an independent pure-python reference on a
    # planted corpus: docs share runs by construction (every doc
    # id%3==1 embeds doc id-1's middle run), plus random uniques.
    import numpy as np
    rng = np.random.default_rng(17)
    vocab = [f"w{i}" for i in range(40)]
    texts = []
    for i in range(60):
        toks = list(rng.choice(vocab, size=24))
        if i % 3 == 1:
            toks[5:15] = texts[i - 1].split()[7:17]
        texts.append(" ".join(toks))
    W = 6
    # reference: window strings -> global count + keep-first rank
    occ = {}
    for i, t in enumerate(texts):
        ws = t.split()
        n = len(ws)
        spans = range(max(n - W + 1, 1)) if n else range(0)
        for p in spans:
            occ.setdefault(" ".join(ws[p:p + W]), []).append((i, p))
    removed = {}
    for k, lst in occ.items():
        if len(lst) >= 2:
            for (i, p) in sorted(lst)[1:]:
                n = len(texts[i].split())
                removed.setdefault(i, set()).update(
                    range(p, min(p + W, n)))
    expect = {}
    for i, t in enumerate(texts):
        ws = t.split()
        rm = removed.get(i, set())
        expect[i] = " ".join(w for j, w in enumerate(ws)
                             if j not in rm)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")
    got = dedup.substring_dedup(df, window=W).toPandas() \
        .set_index("doc_id")
    for i in range(60):
        assert got.loc[i, "text"] == expect[i], i
        assert got.loc[i, "ss_n_removed"] == len(removed.get(i, set()))


def test_sq8_quantize_and_topk(spark):
    rng = np.random.default_rng(23)
    mat = rng.normal(size=(200, 16)).astype(np.float32)
    mat[7] = 0.0  # zero vector edge: scale 1, q = 0
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>")
    # quantization matches the numpy reference exactly
    got = similarity.sq8_quantize(df, dim=16).toPandas() \
        .set_index("vec_id").sort_index()
    v = mat.astype(np.float64)
    m = np.abs(v).max(axis=1)
    sc = np.where(m == 0, 1.0, m / 127.0)
    qref = np.floor(v / sc[:, None] + 0.5)
    assert np.allclose(np.stack(got["qscale"].values), sc)
    assert (np.stack(got["qvec"].values) == qref).all()
    assert (qref[7] == 0).all()
    # top-k by quantized score: scores match the reference bit-level
    # (integer dots exact in double), ranking ~= the exact-dot
    # ranking it approximates (int8 is plenty at dim 16)
    q = df.filter(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    topk = similarity.sq8_topk(q, df, k=5, dim=16).toPandas()
    qs = (qref[:5] @ qref.T) * sc[:5, None] * sc[None, :]
    for r in topk.itertuples():
        assert abs(r.qscore - qs[r.query_id, r.vec_id]) < 1e-9
    exact = v[:5] @ v.T
    hits = 0
    for qi in range(5):
        ref_top = set(np.lexsort((np.arange(200), -exact[qi]))[:5])
        got_top = set(topk[topk.query_id == qi]["vec_id"])
        hits += len(ref_top & got_top)
    assert hits >= 20  # recall@5 >= 0.8 over 25 slots
    # dim=1 edge (F.greatest needs >= 2 columns - guarded)
    one = spark.createDataFrame([(0, [2.0]), (1, [-4.0]), (2, [0.0])],
                                "vec_id long, embedding array<float>")
    q1 = similarity.sq8_quantize(one, dim=1).toPandas() \
        .set_index("vec_id").sort_index()
    assert list(q1["qvec"]) == [[127], [-127], [0]]
    assert list(q1["qscale"]) == [2.0 / 127, 4.0 / 127, 1.0]


def test_new_ops_plan_shapes(spark):
    # Lock the scale-relevant physical-plan properties of the round-6
    # operators (the PLANS.md audit, as regression tests):
    # - pii_redact: zero exchanges, zero Python (one codegen span)
    # - substring_dedup: exactly ONE Arrow boundary (the fingerprint
    #   UDF must not be re-evaluated below an inferred-filter push -
    #   the explode_outer lesson) and no more than 3 exchanges
    #   (spread, fingerprint window, per-doc position agg)
    import re
    from geeflow_spark.operators import text_metrics as tm

    def detail_nodes(df, name):
        s = df.sparkSession._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        return len(re.findall(rf"^\(\d+\) {name}", s, re.M))

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    pii = tm.pii_redact(docs)
    assert detail_nodes(pii, "Exchange") == 0
    assert detail_nodes(pii, "ArrowEvalPython") == 0
    ss = dedup.substring_dedup(docs, window=8)
    # r7: the corpus-wide count is a partial-aggregated groupBy joined
    # back to the occurrence rows (skew-safe; the r6 single-evaluation
    # form was a Window colocating every occurrence of a hot
    # fingerprint in one task), and the fingerprint pass is the pure-
    # JVM Horner fold - ZERO Python nodes even though the occurrence
    # pipeline is evaluated on both join sides. No Window nodes may
    # remain in the occurrence pipeline.
    assert detail_nodes(ss, "ArrowEvalPython") == 0
    assert detail_nodes(ss, "BatchEvalPython") == 0
    assert detail_nodes(ss, "Window") == 0
    assert detail_nodes(ss, "Exchange") <= 5


def test_ivf_quantized_lists(spark, tmp_path):
    # SQ8 x IVF composition: lists store unit-quantized int8 payloads;
    # the full probe ranks by the quantized-dot cosine approximation,
    # bit-matching the numpy reference; quantization barely moves the
    # full-probe top-k vs the exact index (int8 rounding only).
    rng = np.random.default_rng(9)
    centers = rng.normal(size=(8, 16)) * 3
    mat = np.vstack([centers[i % 8] + rng.normal(size=16) * 0.3
                     for i in range(300)])
    df = spark.createDataFrame(
        [(i, [float(x) for x in r]) for i, r in enumerate(mat)],
        "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 5").selectExpr("vec_id as query_id",
                                           "embedding")
    path = str(tmp_path / "ivfq")
    idx = similarity.ivf_build(df, n_centroids=8, train_rows=300,
                               path=path, quantize=True)
    assert "array<tinyint>" in idx.lists.schema.simpleString()
    full = similarity.ivf_probe(q, idx, k=5, nprobe=8).toPandas()
    v32 = mat.astype(np.float32).astype(np.float64)
    n = np.array([np.add.reduce([x * x for x in row])
                  for row in v32]) ** 0.5
    m = np.abs(v32).max(1)
    qv = np.floor(v32 / (m / 127.0)[:, None] + 0.5)
    sc = (m / 127.0) / n
    ref = (qv[:5] @ qv.T) * sc[:5, None] * sc[None, :]
    for r in full.itertuples():
        assert abs(r.score - ref[r.query_id, r.vec_id]) < 1e-9
    # the quantized score approximates cosine within the int8 error
    # bound (~2*sqrt(dim)/254 for unit-quantized sides); rank overlap
    # vs the exact index is NOT asserted tightly - this clustered
    # corpus has near-tied cosines inside clusters, exactly where a
    # 1/254-relative rounding legitimately reorders
    cos = (v32[:5] @ v32.T) / (n[:5, None] * n[None, :])
    assert np.abs(ref - cos).max() <= 2 * np.sqrt(16) / 254 + 1e-6
    exact_idx = similarity.ivf_build(df, n_centroids=8,
                                     train_rows=300)
    exact = similarity.ivf_probe(q, exact_idx, k=5,
                                 nprobe=8).toPandas()
    es = set(map(tuple, exact[["query_id", "vec_id"]]
                 .itertuples(index=False)))
    fs = set(map(tuple, full[["query_id", "vec_id"]]
                 .itertuples(index=False)))
    assert len(es & fs) / len(es) >= 0.6
    # bare-id + quantize is rejected (the payload IS the vector)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        similarity.ivf_build(df, n_centroids=8, store_vectors=False,
                             quantize=True)
    exact_idx.release()
    similarity.release_probe_state()
