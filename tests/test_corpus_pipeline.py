"""Config-driven corpus pipeline (plans/corpus)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geeflow_spark.operators import chunking, dedup, sampling
from geeflow_spark.operators import text_metrics
from geeflow_spark.plans import corpus

SF_DIR = "/root/testdata/sf0.001"


def test_corpus_pipeline_matches_manual_chain(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cfg = {
        "sample": {"fractions": {"en": 1.0, "de": 0.5},
                   "strata_col": "lang", "default_fraction": 0.5,
                   "seed": 7},
        # corpus-local function words: the synthetic docs contain no
        # English stopwords, so the naturalness rule uses the
        # corpus's own frequent terms (the documented override)
        "quality": {"min_words": 20,
                    "stopwords": ("scan", "column", "window", "order")},
        "chunk": {"max_tokens": 32, "overlap": 4},
        "shuffle": {"seed": 13, "n_buckets": 16},
        "pack": {"budget": 64, "bucket_size": 32},
    }
    got = corpus.build_corpus_pipeline(docs, cfg).toPandas()

    s = sampling.stratified_sample(docs, cfg["sample"]["fractions"],
                                   strata_col="lang",
                                   default_fraction=0.5, seed=7)
    q = s.filter(text_metrics.gopher_pass(
        min_words=20, stopwords=("scan", "column", "window", "order")))
    ch = chunking.chunk_documents(q, max_tokens=32, overlap=4)
    keyed = ch.withColumn(
        "_k", F.concat_ws("#", F.col("doc_id").cast("string"),
                          F.col("chunk_id").cast("string")))
    rk = sampling.shuffle_rank(keyed, key_col="_k", seed=13,
                               n_buckets=16).drop("_k")
    exp = chunking.pack_sequences(rk, budget=64, order_col="rank",
                                  bucket_size=32).toPandas()
    key = ["doc_id", "chunk_id", "rank", "prefix_tokens", "pack_id",
           "pack_offset"]
    assert len(got) == len(exp) > 0
    assert sorted(map(tuple, got[key].itertuples(index=False))) == \
        sorted(map(tuple, exp[key].itertuples(index=False)))


def test_corpus_pipeline_dedup_and_decontaminate_steps(spark):
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["alpha beta gamma delta epsilon zeta eta theta one",
                 "alpha beta gamma delta epsilon zeta eta theta one",
                 "bench match alpha beta gamma delta epsilon zeta eta",
                 "totally different content that stands alone fine"]}))
    bench = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [99],
         "text": ["bench match alpha beta gamma delta epsilon zeta eta"]}))
    cfg = {"dedup": {"num_perm": 32, "bands": 8, "verify_jaccard": 0.8,
                     "shingle_k": 2},
           "decontaminate": {"window": 8}}
    out = corpus.build_corpus_pipeline(docs, cfg, benchmark=bench) \
        .toPandas()
    # doc 2 is an exact dup of 1 (dropped); doc 3 shares an 8-gram
    # with the benchmark (dropped); 1 and 4 survive.
    assert sorted(out["doc_id"]) == [1, 4]
    dedup.release_survivors_state()
    dedup.release_decontaminate_state()


def test_corpus_pipeline_validation(spark):
    docs = None
    with pytest.raises(ValueError, match="unknown"):
        corpus.build_corpus_pipeline(docs, {"nope": {}})
    with pytest.raises(ValueError, match="shuffle"):
        corpus.build_corpus_pipeline(docs, {"pack": {"budget": 8}})
    with pytest.raises(ValueError, match="benchmark"):
        corpus.build_corpus_pipeline(docs, {"decontaminate": {}})


def test_corpus_pipeline_mix_step_epochs_survive_chunking(spark):
    # mix rate 2.0 for en: every en doc appears as epochs 0 and 1,
    # the epoch rides into the chunks (carry_cols), and the shuffle
    # key includes it - so ranks stay a dense permutation instead of
    # epoch copies collapsing to identical rows.
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .filter(F.col("doc_id") < 40)
    cfg = {"mix": {"rates": {"en": 2.0}, "strata_col": "lang",
                   "default_rate": 1.0, "seed": 5},
           "chunk": {"max_tokens": 32, "overlap": 0},
           "shuffle": {"seed": 2, "n_buckets": 8},
           "pack": {"budget": 64, "bucket_size": 16}}
    out = corpus.build_corpus_pipeline(docs, cfg).toPandas()
    n_en = docs.filter(F.col("lang") == "en").count()
    base_chunks = corpus.build_corpus_pipeline(
        docs, {"chunk": cfg["chunk"]}).toPandas()
    en_chunks = len(base_chunks.merge(
        docs.filter(F.col("lang") == "en").select("doc_id").toPandas(),
        on="doc_id"))
    assert n_en > 0 and en_chunks > 0
    assert len(out) == len(base_chunks) + en_chunks
    assert sorted(out["rank"]) == list(range(len(out)))
    assert set(out.columns) >= {"epoch", "chunk_id", "rank", "pack_id"}
    en_ids = set(docs.filter(F.col("lang") == "en")
                 .toPandas()["doc_id"])
    assert set(out[out.doc_id.isin(en_ids)]["epoch"]) == {0, 1}


def test_corpus_pipeline_clean_and_substrings_steps(spark):
    from geeflow_spark.operators import text_metrics as tm
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["mail me at a@b.co about one two three four five six",
                 "shared run one two three four five six seven eight end",
                 "copy of shared run one two three four five six seven"
                 " eight tail"]}))
    cfg = {"clean": {}, "substrings": {"window": 8}}
    out = corpus.build_corpus_pipeline(docs, cfg).toPandas() \
        .set_index("doc_id")
    # step output equals the manual operator chain, text in place,
    # no metric columns (counts=False / metrics=False in pipeline)
    manual = dedup.substring_dedup(
        tm.pii_redact(docs, counts=False), window=8,
        metrics=False).toPandas().set_index("doc_id")
    assert list(out.columns) == ["text"]
    assert out["text"].to_dict() == manual["text"].to_dict()
    # the email is masked; doc 3's copy of doc 2's 8-token run is cut
    assert out.loc[1, "text"].startswith("mail me at <EMAIL>")
    assert "one two three four five six seven eight" in out.loc[2, "text"]
    assert "one two three" not in out.loc[3, "text"]


def test_corpus_pipeline_checkpointed_resume(spark, tmp_path):
    import json
    import os
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cfg = {
        "sample": {"fractions": {"en": 1.0, "de": 0.5},
                   "strata_col": "lang", "default_fraction": 0.5,
                   "seed": 7},
        "clean": {},
        "quality": {"min_words": 20,
                    "stopwords": ("scan", "column", "window", "order")},
        "substrings": {"window": 8},
        "chunk": {"max_tokens": 32, "overlap": 4},
        "shuffle": {"seed": 13, "n_buckets": 16},
        "pack": {"budget": 64, "bucket_size": 32},
    }
    base = str(tmp_path / "stages")
    got = corpus.run_corpus_pipeline_checkpointed(
        docs, cfg, base, input_fingerprint="sf0001-docs").toPandas()
    lazy = corpus.build_corpus_pipeline(docs, cfg).toPandas()
    key = ["doc_id", "chunk_id", "rank"]
    assert got.sort_values(key).reset_index(drop=True) \
        .equals(lazy.sort_values(key).reset_index(drop=True))
    stages = sorted(d for d in os.listdir(base)
                    if not d.endswith(".json"))
    assert stages == ["00_sample", "01_clean", "02_quality",
                      "03_substrings", "04_chunk", "05_shuffle",
                      "06_pack"]
    mt = {d: os.path.getmtime(os.path.join(base, d, "_SUCCESS"))
          for d in stages}
    # clean relaunch: every stage reused, nothing rewritten
    again = corpus.run_corpus_pipeline_checkpointed(
        docs, cfg, base, input_fingerprint="sf0001-docs").toPandas()
    assert again.sort_values(key).reset_index(drop=True) \
        .equals(got.sort_values(key).reset_index(drop=True))
    for d in stages:
        assert os.path.getmtime(os.path.join(base, d, "_SUCCESS")) \
            == mt[d], d
    # torn mid-chain stage: ONLY that stage recomputes - its
    # fingerprint is unchanged, and stages are deterministic, so the
    # already-committed downstream parquet stays valid (downstream
    # invalidation is the CONFIG-change case below). Output unchanged.
    os.remove(os.path.join(base, "03_substrings", "_SUCCESS"))
    fixed = corpus.run_corpus_pipeline_checkpointed(
        docs, cfg, base, input_fingerprint="sf0001-docs").toPandas()
    assert fixed.sort_values(key).reset_index(drop=True) \
        .equals(got.sort_values(key).reset_index(drop=True))
    assert os.path.getmtime(
        os.path.join(base, "03_substrings", "_SUCCESS")) > mt[
            "03_substrings"]
    for d in stages:
        if d != "03_substrings":
            assert os.path.getmtime(os.path.join(
                base, d, "_SUCCESS")) == mt[d], d
    # config edit mid-chain: downstream-only invalidation via the
    # chained fingerprints
    mt2 = {d: os.path.getmtime(os.path.join(base, d, "_SUCCESS"))
           for d in stages}
    cfg2 = dict(cfg)
    cfg2["substrings"] = {"window": 6}
    corpus.run_corpus_pipeline_checkpointed(
        docs, cfg2, base, input_fingerprint="sf0001-docs")
    for d in stages[:3]:
        assert os.path.getmtime(os.path.join(base, d, "_SUCCESS")) \
            == mt2[d], d
    for d in stages[3:]:
        assert os.path.getmtime(os.path.join(base, d, "_SUCCESS")) \
            > mt2[d], d
    # manifests carry the row counts (lineage/metrics record)
    with open(os.path.join(base, "06_pack.manifest.json")) as f:
        m = json.load(f)
    assert m["rows"] > 0 and m["step"] == "pack"


def test_corpus_pipeline_checkpointed_env_invalidation(spark, tmp_path):
    # a relaunch under a different hash_family must NOT reuse stage
    # parquet computed under the old one (the fingerprint folds in the
    # run settings), and a fully-cached relaunch must not sweep
    # survivors state owned by other callers in the session.
    import os
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cfg = {"sample": {"fractions": {"en": 1.0}, "strata_col": "lang",
                      "default_fraction": 0.25, "seed": 7},
           "dedup": {"num_perm": 32, "bands": 8,
                     "verify_jaccard": 0.8, "shingle_k": 2}}
    base = str(tmp_path / "stages")
    a = corpus.run_corpus_pipeline_checkpointed(
        docs, cfg, base, hash_family="xxh64").count()
    mt = os.path.getmtime(os.path.join(base, "00_sample", "_SUCCESS"))
    b = corpus.run_corpus_pipeline_checkpointed(
        docs, cfg, base, hash_family="md5").count()
    assert os.path.getmtime(os.path.join(
        base, "00_sample", "_SUCCESS")) > mt  # recomputed, not reused
    # xxh64 and md5 draws differ -> different sample sizes (sanity
    # that the recompute actually changed the data, not just ran)
    assert a != b
    # fully-cached relaunch: another caller's live survivors state
    # must survive (the release sweep is gated on stages that RAN)
    other = dedup.dedup_survivors(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3],
                          "text": ["same text here", "same text here",
                                   "different entirely"]})),
        spark.createDataFrame(pd.DataFrame({"a": [1], "b": [2]})))
    before = dedup._persistent_rdd_ids(spark.sparkContext)
    assert before  # the drop list is checkpointed state
    corpus.run_corpus_pipeline_checkpointed(
        docs, cfg, base, hash_family="md5")  # all stages cached
    assert dedup._persistent_rdd_ids(spark.sparkContext) == before
    assert sorted(r["doc_id"] for r in other.collect()) == [1, 3]
    dedup.release_survivors_state()


def test_corpus_pipeline_clean_step_typo_raises(spark):
    import pytest as _pytest
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["x"]}))
    with _pytest.raises(TypeError):
        corpus.build_corpus_pipeline(
            docs, {"clean": {"pattern": []}}).collect()


def test_corpus_cli_subcommand(spark, tmp_path, monkeypatch):
    # the spark-submit entry point for the LLM corpus chain: a JSON
    # config drives the stage-materialized resumable runner; output
    # matches the lazy composition on the same config. In-process the
    # CLI would stop the SHARED fixture session (get_spark is
    # getOrCreate; under spark-submit it owns the session) - no-op it.
    import json
    from pyspark.sql import SparkSession
    from geeflow_spark import cli
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    cfgd = {"clean": {},
            "quality": {"min_words": 20,
                        "stopwords": ["scan", "column", "window",
                                      "order"]},
            "chunk": {"max_tokens": 32, "overlap": 4},
            "shuffle": {"seed": 13, "n_buckets": 16},
            "pack": {"budget": 64}}
    cfgp = str(tmp_path / "cfg.json")
    json.dump(cfgd, open(cfgp, "w"))
    cli.main(["corpus", "--docs", f"{SF_DIR}/documents.parquet",
              "--config", cfgp, "--stages", str(tmp_path / "stages"),
              "--out", str(tmp_path / "out")])
    # cli stops its session; the fixture session reads the result
    got = spark.read.parquet(str(tmp_path / "out")).toPandas()
    cfg2 = {k: (dict(v, stopwords=tuple(v["stopwords"]))
                if k == "quality" else v) for k, v in cfgd.items()}
    exp = corpus.build_corpus_pipeline(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"),
        cfg2).toPandas()
    key = ["doc_id", "chunk_id", "rank"]
    assert got.sort_values(key).reset_index(drop=True)[exp.columns] \
        .equals(exp.sort_values(key).reset_index(drop=True))


def test_pipeline_pins_bounded_and_released(spark):
    # r7: build_corpus_pipeline persists the input of the first
    # multi-reference step and of the shuffle step (plan-truncation
    # pins). Bounded-cache contract: each call releases the previous
    # call's pins, and release_pipeline_caches() drains the last set -
    # so no run can ever read blocks a previous run materialized.
    import time

    from geeflow_spark import pins
    from geeflow_spark.operators import dedup
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cfg = {
        "sample": {"fractions": {"en": 1.0}, "strata_col": "lang",
                   "default_fraction": 0.5, "seed": 7},
        "quality": {"min_words": 20,
                    "stopwords": ("scan", "column", "window", "order")},
        "substrings": {"window": 8},
        "chunk": {"max_tokens": 32, "overlap": 4},
        "shuffle": {"seed": 13, "n_buckets": 16},
        "pack": {"budget": 64, "bucket_size": 32},
    }
    corpus.release_pipeline_caches()
    spark.catalog.clearCache()
    base = dedup._persistent_rdd_ids(spark.sparkContext)
    n1 = corpus.build_corpus_pipeline(docs, cfg, hash_family="md5") \
        .count()
    # substrings input + shuffle input
    assert len(pins.owned(corpus._PIPELINE)) == 2
    # the next call releases the previous call's pins and registers
    # its own - at most one live set per session (registry bounded)
    n2 = corpus.build_corpus_pipeline(docs, cfg, hash_family="md5") \
        .count()
    assert len(pins.owned(corpus._PIPELINE)) == 2
    assert n2 == n1 > 0
    # the final release returns the persistent-RDD set to baseline
    corpus.release_pipeline_caches()
    leaked = dedup._persistent_rdd_ids(spark.sparkContext) - base
    deadline = time.monotonic() + 15
    while leaked and time.monotonic() < deadline:
        time.sleep(1.0)
        leaked = dedup._persistent_rdd_ids(spark.sparkContext) - base
    assert not leaked, leaked
