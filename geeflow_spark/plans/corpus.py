"""Config-driven corpus-pipeline front-end.

The LLM-data sibling of plans/config.py (the geo config->plan
front-end): one declarative dict builds the standard training-data
export chain from the individually-tested operators, in the canonical
order a production pipeline runs them:

    sample -> clean (PII masking) -> quality (Gopher rules)
    -> dedup (near-dup survivors) -> substrings (duplicate-run cuts)
    -> decontaminate -> mix (epoch rates) -> chunk -> shuffle -> pack

Every step is optional; present steps run in that fixed order (the
order is part of the semantics: sampling first keeps every later
stage's cost proportional to the kept fraction; dedup before
decontamination avoids paying the benchmark join for docs a cheaper
filter already dropped; chunking precedes the shuffle so the
permutation is over chunks, not docs).

All steps are deterministic (hash-keyed draws, content-keyed dedup),
so the whole pipeline is reproducible across runs and cluster sizes -
and, with hash_family="md5", replayable end-to-end in SQL (the
corpus_e2e driver oracle does exactly that).

Two execution forms over the same step semantics:

- `build_corpus_pipeline`: ONE lazy composition (what the driver
  oracles hash) - Catalyst sees the whole chain; the inputs of
  multi-reference steps are pinned per call (semantics-neutral,
  bounded-cache lifecycle - see release_pipeline_caches).
- `run_corpus_pipeline_checkpointed`: each stage materialized to
  parquet with a fingerprinted manifest; a relaunch skips every stage
  whose (step config + upstream fingerprint) manifest matches and
  recomputes only downstream of the first change/tear - the corpus
  sibling of plans/checkpoint.run_partitioned, and the production
  form at 10^12 docs (resumability; also removes the lazy form's
  upstream re-derivation inside multi-reference steps).

Example config::

    {
      "sample": {"fractions": {"en": 1.0}, "strata_col": "lang",
                 "default_fraction": 0.25, "seed": 7},
      "clean": {},                           # PII masking, default patterns
      "quality": {"min_words": 30},
      "dedup": {"num_perm": 64, "bands": 16, "verify_jaccard": 0.6},
      "substrings": {"window": 8},           # duplicate-run cuts
      "decontaminate": {"window": 8},       # needs benchmark=frame
      "chunk": {"max_tokens": 512, "overlap": 64},
      "shuffle": {"seed": 13},
      "pack": {"budget": 4096},
    }
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geeflow_spark import pins
from geeflow_spark.operators import chunking, dedup, sampling
from geeflow_spark.operators import text_metrics

_STEP_ORDER = ("sample", "clean", "quality", "dedup", "substrings",
               "decontaminate", "mix", "chunk", "shuffle", "pack")

# Steps whose implementation references their INPUT frame more than
# once (substrings: occurrence count side + occurrence probe side +
# the rebuild join-back; dedup: the pair stage's bucket/shingle feeds
# + the survivors anti-join; decontaminate: fingerprint side + anti-
# join back). In the lazy composition each reference re-derives the
# whole upstream chain - measured 24 parquet scans / 16 Arrow nodes
# in corpus_e2e_clean's r7 plan - so the input of the FIRST such step
# is persisted for the duration of the run (bounded-cache contract
# below). The shuffle step's input is pinned for the same reason
# (rank window + bucket-counts branch are two references; pack adds
# two more of shuffle's output, whose re-derivation then reads the
# pin instead of the text pipeline).
_MULTI_REF_TEXT_STEPS = ("dedup", "substrings", "decontaminate")

# Owner of the mid-chain pins of the LAST build_corpus_pipeline call.
# Same bounded lifetime as dedup's candidate caches: each call releases
# the previous call's pins (a long-lived session holds at most one
# set), so no bench/oracle run can ever read blocks materialized by a
# PREVIOUS run - every invocation recomputes from its inputs.
_PIPELINE = "corpus.pipeline"


def release_pipeline_caches() -> None:
    """Unpersists the mid-chain pins of the previous
    build_corpus_pipeline call (no-op when none are live). The frame
    that call returned stays correct afterwards but recomputes per
    action."""
    pins.release(_PIPELINE)


def _validate(cfg: dict, benchmark) -> None:
    unknown = set(cfg) - set(_STEP_ORDER)
    if unknown:
        raise ValueError(f"unknown corpus pipeline steps: {sorted(unknown)}")
    if "pack" in cfg and "shuffle" not in cfg:
        raise ValueError("pack step needs a shuffle step (rank "
                         "order) before it")
    if "decontaminate" in cfg and benchmark is None:
        raise ValueError("decontaminate step needs benchmark=frame")


def _apply_step(out: DataFrame, name: str, params: dict, *,
                benchmark, text_col: str, id_col: str,
                hash_family: str, mixed: bool,
                chunked: bool) -> DataFrame:
    """One pipeline step over `out`. `mixed`/`chunked` say whether a
    mix/chunk step ran EARLIER in the chain (they change the shuffle
    key and the chunk carry columns); both execution forms thread
    them from the same cfg, so the forms stay row-for-row equal."""
    if name == "sample":
        c = dict(params)
        if "fractions" in c:
            return sampling.stratified_sample(
                out, c["fractions"], strata_col=c["strata_col"],
                key_col=id_col,
                default_fraction=c.get("default_fraction", 0.0),
                seed=c.get("seed", 0), hash_family=hash_family)
        return sampling.hash_sample(
            out, c["fraction"], key_col=id_col,
            seed=c.get("seed", 0), hash_family=hash_family)
    if name == "clean":
        # PII masking BEFORE quality: the quality rules must judge
        # the text that will actually ship. Row-local JVM regexp -
        # rides in the same codegen span as the sample filter.
        # Unknown keys raise (every other step's **params contract) -
        # a 'pattern'/'count' typo must not silently run the defaults.
        c = dict(params)
        counts = c.pop("counts", False)
        return text_metrics.pii_redact(out, text_col=text_col,
                                       counts=counts, **c)
    if name == "quality":
        # row-local predicate: no join, no extra pass - the Gopher
        # conjunction filters in place inside the same codegen span.
        return out.filter(text_metrics.gopher_pass(
            text_col=text_col, **params))
    if name == "dedup":
        c = dict(params)
        quality_col = c.pop("quality_col", None)
        pairs = dedup.minhash_duplicate_pairs(out, text_col=text_col,
                                              id_col=id_col, **c)
        return dedup.dedup_survivors(out, pairs, id_col=id_col,
                                     quality_col=quality_col)
    if name == "substrings":
        # duplicate-run cuts AFTER doc-level dedup (Lee et al. run
        # ExactSubstr in addition to NearDup: doc dedup first shrinks
        # the occurrence table this step shuffles), before
        # decontamination (the benchmark n-gram join should see the
        # text that ships).
        return dedup.substring_dedup(out, text_col=text_col,
                                     id_col=id_col, metrics=False,
                                     **params)
    if name == "decontaminate":
        return dedup.decontaminate(out, benchmark, text_col=text_col,
                                   id_col=id_col, **params)
    if name == "mix":
        # after dedup/decontamination (epochs of a clean corpus),
        # before chunking (the epoch column rides into the chunks).
        c = dict(params)
        return sampling.mix_corpus(
            out, c["rates"], strata_col=c.get("strata_col", "source"),
            key_col=id_col, default_rate=c.get("default_rate", 1.0),
            seed=c.get("seed", 0), hash_family=hash_family)
    if name == "chunk":
        return chunking.chunk_documents(
            out, text_col=text_col, id_col=id_col,
            carry_cols=("epoch",) if mixed else (), **params)
    if name == "shuffle":
        c = dict(params)
        if chunked or mixed:
            parts = [F.col(id_col).cast("string")]
            if mixed:
                parts.append(F.col("epoch").cast("string"))
            if chunked:
                parts.append(F.col("chunk_id").cast("string"))
            out = out.withColumn("_k", F.concat_ws("#", *parts))
            key = "_k"
        else:
            key = id_col
        out = sampling.shuffle_rank(out, key_col=key,
                                    seed=c.get("seed", 0),
                                    hash_family=hash_family,
                                    n_buckets=c.get("n_buckets", 1024))
        return out.drop("_k") if (chunked or mixed) else out
    if name == "pack":
        return chunking.pack_sequences(
            out, budget=params["budget"], order_col="rank",
            tokens_col="chunk_tokens" if chunked else
            params.get("tokens_col", "chunk_tokens"),
            bucket_size=params.get("bucket_size", 1 << 20))
    raise ValueError(f"unknown step {name!r}")


def build_corpus_pipeline(docs: DataFrame, cfg: dict,
                          benchmark: DataFrame | None = None,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          hash_family: str = "xxh64") -> DataFrame:
    """Runs the configured steps of the corpus export chain over
    `docs` and returns the resulting DataFrame (chunk-level once a
    "chunk" step is present, doc-level before) as ONE lazy
    composition. Unknown step names raise; "decontaminate" requires
    the `benchmark` frame.
    """
    _validate(cfg, benchmark)
    keep = pins.held(_PIPELINE)  # previous call's pins
    present = [s for s in _STEP_ORDER if s in cfg]
    # Pin the input of the first multi-reference text step and of the
    # shuffle step - but only when earlier steps exist (re-deriving a
    # bare scan is cheaper than caching it). Persisting is semantics-
    # neutral; it truncates the lazy form's upstream re-derivation
    # (guide: materialize an intermediate consumed by multiple
    # downstream references). Measured at the 10x mirror:
    # corpus_e2e_clean ~5.2 -> ~4.2 s per evaluation.
    # Pin ONLY when the re-derived upstream is expensive. Measured
    # (paired A/Bs at sf0.1 and the 10x mirror):
    # - chunk+shuffle+pack only (corpus_pack): chunk-frame pin 0.2-0.5s
    #   SLOWER - a bare-scan+chunk upstream re-derives faster than the
    #   persist encodes;
    # - sample+quality+chunk+shuffle+pack (corpus_e2e): shuffle pin
    #   ~0.4 s slower at the mirror - the r7 regex/let-bound quality
    #   scalars are single-pass-cheap to re-derive;
    # - the substrings config (corpus_e2e_clean): pins win 4/4
    #   pairings, -0.5..-1.5 s - the multi-pass heavies are what the
    #   pins exist for.
    # So: the pre-multi-ref pin needs any real text stage upstream;
    # the shuffle pin needs a MULTI-PASS heavy (dedup / substrings /
    # decontaminate) upstream.
    single_pass = {"clean", "quality"}
    heavy = set(_MULTI_REF_TEXT_STEPS)
    pin_before = set()
    for s in present:
        if s in _MULTI_REF_TEXT_STEPS:
            if (single_pass | heavy) & set(present[:present.index(s)]):
                pin_before.add(s)
            break
    if "shuffle" in cfg and heavy & set(
            present[:present.index("shuffle")]):
        pin_before.add("shuffle")
    out = docs
    mixed = chunked = False
    for name in _STEP_ORDER:
        if name not in cfg:
            continue
        if name in pin_before:
            out = keep.persist(out)
        out = _apply_step(out, name, cfg[name], benchmark=benchmark,
                          text_col=text_col, id_col=id_col,
                          hash_family=hash_family, mixed=mixed,
                          chunked=chunked)
        mixed = mixed or name == "mix"
        chunked = chunked or name == "chunk"
    return out


def _stage_fingerprint(name: str, params: dict, upstream: str,
                       env: dict) -> str:
    """Content key for a stage: its config + the upstream chain's
    fingerprint + the run environment (hash_family/text_col/id_col,
    and the benchmark identity for decontaminate), so editing ANY
    earlier stage's config - or relaunching under different settings -
    invalidates everything downstream (and nothing upstream)."""
    blob = json.dumps({"step": name, "cfg": params, "up": upstream,
                       "env": env}, sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def run_corpus_pipeline_checkpointed(
        docs: DataFrame, cfg: dict, base_dir: str,
        benchmark: DataFrame | None = None,
        input_fingerprint: str = "",
        benchmark_fingerprint: str = "",
        record_rows: bool = True,
        text_col: str = "text", id_col: str = "doc_id",
        hash_family: str = "xxh64") -> DataFrame:
    """Stage-materialized, RESUMABLE form of the corpus pipeline: each
    configured step writes its output parquet under
    `base_dir/NN_<step>/` with a sibling manifest recording the stage
    fingerprint (step config + upstream fingerprint + the caller's
    `input_fingerprint` for the source table) and the row count. A
    relaunch reuses every stage whose manifest matches and whose
    parquet committed (_SUCCESS); the first torn or config-changed
    stage and everything after it recompute - the corpus sibling of
    plans/checkpoint.run_partitioned, same semantics as the
    reference's pipeline resume.

    Each recomputed stage reads the PREVIOUS stage's parquet, so no
    stage re-derives upstream work (the lazy form's multi-reference
    steps do - see corpus_e2e_clean's plan note), and a mid-chain
    failure costs one stage, not the run. Returns the final stage
    read back from parquet; row-for-row equal to
    `build_corpus_pipeline` on the same inputs (tested).

    Stage fingerprints fold in the run settings (hash_family /
    text_col / id_col) and, for decontaminate, `benchmark_fingerprint`
    (the caller's identity string for the benchmark frame - pass one
    whenever the benchmark can change between relaunches); a relaunch
    under different settings recomputes instead of silently reusing
    stale parquet. `input_fingerprint` plays the same role for the
    source table. Manifests are written with driver-local file IO -
    the same convention as plans/checkpoint (base_dir must be on a
    filesystem the driver sees: local, NFS, or a fuse mount; the
    stage PARQUET goes through Spark and can live anywhere).
    """
    _validate(cfg, benchmark)
    spark = docs.sparkSession
    out = docs
    upstream = f"input:{input_fingerprint}"
    mixed = chunked = False
    ran: set = set()
    idx = 0
    for name in _STEP_ORDER:
        if name not in cfg:
            continue
        env = {"hash_family": hash_family, "text_col": text_col,
               "id_col": id_col}
        if name == "decontaminate":
            env["benchmark"] = benchmark_fingerprint
        fp = _stage_fingerprint(name, cfg[name], upstream, env)
        path = os.path.join(base_dir, f"{idx:02d}_{name}")
        man_path = path + ".manifest.json"
        committed = os.path.exists(os.path.join(path, "_SUCCESS"))
        manifest = None
        if committed and os.path.exists(man_path):
            with open(man_path) as f:
                manifest = json.load(f)
        if manifest is not None and manifest.get("fingerprint") == fp:
            out = spark.read.parquet(path)
        else:
            out = _apply_step(out, name, cfg[name],
                              benchmark=benchmark, text_col=text_col,
                              id_col=id_col, hash_family=hash_family,
                              mixed=mixed, chunked=chunked)
            out.write.mode("overwrite").parquet(path)
            out = spark.read.parquet(path)
            ran.add(name)
            # manifest AFTER the parquet commit: a crash between the
            # two leaves a committed dir with no manifest, which the
            # relaunch treats as torn and recomputes (never trusts).
            # rows is the lineage/metrics record; it costs one extra
            # count job per recomputed stage - record_rows=False
            # skips it for giant stages (resume only reads
            # "fingerprint").
            rec = {"fingerprint": fp, "step": name}
            if record_rows:
                rec["rows"] = out.count()
            with open(man_path, "w") as f:
                json.dump(rec, f)
        upstream = fp
        mixed = mixed or name == "mix"
        chunked = chunked or name == "chunk"
        idx += 1
    # stage results this run COMPUTED are parquet now - their
    # dedup/decontaminate truncated-lineage blocks back nothing
    # reachable, so release them instead of leaking them into the
    # session (the lazy form can't: its returned frame may still read
    # them). Gated on the stage actually having RUN: on a fully
    # cached relaunch the sweep would otherwise free state owned by
    # OTHER live callers in the session (e.g. an unconsumed lazy
    # pipeline's drop list).
    if "dedup" in ran:
        dedup.release_survivors_state()
    if "decontaminate" in ran:
        dedup.release_decontaminate_state()
    return out
