"""Document deduplication at training-data scale.

Not present in the reference (batch geo pipeline); required as first-class
large-pipeline operators by the build spec. All variants are pure
DataFrame ops + Arrow-batched kernels:

  - exact_dedup: collision-safe hash-groupBy on normalized text; keeps
    min doc id (deterministic survivor). Groups on TWO independent
    digests (xxhash64 + sha2-256) so a 64-bit birthday collision at
    10^12-doc scale cannot silently merge distinct documents, while the
    shuffle still carries only fixed-width digests, never the text.
  - minhash_lsh: shingle hashing runs JVM-side (tokenize -> k-gram
    concat -> xxhash64 inside whole-stage codegen); only the
    (a*x+b) mod p signature fold is Python, and it is one numpy
    broadcast + segmented min over the whole Arrow batch - no per-row
    or per-byte Python anywhere. Band buckets -> self-join on
    (band, band_hash) only; candidate verification is JVM-side exact
    Jaccard over the hashed shingle sets.
  - simhash: 64-bit simhash from the same JVM-hashed shingles; the bit
    fold is one segmented numpy reduction per batch.
  - ngram_jaccard_pairs: EXACT all-pairs n-gram Jaccard (crossJoin);
    verification/oracle scale only - use minhash_duplicate_pairs for
    large inputs.
  - connected_components: pair graph -> near-dup clusters (component =
    min member id), closing the dedup pipeline: pairs -> cluster ->
    canonical survivor per cluster.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from geeflow_spark import pins
from geeflow_spark.pins import Pins

_MERSENNE = (1 << 61) - 1

# Owners of the pins that outlive a call (geeflow_spark/pins.py).
_CANDIDATES = "dedup.candidates"
_COMPONENT_LABELS = "dedup.component_labels"
_SURVIVORS = "dedup.survivors"
_DECONTAMINATE = "dedup.decontaminate"


def release_candidate_caches() -> None:
    """Unpersists the candidate-pair and shingle caches of the last
    minhash_duplicate_pairs call. Called automatically at the start of
    each new call; callers that keep many results live concurrently
    can instead call this explicitly when done with ALL of them.
    Releases here are recompute-safe: a released result stays correct,
    it just recomputes per action."""
    pins.release(_CANDIDATES)


# NOTE (r7): persisting the occurrence/posting frames of
# substring_dedup / containment_pairs (so the count aggregation and
# the join-back probe share one fingerprint pass) was measured and
# REJECTED: the columnar cache encode of the exploded 24-byte rows
# cost more than the saved Arrow pass in back-to-back A/B at sf1.0,
# and at 10^12 docs materializing the occurrence table trades a pure
# CPU re-pass for corpus-token-count x 24 bytes of storage traffic.
# Both consumers re-derive the occurrence pipeline; the skew-safe
# partial-aggregated count + AQE-splittable join-back stands.


def _token_shingles(text: str, k: int) -> set:
    """Python-side mirror of shingle semantics (tests / small oracles)."""
    toks = text.split()
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _hash64_strs(strs) -> np.ndarray:
    """Stable 64-bit FNV-1a over utf-8, vectorized across the batch.

    The byte fold loops over byte POSITIONS (max string length), not
    bytes: each step XOR-multiplies one padded byte column into every
    hash lane at once. Identical output to the scalar FNV-1a.
    """
    n = len(strs)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    bs = [s.encode("utf-8") for s in strs]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    total = int(lens.sum())
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    if total == 0:
        return h
    flat = np.frombuffer(b"".join(bs), dtype=np.uint8)
    maxlen = int(lens.max())
    buf = np.zeros((n, maxlen), dtype=np.uint8)
    row_ix = np.repeat(np.arange(n), lens)
    col_ix = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
    buf[row_ix, col_ix] = flat
    prime = np.uint64(0x100000001B3)
    for j in range(maxlen):
        live = lens > j
        h[live] = (h[live] ^ buf[live, j].astype(np.uint64)) * prime
    return h


def shingle_hashes_col(text: Column, k: int = 3) -> Column:
    """text -> array<long> of hashes of the DISTINCT k-token shingles.

    Tokens hash JVM-side (xxhash64 inside codegen); the k-gram combine
    is the vectorized polynomial fold (`_shingle_hashes_flat`) over the
    whole Arrow batch + per-row distinct - the same hash family the
    minhash signatures use, and ~5x faster than the former per-shingle
    string re-concat JVM expression (O(k) string allocations per token
    dominated; this was the repo's slowest kernel). Set semantics
    unchanged: cardinalities equal string-shingle sets modulo 64-bit
    collisions, so every Jaccard consumer (verification, ngram pairs,
    the exact-SQL oracles) sees identical values. Fewer than k tokens
    -> one shingle folding the whole token list (mirrors
    `_token_shingles`); empty text -> empty array.
    """
    @pandas_udf(ArrayType(LongType()))
    def _sh(tok_hashes: pd.Series) -> pd.Series:
        flat, counts, _ = _segmented(tok_hashes)
        sh, sh_counts = _shingle_hashes_flat(flat, counts, k)
        out = []
        pos = 0
        for c in sh_counts:
            c = int(c)
            out.append(np.unique(sh[pos:pos + c]).astype(np.int64)
                       .tolist())
            pos += c
        return pd.Series(out)

    return _sh(token_hashes_col(text))


def window_fingerprints_col(text: Column, window: int = 8) -> Column:
    """text -> array<long> of rolling `window`-token fingerprints in
    POSITION order: element i is the fold of tokens[i:i+window], so
    `posexplode` recovers each occurrence's token offset - the
    positional sibling of `shingle_hashes_col` (which dedups per row
    for set semantics). Same kernel (per-token JVM xxhash64 once, then
    the vectorized numpy polynomial fold), same short-doc convention
    (0 < T < window tokens -> ONE fingerprint folding all T tokens at
    position 0), empty text -> empty array. No case folding: consumers
    (substring_dedup) rebuild the ORIGINAL text, so occurrences must
    key on the exact token sequence.
    """
    @pandas_udf(ArrayType(LongType()))
    def _wh(tok_hashes: pd.Series) -> pd.Series:
        flat, counts, _ = _segmented(tok_hashes)
        sh, sh_counts = _shingle_hashes_flat(flat, counts, window)
        out = []
        pos = 0
        for c in sh_counts:
            c = int(c)
            out.append(sh[pos:pos + c].astype(np.int64).tolist())
            pos += c
        return pd.Series(out)

    return _wh(token_hashes_col(text))


def token_hashes_col(text: Column) -> Column:
    """text -> array<long>: xxhash64 of each whitespace token (JVM-side).

    Each token is hashed ONCE regardless of how many shingles it lands
    in; shingle hashes are then a vectorized polynomial combine of k
    consecutive token hashes in numpy (`_shingle_hashes_flat`)."""
    toks = F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")
    return F.transform(toks, lambda t: F.xxhash64(t))


def _md5_64(col: Column) -> Column:
    """Signed-int64 reinterpretation of the top 64 bits of md5(col),
    all JVM-side. conv() caps at unsigned 64-bit; the decimal dance
    recovers two's complement without a >2^63 python literal crossing
    py4j (which cannot carry one)."""
    dec = F.conv(F.substring(F.md5(col), 1, 16), 16, 10) \
        .cast("decimal(20,0)")
    wrap = F.when(dec >= F.expr("CAST('9223372036854775808'"
                                " AS DECIMAL(20,0))"),
                  F.expr("CAST('18446744073709551616' AS DECIMAL(21,0))")
                  ).otherwise(F.lit(0))
    return (dec - wrap).cast("long")


def md5_token_hashes_col(text: Column) -> Column:
    """text -> array<long>: md5-top-64-bits of each whitespace token.

    An alternative JVM-side hash family to `token_hashes_col`. Slower
    than xxhash64 (keep xxh64 the default at scale), but md5 is
    computable in ANSI SQL on BOTH engines, which makes every
    downstream signature (simhash bit fold, banding, hamming)
    recomputable by the DuckDB oracle — the driver-verifiability
    recipe pioneered by hex.hex_cell_sql.
    """
    toks = F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")
    return F.transform(toks, _md5_64)


TOKEN_HASH_FAMILIES = {"xxh64": token_hashes_col,
                       "md5": md5_token_hashes_col}


_POLY = np.uint64(0x100000001B3)
_POLY_INT = 0x100000001B3


def _horner_window_fps(h: Column, window: int) -> Column:
    """Rolling `window`-token fingerprints of a BOUND token-hash array
    column, pure JVM (r7): element i folds h[i:i+window] by the same
    polynomial (c = c*P + h_j) as `_shingle_hashes_flat`; with ANSI
    off, JVM long multiplication wraps mod 2^64 exactly like the numpy
    uint64 fold, so the output is BIT-IDENTICAL to the Arrow form
    (probed: exceptAll both ways empty on the 10x corpus) - while
    removing the Python boundary from every consumer (no worker
    round-trip, no Arrow transpose; measured faster per pass, and the
    skew-safe substring/containment pipelines evaluate the pass
    twice). Short docs (0 < T < window) fold all T tokens into one
    fingerprint at position 0; empty -> empty array.

    `h` MUST be an attribute reference (bound by a lower Project), not
    an inline expression: higher-order-function lambdas evaluate
    interpreted with no subexpression elimination, so an unbound
    tokenize+hash subtree would re-run per element_at - the 10x
    regression the old pure-expression form measured.
    """
    n = F.size(h)
    p = F.lit(_POLY_INT)

    def _one(i: Column) -> Column:
        c = F.element_at(h, i + 1)
        for j in range(1, window):
            c = c * p + F.element_at(h, i + j + 1)
        return c

    full = F.transform(F.sequence(F.lit(0), n - window), _one)
    short = F.aggregate(F.slice(h, 2, n - 1), F.element_at(h, 1),
                        lambda c, x: c * p + x)
    return (F.when(n >= window, full)
            .when(n > 0, F.array(short))
            .otherwise(F.expr("CAST(array() AS array<bigint>)")))


def _shingle_hashes_flat(flat: np.ndarray, counts: np.ndarray, k: int
                         ) -> tuple[np.ndarray, np.ndarray]:
    """Token hashes (flat uint64 + per-doc counts) -> shingle hashes.

    Shingle hash = polynomial fold of k consecutive token hashes
    (c = c*P + h_j, wrapping uint64) - one gather + multiply-add per
    gram position over the WHOLE batch; no per-row Python. Docs with
    0 < T < k tokens get one shingle folding all T tokens (mirrors
    `_token_shingles`). Returns (sh_flat, sh_counts)."""
    counts = counts.astype(np.int64)
    sh_counts = np.where(counts >= k, counts - (k - 1),
                         (counts > 0).astype(np.int64))
    total = int(sh_counts.sum())
    out = np.zeros(total, dtype=np.uint64)
    if total == 0:
        return out, sh_counts
    starts = np.cumsum(counts) - counts
    sh_starts = np.cumsum(sh_counts) - sh_counts
    full = counts >= k
    if full.any():
        cnts = sh_counts[full]
        within = (np.arange(int(cnts.sum()))
                  - np.repeat(np.cumsum(cnts) - cnts, cnts))
        tok0 = np.repeat(starts[full], cnts) + within
        c = flat[tok0].copy()
        for j in range(1, k):
            c = c * _POLY + flat[tok0 + j]
        out[np.repeat(sh_starts[full], cnts) + within] = c
    short = (counts > 0) & (counts < k)
    if short.any():
        sidx = starts[short]
        scnt = counts[short]
        c = flat[sidx].copy()
        for j in range(1, k):
            m = scnt > j
            c[m] = c[m] * _POLY + flat[sidx[m] + j]
        out[sh_starts[short]] = c
    return out, sh_counts


def _segmented(hashes: pd.Series):
    """Arrow batch of array<long> -> (flat uint64, counts, starts)."""
    counts = hashes.map(len).to_numpy(dtype=np.int64)
    if counts.sum() == 0:
        return np.empty(0, dtype=np.uint64), counts, np.zeros(
            len(counts), dtype=np.int64)
    flat = np.concatenate(
        [np.asarray(h, dtype=np.int64) for h in hashes]).astype(np.uint64)
    starts = np.cumsum(counts) - counts
    return flat, counts, starts


def minhash_signature_udf(num_perm: int = 64, shingle_k: int = 3,
                          seed: int = 1) -> Callable[[Column], Column]:
    """text column -> array<long> minhash signature.

    Permutations h_i(x) = (a_i * x + b_i) mod p (p = 2^61-1); the product
    wraps mod 2^64 first (uint64), which composes with the mod-p fold
    into a deterministic well-mixed family (documented deviation from
    the exact universal family; min-stability is what minhash needs).
    The whole Arrow batch is folded in one broadcast + segmented min -
    zero per-row Python.
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, num_perm, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, num_perm, dtype=np.int64).astype(np.uint64)
    p = np.uint64(_MERSENNE)

    @pandas_udf(ArrayType(LongType()))
    def _sig(tok_hashes: pd.Series) -> pd.Series:
        n = len(tok_hashes)
        out = np.zeros((n, num_perm), dtype=np.int64)
        flat, counts, _ = _segmented(tok_hashes)
        sh, sh_counts = _shingle_hashes_flat(flat, counts, shingle_k)
        if sh.size:
            hv = sh % p
            live = sh_counts > 0
            seg = (np.cumsum(sh_counts) - sh_counts)[live]
            res = np.empty((num_perm, int(live.sum())), dtype=np.uint64)
            for p0 in range(0, num_perm, 8):  # bound the working set
                vals = (a[p0:p0 + 8, None] * hv[None, :]
                        + b[p0:p0 + 8, None]) % p
                res[p0:p0 + 8] = np.minimum.reduceat(vals, seg, axis=1)
            out[live] = res.T.astype(np.int64)
        return pd.Series(list(out))

    def apply(text: Column) -> Column:
        return _sig(token_hashes_col(text))

    return apply


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", normalize: bool = True,
                key_fns: Sequence[Callable[[Column], Column]] | None = None,
                ) -> DataFrame:
    """Keeps one survivor (min id) per exact (normalized) text.

    Collision-safe at 10^12-doc scale: the group key is the PAIR
    (xxhash64, sha2-256) of the normalized text - two independent
    digests, so distinct texts colliding on the 64-bit hash still form
    distinct groups (expected spurious merges ~2^-128 per pair). The
    shuffle carries 40 bytes of digest per row, never the text.
    `key_fns` is injectable so tests can force a first-digest collision
    and assert both documents survive.
    """
    key = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))) \
        if normalize else F.col(text_col)
    if key_fns is None:
        key_fns = (F.xxhash64, lambda c: F.sha2(c, 256))
    keyed = df
    kcols = []
    for i, fn in enumerate(key_fns):
        kcols.append(f"_k{i}")
        keyed = keyed.withColumn(f"_k{i}", fn(key))
    w_min = keyed.groupBy(*kcols).agg(F.min(id_col).alias(id_col))
    return keyed.join(w_min, [*kcols, id_col], "inner").drop(*kcols)


def span_dedup(df: DataFrame, spans_col: str = "spans",
               id_col: str = "doc_id", normalize: bool = True,
               key_fns: Sequence[Callable[[Column], Column]] | None = None,
               ) -> DataFrame:
    """Corpus-global exact dedup of interleaved TEXT spans (paragraph
    dedup): within each document's span array, a text span is dropped
    iff the same normalized text already occurred at a smaller
    (doc_id, position) anywhere in the corpus. The first occurrence
    survives; media spans (kind != 'text') and empty/null text spans
    always pass; surviving spans keep their original relative order and
    offsets (the BASELINE.json span-sequence invariant). Same schema
    out as in.

    This is the span-level sibling of exact_dedup: web pipelines over
    interleaved documents dedup boilerplate at the PARAGRAPH level
    (headers, navboxes, license blocks recur across pages whose full
    texts differ), where whole-doc dedup sees nothing.

    Plan shape at 10^12 docs: the shuffle never carries span text -
    text spans reduce to (doc_id, pos, 40 bytes of dual digest), the
    winner per digest pair comes from one partial-aggregated min, and
    only the DROPPED positions (duplicate spans) flow back to the
    documents, grouped to one short array per affected doc. The final
    join is AQE-planned (no forced broadcast: at real boilerplate
    rates most docs ARE affected). Collision safety = exact_dedup's
    argument: two independent digests, spurious merges ~2^-128.
    `key_fns` is injectable the same way, so tests can force a
    first-digest collision and assert both spans survive.
    """
    if key_fns is None:
        key_fns = (F.xxhash64, lambda c: F.sha2(c, 256))
    s = F.col("_s")
    txt = s.getField("text")
    norm = F.lower(F.trim(F.regexp_replace(txt, r"\s+", " "))) \
        if normalize else txt
    # posexplode_OUTER, not posexplode (r7): the plain generator lets
    # Catalyst infer `size(spans) > 0` and evaluate the ENTIRE span-
    # building transform a second time per row as a pushed filter (the
    # containment_pairs lesson); the kind/text filter below already
    # drops the null rows outer-explode emits for empty arrays, so the
    # output is identical. The normalized text is bound ONCE as a
    # column before the digest projection - each key_fn referenced the
    # full regexp_replace/lower/trim chain, evaluating it per digest.
    ex = df.select(F.col(id_col),
                   F.posexplode_outer(spans_col).alias("_pos", "_s"))
    keyed = (ex.filter((s.getField("kind") == "text")
                       & txt.isNotNull() & (F.length(F.trim(txt)) > 0))
             .select(id_col, "_pos", norm.alias("_nm"))
             .select(id_col, "_pos",
                     *[fn(F.col("_nm")).alias(f"_k{i}")
                       for i, fn in enumerate(key_fns)]))
    kcols = [f"_k{i}" for i in range(len(key_fns))]
    winners = keyed.groupBy(*kcols).agg(
        F.min(F.struct(F.col(id_col).alias("i"),
                       F.col("_pos").alias("p"))).alias("_w"))
    dropped = (keyed.join(winners, kcols)
               .filter((F.col(id_col) != F.col("_w.i"))
                       | (F.col("_pos") != F.col("_w.p")))
               .groupBy(id_col)
               .agg(F.collect_set("_pos").alias("_drop")))
    out = df.join(dropped, id_col, "left")
    # Linear rebuild (r6 verdict item 6): surviving indices via ONE
    # array_except hash-set pass (order-preserving on the first array)
    # + element_at gather - O(S + |drop|) instead of the per-element
    # array_contains scan (O(S * |drop|), quadratic when most spans of
    # a long doc are boilerplate duplicates).
    kept = F.when(F.col("_drop").isNull() | (F.size(spans_col) == 0),
                  F.col(spans_col)).otherwise(
        F.transform(
            F.array_except(F.sequence(F.lit(0),
                                      F.size(spans_col) - F.lit(1)),
                           F.col("_drop")),
            lambda p: F.element_at(F.col(spans_col), p + F.lit(1))))
    return out.withColumn(spans_col, kept).drop("_drop")


def _spread(df: DataFrame, n: int | None) -> DataFrame:
    """Widens an under-partitioned input to `n` partitions before a
    CPU-heavy signature stage. Only ever INCREASES parallelism: inputs
    that already have >= n partitions (any real at-scale table) pass
    through untouched - the knob exists because a single-file test
    input otherwise pins the whole signature computation to one core.
    """
    if n and df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def minhash_band_buckets(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", num_perm: int = 64,
                         bands: int = 16, shingle_k: int = 3,
                         spread: int | None = None) -> DataFrame:
    """(id, band, band_hash) rows: LSH bucket keys per doc."""
    assert num_perm % bands == 0
    df = _spread(df, spread)
    rows_per_band = num_perm // bands
    sig = minhash_signature_udf(num_perm, shingle_k)
    with_sig = df.select(F.col(id_col), sig(F.col(text_col)).alias("_sig"))
    band_ix = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    out = with_sig.select(id_col, "_sig", band_ix)
    band_slice = F.slice(F.col("_sig"),
                         F.col("band") * rows_per_band + 1, rows_per_band)
    return out.select(id_col, "band",
                      F.xxhash64(F.col("band"),
                                 band_slice.cast("string")).alias("band_hash"))


def _jaccard_col(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays, JVM-side."""
    union = F.size(F.array_union(a, b))
    return F.when(union > 0,
                  F.size(F.array_intersect(a, b)) / union).otherwise(0.0)


def minhash_duplicate_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", num_perm: int = 64,
                            bands: int = 16, shingle_k: int = 3,
                            verify_jaccard: float | None = 0.7,
                            max_bucket: int = 4096,
                            spread: int | None = None) -> DataFrame:
    """Candidate (a, b) near-dup pairs (a < b), optionally verified by
    exact shingle Jaccard >= threshold.

    Verification is exact Jaccard over the hashed shingle SETS
    (array_intersect/array_union, JVM-side) - identical to string-
    shingle Jaccard up to 64-bit shingle-hash collisions. Only the
    candidate pairs (a vanishing fraction at any real threshold) reach
    this stage.

    `max_bucket` bounds per-bucket pair blowup (see
    simhash_candidate_pairs): buckets above the cap are dropped before
    the O(bucket^2) explode — a degenerate hot bucket means thousands
    of copies of one template, which exact_dedup handles at O(n).
    None disables the cap.

    Cache lifetime: the verified-pair result rides a persisted
    candidate cache that the NEXT call to this function releases — an
    older result stays correct afterwards but recomputes per action.
    Consume each result before the next call, or persist the returned
    DataFrame yourself (see release_candidate_caches).
    """
    buckets = minhash_band_buckets(df, text_col, id_col, num_perm, bands,
                                   shingle_k, spread=spread)
    # ONE signature pass: groupBy bucket + JVM-side ordered-pair
    # emission, instead of a self-join (which would shuffle and
    # recompute the signature subtree for BOTH aliases). Per-bucket
    # work is quadratic in bucket size by LSH construction; max_bucket
    # caps the degenerate case before the pair explosion.
    # Window-count prefilter BEFORE the array build: on a clean corpus
    # virtually every bucket is a singleton (n_docs * bands rows), and
    # building + discarding a one-element array per singleton dominated
    # the wall at >=10^6 docs. The count runs over the same hash
    # partitioning the groupBy needs - one shuffle total.
    wb = Window.partitionBy("band", "band_hash")
    buckets = (buckets.withColumn("_n", F.count("*").over(wb))
               .filter(F.col("_n") > 1).drop("_n"))
    grouped = (buckets.groupBy("band", "band_hash")
               .agg(F.array_sort(F.collect_set(F.col(id_col)))
                    .alias("_ids"))
               .filter(F.size("_ids") > 1))
    if max_bucket is not None:
        grouped = grouped.filter(F.size("_ids") <= max_bucket)
    ids = F.col("_ids")
    pair_arr = F.flatten(F.transform(
        ids, lambda x, i: F.transform(
            F.slice(ids, i + 2, F.greatest(F.size(ids) - i - 1, F.lit(1))),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))
    pairs = (grouped.select(F.explode(pair_arr).alias("p"))
             .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
             .distinct())
    if verify_jaccard is None:
        return pairs
    # The candidate-pair set is consumed three times below (two id
    # feeds + the probe side). Persist it - it is the TINY relation
    # (near-dup candidates), and without this the whole signature
    # pipeline re-evaluates per consumer (the static plan shows 3x the
    # scans; AQE exchange reuse only partially saves it).
    # Cache lifetime CONTRACT: each call releases the PREVIOUS call's
    # candidate cache, so long-lived sessions hold at most one
    # candidate-pair cache instead of accumulating one per call. A
    # result from an earlier call therefore stays correct but loses its
    # cache (recompute-per-action) once a newer call runs; callers that
    # interleave several live results should finish consuming each
    # before the next call, or manage persistence themselves on the
    # returned DataFrame.
    keep = pins.held(_CANDIDATES)
    pairs = keep.persist(pairs)
    # Exact-Jaccard verification shingles are computed ONLY for docs
    # that appear in a candidate pair (semi-join filter first): at any
    # real threshold that is a vanishing fraction of the corpus.
    cand_ids = (pairs.select(F.col("a").alias(id_col))
                .union(pairs.select(F.col("b").alias(id_col)))
                .distinct())
    # sh is consumed twice (the a-side and b-side joins); persist it
    # under the same bounded-cache contract so the semi-join + shingle
    # subtree runs once per action instead of twice (r7). The frame is
    # candidate-docs-sized - tiny at any real threshold. Shingles come
    # from the staged pure-JVM Horner fold (same values as the Arrow
    # kernel; distinct set semantics, order irrelevant to
    # array_intersect/array_union) - no Python stage on this path.
    sh = keep.persist(
        df.join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col),
                token_hashes_col(F.col(text_col)).alias("_th"))
        .select(F.col(id_col),
                F.array_distinct(
                    _horner_window_fps(F.col("_th"), shingle_k))
                .alias("_sh")))
    pairs = (pairs
             .join(sh.withColumnRenamed(id_col, "a")
                   .withColumnRenamed("_sh", "_sha"), "a")
             .join(sh.withColumnRenamed(id_col, "b")
                   .withColumnRenamed("_sh", "_shb"), "b"))
    return (pairs.withColumn("jaccard",
                             _jaccard_col(F.col("_sha"), F.col("_shb")))
            .filter(F.col("jaccard") >= verify_jaccard)
            .select("a", "b", "jaccard"))


def _persistent_rdd_ids(sc) -> set:
    """Ids of currently persisted RDDs (incl. localCheckpoint blocks).
    A measuring helper for tests; pins are tracked by pins.Pins."""
    return {int(i) for i in
            sc._jsc.getPersistentRDDs().keySet().toArray()}


# Rounds the last connected_components call took (test observability
# for the O(log diameter) pointer-jumping claim).
_last_cc_rounds: int = 0


def connected_components(pairs: DataFrame, a_col: str = "a",
                         b_col: str = "b", id_out: str = "id",
                         comp_out: str = "component",
                         max_iter: int = 50) -> DataFrame:
    """Connected components of a near-dup pair graph.

    Input: undirected edges (a, b); output: one row per node that
    appears in ANY pair, (id, component) with component = the minimum
    node id of its component - the canonical survivor, deterministic.

    Min-label propagation WITH pointer jumping: each round every node
    takes (1) the min of its own and its neighbors' labels, then (2)
    the label OF that label (labels are node ids, so one self-join
    halves every label-chain - the pointer-doubling trick). Rounds =
    O(log diameter) instead of O(diameter): a 100-link chain closes in
    ~8 rounds, and the star/clique-shaped near-dup graphs still close
    in 2-3. The pair graph is the TINY relation by contract (near-dup
    pairs are a vanishing fraction of any real corpus; the corpus
    itself never enters this operator).

    Cost per round is exactly ONE action: the changed-count rides the
    propagation output as a flag column and is aggregated from the
    same lazily-localCheckpointed frame that becomes the next round's
    labels (r4 ran three driver-synchronous actions per round - the
    measured ~10x constant-factor overhead). localCheckpoint is load-
    bearing: an iterative plan MUST truncate lineage - persist() alone
    leaves Catalyst re-analyzing a plan that doubles per round and
    OOMs the driver around round ~12 (measured). Superseded rounds'
    checkpoint blocks are released as the loop advances, so long-lived
    sessions don't accumulate one materialized label set per round;
    the RETURNED frame keeps the final round's blocks. `max_iter` is a
    backstop, not a truncation: hitting it raises rather than
    returning a wrong answer (with pointer jumping it implies
    diameter ~2^max_iter - not a real graph).

    The returned blocks are held for the caller until
    release_component_labels(), which sweeps every returned frame at
    a safe point (the battery-twice hygiene test found exactly this
    creep). Concurrent calls are independent: each releases only the
    blocks it pinned.
    """
    labels = _connected_components(pairs, a_col, b_col, max_iter,
                                   pins.owned(_COMPONENT_LABELS))
    return labels.select(F.col("_n").alias(id_out),
                         F.col("_l").alias(comp_out))


def release_component_labels() -> None:
    """Releases the localCheckpoint blocks of every frame a public
    connected_components call has returned. Those frames become
    unusable (truncated lineage - the blocks ARE the data); call only
    when done with all of them."""
    pins.release(_COMPONENT_LABELS)


def _connected_components(pairs: DataFrame, a_col: str, b_col: str,
                          max_iter: int, keep: Pins) -> DataFrame:
    """Body of connected_components: returns the labels frame with
    columns (_n, _l), whose final-round localCheckpoint blocks go to
    `keep` - internal callers (dedup_survivors, the survivors stream)
    release them once they have derived what they need."""
    global _last_cc_rounds
    edges = pairs.select(F.col(a_col).alias("_s"),
                         F.col(b_col).alias("_d"))
    rounds = 0
    with Pins() as scratch, Pins() as live:
        # eager=False (r7): both init frames materialize inside round
        # 1's single job instead of costing two extra driver-
        # synchronous jobs up front - the CC loop's one-action-per-
        # round discipline applied to its own initialization.
        sym = scratch.checkpoint(
            edges.union(pairs.select(F.col(b_col).alias("_s"),
                                     F.col(a_col).alias("_d"))))
        labels = live.checkpoint(
            sym.select(F.col("_s").alias("_n")).distinct()
            .withColumn("_l", F.col("_n")))
        try:
            for rounds in range(1, max_iter + 1):
                nb = (sym.join(labels.withColumnRenamed("_n", "_d")
                               .withColumnRenamed("_l", "_nl"), "_d")
                      .groupBy("_s").agg(F.min("_nl").alias("_nl")))
                half = (labels.join(nb.withColumnRenamed("_s", "_n"),
                                    "_n", "left")
                        .select("_n", F.col("_l").alias("_l0"),
                                F.least(F.col("_l"),
                                        F.coalesce("_nl", F.col("_l")))
                                .alias("_l1")))
                # pointer jump: labels are node ids -> look up the
                # label's own label and take the min (halves
                # label-chain lengths).
                jump = labels.select(F.col("_n").alias("_l1"),
                                     F.col("_l").alias("_l2"))
                with Pins() as nxt:
                    new = nxt.checkpoint(
                        half.join(jump, "_l1", "left")
                        .select("_n",
                                F.least(F.col("_l1"),
                                        F.coalesce("_l2", F.col("_l1")))
                                .alias("_l"),
                                F.col("_l0"))
                        .withColumn("_chg",
                                    (F.col("_l") != F.col("_l0"))
                                    .cast("long"))
                        .select("_n", "_l", "_chg"))
                    # ONE job: the agg materializes the lazy checkpoint
                    # AND returns the changed count from the same pass.
                    changed = int(new.agg(F.sum("_chg")).collect()[0][0]
                                  or 0)
                    live.release()  # superseded round's blocks
                    live.adopt(nxt)
                labels = new.drop("_chg")
                if changed == 0:
                    break
            else:
                raise RuntimeError(
                    f"connected_components did not converge in "
                    f"{max_iter} rounds - pathological chain graph?")
        finally:
            _last_cc_rounds = rounds
        keep.adopt(live)
    return labels


# Which anti-join path the last dedup_survivors call took
# ("broadcast" | "shuffle") - test/bench observability.
_last_survivors_path: str | None = None


def _quality_drop(members: DataFrame, id_col: str) -> DataFrame:
    """Drop list for the quality path: members (_l component label,
    _n id, _q quality) minus each component's (quality DESC, id ASC)
    winner. Factored out so tests can pin its plan shape directly
    (inside dedup_survivors it materializes behind a checkpoint, so
    the returned frame's plan no longer shows these stages)."""
    qmax = members.groupBy("_l").agg(F.max("_q").alias("_qm"))
    winners = (members.join(qmax, "_l")
               .filter(F.col("_q").eqNullSafe(F.col("_qm")))
               .groupBy("_l").agg(F.min("_n").alias("_w")))
    return (members.join(winners, "_l")
            .filter(F.col("_n") != F.col("_w"))
            .select(F.col("_n").alias(id_col)))


def release_survivors_state() -> None:
    """Releases the materialized drop-list blocks held by the last
    dedup_survivors call. The RETURNED survivors frame depends on those
    blocks (truncated lineage), so call this only when done with it -
    or let the next dedup_survivors call reclaim them."""
    pins.release(_SURVIVORS)


def dedup_survivors(docs: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id", a_col: str = "a",
                    b_col: str = "b", max_iter: int = 50,
                    broadcast_max_rows: int = 1_000_000,
                    quality_col: str | None = None) -> DataFrame:
    """The corpus-level dedup deliverable: the FILTERED corpus.

    pairs -> connected components -> drop every doc that belongs to a
    component but is not its canonical survivor; docs that appear in
    no pair pass through untouched. The survivor is the min-id member
    by default; with `quality_col` it is the member with the HIGHEST
    value of that docs column (ties -> min id) - what production
    pipelines actually want: keep the best copy of a duplicate
    cluster, not the arbitrary first-crawled one. Null quality ranks
    lowest. This is the operator an LLM-data pipeline actually runs
    (the reference's nearest analog is its skip-existing export
    filter, export_rasters.py:444-446); the pair/cluster operators
    above are its building blocks.

    Quality path plan shape: component members equi-join docs on id to
    fetch quality (member count ~ drop-list size; AQE picks broadcast
    vs shuffle from runtime stats - no forced broadcast), then ONE
    partial-aggregated max_by per component and a label-partitioned
    join-back that reuses the aggregation's exchange. The winner
    struct orders (quality, -id), so ties reproduce the min-id rule.

    Plan shape at 10^12 docs: the drop list is counted first (cheap -
    one agg over the already-materialized component labels) and the
    anti-join strategy is GATED on that count. Web-scale corpora
    commonly shed 20-50% of docs to near-dup filtering, so at 10^12
    docs the drop list is 10^11 ids - forcing a broadcast there OOMs
    every executor. Under `broadcast_max_rows` (default 10^6 ids,
    ~tens of MB hashed) the corpus streams through one scan with zero
    shuffles (broadcast anti-join); above it the join is left to AQE
    (shuffled anti-join, or a runtime broadcast if statistics allow).
    The drop list itself is localCheckpointed either way, so the
    component labels' blocks are released before returning (the drop
    list is strictly smaller: one column, non-canonical members only);
    the drop blocks are reclaimed at the next call or via
    release_survivors_state(). Returns docs' full rows, survivors
    only.
    """
    global _last_survivors_path
    keep = pins.held(_SURVIVORS)  # previous call's drop-list blocks
    with Pins() as label_pins:
        comp = _connected_components(pairs, a_col, b_col, max_iter,
                                     label_pins)
        if quality_col is None:
            drop = (comp.filter(F.col("_n") != F.col("_l"))
                    .select(F.col("_n").alias(id_col)))
        else:
            members = comp.join(
                docs.select(F.col(id_col).alias("_n"),
                            F.col(quality_col).alias("_q")), "_n")
            # (quality DESC, id ASC) winner via TWO partial-aggregated
            # groupBys + join-backs, NOT Window.partitionBy("_l")
            # (r7): a window colocates every member of a component in
            # ONE task - at web scale the giant boilerplate cluster
            # (billions of copies of one template) is exactly the
            # component this operator exists to collapse, and it would
            # straggle or OOM that task (the same hazard the r6
            # verdict flagged for the fingerprint windows). The
            # aggregates map-side-combine to one row per component and
            # the joins are AQE-skew-splittable. Not max_by(struct(q,
            # -id)): negation only inverts NUMERIC ids - a string id
            # would cast to NULL and make the tie-break
            # nondeterministic; max(_q) + eqNullSafe + min(_n) orders
            # any orderable types. Semantics identical to the former
            # rank-1 window: winner = min id among the max-quality
            # members (all-null-quality components: _qm is null,
            # eqNullSafe keeps every member, min id wins - the
            # desc_nulls_last tie-break).
            drop = _quality_drop(members, id_col)
        drop = keep.checkpoint(drop)
        # ONE job materializes the lazy checkpoint AND counts it (the
        # gate statistic) - same fold-the-action trick as the CC loop.
        # The labels are released on leaving the block: the drop list
        # is materialized, nothing references them any more.
        n_drop = int(drop.count())
    if n_drop <= broadcast_max_rows:
        _last_survivors_path = "broadcast"
        return docs.join(F.broadcast(drop), id_col, "left_anti")
    _last_survivors_path = "shuffle"
    return docs.join(drop, id_col, "left_anti")


def simhash_udf(shingle_k: int = 2,
                hash_family: str = "xxh64") -> Callable[[Column], Column]:
    """text column -> 64-bit simhash (as signed long).

    Shingle hashing is JVM-side (`hash_family`: "xxh64" fast default,
    "md5" SQL-recomputable); the bit fold is a segmented numpy
    reduction over the Arrow batch, no per-row Python. The bit matrix
    is built by np.unpackbits on the little-endian byte view (64
    shift-ANDs replaced by one libc-speed expansion) and CACHE-BLOCKED
    to ~32k shingle rows: the unblocked (n_shingles x 64) int64
    expansion was ~100 MB of temporaries per Arrow batch and dominated
    the signature wall at 10^6 docs (same lesson as the PIP kernel).
    """
    token_hash = TOKEN_HASH_FAMILIES[hash_family]

    @pandas_udf(LongType())
    def _sim(tok_hashes: pd.Series) -> pd.Series:
        n = len(tok_hashes)
        out = np.zeros(n, dtype=np.int64)
        flat, counts, _ = _segmented(tok_hashes)
        sh, sh_counts = _shingle_hashes_flat(flat, counts, shingle_k)
        if sh.size:
            # Simhash weights each DISTINCT shingle once: segmented
            # dedup via one lexsort over (doc, hash), all vectorized.
            doc = np.repeat(np.arange(n), sh_counts)
            order = np.lexsort((sh, doc))
            sh, doc = sh[order], doc[order]
            keep = np.ones(len(sh), dtype=bool)
            keep[1:] = (sh[1:] != sh[:-1]) | (doc[1:] != doc[:-1])
            sh, doc = sh[keep], doc[keep]
            live = np.unique(doc)
            starts = np.searchsorted(doc, live)
            ends = np.append(starts[1:], len(sh))
            vals = np.empty(len(live), dtype=np.uint64)
            CH = 32768  # ~2 MB uint8 bit-block; L2/L3-resident
            i = 0
            while i < len(live):
                # grow the doc window until its shingle span hits CH
                j = i + 1
                while j < len(live) and ends[j - 1] - starts[i] < CH:
                    j += 1
                lo, hi = starts[i], ends[j - 1]
                sub = np.ascontiguousarray(sh[lo:hi])
                bits = np.unpackbits(
                    sub.view(np.uint8).reshape(-1, 8), axis=1,
                    bitorder="little").astype(np.int32)
                bsum = np.add.reduceat(bits, starts[i:j] - lo, axis=0)
                # majority of +-1 votes == 2*ones - count > 0
                cond = 2 * bsum > (ends[i:j] - starts[i:j])[:, None]
                vals[i:j] = np.packbits(
                    cond, axis=1,
                    bitorder="little").copy().view(np.uint64).ravel()
                i = j
            out[live] = vals.astype(np.int64)
        return pd.Series(out)

    def apply(text: Column) -> Column:
        return _sim(token_hash(text))

    return apply


def ngram_jaccard_pairs(df: DataFrame, threshold: float,
                        text_col: str = "text", id_col: str = "doc_id",
                        shingle_k: int = 3,
                        spread: int | None = None) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard >= threshold.

    True O(n^2) crossJoin + JVM-side set Jaccard: the verification /
    oracle operator for SMALL inputs (it is the ground truth the LSH
    recall tests compare against). At scale use
    `minhash_duplicate_pairs`, whose recall is banded-LSH, not exact.
    """
    sh = (_spread(df, spread)
          .select(F.col(id_col),
                  token_hashes_col(F.col(text_col)).alias("_th"))
          .select(F.col(id_col),
                  F.array_distinct(
                      _horner_window_fps(F.col("_th"), shingle_k))
                  .alias("_sh")))
    a = sh.select(F.col(id_col).alias("a"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col(id_col).alias("b"), F.col("_sh").alias("_shb"))
    return (a.crossJoin(b).filter(F.col("a") < F.col("b"))
            .withColumn("jaccard", _jaccard_col(F.col("_sha"),
                                                F.col("_shb")))
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))


def containment_pairs(df: DataFrame, threshold: float = 0.5,
                      window: int = 8, text_col: str = "text",
                      id_col: str = "doc_id",
                      max_postings: int = 4096,
                      spread: int | None = None) -> DataFrame:
    """Directional CONTAINMENT pairs (a, b, containment): the fraction
    of doc a's distinct rolling word-window fingerprints
    (functions/text.rolling_fingerprints - the winnowing-style shingle
    fingerprint set) that also occur in doc b, for every ordered pair
    with containment >= threshold.

    This is the dedup signal symmetric Jaccard structurally misses: a
    short document quoted whole inside a long one has near-1.0
    containment but tiny Jaccard (the union is dominated by the long
    doc). Web pipelines use it to drop wrapper/quotation copies after
    near-dup filtering.

    Plan shape at 10^12 docs: an inverted-index BUCKET pipeline, not a
    self-join and not an all-pairs scan - per-doc DISTINCT fingerprints
    explode into (fingerprint, id, n_fp) postings, ONE pass (a
    fingerprint self-join would rescan + re-explode the corpus for
    both aliases - measured 2 scans / 12 exchanges / 10.4 s at sf0.1
    vs 1 scan / 4 exchanges / ~2 s for this shape). A window count
    over the fingerprint drops singleton postings (no pair possible;
    on a clean corpus that is ~all of them) and hot postings above
    `max_postings` (boilerplate windows occurring in ~every doc - the
    O(postings^2) blowup; dropped fingerprints still count in the
    denominator, so capped containment only UNDERestimates -
    conservative). The count, the groupBy that builds the bucket, and
    the ordered-pair emission all ride one hash partitioning on the
    8-byte fingerprint - the shuffle never carries text. Per-pair
    shared-window counts then partial-aggregate on (a, b).

    Exactness: fingerprints are the minhash-family polynomial fold of
    per-token xxhash64s (functions/text.rolling_fingerprints),
    injective on window token sequences up to 64-bit collisions (the
    minhash_duplicate_pairs verify argument), so containment over
    fingerprint SETS equals containment over window-string sets; the
    driver oracle recomputes containment from the window strings
    themselves. Empty/whitespace-only docs have no fingerprints and
    emit no pairs.
    """
    # Pure-JVM staged fingerprints (r7): bind token hashes, then the
    # DISTINCT fingerprint array (multi-use: size + explode), then
    # explode. Bit-identical values to the former Arrow form; zero
    # Python nodes. explode_OUTER + post-filter, not explode: plain
    # explode makes Catalyst infer `size(fp) > 0` and push it below
    # the spread exchange, re-evaluating the fingerprint pass over the
    # whole corpus a second time (measured: doubled eval nodes).
    b = (_spread(df, spread)
         .select(F.col(id_col),
                 token_hashes_col(F.lower(F.col(text_col)))
                 .alias("_th")))
    fps = F.array_distinct(_horner_window_fps(F.col("_th"), window))
    base = (b.select(id_col, fps.alias("_fp"))
            .select(id_col, F.size("_fp").alias("_n"),
                    F.explode_outer("_fp").alias("_f"))
            .filter(F.col("_f").isNotNull()))
    # Posting-list size gate via PARTIAL-AGGREGATED groupBy + semi-join,
    # not Window.partitionBy("_f") (r6 verdict): the window colocated
    # every posting of a fingerprint in one task BEFORE the cap could
    # apply - a single-task straggler on exactly the boilerplate keys
    # max_postings exists to drop. The count groupBy map-side-combines
    # to one row per key; the semi-join back is AQE skew-splittable,
    # and hot keys are gone before the collect_list groupBy builds any
    # bucket array.
    live = (base.groupBy("_f").agg(F.count("*").alias("_pn"))
            .filter((F.col("_pn") > 1) & (F.col("_pn") <= max_postings))
            .select("_f"))
    post = base.join(live, "_f", "left_semi")
    grouped = (post.groupBy("_f")
               .agg(F.collect_list(
                   F.struct(F.col(id_col).alias("i"),
                            F.col("_n").alias("n"))).alias("_ms")))
    ms = F.col("_ms")
    pair_arr = F.flatten(F.transform(
        ms, lambda x: F.transform(
            F.filter(ms, lambda y: y["i"] != x["i"]),
            lambda y: F.struct(x["i"].alias("a"), y["i"].alias("b"),
                               x["n"].alias("_na")))))
    return (grouped.select(F.explode(pair_arr).alias("p"))
            .select("p.a", "p.b", "p._na")
            .groupBy("a", "b", "_na")
            .agg(F.count("*").alias("_shared"))
            .withColumn("containment",
                        F.col("_shared") / F.col("_na"))
            .filter(F.col("containment") >= threshold)
            .select("a", "b", "containment"))


def substring_dedup(df: DataFrame, window: int = 8,
                    min_count: int = 2, keep_first: bool = True,
                    text_col: str = "text", id_col: str = "doc_id",
                    metrics: bool = True,
                    spread: int | None = None) -> DataFrame:
    """Duplicate-substring removal at token granularity - the
    ExactSubstr pass of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"), the step web pipelines run IN
    ADDITION to document-level near-dup filtering: any `window`-token
    run whose exact token sequence occurs >= `min_count` times
    corpus-wide is cut from every occurrence except the first
    (`keep_first=True`, ranked by (doc_id, position); False cuts all
    occurrences). Returns df's full rows with `text_col` rebuilt from
    the surviving tokens (single-space joined - token-granularity
    rebuild, original inter-token whitespace is not preserved), plus
    `ss_n_tokens` / `ss_n_removed` metric columns when `metrics=True`.

    Plan shape at 10^12 docs: the occurrence pipeline ships
    (id, position, fingerprint) rows only - 24 bytes, never text. One
    hash partitioning on the 8-byte fingerprint carries BOTH the
    corpus-wide occurrence count and the keep-first rank (one
    Exchange, one Sort, two Window nodes); removed occurrences then
    explode into covered token positions and aggregate to one
    positions-array row per affected doc, so the join back to the
    corpus is keyed on id with a small right side at real duplication
    rates (AQE picks broadcast when it fits, shuffled hash join
    otherwise - the survivors-gate lesson: never force the broadcast).
    The rebuild is JVM-side (filter-by-index over the token array;
    docs with no duplicated windows pass through with a null positions
    array and zero per-token work).

    Exactness: fingerprints are the positional rolling fold of
    per-token xxhash64s (`window_fingerprints_col`) - injective on
    window token sequences up to 64-bit collisions (the minhash verify
    argument); the driver oracle recomputes occurrences from the
    window STRINGS themselves, an independent hash family. Docs with
    0 < T < window tokens form ONE whole-doc fingerprint (exact short
    duplicates still dedup); empty docs pass through. Within-doc
    repeats count as distinct occurrences (a doc repeating its own
    window keeps only the first copy).
    """
    occ = _window_occurrences(_spread(df, spread), window, text_col,
                              id_col)
    # Corpus-wide count + keep-first winner via PARTIAL-AGGREGATED
    # groupBy, not Window.partitionBy("_f") (r6 verdict): a window
    # colocates every occurrence of a fingerprint in one task with no
    # map-side combine, so at web scale the top boilerplate windows
    # ("all rights reserved ...", occurring billions of times) straggle
    # or OOM the count stage - exactly the keys this operator exists to
    # cut. groupBy's partial aggregation folds each map task's
    # occurrences to one (count, min) row per key before the shuffle,
    # and the join back on _f is AQE skew-join-splittable. Semantics
    # identical: min(struct(id, pos)) is the row row_number()=1 picked
    # under orderBy(id, pos).
    dup = (occ.groupBy("_f")
           .agg(F.count("*").alias("_cnt"),
                F.min(F.struct(F.col(id_col).alias("i"),
                               F.col("_p").alias("p"))).alias("_w"))
           .filter(F.col("_cnt") >= min_count)
           .select("_f", "_w"))
    removed = occ.join(dup, "_f")
    if keep_first:
        removed = removed.filter((F.col(id_col) != F.col("_w.i"))
                                 | (F.col("_p") != F.col("_w.p")))
    cov = _covered_positions(removed, window, id_col)
    return _cut_token_positions(df, cov, text_col, id_col, metrics)


def _window_occurrences(df: DataFrame, window: int, text_col: str,
                        id_col: str) -> DataFrame:
    """Positional window-fingerprint occurrence rows
    (id, _n token count, _p position, _f fingerprint) - the 24-byte
    shuffle currency of substring dedup, shared by the batch operator
    and the streaming per-batch form. Pure JVM (r7): token hashes are
    bound once (`_th`, multi-use so CollapseProject keeps the
    binding), the rolling fold is `_horner_window_fps` - bit-identical
    to the former Arrow UDF, zero Python nodes in the plan.
    explode_outer + isNotNull, NOT a plain generator: plain explode
    makes Catalyst infer size(arr) > 0 and push it below upstream
    exchanges, re-running the fingerprint pass over the whole corpus
    (the containment_pairs lesson)."""
    b = df.select(F.col(id_col),
                  token_hashes_col(F.col(text_col)).alias("_th"))
    h = F.col("_th")
    return (b.select(id_col, F.size(h).alias("_n"),
                     _horner_window_fps(h, window).alias("_fp"))
            .select(id_col, "_n",
                    F.posexplode_outer("_fp").alias("_p", "_f"))
            .filter(F.col("_f").isNotNull()))


def _covered_positions(removed: DataFrame, window: int,
                       id_col: str) -> DataFrame:
    """Removed occurrences (id, _n, _p) -> (id, _rm array<int>) of
    covered token positions, one row per affected doc. The short-doc
    whole-text fingerprint covers [0, T) - least() clamps the window
    run to the doc."""
    return (removed
            .select(id_col,
                    F.explode(F.sequence(
                        F.col("_p"),
                        F.least(F.col("_p") + F.lit(window),
                                F.col("_n")) - F.lit(1))).alias("_j"))
            .groupBy(id_col)
            .agg(F.collect_set("_j").alias("_rm")))


def _cut_token_positions(df: DataFrame, cov: DataFrame, text_col: str,
                         id_col: str, metrics: bool) -> DataFrame:
    """Rebuilds `text_col` dropping the token positions in `cov`
    ((id, _rm array<int>), one row per affected doc - unaffected docs
    pass through on the left join). JVM-side filter-by-index; shared
    by the batch operator and the streaming per-batch form."""
    out = df.join(cov, on=id_col, how="left")
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                    lambda t: t != "")
    rm = F.coalesce(F.col("_rm"),
                    F.expr("CAST(array() AS array<int>)"))
    # Bind the token array ONCE as a real column (multi-use non-cheap
    # alias, so CollapseProject cannot inline the split back into the
    # per-element lambdas), then rebuild in LINEAR time: surviving
    # positions = array_except(all positions, removed) - O(T + |rm|)
    # hash-set pass - instead of the r6 per-element array_contains scan
    # (O(T * |rm|), quadratic on heavily-duplicated long docs - r6
    # verdict item 6). array_except preserves first-array order, so
    # the surviving positions stay ascending and the rebuilt text is
    # byte-identical.
    out = (out.withColumn("_tk", toks)
           .withColumn("_kp",
                       F.when(F.size("_tk") > 0,
                              F.array_except(
                                  F.sequence(F.lit(0),
                                             F.size("_tk") - F.lit(1)),
                                  rm))
                       .otherwise(F.expr("CAST(array() AS array<int>)"))))
    kept = F.transform(F.col("_kp"),
                       lambda p: F.element_at(F.col("_tk"), p + F.lit(1)))
    out = out.withColumn("_ss_nt", F.size("_tk"))
    if metrics:
        out = (out.withColumn("ss_n_tokens",
                              F.col("_ss_nt").cast("long"))
               .withColumn("ss_n_removed",
                           F.size(rm).cast("long")))
    return (out.withColumn(text_col, F.array_join(kept, " "))
            .drop("_rm", "_ss_nt", "_tk", "_kp"))


def release_decontaminate_state() -> None:
    """Releases the contaminated-id checkpoint blocks of the last
    decontaminate() call (its result recomputes nothing - consume
    before releasing)."""
    pins.release(_DECONTAMINATE)


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  window: int = 8, text_col: str = "text",
                  id_col: str = "doc_id",
                  bench_text_col: str = "text",
                  broadcast_max_rows: int = 10_000_000,
                  spread: int | None = None) -> DataFrame:
    """Benchmark decontamination: drop every training doc that shares
    at least one `window`-token n-gram with any benchmark text - the
    standard test-set-overlap filter LLM pipelines run before
    training (n-gram collision, case/whitespace-normalized).

    Plan shape at 10^12 docs: the benchmark n-gram set is the SMALL
    side (test sets are ~10^5-10^7 n-grams) - its distinct
    fingerprints are localCheckpointed, COUNTED, and broadcast only
    under `broadcast_max_rows` (a semi-join against exploded corpus
    fingerprints stays map-side); above the gate the semi-join is
    AQE-planned, the survivors-gate pattern. The corpus side is one
    pass: fingerprint -> explode -> semi-join -> distinct contaminated
    ids -> anti-join back (contaminated ids are a small fraction at
    real contamination rates; that join is left to AQE). Fingerprints
    are the rolling-window fold (functions/text.rolling_fingerprints)
    - exact n-gram equality up to 64-bit collisions; empty/whitespace
    docs have no fingerprints and always survive.

    Returns docs' full rows, decontaminated only. The benchmark
    fingerprint blocks are released before returning; the (small)
    contaminated-id frame's blocks are released at the next call or
    via release_decontaminate_state().
    """
    # The contaminated-id frame is eagerly localCheckpointed (lineage
    # truncated: the benchmark blocks are released before returning,
    # so the ids must not be recomputable from them). Its blocks are
    # held until the next call; a separate owner from the survivors
    # state, so a dedup_survivors call never frees a live
    # decontaminate result.
    keep = pins.held(_DECONTAMINATE)  # previous call's id blocks
    with Pins() as scratch:
        # Staged pure-JVM fingerprints (r7, see _horner_window_fps);
        # per-row array_distinct is skipped on BOTH sides - the bench
        # side global-distincts the exploded rows and the docs side
        # only feeds a left-semi + distinct(id), so per-row duplicate
        # fingerprints cannot change either result.
        bench = scratch.checkpoint(
            benchmark
            .select(token_hashes_col(
                F.lower(F.col(bench_text_col))).alias("_th"))
            .select(_horner_window_fps(F.col("_th"), window)
                    .alias("_fp"))
            .select(F.explode_outer("_fp").alias("_f"))
            .filter(F.col("_f").isNotNull())
            .distinct())
        n_bench = int(bench.count())
        exploded = (_spread(docs, spread)
                    .select(F.col(id_col),
                            token_hashes_col(F.lower(F.col(text_col)))
                            .alias("_th"))
                    .select(id_col,
                            _horner_window_fps(F.col("_th"), window)
                            .alias("_fp"))
                    .select(id_col, F.explode_outer("_fp").alias("_f"))
                    .filter(F.col("_f").isNotNull()))
        rhs = F.broadcast(bench) if n_bench <= broadcast_max_rows \
            else bench
        bad = keep.checkpoint(exploded.join(rhs, "_f", "left_semi")
                              .select(id_col).distinct(), eager=True)
    return docs.join(bad, id_col, "left_anti")


def _block_combo_masks(blocks: int, block_t: int) -> list[int]:
    """Signed-int64 masks, one per C(blocks, block_t) block combination.

    The 64 bits split into `blocks` contiguous blocks (widths as equal
    as possible); each mask keeps the bits of one t-subset of blocks.
    Two hashes agree on a combination iff their masked values are
    equal. Pigeonhole: a pair within hamming d <= blocks - block_t
    differs in at most d blocks, so some t-subset is untouched and the
    pair shares that table's key - guaranteed recall (Manku, Jain &
    Das Sarma, WWW'07 - the published web-scale simhash scheme).
    """
    from itertools import combinations
    w, r = divmod(64, blocks)
    widths = [w + (1 if i < r else 0) for i in range(blocks)]
    starts = [sum(widths[:i]) for i in range(blocks)]
    block_masks = [((1 << widths[i]) - 1) << starts[i]
                   for i in range(blocks)]
    out = []
    for combo in combinations(range(blocks), block_t):
        m = 0
        for i in combo:
            m |= block_masks[i]
        out.append(m - (1 << 64) if m >= (1 << 63) else m)
    return out


def simhash_candidate_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", shingle_k: int = 2,
                            bands: int = 4,
                            max_hamming: int = 12,
                            hash_family: str = "xxh64",
                            max_bucket: int = 4096,
                            spread: int | None = None,
                            blocks: int | None = None,
                            block_t: int | None = None) -> DataFrame:
    """SimHash near-dup pairs (a < b, hamming <= max_hamming).

    Banded LSH recall: the 64-bit simhash splits into `bands` 16-bit
    keys; two docs are candidates iff they share a band value (any pair
    within hamming distance < bands must share one, pigeonhole).
    Candidate emission is the same groupBy + ordered-pair explode as
    minhash (one signature pass, no self-join); the exact popcount
    filter runs JVM-side (bit_count(a XOR b)).

    SCALE PATH (`blocks`/`block_t`): plain banding collapses beyond
    ~10^6 docs - a 16-bit band key has 65536 values, so a 10^7-doc
    corpus averages 150+ docs per bucket and the per-bucket O(n^2)
    pair emission goes quadratic on UNIFORMLY RANDOM hashes, not just
    degenerate ones. Manku-style block-combination keys fix the key
    width independently of the guarantee: C(blocks, block_t) tables,
    each keyed by block_t of `blocks` hash blocks (key width
    block_t*64/blocks bits), guaranteed recall for hamming <=
    blocks - block_t. blocks=6, block_t=3 gives 20 tables of ~32-bit
    keys: at 10^7 random docs a bucket is ~1-2 docs, and the scheme
    holds to 10^10+ docs (blocks=8, block_t=4 -> 70 tables of 32-bit
    keys, hamming <= 4, at 10^12). Set max_hamming <= blocks-block_t
    for guaranteed-complete output.

    `max_bucket` bounds per-bucket blowup: a degenerate hot bucket
    (boilerplate corpus — many near-identical simhashes) would emit
    O(bucket^2) pairs from ONE task row; buckets larger than the cap
    are dropped (their members are mutual near-dups of a template —
    callers wanting those use exact_dedup on the template). None
    disables the cap.
    """
    sim = simhash_udf(shingle_k, hash_family=hash_family)
    h = _spread(df, spread).select(F.col(id_col),
                                   sim(F.col(text_col)).alias("_h"))
    if blocks is not None:
        if not (1 < blocks <= 64):
            # blocks > 64 would yield zero-width blocks: a combination
            # of only zero-width blocks has mask 0 and puts EVERY doc
            # in one bucket - the O(n^2) explosion this scheme exists
            # to avoid. blocks == 1 has no non-trivial combinations.
            raise ValueError(f"blocks must satisfy 1 < blocks <= 64, "
                             f"got {blocks}")
        if block_t is None or not (0 < block_t <= blocks):
            raise ValueError("blocks requires 0 < block_t <= blocks")
        masks = _block_combo_masks(blocks, block_t)
        combo = F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.lit(m).alias("_m")) for i, m in enumerate(masks)
        ])).alias("c")
        bh = h.select(id_col, "_h", combo).select(
            id_col, "_h", F.col("c.band").alias("band"),
            F.col("_h").bitwiseAND(F.col("c._m")).alias("bval"))
    else:
        band_ix = F.explode(F.sequence(F.lit(0),
                                       F.lit(bands - 1))).alias("band")
        width = 64 // bands
        bh = h.select(id_col, "_h", band_ix).select(
            id_col, "_h", "band",
            F.expr(f"shiftrightunsigned(_h, band * {width}) "
                   f"& {(1 << width) - 1}").alias("bval"))
    # singleton-bucket prefilter: see minhash_duplicate_pairs - the
    # combination scheme emits n_docs * C(blocks, t) rows and nearly
    # all buckets are singletons at scale.
    wb = Window.partitionBy("band", "bval")
    bh = (bh.withColumn("_n", F.count("*").over(wb))
          .filter(F.col("_n") > 1).drop("_n"))
    grouped = (bh.groupBy("band", "bval")
               .agg(F.array_sort(F.collect_set(F.struct(F.col(id_col),
                                                        F.col("_h"))))
                    .alias("_ids"))
               .filter(F.size("_ids") > 1))
    if max_bucket is not None:
        grouped = grouped.filter(F.size("_ids") <= max_bucket)
    ids = F.col("_ids")
    pair_arr = F.flatten(F.transform(
        ids, lambda x, i: F.transform(
            F.slice(ids, i + 2, F.greatest(F.size(ids) - i - 1, F.lit(1))),
            lambda y: F.struct(x[id_col].alias("a"), y[id_col].alias("b"),
                               x["_h"].alias("_ha"),
                               y["_h"].alias("_hb")))))
    pairs = (grouped.select(F.explode(pair_arr).alias("p"))
             .select("p.a", "p.b",
                     F.bit_count(F.col("p._ha").bitwiseXOR(F.col("p._hb")))
                     .alias("hamming"))
             .filter(F.col("hamming") <= max_hamming)
             .distinct())
    return pairs
