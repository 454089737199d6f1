"""Seeded input tables for every workload.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical parquet. Tables are built driver-side with numpy + pyarrow
so the program under test only ever sees finished input files, the way
the CLI entry points see them.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from geeflow_spark.sources import synth

# Text vocabulary of the corpus workload. The first four words are the
# corpus-local stopwords the quality step counts (the synthetic text has
# no English function words; same override as the corpus oracles).
STOPWORDS = ("scan", "column", "window", "order")
VOCAB = STOPWORDS + tuple(
    "spark tile region join cell index query filter merge batch row data "
    "map reduce shuffle key value grid part line small sort fast slow "
    "group agg hash table stream vector big a the".split())
LANGS = ("en", "de", "fr", "zh")
LANG_P = (0.5, 0.2, 0.15, 0.15)


def write_table(table: pa.Table, path: str, n_files: int,
                dictionary: bool = True) -> int:
    """Writes `table` as `n_files` parquet files under `path` (replacing
    it) and returns the bytes written. `dictionary=False` skips the
    dictionary encoding attempt, for columns of random values that it
    would only abandon."""
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       use_dictionary=dictionary)
    return dir_bytes(path)


def dir_bytes(path: str) -> int:
    """Bytes of every data file under `path` (committer markers and
    manifests included: they are part of what a run commits)."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if not f.startswith("."))
    return total


# -- generate / knn: interleaved-doc point table ----------------------------

def geo_points(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) of `n` points, 30% in the five city clusters of
    `synth.docs`, drawn from `seed`."""
    rng = np.random.default_rng([seed, 1])
    in_city = rng.random(n) < 0.3
    city = rng.integers(0, len(synth.CITY_CLUSTERS), n)
    clat = np.array([c[0] for c in synth.CITY_CLUSTERS])[city]
    clon = np.array([c[1] for c in synth.CITY_CLUSTERS])[city]
    spread = 2 * synth.CLUSTER_STD_DEG
    lat = np.where(in_city, clat + (rng.random(n) - 0.5) * spread,
                   -60.0 + rng.random(n) * 132.0)
    lon = np.where(in_city, clon + (rng.random(n) - 0.5) * spread,
                   -180.0 + rng.random(n) * 360.0)
    return lat, lon


def _padded(values: np.ndarray, width: int) -> pa.Array:
    return pc.utf8_lpad(pc.cast(pa.array(values), pa.string()), width, "0")


def geo_docs(seed: int, n: int) -> pa.Table:
    """Interleaved text+media docs at `geo_points(seed, n)`: the shape of
    `synth.docs` (2-5 spans per doc, text and media alternating)."""
    lat, lon = geo_points(seed, n)
    rng = np.random.default_rng([seed, 7])
    n_spans = 2 + rng.integers(0, 4, n)
    offsets = np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32)
    total = int(offsets[-1])
    doc_of = np.repeat(np.arange(n), n_spans)
    pos = np.arange(total) - np.repeat(offsets[:-1], n_spans)
    is_text = pa.array(pos % 2 == 0)
    words = pa.array(synth.WORDS)
    text = pc.binary_join_element_wise(
        words.take(pa.array(rng.integers(0, len(words), total))),
        words.take(pa.array(rng.integers(0, len(words), total))), " ")
    media = pc.binary_join_element_wise(
        "media/", _padded(doc_of, 12), "/",
        pc.cast(pa.array(pos), pa.string()), "")
    null = pa.scalar(None, pa.string())
    spans = pa.StructArray.from_arrays(
        [pc.if_else(is_text, "text", "media"),
         pc.if_else(is_text, text, null),
         pc.if_else(is_text, null, media),
         pa.array((pos * 64 + doc_of % 17).astype(np.int32))],
        names=["kind", "text", "media_ref", "offset"])
    return pa.table({
        "doc_id": pc.binary_join_element_wise(
            "doc", _padded(np.arange(n), 10), ""),
        "spans": pa.ListArray.from_arrays(pa.array(offsets), spans),
        "lat": pa.array(lat),
        "lon": pa.array(lon),
    })


def regions(seed: int):
    """Seeded overlapping region polygons (pandas; the broadcast side),
    at the flagship's radius scale."""
    return synth.regions_pdf(40, seed=seed, radius_scale=2.0)


def knn_queries(seed: int, size: int) -> list:
    """One query batch: (query_id, lat, lon) tuples, half near the city
    clusters (dense data) and half uniform."""
    rng = np.random.default_rng([seed, 2])
    city = rng.integers(0, len(synth.CITY_CLUSTERS), size)
    near = rng.random(size) < 0.5
    clat = np.array([c[0] for c in synth.CITY_CLUSTERS])[city]
    clon = np.array([c[1] for c in synth.CITY_CLUSTERS])[city]
    lat = np.where(near, clat + rng.normal(0, 0.3, size),
                   -55.0 + rng.random(size) * 120.0)
    lon = np.where(near, clon + rng.normal(0, 0.3, size),
                   -175.0 + rng.random(size) * 350.0)
    return [(i, float(lat[i]), float(lon[i])) for i in range(size)]


# -- corpus: documents table ------------------------------------------------

def corpus_docs(seed: int, n: int) -> tuple[pa.Table, np.ndarray]:
    """A documents table (doc_id, text, lang, source, n_chars) with the
    structure every corpus step acts on: near-duplicate docs (dedup),
    shared boilerplate runs (substrings), planted PII (clean; the same
    doc_id recipe as the corpus_e2e_clean oracle's augmentation) and
    short or stopword-poor docs (quality). Also returns the held-out
    doc ids whose texts form the decontamination benchmark."""
    rng = np.random.default_rng([seed, 3])
    p = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    p /= p.sum()
    phrases = [list(rng.choice(VOCAB, 12, p=p)) for _ in range(6)]
    texts: list[list[str]] = []
    originals: list[int] = []
    # Fixed shares across seeds, so every seed asks the same work of each
    # step: every 8th doc is a near-duplicate of an original (star-shaped
    # duplicate groups, so dedup's component rounds do not depend on the
    # seed) and every 5th carries a boilerplate run.
    for i in range(n):
        if i % 8 == 7:
            src = list(texts[originals[int(rng.integers(
                max(0, len(originals) - 100), len(originals)))]])
            for j in rng.integers(0, len(src), max(1, len(src) // 25)):
                src[j] = str(rng.choice(VOCAB, p=p))
            texts.append(src)
            continue
        words = list(rng.choice(VOCAB, int(rng.integers(12, 160)), p=p))
        if i % 5 == 2:
            at = int(rng.integers(0, len(words)))
            words[at:at] = phrases[int(rng.integers(0, len(phrases)))]
        originals.append(i)
        texts.append(words)
    out = []
    for did, words in enumerate(texts):
        t = " ".join(words)
        if did % 5 == 0:
            t += f" contact u{did}@ex-{did % 13}.org now"
        if did % 7 == 0:
            t += f" from 10.{did % 256}.0.{did % 254 + 1} logged"
        if did % 11 == 0:
            t += f" call 555-010-{did % 10000:04d} today"
        out.append(t)
    lang = rng.permutation(np.repeat(
        LANGS, np.diff(np.round(np.cumsum((0,) + LANG_P) * n).astype(int))))
    held_out = np.sort(rng.choice(n, max(1, n // 50), replace=False))
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(out),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 4}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in out], np.int64)),
    })
    return table, held_out


# -- composite: scene tables --------------------------------------------------

SCENE_T0_MS = 1514764800000  # 2018-01-01
SCENE_STEP_MS = 15 * 24 * 3600 * 1000


def scenes(seed: int, salt: int, n_cells: int, n_times: int,
           hw: int = 16) -> tuple[pa.Table, dict]:
    """One scene table: a row per (cell, timestep) with four float band
    patches (hw x hw, flattened) and a validity mask. Returns the table
    and the raw numpy arrays the output check recomputes from."""
    rng = np.random.default_rng([seed, 4, salt])
    n = n_cells * n_times
    npx = hw * hw
    cell = np.tile(np.arange(n_cells, dtype=np.int64), n_times)
    t = np.repeat(np.arange(n_times, dtype=np.int64), n_cells)
    ts = (SCENE_T0_MS + t * SCENE_STEP_MS
          + rng.integers(0, 10, n) * 3600 * 1000)
    bands = {f"B{b}": rng.random((n, npx), dtype=np.float32) * 100.0
             for b in range(1, 5)}
    mask = (rng.random((n, npx), dtype=np.float32) > 0.25).astype(np.int8)
    scene_id = pc.binary_join_element_wise(
        f"s{salt}_", _padded(np.arange(n), 8), "")
    offsets = pa.array(np.arange(0, n * npx + 1, npx, dtype=np.int32))

    def arr(m):
        return pa.ListArray.from_arrays(offsets, pa.array(m.ravel()))

    table = pa.table({
        "scene_id": scene_id,
        "ts": pa.array(ts),
        "cell": pa.array(cell),
        **{b: arr(v) for b, v in bands.items()},
        "mask": arr(mask),
    })
    raw = {"cell": cell, "ts": ts, "mask": mask,
           "scene_id": scene_id.to_numpy(zero_copy_only=False), **bands}
    return table, raw
