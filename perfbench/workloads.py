"""The benchmark's workloads: inputs, one operation, and output checks.

Each workload drives the program only through its public functions, the
way the CLI entry points do, over inputs `perfbench.inputs` generates from
the seed. `op` runs one operation; `check` verifies the committed outputs
of every operation against an independent numpy recomputation (or, for
the corpus, against the program's lazy form) outside the timed loop;
`probe` measures single layers in the traced run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from spans import Tracer
from geeflow_spark.functions import geometry, s2, utm
from geeflow_spark.operators import dedup, knn, reducers, spatial_join
from geeflow_spark.plans import checkpoint, config, corpus, generate
from geeflow_spark.sources.registry import Registry, TableSource

EARTH_RADIUS_M = 6371010.0


def _clock(fn, reps: int = 3) -> float:
    """Median wall seconds of `reps` calls of fn()."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return float(np.median(walls))


class Workload:
    """One workload. Subclasses set SIZES ({scale: size}) and ROWS_UNIT."""

    name = ""
    ROWS_UNIT = ""

    def __init__(self, seed: int, scale: str, work: str):
        self.seed = seed
        self.scale = scale
        self.work = work
        self.size = self.SIZES[scale]
        self.in_bytes = 0
        self.in_rows = 0

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    # Subclasses define make_inputs(), open(spark), op(spark, i, tr, out),
    # warm_up(spark): one untimed operation over an eighth-size copy of
    # the input in as many files, so that every Python worker starts and
    # code generation and the JIT settle before the timed loop,
    # check(spark, outs) -> [(out, message)] and, for the traced run,
    # probe(spark, tr) -> (metrics, {probe: [check failures]}).


class Generate(Workload):
    """`cli generate`: docs -> generate_examples -> run_partitioned."""

    name = "generate"
    ROWS_UNIT = "docs"
    SIZES = {"full": 50_000, "tiny": 600}
    SPLITS = ["train", "val", "test"]
    CELL_LEVEL = 8
    # above operators.knn's default brute_force_threshold (200,000), so
    # that knn picks its ring path itself
    KNN_POINTS = 250_000

    def make_inputs(self):
        self.table = inputs.geo_docs(self.seed, self.size)
        self.regions = inputs.regions(self.seed)
        self.in_rows = self.table.num_rows
        self.in_bytes = inputs.write_table(self.table, self.path("docs"),
                                           n_files=8)
        inputs.write_table(inputs.geo_docs(self.seed + 1, self.size // 8),
                           self.path("warm_docs"), n_files=8)

    def open(self, spark):
        self.docs = spark.read.parquet(self.path("docs"))
        self.docs.count()

    def warm_up(self, spark):
        self.op(spark, None, Tracer(False), self.path("warm_out"),
                spark.read.parquet(self.path("warm_docs")))

    def op(self, spark, i, tr, out, docs=None):
        with tr.span("plans.generate", i):
            ex = generate.generate_examples(
                self.docs if docs is None else docs, self.regions,
                cell_level=self.CELL_LEVEL)
        with tr.span("plans.checkpoint", i):
            checkpoint.run_partitioned(ex, out, "split", self.SPLITS,
                                       id_col="doc_id",
                                       input_fingerprint=self.path("docs"))

    # -- output check --------------------------------------------------
    def expected(self) -> dict:
        """(doc, region) -> (utm_zone, tile_x, tile_y, split) by brute
        force over every region (no S2 cover prefilter)."""
        lat = self.table["lat"].to_numpy()
        lon = self.table["lon"].to_numpy()
        ids = np.asarray(self.table["doc_id"].to_pylist())
        e, n, zn, zl = utm.from_latlon(lat, lon)
        half = 10.0 * 96 / 2.0
        tx = np.round((e - half) / 10.0) * 10.0
        ty = np.round((n - half) / 10.0) * 10.0
        cells = s2.latlon_to_cell_id(lat, lon, 9).astype(np.uint64)
        bucket = np.array([int(hashlib.md5(str(int(c)).encode())
                               .hexdigest(), 16) % 10 for c in cells])
        split = np.where(bucket == 9, "test",
                         np.where(bucket == 8, "val", "train"))
        out = {}
        for _, r in self.regions.iterrows():
            inside = brute_pip(lon, lat, np.asarray(r["ring"], np.float64))
            for d in np.nonzero(inside)[0]:
                out[(ids[d], int(r["region_id"]))] = (
                    f"{zn[d]}{zl[d]}", float(tx[d]), float(ty[d]),
                    str(split[d]))
        return out

    def check(self, spark, outs):
        exp = self.expected()
        errors = []
        for out in outs:
            got, n_rows = {}, 0
            man = checkpoint.load_manifest(out)
            for sp in self.SPLITS:
                t = pq.read_table(os.path.join(out, f"split={sp}"))
                n_rows += t.num_rows
                if man.get(sp, {}).get("rows") != t.num_rows:
                    errors.append((out, f"manifest rows for {sp} "
                                        f"{man.get(sp, {}).get('rows')} "
                                        f"!= {t.num_rows}"))
                for row in t.select(["doc_id", "region_id", "utm_zone",
                                     "tile_x", "tile_y"]).to_pylist():
                    got[(row["doc_id"], row["region_id"])] = (
                        row["utm_zone"], row["tile_x"], row["tile_y"], sp)
            if n_rows != len(got):
                errors.append((out, f"{n_rows - len(got)} duplicate "
                                    f"(doc, region) rows"))
            if got != exp:
                missing = len(set(exp) - set(got))
                extra = len(set(got) - set(exp))
                diff = sum(1 for k in set(got) & set(exp)
                           if got[k] != exp[k])
                errors.append((out, f"{missing} missing, {extra} extra, "
                                    f"{diff} differing (doc, region) rows"))
        return errors

    # -- traced-run layer probes ---------------------------------------
    def probe(self, spark, tr):
        lat = self.table["lat"].to_numpy()
        lon = self.table["lon"].to_numpy()
        n = len(lat)
        m = {}
        with tr.span("sources.scan"):
            t0 = time.perf_counter()
            spark.read.parquet(self.path("docs")).write.format("noop") \
                .mode("overwrite").save()
            m["sources.scan_s"] = time.perf_counter() - t0
        with tr.span("plans.generate.noop"):
            t0 = time.perf_counter()
            generate.generate_examples(
                self.docs, self.regions, cell_level=self.CELL_LEVEL) \
                .write.format("noop").mode("overwrite").save()
            m["generate.compute_s"] = time.perf_counter() - t0
        with tr.span("functions"):
            m["functions.s2.encode_us_per_row"] = _clock(
                lambda: s2.latlon_to_cell_id(lat, lon)) / n * 1e6
            m["functions.utm.us_per_row"] = _clock(
                lambda: utm.from_latlon(lat, lon)) / n * 1e6
        with tr.span("operators.spatial_join.covers"):
            m["spatial_join.covers_s"] = _clock(
                lambda: spatial_join.region_covers_pdf(
                    self.regions, self.CELL_LEVEL))
        # candidate pairs through the covers, exactly as the kernel
        # forms them, then the exact PIP refine over those pairs
        covers = spatial_join.region_covers_pdf(self.regions,
                                                self.CELL_LEVEL)
        cells = s2.latlon_to_cell_id(lat, lon, self.CELL_LEVEL) \
            .astype(np.int64)
        cand = {}
        for rid, grp in covers.groupby("region_id"):
            hit = np.isin(cells, grp["cell"].to_numpy(np.int64))
            cand[int(rid)] = np.nonzero(hit)[0]
        pairs = sum(len(v) for v in cand.values())
        rings = {int(r["region_id"]): np.asarray(r["ring"], np.float64)
                 for _, r in self.regions.iterrows()}

        def refine():
            return sum(int(geometry.points_in_polygon(
                lon[ix], lat[ix], rings[rid]).sum())
                for rid, ix in cand.items())
        hits = refine()
        with tr.span("functions.geometry"):
            m["functions.geometry.pip_us_per_pair"] = (
                _clock(refine) / max(pairs, 1) * 1e6)
        m["spatial_join.candidates_per_doc"] = pairs / n
        m["spatial_join.pip_hit_ratio"] = hits / max(pairs, 1)
        knn_m, knn_errors = self._knn_probe(spark, tr)
        m.update(knn_m)
        return m, {"knn": knn_errors}

    def _knn_probe(self, spark, tr):
        """One 32-point query batch at knn's default brute_force_threshold
        against KNN_POINTS points drawn like the docs' coordinates."""
        lat, lon = inputs.geo_points(self.seed, self.KNN_POINTS)
        ids = np.char.add("doc", np.char.zfill(
            np.arange(len(lat)).astype(str), 10))
        inputs.write_table(pa.table({"data_id": ids, "lat": lat, "lon": lon}),
                           self.path("knn_points"), n_files=8)
        pts = spark.read.parquet(self.path("knn_points"))
        batch = inputs.knn_queries(self.seed, 32)
        q = spark.createDataFrame(batch, "query_id long, lat double, "
                                         "lon double")
        with tr.span("operators.knn", "knn") as sp:
            got = knn.knn(q, pts, k=10).collect()
        qa = np.array([b[1] for b in batch])
        qo = np.array([b[2] for b in batch])
        qcells = s2.latlon_to_cell_id(qa, qo, 7)
        m = {"knn.batch_s": sp["end"] - sp["start"],
             "functions.s2.ring_us_per_cell": _clock(
                 lambda: s2.neighbors_ring(qcells, 7, 4)) / len(batch) * 1e6}
        return m, check_knn(batch, ids, lat, lon, got, 10)


def brute_pip(px, py, ring) -> np.ndarray:
    """Even-odd ray casting of every point against one ring, one edge
    at a time (no bounding box or cell prefilter)."""
    xs, ys = ring[0::2], ring[1::2]
    x1, y1 = np.roll(xs, -1), np.roll(ys, -1)
    inside = np.zeros(len(px), dtype=bool)
    for k in range(len(xs)):
        straddle = (ys[k] <= py) != (y1[k] <= py)
        dy = y1[k] - ys[k] if y1[k] != ys[k] else 1.0
        x_int = xs[k] + (py - ys[k]) * (x1[k] - xs[k]) / dy
        inside ^= straddle & (px < x_int)
    return inside


def check_knn(batch, ids, lat, lon, got, k) -> list[str]:
    """Exact haversine top-k per query (ties by id) vs the result rows."""
    lat, lon = np.radians(lat), np.radians(lon)
    order_ids = np.argsort(ids)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], {})[r["rank"]] = (r["data_id"],
                                                         r["dist_m"])
    errors = []
    for qid, qlat, qlon in batch:
        a, b = np.radians(qlat), np.radians(qlon)
        h = (np.sin((lat - a) / 2) ** 2
             + np.cos(a) * np.cos(lat) * np.sin((lon - b) / 2) ** 2)
        d = 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(h))
        best = order_ids[np.lexsort((np.arange(len(ids)),
                                     d[order_ids]))][:k]
        exp = {rank + 1: (ids[j], d[j]) for rank, j in enumerate(best)}
        res = by_q.get(qid, {})
        if sorted(res) != sorted(exp) or any(
                res[r][0] != exp[r][0]
                or abs(res[r][1] - exp[r][1]) > 1e-6 * max(exp[r][1], 1.0)
                for r in exp):
            errors.append(f"knn query {qid}: top-{k} differs")
    return errors


CORPUS_STEPS = ("sample", "clean", "quality", "dedup", "substrings",
                "decontaminate", "chunk", "shuffle", "pack")


class CorpusProbe:
    """`cli corpus`: the checkpointed nine-step corpus chain, run once in
    the composite workload's traced run and checked row for row against
    the lazy `build_corpus_pipeline` form over the same inputs."""

    SIZES = {"full": 1000, "tiny": 150}

    def __init__(self, seed: int, scale: str, work: str):
        self.seed = seed
        self.size = self.SIZES[scale]
        self.work = work

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def config(self) -> dict:
        rng = np.random.default_rng([self.seed, 5])
        sample_seed, shuffle_seed = (int(x) for x in
                                     rng.integers(0, 1 << 30, 2))
        return {
            "sample": {"fractions": {"en": 1.0, "de": 0.5},
                       "strata_col": "lang", "default_fraction": 0.25,
                       "seed": sample_seed},
            "clean": {},
            "quality": {"min_words": 30, "stopwords": inputs.STOPWORDS},
            "dedup": {"num_perm": 64, "bands": 16, "verify_jaccard": 0.6},
            "substrings": {"window": 8},
            "decontaminate": {"window": 8},
            "chunk": {"max_tokens": 40, "overlap": 8},
            "shuffle": {"seed": shuffle_seed, "n_buckets": 64},
            "pack": {"budget": 128, "bucket_size": 256},
        }

    def run(self, spark, tr) -> tuple[dict, list[str]]:
        """Inputs, the lazy reference (it also warms every step's
        operators), one traced checkpointed operation, its check."""
        cfg = self.config()
        table, held_out = inputs.corpus_docs(self.seed, self.size)
        inputs.write_table(table, self.path("docs"), n_files=4)
        inputs.write_table(table.take(pa.array(held_out))
                           .select(["doc_id", "text"]),
                           self.path("benchmark"), n_files=1)
        docs = spark.read.parquet(self.path("docs"))
        bench = spark.read.parquet(self.path("benchmark"))
        exp = corpus.build_corpus_pipeline(docs, cfg,
                                           benchmark=bench).toPandas()
        corpus.release_pipeline_caches()
        dedup.release_survivors_state()
        dedup.release_decontaminate_state()

        out = self.path("out")
        stages = os.path.join(out, "stages")
        t0 = time.perf_counter()
        with tr.span("plans.corpus", "corpus") as sp:
            res = corpus.run_corpus_pipeline_checkpointed(
                docs, cfg, stages, benchmark=bench,
                input_fingerprint=self.path("docs"),
                benchmark_fingerprint=self.path("benchmark"))
            res.write.mode("overwrite").parquet(os.path.join(out, "final"))
        m = {"corpus.op_s": time.perf_counter() - t0}
        # one span per step, bounded by the commit times of the step
        # manifests the runner writes after each stage
        start = sp["start"]
        for k, step in enumerate(CORPUS_STEPS):
            manifest = os.path.join(stages, f"{k:02d}_{step}.manifest.json")
            end = os.stat(manifest).st_mtime
            tr.record(f"corpus.{step}", "corpus", start, end, sp["id"])
            start = end
            with open(manifest) as f:
                m[f"corpus.{step}.rows_out"] = json.load(f).get("rows", 0)

        cols = sorted(exp.columns)
        got = pq.read_table(os.path.join(out, "final")).to_pandas()
        if sorted(got.columns) != cols:
            return m, [f"columns {sorted(got.columns)}"]
        exp = exp[cols].sort_values(cols).reset_index(drop=True)
        got = got[cols].sort_values(cols).reset_index(drop=True)
        if len(got) != len(exp) or not got.equals(exp):
            return m, [f"{len(got)} rows differ from the lazy form's "
                       f"{len(exp)}"]
        return m, []


class Composite(Workload):
    """labels x raster sources: config.run_pipeline with two
    ic_sample_date_ranges sources (median and mosaic) -> parquet."""

    name = "composite"
    ROWS_UNIT = "scenes"
    SIZES = {"full": 120, "tiny": 8}  # cells per scene table
    N_TIMES = 24
    SOURCES = {"median_src": ("scenes_median", "median", 0),
               "mosaic_src": ("scenes_mosaic", "mosaic", 1)}
    BANDS = ["B1", "B2", "B3", "B4"]

    def make_inputs(self):
        self.raw = {}
        self.in_rows = self.in_bytes = 0
        for name, (table_name, _, salt) in self.SOURCES.items():
            t, raw = inputs.scenes(self.seed, salt, self.size, self.N_TIMES)
            self.raw[name] = raw
            self.in_rows += t.num_rows
            self.in_bytes += inputs.write_table(
                t, self.path(table_name), n_files=4, dictionary=False)
            t, _ = inputs.scenes(self.seed + 1, salt,
                                 max(1, self.size // 8), self.N_TIMES)
            inputs.write_table(t, self.path("warm", table_name), n_files=4,
                               dictionary=False)
        self.ranges = reducers.date_ranges("2018-01-01", 4, months=3)

    def _registry(self, root: str) -> Registry:
        reg = Registry()
        for table_name, _, _ in self.SOURCES.values():
            reg.register(TableSource(table_name,
                                     path=os.path.join(root, table_name),
                                     bands=self.BANDS))
        return reg

    def _config(self) -> dict:
        return {"sources": {
            name: {"module": table_name, "algo": "ic_sample_date_ranges",
                   "date_ranges": self.ranges,
                   "sampling_kw": {"reduce_fn": reducer}}
            for name, (table_name, reducer, _) in self.SOURCES.items()}}

    def open(self, spark):
        self.registry = self._registry(self.work)
        for table_name, _, _ in self.SOURCES.values():
            spark.read.parquet(self.path(table_name)).count()

    def warm_up(self, spark):
        self.op(spark, None, Tracer(False), self.path("warm_out"),
                self._registry(self.path("warm")))

    def op(self, spark, i, tr, out, registry=None):
        with tr.span("plans.config", i):
            frames = config.run_pipeline(
                spark, self._config(),
                registry=self.registry if registry is None else registry)
        for name, df in frames.items():
            reducer = self.SOURCES[name][1]
            with tr.span(f"operators.reducers.{reducer}", i):
                df.write.mode("overwrite").parquet(os.path.join(out, name))

    def check(self, spark, outs):
        rng = np.random.default_rng([self.seed, 6])
        errors = []
        bounds = [reducers.range_bounds_ms(r) for r in self.ranges]
        for out in outs:
            for name, (_, reducer, _) in self.SOURCES.items():
                t = pq.read_table(os.path.join(out, name)).to_pandas()
                if len(t) != self.size * len(bounds):
                    errors.append((out, f"{name}: {len(t)} rows, want "
                                        f"{self.size * len(bounds)}"))
                    continue
                for j in rng.choice(len(t), min(12, len(t)),
                                    replace=False):
                    row = t.iloc[int(j)]
                    lo, hi = next((b[0], b[1]) for b in bounds
                                  if b[2] == row["timestamps"])
                    err = self._check_row(name, reducer, row, lo, hi)
                    if err:
                        errors.append((out, f"{name} cell {row['cell']} "
                                            f"ts {row['timestamps']}: {err}"))
        return errors

    def probe(self, spark, tr):
        m, errors = CorpusProbe(self.seed, self.scale,
                                self.path("corpus")).run(spark, tr)
        return m, {"corpus": errors}

    def _check_row(self, name, reducer, row, lo, hi):
        raw = self.raw[name]
        sel = np.nonzero((raw["cell"] == row["cell"]) & (raw["ts"] >= lo)
                         & (raw["ts"] < hi))[0]
        valid = raw["mask"][sel] > 0
        if not np.array_equal(np.asarray(row[f"{name}_mask"]),
                              valid.sum(axis=0)):
            return "valid counts differ"
        if reducer == "mosaic":
            # newest first; ties by crc32(scene_id), larger first
            key = [(-raw["ts"][s], -zlib.crc32(raw["scene_id"][s]
                                               .encode())) for s in sel]
            sel = sel[sorted(range(len(sel)), key=key.__getitem__)]
            valid = raw["mask"][sel] > 0
        for b in self.BANDS:
            vals = raw[b][sel].astype(np.float64)
            got = np.array([np.nan if v is None else v
                            for v in row[f"{name}/{b}"]], np.float64)
            if reducer == "median":
                with np.errstate(all="ignore"):
                    want = np.nanmedian(np.where(valid, vals, np.nan),
                                        axis=0)
                want = np.nan_to_num(want).astype(np.float32)
            else:
                first = np.argmax(valid, axis=0)
                want = vals[first, np.arange(vals.shape[1])] \
                    .astype(np.float32).astype(np.float64)
                want[~valid.any(axis=0)] = np.nan
            if not np.allclose(got, want, rtol=1e-6, equal_nan=True):
                return f"band {b} differs"
        return None


WORKLOADS = {w.name: w for w in (Generate, Composite)}


def fresh_dir(path: str) -> str:
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    return path
