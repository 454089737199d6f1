"""Flagship end-to-end plan: documents -> spatial join -> tiles -> splits.

The Spark restatement of the reference's dataset-generation lifecycle
(/root/reference/geeflow/export_beam_tfds.py:218-252 +
geeflow/pipelines.py:292-424), over the interleaved-document table of
BASELINE.json input_hint:

  docs(doc_id, spans, lat, lon)
    -> S2 cell encode (Arrow-batched)
    -> broadcast PIP join against region polygons (filterBounds + fc_get
       first-match semantics)
    -> UTM tile assignment (UtmGridMapping.from_latlon_center grid math)
    -> geographic split (md5(s2_cell) % 10)
  preserving the span-sequence (kind, text, media_ref, order) row-for-row.

One narrow stage end-to-end on the document side: scan -> encode -> BHJ
-> PIP -> tile math -> split hash. The only shuffle is the final
first-match aggregation (map-side partials shrink it to output size).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from geeflow_spark.functions import coords as coords_lib
from geeflow_spark.functions import utm as utm_lib
from geeflow_spark.operators import spatial_join, splits

_TILE_SCHEMA = StructType([
    StructField("utm_zone", StringType()),
    StructField("tile_x", DoubleType()),
    StructField("tile_y", DoubleType()),
])


def tile_udf(cell_size: float, width: int, height: int | None = None,
             use_floor: bool = False):
    """(lat, lon) -> (utm_zone, tile_x, tile_y): the snapped origin of the
    UtmGridMapping.from_latlon_center ROI (reference coords.py:90-99,
    75-78). Batch-vectorized through our numpy UTM kernels."""
    h = width if height is None else height

    @pandas_udf(_TILE_SCHEMA)
    def _tile(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        e, n, zn, zl = utm_lib.from_latlon(la, lo)
        x0 = e - cell_size * width / 2.0
        y0 = n - cell_size * h / 2.0
        fn = np.floor if use_floor else np.round
        x0 = fn(x0 / cell_size) * cell_size
        y0 = fn(y0 / cell_size) * cell_size
        zone = pd.Series(zn).astype(str) + pd.Series(zl).astype(str)
        return pd.DataFrame({"utm_zone": zone, "tile_x": x0, "tile_y": y0})

    return _tile


def generate_examples(docs: DataFrame, regions: pd.DataFrame, *,
                      cell_level: int = 8, split_level: int = 9,
                      tile_cell_size: float = 10.0, tile_width: int = 96,
                      precomputed_cell: str | None = None
                      ) -> DataFrame:
    """The flagship query. Returns one row per (doc, containing region):
    doc_id, spans, lat, lon, region_id, gridcode, class_name,
    utm_zone, tile_x, tile_y, split.

    Plan shape (scale-first): scan -> ONE mapInPandas pass (S2 encode +
    cover-cell candidate lookup via searchsorted + PIP refine + UTM tile
    + split cell) -> JVM-side md5 split bucket. The cover table (cell ->
    candidate regions) and the rings travel in the task closure - the
    small broadcast side - so the document rows cross the Arrow boundary
    exactly ONCE and the candidate fan-out (the old broadcast hash join,
    2.7x row inflation on the JVM side and a second Arrow round-trip)
    happens as a numpy gather inside the kernel.

    Why this topology beats scan->encode UDF->BHJ->fused UDF at N->4N:
    a Python-UDF stage occupies a JVM task thread AND a python worker
    simultaneously; every extra JVM-side row (join fan-out) and Arrow
    pass adds JVM CPU that competes with the python workers for the
    same cores at high parallelism (measured on this box: JVM task CPU
    inflated 30% from local[4] to local[16] on the old plan; see
    BENCH/BASELINE.md). The document side never shuffles; the only wide
    exchange is whatever aggregation the caller adds downstream.

    `precomputed_cell`: name of a stored S2 cell column at a level >=
    max(cell_level, split_level) - the cell-clustered layout
    (plans/layout.py) writes one precisely so reads skip the trig-heavy
    S2 encode: both the join cell and the split cell derive from the
    stored id by parent() bit math. Combined with layout.read_cells
    restricted to the regions' coarse cover, this is the pruned-scan
    flagship: identical output (parent() is transitive), a fraction of
    the scan. The column passes through to the output (it is part of
    the doc schema).
    """
    from geeflow_spark.functions import geometry, s2
    from geeflow_spark.functions import utm as utm_lib

    covers = spatial_join.region_covers_pdf(regions, cell_level)
    # cell -> flat segment of candidate region ids (sorted for
    # searchsorted lookup inside the kernel).
    cov = covers.sort_values("cell")
    cov_cells = cov["cell"].to_numpy(np.int64)
    cov_rids = cov["region_id"].to_numpy(np.int64)
    uc, ustart, ucnt = np.unique(cov_cells, return_index=True,
                                 return_counts=True)
    rings = {int(r["region_id"]): np.asarray(r["ring"], dtype=np.float64)
             for _, r in regions.iterrows()}
    keep = [c for c in ("gridcode", "class_name") if c in regions.columns]
    reg_ids_sorted = np.sort(regions["region_id"].to_numpy(np.int64))
    reg_order = np.argsort(regions["region_id"].to_numpy(np.int64))
    prop_arrays = {c: regions[c].to_numpy()[reg_order] for c in keep}

    doc_fields = list(docs.schema.fields)
    out_schema = StructType(
        doc_fields
        + [StructField("region_id", LongType())]
        + [StructField("gridcode", LongType()) if c == "gridcode"
           else StructField("class_name", StringType()) for c in keep]
        + [StructField("utm_zone", StringType()),
           StructField("tile_x", DoubleType()),
           StructField("tile_y", DoubleType()),
           StructField("split_cell", LongType())])
    doc_cols = [f.name for f in doc_fields]
    lat_ix = doc_cols.index("lat")
    lon_ix = doc_cols.index("lon")
    pc_ix = (doc_cols.index(precomputed_cell)
             if precomputed_cell is not None else None)

    # mapInArrow, not mapInPandas: the document payload (spans - nested
    # array<struct> columns) passes through as Arrow buffers and the
    # candidate fan-out gather is one RecordBatch.take - no
    # pandas-object materialization of the payload in either direction.
    # (Measured on the 1M-doc flagship: the pandas round-trip of the
    # spans column was ~30% of wall.)
    # String outputs (utm_zone, class props) are built as C++ takes
    # from small precomputed dictionaries - python never touches a
    # per-row string object (the per-object conversion was the python
    # workers' hottest serial section under 16-way concurrency).
    from geeflow_spark.functions.utm import ZONE_LETTERS
    zone_strings = [f"{z}{letter}" for z in range(1, 61)
                    for letter in ZONE_LETTERS + "Z"]

    def _kernel(batches):
        import pyarrow as pa
        half = tile_cell_size * tile_width / 2.0
        zone_dict = pa.array(zone_strings, type=pa.string())
        prop_pa = {c: pa.array(prop_arrays[c].tolist(),
                               type=pa.int64() if c == "gridcode"
                               else pa.string())
                   for c in keep}
        for rb in batches:
            n = rb.num_rows
            if n == 0 or len(uc) == 0:
                continue
            la = rb.column(lat_ix).to_numpy(zero_copy_only=False) \
                .astype(np.float64, copy=False)
            lo = rb.column(lon_ix).to_numpy(zero_copy_only=False) \
                .astype(np.float64, copy=False)
            if pc_ix is not None:
                # stored fine cell: both levels are parent() bit math -
                # no S2 encode at read time at all.
                leaf = rb.column(pc_ix).to_numpy(zero_copy_only=False) \
                    .astype(np.int64, copy=False)
                # parent()'s lsb trick only goes COARSER: a stored cell
                # coarser than either consumer level would yield a
                # malformed finer id - and silently wrong join cells /
                # md5 split buckets. Enforce the docstring contract at
                # runtime (one vectorized min per Arrow batch, ~free).
                need = max(cell_level, split_level)
                have = int(s2.level_of(leaf).min())
                if have < need:
                    raise RuntimeError(
                        f"precomputed_cell column {precomputed_cell!r} "
                        f"holds level-{have} cells but generate_examples"
                        f" needs level >= {need} (max of cell_level="
                        f"{cell_level}, split_level={split_level}); "
                        f"re-encode or store a finer cell")
            else:
                # ONE leaf encode serves both levels (parent = bit math).
                leaf = s2.latlon_to_cell_id(la, lo)
            cells = s2.parent(leaf, cell_level).astype(np.int64)
            # candidate (doc, region) pairs via the cover segments
            pos = np.searchsorted(uc, cells)
            posc = np.minimum(pos, len(uc) - 1)
            match = uc[posc] == cells
            cnt = np.where(match, ucnt[posc], 0).astype(np.int64)
            total = int(cnt.sum())
            if total == 0:
                continue
            doc_ix = np.repeat(np.arange(n), cnt)
            within = (np.arange(total)
                      - np.repeat(np.cumsum(cnt) - cnt, cnt))
            rid = cov_rids[np.repeat(ustart[posc], cnt) + within]
            # exact PIP refine per region on the paired coords
            pla, plo = la[doc_ix], lo[doc_ix]
            inside = np.zeros(total, dtype=bool)
            for r in np.unique(rid):
                ring = rings.get(int(r))
                if ring is None:
                    continue
                m = rid == r
                inside[m] = geometry.points_in_polygon(plo[m], pla[m],
                                                       ring)
            doc_ix, rid = doc_ix[inside], rid[inside]
            if len(doc_ix) == 0:
                continue
            # per-DOC tile + split (computed once per doc, gathered)
            e, nn, zn, zl = utm_lib.from_latlon(la, lo)
            x0 = np.round((e - half) / tile_cell_size) * tile_cell_size
            y0 = np.round((nn - half) / tile_cell_size) * tile_cell_size
            # zone code -> dictionary take (same letter rule as
            # utm.latitude_to_zone_letter; 'Z' = index 21)
            li = np.where((la >= -80) & (la <= 84),
                          np.clip(((la + 80.0) / 8.0).astype(np.int64),
                                  0, 20), 21)
            zone_code = (zn - 1) * 22 + li
            scells = s2.parent(leaf, split_level).astype(np.int64)
            base = rb.take(pa.array(doc_ix, type=pa.int64()))
            ridx = np.searchsorted(reg_ids_sorted, rid)
            extras = [pa.array(rid, type=pa.int64())]
            for c in keep:
                extras.append(prop_pa[c].take(
                    pa.array(ridx, type=pa.int64())))
            extras += [zone_dict.take(pa.array(zone_code[doc_ix],
                                               type=pa.int64())),
                       pa.array(x0[doc_ix], type=pa.float64()),
                       pa.array(y0[doc_ix], type=pa.float64()),
                       pa.array(scells[doc_ix], type=pa.int64())]
            yield pa.RecordBatch.from_arrays(
                [base.column(i) for i in range(base.num_columns)] + extras,
                names=[f.name for f in out_schema.fields])

    refined = docs.mapInArrow(_kernel, out_schema)
    bucket = splits.md5_mod10_col(F.col("split_cell"))
    return (refined
            .withColumn("split",
                        F.when(bucket == 9, "test")
                         .when(bucket == 8, "val")
                         .otherwise("train"))
            .drop("split_cell")
            .select(*doc_cols, "region_id", *keep,
                    "utm_zone", "tile_x", "tile_y", "split"))
