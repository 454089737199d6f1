"""Per-pixel mask + radiometric kernels (numpy, Arrow-batch friendly).

Re-derivations of the reference's cloud-mask and radiometric functions
with the same bit/threshold semantics (file:line cited per function).
These run over flat pixel arrays (any shape) inside pandas UDFs, or on
scalar Spark columns via the *_col twins where expressible JVM-side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def s2_qa60_cloud_mask(qa60: np.ndarray) -> np.ndarray:
    """Sentinel-2 QA60 bitmask: clear iff bits 10 (cloud) and 11 (cirrus)
    are both 0 (reference ee_data.py:229-237). Returns 1=clear, 0=cloud."""
    qa = np.asarray(qa60).astype(np.int64)
    cloud_bit = 1 << 10
    cirrus_bit = 1 << 11
    return (((qa & cloud_bit) == 0) & ((qa & cirrus_bit) == 0)).astype(np.uint8)


def s2_cdi_prob_cloud_mask(cloud_probability: np.ndarray, cdi: np.ndarray,
                           cirrus_b10: np.ndarray,
                           cloud_prob_min: float = 65,
                           cdi_max: float = -0.5,
                           cirrus_min: float = 0.01) -> np.ndarray:
    """CDI+probability+cirrus variant (ee_data.py:240-251):
    cloud iff (prob > min AND cdi < max) OR cirrus*1e-4 > cirrus_min.
    Returns 1=clear."""
    prob = np.asarray(cloud_probability, dtype=np.float64)
    cdi = np.asarray(cdi, dtype=np.float64)
    cirrus = np.asarray(cirrus_b10, dtype=np.float64) * 0.0001
    is_cloud = ((prob > cloud_prob_min) & (cdi < cdi_max)) | \
        (cirrus > cirrus_min)
    return (~is_cloud).astype(np.uint8)


def s2_cloud_score_plus_mask(cs_band: np.ndarray,
                             cloud_prob_min: float = 40) -> np.ndarray:
    """CloudScore+ variant (ee_data.py:253-263): clear iff
    cs >= 1 - cloud_prob_min/100. The scene-id join that attaches the cs
    band is a plain equi-join on scene_id upstream (≙ linkCollection)."""
    clear_threshold = 1 - cloud_prob_min / 100.0
    return (np.asarray(cs_band, dtype=np.float64)
            >= clear_threshold).astype(np.uint8)


def landsat_qa_cloud_mask(qa_pixel: np.ndarray,
                          qa_radsat: np.ndarray) -> np.ndarray:
    """Landsat 5/7/8/9 QA mask (ee_data.py:298-306): bad iff any of the
    low 5 QA_PIXEL bits set (fill/dilated/cirrus/cloud/shadow) OR any
    radiometric saturation. Returns 1=good."""
    qa_bitmask = int("11111", 2)
    is_cloud = (np.asarray(qa_pixel).astype(np.int64) & qa_bitmask) != 0
    is_sat = np.asarray(qa_radsat).astype(np.int64) != 0
    return (~(is_cloud | is_sat)).astype(np.uint8)


def gedi_quality_mask(quality_flag: np.ndarray,
                      degrade_flag: np.ndarray) -> np.ndarray:
    """GEDI shot quality (ee_data.py:715-719): quality==1 AND degrade==0."""
    return ((np.asarray(quality_flag).astype(np.int64) == 1) &
            (np.asarray(degrade_flag).astype(np.int64) == 0)).astype(np.uint8)


def alos_to_gamma0(dn: np.ndarray) -> np.ndarray:
    """ALOS PALSAR 16-bit DN -> gamma-zero backscatter dB:
    10*log10(DN^2) - 83 (ee_data.py:176-179)."""
    return 10 * np.log10(np.asarray(dn, dtype=np.float64) ** 2) - 83.0


def vis_norm(img: np.ndarray, v_min: float, v_max: float) -> np.ndarray:
    """Clip-scale normalization to [0,1] (ee_data.py:133-136 et al.)."""
    img = np.asarray(img, dtype=np.float64)
    return np.clip((img - v_min) / (v_max - v_min), 0, 1)


# Source-specific vis ranges (reference classmethods).
VIS_RANGES = {
    "sentinel1": (-25, 5),      # ee_data.py:133-136
    "alos": (0.0, 10000.0),     # ee_data.py:171-174
    "sentinel2": (0, 3000),     # ee_data.py:199-202
    "landsat": (7000, 30000),   # ee_data.py:283-289 (SR scale)
}


def temp_scaling(probs: np.ndarray, temp: float,
                 eps: float = 1e-10) -> np.ndarray:
    """Temperature scaling of probabilities via pseudo-logits
    (export_rasters.py:145-150): clip to (eps, 1-eps), logit, /temp,
    sigmoid."""
    probs = np.clip(np.asarray(probs, dtype=np.float64), eps, 1 - eps)
    pseudo_logits = np.log(probs / (1 - probs))
    return 1 / (1 + np.exp(-pseudo_logits / temp))


# --- JVM-side column twins (for scalar/per-row mask columns) -------------

def s2_qa60_cloud_mask_col(qa60: Column) -> Column:
    return ((qa60.bitwiseAND(1 << 10) == 0) &
            (qa60.bitwiseAND(1 << 11) == 0)).cast("tinyint")


def landsat_qa_cloud_mask_col(qa_pixel: Column, qa_radsat: Column) -> Column:
    return (~((qa_pixel.bitwiseAND(int("11111", 2)) != 0) |
              (qa_radsat != 0))).cast("tinyint")


def cloud_percentage_filter(df, percentage: float,
                            col: str = "CLOUDY_PIXEL_PERCENTAGE"):
    """Metadata cloud filter (ee_data.py:205-212 S2 `< p`; the Landsat
    variant additionally requires CLOUD_COVER >= 0, ee_data.py:291-296)."""
    return df.filter(F.col(col) < percentage)
