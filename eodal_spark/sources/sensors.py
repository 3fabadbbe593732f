"""Per-sensor source adapters — the named layer over the generic
scale/mask/bit primitives.

The reference binds each sensor to a column map plus radiometric and QA
rules in per-sensor classes:

* Sentinel-2 — gain 1e-4 for every baseline; scenes processed with PDGS
  baseline >= 400 additionally carry a -0.1 reflectance offset
  (`eodal/core/sensors/sentinel2.py:100-121`,
  `eodal/utils/constants/sentinel2.py:189`).
* Landsat — pixel-quality band `qa_pixel`; clouds/shadows are the OR of
  single-bit classes [1, 2, 3, 5], water is bit 7
  (`eodal/core/sensors/landsat.py:354-519`, ``:559-671``).
* Sentinel-1 — a polarization selection (VV/VH), no QA band
  (`eodal/core/sensors/sentinel1.py:94-160`).
* SuperDove — analytic blue/green/red/nir with a plain gain
  (`eodal/core/sensors/planet_scope.py`).

Here an adapter is *data*, not a class hierarchy: a frozen config the
generic `apply_adapter` turns into one fused projection — logical-band
renames, per-row conditional gain/offset (the baseline switch becomes a
``when`` over a baseline column), and named boolean QA masks.  Nothing
here touches Python rows; it all stays whole-stage codegen.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eodal_spark.operators.algebra import mask_from_bits


def cloud_shadow_mask(qa: Column, classes: tuple[int, ...] = (1, 2, 3, 5)) -> Column:
    """`Landsat.get_cloud_and_shadow_mask` (`landsat.py:559-630`): OR of
    the single-bit QA classes — one bitwise AND against the combined
    pattern instead of a per-class loop."""
    pattern = 0
    for c in classes:
        pattern |= 1 << c
    return qa.cast("long").bitwiseAND(F.lit(pattern)) != 0


def water_mask(qa: Column, water_class: int = 7) -> Column:
    """`Landsat.get_water_mask` (`landsat.py:632-671`): bit
    ``water_class`` of the QA band."""
    return mask_from_bits(qa, water_class, 1) == 1


@dataclass(frozen=True)
class SensorAdapter:
    """A named sensor source: logical-band column map + radiometric and
    QA rules.  ``offset_by_baseline`` maps a minimum baseline to the
    offset that applies from it onward (checked descending)."""

    name: str
    band_map: dict[str, str] = field(default_factory=dict)
    gain: float = 1.0
    offset: float = 0.0
    offset_by_baseline: tuple[tuple[int, float], ...] = ()
    qa_band: str | None = None
    # "bits": QA is a bitmask (Landsat qa_pixel) — cloud_classes are bit
    # positions; "classes": QA is categorical (Sentinel-2 SCL) —
    # cloud_classes are class codes tested with isin
    qa_kind: str = "bits"
    cloud_classes: tuple[int, ...] = ()
    water_class: int | None = None
    nodata: int = 0

    def scale(self, raw: Column, baseline: Column | None = None) -> Column:
        """DN → physical value, skipping nodata (≡ `Sentinel2.from_safe`
        apply_scaling, `sentinel2.py:100-121` + `band.py:2205-2259`)."""
        off: Column | float = F.lit(self.offset)
        if self.offset_by_baseline:
            if baseline is None:
                raise ValueError(
                    f"{self.name}: offset depends on the processing baseline; "
                    f"pass the baseline column"
                )
            expr = F.lit(self.offset)
            for min_bl, o in sorted(self.offset_by_baseline):
                expr = F.when(baseline >= min_bl, F.lit(o)).otherwise(expr)
            off = expr
        scaled = raw.cast("double") * F.lit(self.gain) + off
        return F.when(raw == self.nodata, None).otherwise(scaled)


_REGISTRY: dict[str, SensorAdapter] = {}


def register_adapter(adapter: SensorAdapter) -> None:
    _REGISTRY[adapter.name] = adapter


def get_adapter(name: str) -> SensorAdapter:
    if name not in _REGISTRY:
        raise ValueError(f"unknown sensor {name!r}; known: {sorted(_REGISTRY)}")
    return _REGISTRY[name]


def list_adapters() -> list[str]:
    return sorted(_REGISTRY)


register_adapter(
    SensorAdapter(
        name="sentinel2",
        band_map={
            "blue": "B02", "green": "B03", "red": "B04",
            "rededge": "B05", "rededge3": "B07",
            "nir": "B08", "swir": "B11", "swir2": "B12", "scl": "SCL",
        },
        gain=0.0001,                      # s2_gain_factor (constants:189)
        offset_by_baseline=((400, -0.1),),  # PDGS >= N0400 (sentinel2.py:118-121)
        qa_band="SCL",
        qa_kind="classes",                # SCL is categorical, not a bitmask
        # mask_clouds_and_shadows default classes (sentinel2.py:606)
        cloud_classes=(1, 2, 3, 7, 8, 9, 10, 11),
    )
)
register_adapter(
    SensorAdapter(
        name="landsat",
        band_map={
            "blue": "blue", "green": "green", "red": "red",
            "nir": "nir08", "swir": "swir16", "swir2": "swir22",
            "qa": "qa_pixel",
        },
        gain=0.0000275, offset=-0.2,      # Collection-2 L2 reflectance
        qa_band="qa_pixel",
        cloud_classes=(1, 2, 3, 5),       # landsat.py:564 default
        water_class=7,                    # landsat.py:636 default
    )
)
register_adapter(
    SensorAdapter(
        name="sentinel1",
        band_map={"vv": "VV", "vh": "VH"},  # sentinel1.py:97 defaults
        gain=1.0,
    )
)
register_adapter(
    SensorAdapter(
        name="superdove",
        band_map={"blue": "b2", "green": "b4", "red": "b6", "nir": "b8"},
        gain=0.0001,
    )
)


def apply_adapter(
    df: DataFrame,
    adapter: SensorAdapter | str,
    bands: tuple[str, ...] | None = None,
    baseline_col: str | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """One fused projection: physical columns → scaled logical bands
    (+ named QA masks when the adapter defines them).

    ``bands`` selects logical bands (default: all mapped); columns in
    ``keep`` pass through unscaled.  The result carries ``cloud_mask`` /
    ``water_mask`` boolean columns for QA-equipped adapters — the
    DataFrame twin of `mask_clouds_and_shadows`."""
    if isinstance(adapter, str):
        adapter = get_adapter(adapter)
    qa_logical = {"scl", "qa"}
    if bands is None:
        bands = tuple(b for b in adapter.band_map if b not in qa_logical)
    baseline = F.col(baseline_col) if baseline_col else None
    cols = [F.col(c) for c in keep]
    for b in bands:
        phys = adapter.band_map[b]
        if b in qa_logical:
            # QA/SCL bands are categorical or bitmask codes — NEVER
            # radiometrically scaled; pass through raw
            cols.append(F.col(phys).alias(b))
        else:
            cols.append(adapter.scale(F.col(phys), baseline).alias(b))
    qa_phys = next(
        (adapter.band_map[b] for b in qa_logical if b in adapter.band_map),
        adapter.qa_band,
    )
    # masks only when the QA column is actually present in this frame
    # (metadata-only scans legitimately omit it)
    if adapter.cloud_classes and qa_phys and qa_phys in df.columns:
        qa = F.col(qa_phys)
        if adapter.qa_kind == "classes":
            # categorical scene classification (S2 SCL): class membership
            cols.append(
                qa.isin([int(c) for c in adapter.cloud_classes]).alias("cloud_mask")
            )
        else:
            cols.append(
                cloud_shadow_mask(qa, adapter.cloud_classes).alias("cloud_mask")
            )
        if adapter.water_class is not None:
            cols.append(water_mask(qa, adapter.water_class).alias("water_mask"))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# .SAFE product-name utilities (reference: eodal/utils/sentinel2.py)
# ---------------------------------------------------------------------------
# The reference parses ESA .SAFE dataset names with Python str.split in a
# driver loop; here each helper is a pure Catalyst Column expression so the
# parse runs JVM-side inside whole-stage codegen over billions of product
# URIs.  SAFE naming convention (underscore-separated fields):
#   S2A_MSIL2A_20220101T103421_N0301_R108_T32TMT_20220101T120000.SAFE
#    [0]   [1]       [2]        [3]   [4]   [5]          [6]


def safe_name_from_url(url: Column | str) -> Column:
    """Extract the ``.SAFE`` dataset name from a STAC asset href —
    the path segment starting with ``S2`` and ending ``.SAFE``
    (`eodal/utils/sentinel2.py:40-55` ``_url_to_safe_name``)."""
    url = F.col(url) if isinstance(url, str) else url
    seg = F.filter(
        F.split(url, "/"),
        lambda x: x.startswith("S2") & x.endswith(".SAFE"),
    )
    # F.get (not element_at): NULL on a miss — element_at on an empty
    # array THROWS under Spark 4's default ANSI mode
    return F.get(seg, 0)


def s2_processing_level(safe: Column | str) -> Column:
    """``L1C`` / ``L2A`` from the product-type field; NULL when neither
    marker occurs (the reference raises — relationally that is a NULL the
    caller filters or asserts on; `sentinel2.py:58-78`)."""
    safe = F.col(safe) if isinstance(safe, str) else safe
    return (
        F.when(safe.contains("MSIL1C") | safe.contains("l1c"), F.lit("L1C"))
        .when(safe.contains("MSIL2A") | safe.contains("l2a"), F.lit("L2A"))
    )


def s2_acquisition_time(safe: Column | str) -> Column:
    """Sensing start as a timestamp from field [2] (``yyyyMMdd'T'HHmmss``;
    `sentinel2.py:81-96`)."""
    safe = F.col(safe) if isinstance(safe, str) else safe
    return F.try_to_timestamp(
        F.get(F.split(safe, "_"), 2), F.lit("yyyyMMdd'T'HHmmss")
    )


def s2_processing_baseline(safe: Column | str) -> Column:
    """PDGS processing-baseline int from field [3] (``N0400`` → 400;
    `sentinel2.py:112-127`).  Feeds the baseline>=400 offset switch in the
    Sentinel-2 adapter."""
    safe = F.col(safe) if isinstance(safe, str) else safe
    return (
        F.replace(F.get(F.split(safe, "_"), 3), F.lit("N"), F.lit(""))
        .try_cast("int")
    )


def s2_platform(safe: Column | str) -> Column:
    """Platform (``S2A``/``S2B``) = field [0] (`sentinel2.py:130-145`)."""
    safe = F.col(safe) if isinstance(safe, str) else safe
    return F.get(F.split(safe, "_"), 0)


def s2_tile(safe: Column | str) -> Column:
    """MGRS tile id (``T32TMT``) = field [5]."""
    safe = F.col(safe) if isinstance(safe, str) else safe
    return F.get(F.split(safe, "_"), 5)


