"""K1/K2/K3 + U2/U3/U4: raster & NetCDF-slice encode sinks.

The reference's per-leadtime process pool (``stac/generator.py:781-789``)
becomes ``groupBy(collection, forecast_reference_time, leadtime_idx)
.applyInPandas(...)`` — each Spark task rebuilds one grid from long
rows and encodes one file, so parallelism is the number of
(init, leadtime) groups instead of a 4-worker pool, and the only
cross-node traffic is Spark's own shuffle of the grouped cells.

Grid reconstruction order is explicit — ``yc`` descending (north-up
raster convention), ``xc`` ascending, bands sorted by variable name —
making the long→grid round trip deterministic (SURVEY §7 hard-point b).

Encoders are pluggable:
- :func:`rio_cogeo_encoder` — real COG (256-px tiles, 4 overview
  levels, DEFLATE, average resampling; ref ``cog.py:16-126``) behind
  an import-try, since the raster stack isn't in this container;
- :func:`fake_tiff_encoder` — deterministic zlib container carrying
  the same array + per-band stats tags, so the Spark plumbing (group
  shapes, ordering, skip-existing, checksums) is fully testable.
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib
from collections.abc import Callable
from pathlib import Path

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

Encoder = Callable[[np.ndarray, list[str], dict], bytes]
# writes the external overview sidecar beside an already-written COG
ExternalOverviews = Callable[[Path, np.ndarray], None]

COG_RESULT_SCHEMA = StructType(
    [
        StructField("collection", StringType()),
        StructField("forecast_reference_time", TimestampType()),
        StructField("leadtime_idx", IntegerType()),
        StructField("path", StringType()),
        StructField("n_bands", IntegerType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("size", LongType()),
        StructField("multihash", StringType()),
        StructField("skipped", BooleanType()),
    ]
)

NETCDF_RESULT_SCHEMA = StructType(
    [
        StructField("collection", StringType()),
        StructField("forecast_reference_time", TimestampType()),
        StructField("path", StringType()),
        StructField("n_variables", IntegerType()),
        StructField("size", LongType()),
        StructField("multihash", StringType()),
        StructField("skipped", BooleanType()),
    ]
)


def _tmp_suffix() -> str:
    """Globally unique tmp-name suffix. A pid alone collides when two
    attempts of the same task (speculative execution, zombie after a
    partition) run on DIFFERENT hosts sharing the output filesystem
    and happen to share a pid — attempt B would truncate the tmp file
    attempt A is about to os.replace, promoting torn bytes past the
    atomic-write guarantee."""
    import uuid

    return f".tmp.{os.getpid()}.{uuid.uuid4().hex[:12]}"


def atomic_write_bytes(path: Path, data: bytes) -> None:
    """Crash-safe output write: tmp file in the same directory +
    ``os.replace`` (atomic on POSIX), so a task dying mid-write can
    never leave a truncated file that a later skip-existing run
    (which keys on existence) would treat as complete."""
    tmp = path.with_name(path.name + _tmp_suffix())
    tmp.write_bytes(data)
    os.replace(tmp, path)


def multihash_md5(data: bytes) -> str:
    """F9/F10: md5 multihash — VARINT fn code + length + digest
    (ref ``stac/utils.py:17-56``). The md5 code 0xd5 has its high bit
    set, so the multihash varint encoding is TWO bytes (d5 01); a
    bare 'd5' prefix would parse as a continuation byte and every
    spec-compliant consumer (multihash.decode, pgSTAC checksum
    validation) would reject the digest."""
    return "d50110" + hashlib.md5(data).hexdigest()


def grid_from_long(pdf: pd.DataFrame) -> tuple[np.ndarray, list[str], np.ndarray, np.ndarray]:
    """Rebuild a (band, y, x) array from long rows, north-up."""
    ys = np.sort(pdf["yc"].unique())[::-1]  # yc descending
    xs = np.sort(pdf["xc"].unique())  # xc ascending
    bands = sorted(pdf["variable"].unique())
    y_pos = {v: i for i, v in enumerate(ys)}
    x_pos = {v: i for i, v in enumerate(xs)}
    arr = np.full((len(bands), len(ys), len(xs)), np.nan)
    for bi, var in enumerate(bands):
        sub = pdf[pdf["variable"] == var]
        arr[
            bi,
            sub["yc"].map(y_pos).to_numpy(),
            sub["xc"].map(x_pos).to_numpy(),
        ] = sub["value"].to_numpy()
    return arr, bands, ys, xs


# --- Dependency-free tiled-TIFF writer -------------------------------
# The deterministic encoder emits a STRUCTURALLY VALID little-endian
# TIFF 6.0: 256-px tiles (the reference COG profile's block size, ref
# ``cog.py:20``), DEFLATE-compressed planar float64 tile data, and
# per-band STATISTICS_* + band-name items in a GDAL_METADATA ASCII
# tag exactly where GDAL stores them (ref ``cog.py:79-87``). With
# ``meta["overviews"]`` it chains /2,/4,/8,/16 reduced-resolution IFD
# pages (NewSubfileType=1, average resampling — ref ``cog.py:63-66``),
# i.e. the COG layout. The repo's own pure-Python IFD walker
# (``sources/raster_probe.py``) parses these files back — closing the
# K2 -> S5 round trip without rasterio in the loop.

TIFF_TILE = 256

# TIFF 6.0 field types / tag ids used by the writer.
_T_ASCII, _T_SHORT, _T_LONG = 2, 3, 4


def _gdal_metadata_xml(arr: np.ndarray, bands: list[str]) -> str:
    """GDAL_METADATA payload: band descriptions + nan-stats items in
    GDAL's XML shape (``<Item name=... sample=N>``)."""
    from xml.sax.saxutils import escape

    items = []
    for i, name in enumerate(bands):
        b = arr[i]
        # escape band (variable) names: a '<' or '&' in the name would
        # otherwise emit malformed XML that GDAL rejects and the
        # probe's [^<]* capture truncates
        items.append(
            f'  <Item name="DESCRIPTION" sample="{i}" '
            f'role="description">{escape(name)}</Item>'
        )
        for key, val in (
            ("STATISTICS_MINIMUM", np.nanmin(b)),
            ("STATISTICS_MAXIMUM", np.nanmax(b)),
            ("STATISTICS_MEAN", np.nanmean(b)),
            ("STATISTICS_STDDEV", np.nanstd(b)),
        ):
            # repr round-trips doubles exactly; the probe's float()
            # parse recovers the identical bits
            items.append(f'  <Item name="{key}" sample="{i}">{float(val)!r}</Item>')
    return "<GDALMetadata>\n" + "\n".join(items) + "\n</GDALMetadata>\n"


def _append_tiff_page(
    buf: bytearray,
    arr: np.ndarray,
    bands: list[str],
    subfile_type: int,
    with_meta: bool,
    tile: int = TIFF_TILE,
) -> tuple[int, int]:
    """Append one IFD page (tile data, external arrays, IFD) to
    ``buf``; returns ``(ifd_offset, next_ifd_pointer_position)``.
    Planar configuration 2: each band's tiles are stored separately,
    row-major, bands in order — tile count = bands * tiles_y * tiles_x."""
    nb, h, w = arr.shape
    a = np.ascontiguousarray(arr, dtype="<f8")
    ty_n, tx_n = -(-h // tile), -(-w // tile)
    offsets: list[int] = []
    counts: list[int] = []
    for b in range(nb):
        padded = np.full((ty_n * tile, tx_n * tile), np.nan, dtype="<f8")
        padded[:h, :w] = a[b]
        for ty in range(ty_n):
            for tx in range(tx_n):
                blob = zlib.compress(
                    padded[
                        ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile
                    ].tobytes(),
                    6,
                )
                if len(buf) % 2:
                    buf += b"\x00"
                offsets.append(len(buf))
                counts.append(len(blob))
                buf += blob
    entries: list[tuple[int, int, int, bytes]] = [
        (254, _T_LONG, 1, struct.pack("<I", subfile_type)),  # NewSubfileType
        (256, _T_LONG, 1, struct.pack("<I", w)),  # ImageWidth
        (257, _T_LONG, 1, struct.pack("<I", h)),  # ImageLength
        (258, _T_SHORT, nb, struct.pack(f"<{nb}H", *([64] * nb))),  # BitsPerSample
        (259, _T_SHORT, 1, struct.pack("<H", 8)),  # Compression: DEFLATE
        (262, _T_SHORT, 1, struct.pack("<H", 1)),  # Photometric: BlackIsZero
        (277, _T_SHORT, 1, struct.pack("<H", nb)),  # SamplesPerPixel
        (284, _T_SHORT, 1, struct.pack("<H", 2)),  # PlanarConfig: separate
        (322, _T_SHORT, 1, struct.pack("<H", tile)),  # TileWidth
        (323, _T_SHORT, 1, struct.pack("<H", tile)),  # TileLength
        (324, _T_LONG, len(offsets), struct.pack(f"<{len(offsets)}I", *offsets)),
        (325, _T_LONG, len(counts), struct.pack(f"<{len(counts)}I", *counts)),
        (339, _T_SHORT, nb, struct.pack(f"<{nb}H", *([3] * nb))),  # IEEE float
    ]
    if with_meta:
        xml = _gdal_metadata_xml(arr, bands).encode() + b"\x00"
        entries.append((42112, _T_ASCII, len(xml), xml))  # GDAL_METADATA
    recs = []
    for tag, typ, count, data in sorted(entries):
        if len(data) <= 4:
            val = data + b"\x00" * (4 - len(data))
        else:
            if len(buf) % 2:
                buf += b"\x00"
            val = struct.pack("<I", len(buf))
            buf += data
        recs.append(struct.pack("<HHI", tag, typ, count) + val)
    if len(buf) % 2:
        buf += b"\x00"
    ifd_off = len(buf)
    buf += struct.pack("<H", len(recs)) + b"".join(recs)
    next_ptr_pos = len(buf)
    buf += struct.pack("<I", 0)
    return ifd_off, next_ptr_pos


def fake_tiff_encoder(arr: np.ndarray, bands: list[str], meta: dict) -> bytes:
    """Deterministic stand-in for rio-cogeo that is nonetheless a
    structurally valid tiled TIFF (256-px DEFLATE tiles, per-band
    GDAL_METADATA stats tags — the A3/A4 values the real writer
    embeds, ref ``cog.py:78-87``), parseable by
    ``sources.raster_probe.parse_tiff_header``. Pass
    ``meta={"overviews": True}`` to chain the /2,/4,/8,/16
    average-resampled overview pages (COG layout, ref ``cog.py:63-66``)."""
    buf = bytearray(struct.pack("<2sHI", b"II", 42, 0))
    a = np.asarray(arr, dtype="float64")
    pages: list[tuple[np.ndarray, int, bool]] = [(a, 0, True)]
    if meta.get("overviews"):
        for level in OVERVIEW_LEVELS:
            ov = np.stack([average_downsample(b, level) for b in a])
            pages.append((ov, 1, False))
    ptr_pos = 4  # header's first-IFD pointer
    for page_arr, sft, with_meta in pages:
        ifd_off, next_ptr = _append_tiff_page(buf, page_arr, bands, sft, with_meta)
        struct.pack_into("<I", buf, ptr_pos, ifd_off)
        ptr_pos = next_ptr
    return bytes(buf)


def rio_cogeo_encoder(arr: np.ndarray, bands: list[str], meta: dict) -> bytes:
    """Real COG encode matching the reference's profile: GTiff,
    256x256 blocks, overview levels /2,/4,/8,/16 with average
    resampling, DEFLATE (ref ``cog.py:16-126``)."""
    try:
        import io

        import rasterio
        from rasterio.io import MemoryFile
        from rio_cogeo.cogeo import cog_translate
        from rio_cogeo.profiles import cog_profiles
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "COG encoding needs rasterio+rio-cogeo; inject "
            "fake_tiff_encoder in environments without them"
        ) from exc
    profile = {
        "driver": "GTiff",
        "count": arr.shape[0],
        "height": arr.shape[1],
        "width": arr.shape[2],
        "dtype": str(arr.dtype),
        "crs": meta.get("crs"),
        "transform": meta.get("transform"),
    }
    with MemoryFile() as mem:
        with mem.open(**profile) as dst:
            dst.write(arr)
            for bi, name in enumerate(bands, start=1):
                dst.set_band_description(bi, name)
                band = arr[bi - 1]
                dst.update_tags(
                    bi,
                    STATISTICS_MINIMUM=float(np.nanmin(band)),
                    STATISTICS_MAXIMUM=float(np.nanmax(band)),
                    STATISTICS_MEAN=float(np.nanmean(band)),
                    STATISTICS_STDDEV=float(np.nanstd(band)),
                )
        dst_profile = cog_profiles.get("deflate")
        dst_profile.update({"blockxsize": 256, "blockysize": 256})
        out = io.BytesIO()
        with mem.open() as src:
            cog_translate(
                src,
                out,
                dst_profile,
                overview_level=4,
                overview_resampling="average",
                in_memory=True,
                forward_band_tags=True,
                quiet=True,
            )
        return out.getvalue()


def fake_jpeg_encoder(arr: np.ndarray, bands: list[str], meta: dict) -> bytes:
    """Thumbnail stand-in (ref renders band 0 with matplotlib RdBu_r,
    5x5in @300dpi, ``stac/generator.py:1011-1033``); deterministic
    bytes derived from band 0 only."""
    band0 = np.nan_to_num(arr[0], nan=0.0)
    return b"FAKEJPG1" + zlib.compress(band0.astype("float32").tobytes(), 6)


def matplotlib_jpeg_encoder(arr: np.ndarray, bands: list[str], meta: dict) -> bytes:
    """K3/U4 real thumbnail: band 0 rendered with matplotlib exactly
    like the reference — RdBu_r colormap, 5x5 in @ 300 dpi, no axes,
    no title, tight bbox (ref ``_create_and_write_thumbnail``,
    ``stac/generator.py:1011-1033``). Behind an import guard
    (matplotlib is not in this container); inject
    :func:`fake_jpeg_encoder` where absent."""
    try:
        import io

        import matplotlib
        matplotlib.use("Agg")  # headless executors
        import matplotlib.pyplot as plt
    except ImportError as exc:
        raise NotImplementedError(
            "thumbnail rendering needs matplotlib; inject "
            "fake_jpeg_encoder in environments without it"
        ) from exc
    fig = plt.figure(figsize=(5, 5), dpi=300, constrained_layout=True)
    plt.imshow(arr[0], cmap="RdBu_r")
    plt.title("")
    plt.axis("off")
    buf = io.BytesIO()
    plt.savefig(buf, format="jpg", pad_inches=0, bbox_inches="tight", transparent=False)
    plt.close(fig)
    return buf.getvalue()


def default_thumbnail_encoder(arr: np.ndarray, bands: list[str], meta: dict) -> bytes:
    """Real matplotlib render when available, fake bytes otherwise."""
    try:
        return matplotlib_jpeg_encoder(arr, bands, meta)
    except NotImplementedError:
        return fake_jpeg_encoder(arr, bands, meta)


OVERVIEW_LEVELS = (2, 4, 8, 16)


def average_downsample(band: np.ndarray, level: int) -> np.ndarray:
    """Average-resampled /level overview of one band (NaN-skipping
    block mean — gdaladdo 'average' semantics, ref ``cog.py:89-101``),
    padding ragged edges with NaN."""
    h, w = band.shape
    ph, pw = -h % level, -w % level
    padded = np.pad(band, ((0, ph), (0, pw)), constant_values=np.nan)
    blocks = padded.reshape(
        (h + ph) // level, level, (w + pw) // level, level
    ).transpose(0, 2, 1, 3)
    with np.errstate(invalid="ignore"):
        return np.nanmean(blocks.reshape(blocks.shape[0], blocks.shape[1], -1), axis=2)


def fake_external_overviews(cog_path: Path, arr: np.ndarray) -> None:
    """Semantically-real external overview sidecar: the /2,/4,/8,/16
    average-resampled pyramid of every band in a deterministic zlib
    container at ``<cog>.ovr`` — the same placement and resampling as
    the reference's gdaladdo path (``cog.py:89-104,115-121``), minus
    the GDAL container format this environment lacks."""
    payload = bytearray()
    for level in OVERVIEW_LEVELS:
        for band in arr:
            ov = average_downsample(band, level)
            payload += struct.pack("<3i", level, *ov.shape)
            payload += ov.astype("float64").tobytes()
    atomic_write_bytes(
        Path(str(cog_path) + ".ovr"),
        b"FAKEOVR1" + zlib.compress(bytes(payload), 6),
    )


def gdaladdo_external_overviews(cog_path: Path, arr: np.ndarray) -> None:
    """Real external overviews: ``gdaladdo -q -ro <cog> 2 4 8 16``
    writes ``<cog>.ovr`` beside the COG (ref ``cog.py:89-104``; the
    reference runs it on the pre-translate GTiff and moves the .ovr —
    running read-only on the final COG lands the same sidecar)."""
    import shutil
    import subprocess

    if shutil.which("gdaladdo") is None:
        raise NotImplementedError(
            "external overviews need gdaladdo (GDAL); inject "
            "fake_external_overviews in environments without it"
        )
    subprocess.run(
        ["gdaladdo", "-q", "-ro", str(cog_path), *[str(x) for x in OVERVIEW_LEVELS]],
        check=True,
    )


def default_external_overviews(cog_path: Path, arr: np.ndarray) -> None:
    try:
        gdaladdo_external_overviews(cog_path, arr)
    except NotImplementedError:
        fake_external_overviews(cog_path, arr)


# F14: full-raster reprojection inside the K2 kernel (ref _write_cog's
# `da_multiband.rio.reproject("EPSG:4326")`, stac/generator.py:1006-1007).
# (arr, ys, xs, meta) -> (arr', ys', xs', meta') in the target CRS.
GridReproject = Callable[
    [np.ndarray, np.ndarray, np.ndarray, dict],
    tuple[np.ndarray, np.ndarray, np.ndarray, dict],
]


def rasterio_grid_reproject(
    arr: np.ndarray, ys: np.ndarray, xs: np.ndarray, meta: dict
) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict]:
    """Real F14 kernel: warp every band to EPSG:4326 with rasterio
    (nearest resampling, NaN nodata), recomputing the coordinate
    vectors from the destination transform. Behind an import guard
    (no GDAL stack in this container)."""
    try:
        from rasterio.transform import from_bounds
        from rasterio.warp import Resampling, calculate_default_transform, reproject
    except ImportError as exc:
        raise NotImplementedError(
            "full-raster reprojection needs rasterio; grids already in "
            "EPSG:4326 skip it (passthrough_grid_reproject)"
        ) from exc
    src_crs = meta.get("crs") or "EPSG:4326"
    n_bands, h, w = arr.shape
    # ys/xs are CELL-CENTER coordinate vectors (NetCDF convention);
    # from_bounds wants the raster's OUTER EDGES. Feeding centers
    # shrinks the pixel size by (n-1)/n and shifts the origin half a
    # pixel (~12.5 km on a 25 km EASE grid) — expand by half a cell.
    dx = (float(xs.max()) - float(xs.min())) / (w - 1) if w > 1 else 1.0
    dy = (float(ys.max()) - float(ys.min())) / (h - 1) if h > 1 else 1.0
    left, right = float(xs.min()) - dx / 2, float(xs.max()) + dx / 2
    bottom, top = float(ys.min()) - dy / 2, float(ys.max()) + dy / 2
    src_transform = from_bounds(left, bottom, right, top, w, h)
    dst_transform, dw, dh = calculate_default_transform(
        src_crs, "EPSG:4326", w, h, left=left, bottom=bottom, right=right, top=top
    )
    out = np.full((n_bands, dh, dw), np.nan)
    for i in range(n_bands):
        reproject(
            arr[i],
            out[i],
            src_transform=src_transform,
            src_crs=src_crs,
            dst_transform=dst_transform,
            dst_crs="EPSG:4326",
            resampling=Resampling.nearest,
            src_nodata=np.nan,
            dst_nodata=np.nan,
        )
    # pixel-center coordinate vectors from the destination transform
    new_xs = np.array([dst_transform * (c + 0.5, 0.5) for c in range(dw)])[:, 0]
    new_ys = np.array([dst_transform * (0.5, r + 0.5) for r in range(dh)])[:, 1]
    return out, new_ys, new_xs, {**meta, "crs": "EPSG:4326"}


def passthrough_grid_reproject(
    arr: np.ndarray, ys: np.ndarray, xs: np.ndarray, meta: dict
) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict]:
    """Grids already in EPSG:4326 pass through bit-exact (the
    reference also skips reprojection then); any other CRS needs the
    real kernel."""
    crs = meta.get("crs")
    if crs in (None, "EPSG:4326"):
        return arr, ys, xs, {**meta, "crs": "EPSG:4326"}
    raise NotImplementedError(
        f"cannot reproject {crs} without rasterio; use "
        "rasterio_grid_reproject or inject a kernel"
    )


def default_grid_reproject(
    arr: np.ndarray, ys: np.ndarray, xs: np.ndarray, meta: dict
) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict]:
    try:
        return rasterio_grid_reproject(arr, ys, xs, meta)
    except NotImplementedError:
        return passthrough_grid_reproject(arr, ys, xs, meta)


def _valid_time(ref: pd.Timestamp, lead: int, unit: str, step: float) -> pd.Timestamp:
    """Kernel-side twin of operators.forecast.valid_time (F2), same
    relativedelta semantics as functions.frequency.leadtime_offset:
    fractional hours/days/weeks are exact durations; a non-integer
    month/year offset raises exactly as dateutil does (the previous
    int(lead*step) truncation collapsed two fractional-step leadtimes
    onto one output path); month arithmetic preserves time-of-day."""
    unit = unit if unit.endswith("s") else unit + "s"
    n = lead * step
    if unit in ("months", "years"):
        # gate on the UNIT's own value like dateutil and
        # leadtime_offset do: relativedelta(years=0.5) raises even
        # though 0.5 years is an integral month count — accepting it
        # here would write files the STAC assembly (which uses
        # leadtime_offset) can never reference
        if n != int(n):
            raise ValueError(f"Non-integer {unit} are ambiguous: {n}")
        return ref + pd.DateOffset(months=int(n) * (12 if unit == "years" else 1))
    # hours/days/weeks: the IDENTICAL truncating integer-microsecond
    # arithmetic as functions.frequency.leadtime_offset (double
    # product -> cast long). Timedelta multiplication would round to
    # nanoseconds instead — for a fractional step landing within 1 us
    # below a minute boundary, the file's '%H%M' stamp and the STAC
    # asset href's stamp would then differ by a whole minute and the
    # href would point at a file that does not exist.
    per_unit = {"hours": 3600.0, "days": 86400.0, "weeks": 604800.0}[unit]
    return ref + pd.Timedelta(microseconds=int(n * per_unit * 1_000_000.0))


def _check_leadtime_resolution(unit: str, step: float) -> None:
    """The reference's file naming stamps valid time at MINUTE
    resolution (valid_time_str_1 '%Y-%m-%d_%H%M',
    stac/generator.py:866): a sub-minute leadtime step would give two
    distinct leadtimes the same output path — two concurrent tasks
    silently last-wins the file while the result frame reports two
    rows whose checksums can't both match. Fail loudly up front."""
    u = unit if unit.endswith("s") else unit + "s"
    per_unit = {"hours": 3600.0, "days": 86400.0, "weeks": 604800.0}.get(u)
    if per_unit is not None and step * per_unit < 60.0:
        raise ValueError(
            f"leadtime step {step}{u} is below the 1-minute resolution "
            "of the output file naming scheme — distinct leadtimes "
            "would collide on the same path"
        )


def encode_cogs(
    long_df: DataFrame,
    out_dir: str | Path,
    encoder: Encoder = fake_tiff_encoder,
    thumbnail_encoder: Encoder = fake_jpeg_encoder,
    overwrite: bool = True,
    stac_only: bool = False,
    leadtime_unit: str = "days",
    leadtime_step: float = 1.0,
    external_overviews: ExternalOverviews | None = None,
    reproject: GridReproject | None = None,
) -> DataFrame:
    """K2/U2 (+K3/U4): one multi-band COG per (collection, init time,
    leadtime), plus a thumbnail for leadtime 0 only
    (ref ``stac/generator.py:901-921``). Returns a result DataFrame
    (path, dims, checksum, skipped) — the input to asset assembly.

    Skip-existing (P9/J6): with ``overwrite=False``, groups whose
    output file already exists return ``skipped=True`` without
    encoding.
    """
    _check_leadtime_resolution(leadtime_unit, leadtime_step)
    out = str(out_dir)
    opts = dict(
        encoder=encoder,
        thumbnail_encoder=thumbnail_encoder,
        overwrite=overwrite,
        stac_only=stac_only,
        leadtime_unit=leadtime_unit,
        leadtime_step=leadtime_step,
        external_overviews=external_overviews,
        reproject=reproject,
    )

    def encode_group(key, pdf: pd.DataFrame):
        collection, ref_time, lead = key
        def build():
            return grid_from_long(pdf)
        return _encode_one(out, collection, ref_time, int(lead), build, **opts)

    return (
        long_df.groupBy("collection", "forecast_reference_time", "leadtime_idx")
        .applyInPandas(encode_group, schema=COG_RESULT_SCHEMA)
    )


def _encode_one(
    out: str,
    collection,
    ref_time,
    lead: int,
    build_grid,
    encoder: Encoder,
    thumbnail_encoder: Encoder,
    overwrite: bool,
    stac_only: bool,
    leadtime_unit: str,
    leadtime_step: float,
    external_overviews: ExternalOverviews | None,
    reproject: GridReproject | None,
) -> pd.DataFrame:
    """Shared per-(collection, init, leadtime) encode: path scheme,
    skip-existing, band stack, write, result row. ``build_grid`` is
    called lazily so the skip path never materializes the array."""
    ref = pd.Timestamp(ref_time)
    d = Path(out) / "cogs" / str(collection) / str(ref.date())
    stamp = ref.strftime("%Y-%m-%dT%H-%M-%SZ")
    # file named by VALID time (ref valid_time_str_1 "%Y-%m-%d_%H%M",
    # stac/generator.py:866,871-875) so hrefs in the STAC assets
    # (plans.stac_catalog.build_cog_assets) resolve to these files
    vt = _valid_time(ref, lead, leadtime_unit, leadtime_step)
    lead_stamp = f"{stamp}_lead_{vt.strftime('%Y-%m-%d_%H%M')}"
    cog_path = d / f"forecast_init_{lead_stamp}.tif"
    if cog_path.exists() and not overwrite:
        data = cog_path.read_bytes()
        return pd.DataFrame(
            [
                {
                    "collection": collection,
                    "forecast_reference_time": ref_time,
                    "leadtime_idx": lead,
                    "path": str(cog_path),
                    "n_bands": -1,
                    "height": -1,
                    "width": -1,
                    "size": len(data),
                    "multihash": multihash_md5(data),
                    "skipped": True,
                }
            ]
        )
    arr, bands, ys, xs = build_grid()
    meta = {"collection": collection, "ys": ys, "xs": xs}
    if reproject is not None:
        # F14: warp to EPSG:4326 before encoding (ref _write_cog's
        # reproject branch, stac/generator.py:1006-1007)
        arr, ys, xs, meta = reproject(arr, ys, xs, meta)
        meta.update(ys=ys, xs=xs)
    if stac_only:
        data = b""
    else:
        data = encoder(arr, bands, meta)
        d.mkdir(parents=True, exist_ok=True)
        # The COG appears LAST: skip-existing keys on its existence,
        # so the COG appearing must imply the thumbnail/.ovr beside it
        # are complete — a crash between writes then re-encodes on the
        # next run instead of leaving a half-written group skipped
        # forever. But overview builders (gdaladdo) read the COG FILE,
        # so the bytes go to a tmp name first, overviews build against
        # the tmp (gdaladdo writes <tmp>.ovr beside it), and both
        # rename into place — sidecar first, COG last, each atomic.
        tmp = cog_path.with_name(cog_path.name + _tmp_suffix())
        tmp.write_bytes(data)
        if external_overviews is not None:
            external_overviews(tmp, arr)
            tmp_ovr = Path(str(tmp) + ".ovr")
            if tmp_ovr.exists():
                os.replace(tmp_ovr, str(cog_path) + ".ovr")
        if lead == 0:
            thumb = thumbnail_encoder(arr, bands, meta)
            atomic_write_bytes(d / f"forecast_init_{lead_stamp}.jpg", thumb)
        os.replace(tmp, cog_path)
    return pd.DataFrame(
        [
            {
                "collection": collection,
                "forecast_reference_time": ref_time,
                "leadtime_idx": lead,
                "path": str(cog_path),
                "n_bands": arr.shape[0],
                "height": arr.shape[1],
                "width": arr.shape[2],
                "size": len(data),
                "multihash": multihash_md5(data),
                "skipped": False,
            }
        ]
    )


def encode_cogs_grids(
    grids_df: DataFrame,
    out_dir: str | Path,
    encoder: Encoder = fake_tiff_encoder,
    thumbnail_encoder: Encoder = fake_jpeg_encoder,
    overwrite: bool = True,
    stac_only: bool = False,
    leadtime_unit: str = "days",
    leadtime_step: float = 1.0,
    external_overviews: ExternalOverviews | None = None,
    reproject: GridReproject | None = None,
) -> DataFrame:
    """K2/U2 fast path over PACKED grid rows (see
    ``sources.netcdf.scan_netcdf_grids``): one row per (variable,
    init, leadtime) slab carrying the 2-D array as bytes. The shuffle
    moves ~n_bands packed slabs per COG instead of height*width*bands
    long rows — ~50x less shuffle volume and no per-cell Python —
    while producing byte-identical files to :func:`encode_cogs`
    (asserted in tests/test_raster_sink.py)."""
    _check_leadtime_resolution(leadtime_unit, leadtime_step)
    out = str(out_dir)
    opts = dict(
        encoder=encoder,
        thumbnail_encoder=thumbnail_encoder,
        overwrite=overwrite,
        stac_only=stac_only,
        leadtime_unit=leadtime_unit,
        leadtime_step=leadtime_step,
        external_overviews=external_overviews,
        reproject=reproject,
    )

    def encode_group(key, pdf: pd.DataFrame):
        collection, ref_time, lead = key

        def build():
            sub = pdf.sort_values("variable")
            bands = list(sub["variable"])
            ny = int(sub["ny"].iloc[0])
            nx = int(sub["nx"].iloc[0])
            ys = np.asarray(sub["ys"].iloc[0], dtype="float64")
            xs = np.asarray(sub["xs"].iloc[0], dtype="float64")
            arr = np.stack(
                [
                    np.asarray(b, dtype="float64").reshape(ny, nx)
                    for b in sub["values"]
                ]
            )
            return arr, bands, ys, xs

        return _encode_one(out, collection, ref_time, int(lead), build, **opts)

    return (
        grids_df.groupBy("collection", "forecast_reference_time", "leadtime_idx")
        .applyInPandas(encode_group, schema=COG_RESULT_SCHEMA)
    )


def fake_netcdf_encoder(pdf: pd.DataFrame, meta: dict) -> bytes:
    """K1 stand-in: zlib level-9 container (the reference writes
    zlib-9 NetCDF, ``stac/generator.py:969-974``); deterministic."""
    ordered = pdf.sort_values(["variable", "leadtime_idx", "yc", "xc"])
    return b"FAKENC_1" + zlib.compress(
        ordered[["value"]].to_numpy().astype("float64").tobytes(), 9
    )


def _netcdf_encode_group(
    out: str, key, pdf: pd.DataFrame, encoder, overwrite: bool
) -> pd.DataFrame:
    """Shared K1/U3 per-(collection, init) encode body: path scheme,
    skip-existing, atomic write, result row — used by both the
    long-rows and the packed-grids sinks (only the encoder differs)."""
    collection, ref_time = key
    d = Path(out) / "netcdf" / str(collection) / str(pd.Timestamp(ref_time).date())
    stamp = pd.Timestamp(ref_time).strftime("%Y-%m-%dT%H-%M-%SZ")
    nc_path = d / f"{stamp}.nc"
    if nc_path.exists() and not overwrite:
        data = nc_path.read_bytes()
        skipped = True
    else:
        data = encoder(pdf, {"collection": collection})
        d.mkdir(parents=True, exist_ok=True)
        atomic_write_bytes(nc_path, data)
        skipped = False
    return pd.DataFrame(
        [
            {
                "collection": collection,
                "forecast_reference_time": ref_time,
                "path": str(nc_path),
                "n_variables": pdf["variable"].nunique(),
                "size": len(data),
                "multihash": multihash_md5(data),
                "skipped": skipped,
            }
        ]
    )


def write_netcdf_slices(
    long_df: DataFrame,
    out_dir: str | Path,
    encoder: Callable[[pd.DataFrame, dict], bytes] = fake_netcdf_encoder,
    overwrite: bool = True,
) -> DataFrame:
    """K1/U3: one sliced NetCDF per (collection, init time), path
    ``netcdf/{collection}/{date}/{ts}.nc``
    (ref ``stac/generator.py:689-707,961-979``).

    Memory profile: "one output file = one applyInPandas group" is
    inherent to writing a single .nc per init, so the task holds the
    file's LONG rows as a pandas frame — 10-20x the file's data bytes
    (object-dtype strings per cell) plus the encoder's sorted copy.
    Fine for modest files; for the canonical 278 MB / 34.7M-cell file
    (BASELINE.md) use :func:`write_netcdf_slices_grids` (what
    ``EnvStacEngine.process`` runs), whose group is one row per SLAB
    and peaks at ~2x the file's data bytes — byte-identical output."""
    out = str(out_dir)

    def encode_group(key, pdf: pd.DataFrame):
        return _netcdf_encode_group(out, key, pdf, encoder, overwrite)

    return long_df.groupBy("collection", "forecast_reference_time").applyInPandas(
        encode_group, schema=NETCDF_RESULT_SCHEMA
    )


def skip_existing_outputs(planned: DataFrame, out_dir: str | Path, spark) -> DataFrame:
    """J6: anti-join planned output paths against a distributed
    listing of what already exists (ref ``stac/generator.py:906-907``).
    A missing output dir (the very first run — nothing to skip) passes
    ``planned`` through unchanged instead of failing the load."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(str(out_dir))
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return planned
    existing = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(str(out_dir))
        .select(F.col("path").alias("_existing_path"))
    )
    # unhinted: the existing-output listing grows with the catalog;
    # AQE runtime-sizes the anti-join
    return planned.join(
        existing,
        planned["path"] == F.regexp_replace("_existing_path", "^file:", ""),
        "left_anti",
    )


def fake_netcdf_grids_encoder(pdf: pd.DataFrame, meta: dict) -> bytes:
    """Packed-slab twin of :func:`fake_netcdf_encoder` — byte-identical
    output: slabs ordered by (variable, leadtime), each flipped back to
    y-ascending to match the long path's (yc, xc) sort."""
    ordered = pdf.sort_values(["variable", "leadtime_idx"])
    parts = [
        np.flipud(
            np.asarray(r["values"], dtype="float64").reshape(r["ny"], r["nx"])
        ).ravel()
        for _, r in ordered.iterrows()
    ]
    return b"FAKENC_1" + zlib.compress(np.concatenate(parts).tobytes(), 9)


def write_netcdf_slices_grids(
    grids_df: DataFrame,
    out_dir: str | Path,
    encoder: Callable[[pd.DataFrame, dict], bytes] = fake_netcdf_grids_encoder,
    overwrite: bool = True,
) -> DataFrame:
    """K1/U3 fast path over packed slabs (see
    ``sources.netcdf.scan_netcdf_grids``): the shuffle moves one row
    per (variable, leadtime) slab instead of every cell, producing
    byte-identical slice files (asserted in tests)."""
    out = str(out_dir)

    def encode_group(key, pdf: pd.DataFrame):
        return _netcdf_encode_group(out, key, pdf, encoder, overwrite)

    return grids_df.groupBy("collection", "forecast_reference_time").applyInPandas(
        encode_group, schema=NETCDF_RESULT_SCHEMA
    )
