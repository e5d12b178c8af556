"""Seeded input generator for the aoi-etl workload.

Same seed, same bytes: every random draw comes from numpy's PCG64
seeded with (seed, stream), and files are written with a fixed layout.

It writes a synthetic Sentinel-2 catalog in the shape of FIXTURES.md
A1 over a row of UTM tiles, the 4-band chips at 10 m of every product
that passes the selection filters, and the AOI requests.

Where each size comes from:
- pixel: 10 m, the reference's work unit of 4 bands (B02, B03, B04,
  B08) at 10 m (BASELINE.md);
- AOI: the Toulouse bbox of FIXTURES.md A2 (lon 1.2047-1.5121, lat
  43.3882-43.6620, about 24.9 x 30.4 km), scaled down;
- tile: a Sentinel-2 tile, 10980 px at 10 m (109.8 km), scaled down by
  the same factor; 2 tiles, the low end of FIXTURES.md A1's "2-3
  distinct tiles";
- catalog: 20 products per tile, the OData page cap (BASELINE.md,
  FIXTURES.md A1), with cloud cover spanning the 4.0 threshold;
- straddling AOIs: the share of AOIs that cross a tile edge is the
  chance that a uniformly placed AOI of that width does, AOI width
  over tile width (0.23), which the common scale factor leaves alone.

SCALE is the linear scale-down factor of AOI and tile (pixels stay
10 m), so an AOI holds 1/SCALE**2 of the A2 bbox's pixels. It is set by
the run budget: at full size one AOI is 2486 x 3043 px per band.
Cloud cover uniform in [0, 2 x 4.0], the 10% of L1C decoys, partial
swath coverage of half the products and the pixel field are the
generator's own choices.
"""
import math
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 25
PX_M = 10.0
# the A2 bbox, in degrees
A2_LON = (1.2047, 1.5121)
A2_LAT = (43.3882, 43.6620)
S2_TILE_PX = 10980
ZONE = 31
TILES = 2
PRODUCTS_PER_TILE = 20
CLOUD_MAX = 4.0
L1C_SHARE = 0.1
BANDS = ("B02", "B03", "B04", "B08")
AOIS = 8

_A_, _F = 6378137.0, 1 / 298.257223563
_E2 = _F * (2 - _F)


def a2_size_m():
    """Width and height of the A2 bbox in metres, from the ellipsoid's
    radii of curvature at its middle latitude."""
    phi = math.radians(sum(A2_LAT) / 2)
    w = 1 - _E2 * math.sin(phi) ** 2
    n, m = _A_ / math.sqrt(w), _A_ * (1 - _E2) / w ** 1.5
    return (n * math.cos(phi) * math.radians(A2_LON[1] - A2_LON[0]),
            m * math.radians(A2_LAT[1] - A2_LAT[0]))


def _px(metres):
    return int(round(metres / SCALE / PX_M))


AOI_W_PX, AOI_H_PX = (_px(x) for x in a2_size_m())
TILE_PX = int(round(S2_TILE_PX / SCALE))
TILE_M = TILE_PX * PX_M
STRADDLING = int(round(AOIS * AOI_W_PX / TILE_PX))
# south-west corner of the first tile, near the A2 bbox in UTM zone 31
ORIGIN_E, ORIGIN_N = 360_000.0, 4_815_000.0


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


# UTM -> WGS84, the Krueger series in the third flattening (order n^3),
# the same formulation as the engine's Geo.Crs.
_N = _F / (2 - _F)
_AA = _A_ / (1 + _N) * (1 + _N ** 2 / 4 + _N ** 4 / 64)
_K0, _E0 = 0.9996, 500000.0
_BETA = (_N / 2 - 2 * _N ** 2 / 3 + 37 * _N ** 3 / 96, _N ** 2 / 48 + _N ** 3 / 15, 17 * _N ** 3 / 480)
_DELTA = (2 * _N - 2 * _N ** 2 / 3 - 2 * _N ** 3, 7 * _N ** 2 / 3 - 8 * _N ** 3 / 5, 56 * _N ** 3 / 15)


def utm_to_wgs84(e, n, zone=ZONE):
    xi0, eta0 = n / (_K0 * _AA), (e - _E0) / (_K0 * _AA)
    xi, eta = xi0, eta0
    for j in range(1, 4):
        xi -= _BETA[j - 1] * math.sin(2 * j * xi0) * math.cosh(2 * j * eta0)
        eta -= _BETA[j - 1] * math.cos(2 * j * xi0) * math.sinh(2 * j * eta0)
    chi = math.asin(math.sin(xi) / math.cosh(eta))
    phi = chi + sum(_DELTA[j - 1] * math.sin(2 * j * chi) for j in range(1, 4))
    lam = math.atan2(math.sinh(eta), math.cos(xi))
    return zone * 6.0 - 183.0 + math.degrees(lam), math.degrees(phi)


def box_wkt(x1, y1, x2, y2):
    """WGS84 polygon of a UTM box (its four corners, transformed)."""
    pts = [utm_to_wgs84(x, y) for x, y in ((x1, y1), (x2, y1), (x2, y2), (x1, y2), (x1, y1))]
    return "POLYGON ((" + ", ".join(f"{lon!r} {lat!r}" for lon, lat in pts) + "))"


def tile_id(i):
    return f"{ZONE}T{'CDE'[i]}J"


def tile_box(i):
    x1 = ORIGIN_E + i * TILE_M
    return x1, ORIGIN_N, x1 + TILE_M, ORIGIN_N + TILE_M


def aoi(seed, out):
    r = _rng(seed, 4)
    rows, chips = [], []
    for i in range(TILES):
        tile = tile_id(i)
        x1, y1, x2, y2 = tile_box(i)
        for k in range(PRODUCTS_PER_TILE):
            pid = str(uuid.UUID(bytes=r.bytes(16), version=4))
            day = int(r.integers(0, 365))
            date = np.datetime64("2023-01-01") + np.timedelta64(day, "D")
            stamp = f"{str(date).replace('-', '')}T104621"
            # the first product of a tile always passes the filters,
            # so every tile has a pick
            cloud = float(r.uniform(0, CLOUD_MAX if k == 0 else 2 * CLOUD_MAX))
            ptype = "S2MSI2A" if k == 0 or r.random() >= L1C_SHARE else "S2MSI1C"
            # partial swath coverage: a seeded share of the tile's width
            cut = float(r.uniform(0.3, 1.0)) * TILE_M if r.random() < 0.5 else TILE_M
            fx1, fx2 = (x1, x1 + cut) if r.random() < 0.5 else (x2 - cut, x2)
            rows.append({
                "Id": pid,
                "Name": f"S2A_MSIL2A_{stamp}_N0509_R051_T{tile}_{stamp}",
                "S3Path": f"/eodata/Sentinel-2/MSI/L2A/{str(date).replace('-', '/')}/{pid}.SAFE",
                "OriginDate": f"{date}T10:46:21.000Z",
                "ContentDate": {"Start": f"{date}T10:46:21.024Z", "End": f"{date}T10:46:21.024Z"},
                "footprint_wkt": box_wkt(fx1, y1, fx2, y2),
                "Collection": "SENTINEL-2",
                "Attributes": [
                    {"Name": "tileId", "Value": tile},
                    {"Name": "cloudCover", "Value": repr(cloud)},
                    {"Name": "productType", "Value": ptype},
                    {"Name": "relativeOrbitNumber", "Value": "51"}],
            })
            if cloud <= CLOUD_MAX and ptype == "S2MSI2A":
                chips.extend(_band_chips(r, pid, (x1, y1, x2, y2), (fx1, fx2)))
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(out, "catalog.parquet"))
    # one row group per product, in product order: a pick's chips are
    # found through the row-group statistics, not by a full scan
    chips.sort(key=lambda c: (c[0], c[1]))
    n = TILE_PX * TILE_PX
    px = pa.ListArray.from_arrays(pa.array(np.arange(len(chips) + 1, dtype=np.int32) * n),
                                  pa.array(np.concatenate([c[3] for c in chips])))
    grid = np.array([c[2] for c in chips], dtype=np.float64)
    chip = pa.StructArray.from_arrays(
        [pa.array(np.full(len(chips), TILE_PX, np.int32)), pa.array(np.full(len(chips), TILE_PX, np.int32)),
         *(pa.array(grid[:, j]) for j in range(4)), pa.array(np.zeros(len(chips))), px],
        names=["width", "height", "minx", "miny", "maxx", "maxy", "nodata", "px"])
    pq.write_table(pa.table({
        "scene": pa.array([c[0] for c in chips]),
        "band": pa.array([c[1] for c in chips]),
        "chip": chip,
    }), os.path.join(out, "chips.parquet"), row_group_size=len(BANDS))

    # a fixed number straddle two tiles, at seeded positions, so every
    # seed serves the same mix of one- and two-tile requests
    straddles = set(r.permutation(AOIS)[:STRADDLING].tolist())
    w, h = AOI_W_PX * PX_M, AOI_H_PX * PX_M
    aois = []
    for k in range(AOIS):
        if k in straddles:
            i = int(r.integers(TILES - 1))
            x1 = tile_box(i)[2] - float(r.uniform(0.25, 0.75)) * w
            tiles = [tile_id(i), tile_id(i + 1)]
        else:
            i = int(r.integers(TILES))
            x1 = float(r.uniform(tile_box(i)[0], tile_box(i)[2] - w))
            tiles = [tile_id(i)]
        y1 = float(r.uniform(ORIGIN_N, ORIGIN_N + TILE_M - h))
        x2, y2 = x1 + w, y1 + h
        aois.append({"aoi_id": f"aoi-{k:03d}", "wkt": box_wkt(x1, y1, x2, y2), "zone": ZONE,
                     "minx": x1, "miny": y1, "maxx": x2, "maxy": y2, "tiles": tiles})
    pq.write_table(pa.Table.from_pylist(aois, schema=pa.schema([
        ("aoi_id", pa.string()), ("wkt", pa.string()), ("zone", pa.int32()),
        ("minx", pa.float64()), ("miny", pa.float64()), ("maxx", pa.float64()),
        ("maxy", pa.float64()), ("tiles", pa.list_(pa.string()))])),
        os.path.join(out, "aois.parquet"))


def _band_chips(r, pid, box, covered):
    """Seeded UTM band chips of one product over its whole tile: a
    smooth field plus noise in 1..12000 (so normalization clamps some
    pixels), nodata 0 outside the product's footprint."""
    x1, y1, x2, y2 = box
    xs = x1 + (np.arange(TILE_PX) + 0.5) * PX_M
    inside = (xs >= covered[0]) & (xs <= covered[1])
    yy, xx = np.mgrid[0:TILE_PX, 0:TILE_PX] / TILE_PX
    out = []
    for band in BANDS:
        fx, fy, ph = r.uniform(1, 6, size=3)
        field = 5000 + 4000 * np.sin(fx * xx * math.pi + ph) * np.cos(fy * yy * math.pi)
        px = np.clip(field + r.normal(0, 1500, size=field.shape), 1, 12000).round()
        px[:, ~inside] = 0.0
        out.append((pid, band, (x1, y1, x2, y2), px.ravel()))
    return out


def generate(seed, out):
    """Write the aoi-etl inputs for `seed` into `out` (atomically)."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    aoi(seed, tmp)
    os.replace(tmp, out)
