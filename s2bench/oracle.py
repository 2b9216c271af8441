"""Expected results computed apart from the engine.

Points come from Spark's built-in xxhash64(url) and the documented A36
formula, evaluated here in numpy. Containment uses formulas the engine
does not: great-circle angle for caps, bounds with antimeridian wrap for
rects, triple-product signs for convex loops, and the scalar crossing
test of tests/oracle_s2.py (loaded read-only) for the concave and holed
demo polygons. Points within BAND_RAD of a region's boundary are
ambiguous: either answer is accepted for them, and their number is
reported.
"""

from __future__ import annotations

import importlib.util
import itertools
import math
import os

import numpy as np

BAND_RAD = 1e-8          # ~6 cm on the earth's surface
MAX_AMBIGUOUS = 12       # per region; beyond this the check gives up
MASK32 = 0xFFFFFFFF
CELL_L4_LSB = 1 << 52


def load_scalar_oracle(root: str):
    path = os.path.join(root, "tests", "oracle_s2.py")
    spec = importlib.util.spec_from_file_location("s2bench_oracle_s2", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def latlng_from_hash(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """A36, same operation order as the SQL text: degrees."""
    h = h.astype(np.int64)
    h_lo = h & np.int64(MASK32)
    h_hi = (h - h_lo).astype(np.float64) / 4294967296.0
    lat = (h_hi + 2147483648.0) / 4294967296.0 * 180.0 - 90.0
    lng = h_lo.astype(np.float64) / 4294967296.0 * 360.0 - 180.0
    return lat, lng


def unit(lat_deg, lng_deg) -> np.ndarray:
    la, ln = np.radians(lat_deg), np.radians(lng_deg)
    return np.stack([np.cos(la) * np.cos(ln), np.cos(la) * np.sin(ln),
                     np.sin(la)], axis=-1)


def _near_edge(p: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Unit points p within BAND_RAD of the great-circle arc a-b: near
    its great circle and on the arc's side of the sphere."""
    n = np.cross(a, b)
    near_circle = np.abs(p @ (n / np.linalg.norm(n))) < math.sin(BAND_RAD)
    mid = (a + b) / np.linalg.norm(a + b)
    half = math.acos(min(1.0, float(np.dot(a, mid))))
    return near_circle & (p @ mid >= math.cos(half + 1e-6))


class Shape:
    """One region in the oracle's own terms. `kind` is cap, rect or loops;
    `params` are degrees. `contains(lat, lng, p)` returns
    (inside, ambiguous) boolean arrays."""

    def __init__(self, region_id: int, kind: str, params, scalar=None):
        self.region_id, self.kind, self.params = region_id, kind, params
        self.scalar = scalar

    def lat_range(self) -> tuple[float, float]:
        """A latitude interval (degrees) holding every contained point."""
        k, q = self.kind, self.params
        if k == "cap":
            return q[0] - q[2], q[0] + q[2]
        if k == "rect":
            return q[0], q[1]
        lats = [v[0] for _depth, verts in q for v in verts]
        # great-circle edges bulge poleward of their end points
        return min(lats) - 2.0, max(lats) + 2.0

    def contains(self, lat, lng, p):
        k, q = self.kind, self.params
        if k == "cap":
            c = unit(q[0], q[1])
            ang = np.arctan2(np.linalg.norm(np.cross(p, c), axis=1), p @ c)
            r = math.radians(q[2])
            return ang <= r, np.abs(ang - r) < BAND_RAD
        if k == "rect":
            lat_lo, lat_hi, lng_lo, lng_hi = q
            in_lat = (lat >= lat_lo) & (lat <= lat_hi)
            if lng_lo <= lng_hi:
                in_lng = (lng >= lng_lo) & (lng <= lng_hi)
            else:  # wraps across the antimeridian
                in_lng = (lng >= lng_lo) | (lng <= lng_hi)
            # ambiguous: near a latitude edge within the lng span, or near
            # a meridian edge within the lat span
            la, eps = np.radians(lat), 1e-6
            near_lat = ((np.abs(la - math.radians(lat_lo)) < BAND_RAD)
                        | (np.abs(la - math.radians(lat_hi)) < BAND_RAD))
            amb = near_lat & (in_lng | _lng_within(lng, lng_lo, eps)
                              | _lng_within(lng, lng_hi, eps))
            if not (lng_lo == -180.0 and lng_hi == 180.0):
                for edge in (lng_lo, lng_hi):
                    d = np.abs(np.sin(np.radians(lng - edge))) * np.cos(la)
                    amb |= ((d < math.sin(BAND_RAD)) & _lng_within(lng, edge, 1.0)
                            & (lat >= lat_lo - eps) & (lat <= lat_hi + eps))
            return in_lat & in_lng, amb
        inside = np.zeros(len(p), dtype=bool)
        amb = np.zeros(len(p), dtype=bool)
        for _depth, verts in q:
            v = unit(np.array([t[0] for t in verts]), np.array([t[1] for t in verts]))
            inside ^= _loop_contains(v, p)
            for i in range(len(v)):
                amb |= _near_edge(p, v[i], v[(i + 1) % len(v)])
        self._cross_check(lng, p, inside, amb)
        return inside, amb

    def _cross_check(self, lng, p, inside, amb, n: int = 1000) -> None:
        """Compare the numpy decision with the scalar crossing test of
        tests/oracle_s2.py on a fixed sample of points near the loops."""
        lngs = [v[1] for _depth, verts in self.params for v in verts]
        near = np.flatnonzero((lng >= min(lngs) - 2.0) & (lng <= max(lngs) + 2.0)
                              & ~amb)
        pick = np.random.default_rng(0).choice(near, size=min(n, len(near)),
                                               replace=False)
        loops = [(d, [(math.radians(a), math.radians(b)) for a, b in verts])
                 for d, verts in self.params]
        for i in pick:
            if self.scalar.polygon_contains(loops, tuple(p[i])) != inside[i]:
                raise AssertionError(
                    f"region {self.region_id}: numpy and scalar oracles disagree")


def _lng_within(lng, edge: float, tol_deg: float) -> np.ndarray:
    """lng within tol_deg of the meridian `edge`, across the antimeridian."""
    return np.abs((lng - edge + 180.0) % 360.0 - 180.0) <= tol_deg


def _loop_contains(v: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Point in a CCW spherical loop given as unit vertices: a convex
    loop by triple-product signs; a loop with one reflex vertex as the
    union of the convex fan of triangles from that vertex."""
    n = len(v)
    reflex = [i for i in range(n)
              if np.dot(np.cross(v[i - 1], v[i]), v[(i + 1) % n]) < 0]
    if len(reflex) > 1:
        raise NotImplementedError("loops with more than one reflex vertex")
    if not reflex:
        out = np.ones(len(p), dtype=bool)
        for i in range(n):
            out &= p @ np.cross(v[i], v[(i + 1) % n]) > 0.0
        return out
    r = reflex[0]
    out = np.zeros(len(p), dtype=bool)
    for k in range(1, n - 1):
        tri = np.stack([v[r], v[(r + k) % n], v[(r + k + 1) % n]])
        out |= _loop_contains(tri, p)
    return out


def expected_matches(shapes: list[Shape], h: np.ndarray) -> dict:
    """Per region: (sure hashes, ambiguous hashes) of the points inside."""
    lat, lng = latlng_from_hash(h)
    order = np.argsort(lat, kind="stable")
    lat_s = lat[order]
    out = {}
    for s in shapes:
        lo, hi = s.lat_range()
        # widened so that points on the range's own edges are tested too
        idx = order[np.searchsorted(lat_s, lo - 1e-6, side="left"):
                    np.searchsorted(lat_s, hi + 1e-6, side="right")]
        la, ln = lat[idx], lng[idx]
        inside, amb = s.contains(la, ln, unit(la, ln))
        out[s.region_id] = (h[idx][inside & ~amb], h[idx][amb])
    return out


def checksum(hashes: np.ndarray) -> tuple[int, int]:
    """Order-independent checksum: sums of the low and high 32 bits."""
    u = hashes.astype(np.int64).view(np.uint64)
    return (int((u & np.uint64(MASK32)).sum(dtype=np.uint64)),
            int((u >> np.uint64(32)).sum(dtype=np.uint64)))


def check_pip(result: dict, expected: dict) -> list[str]:
    """result: region_id -> (count, lo_sum, hi_sum) from the engine.
    Returns a list of mismatches (empty when correct)."""
    errors = []
    for rid in sorted(set(result) - set(expected)):
        errors.append(f"region {rid}: engine output a region not in the region set")
    for rid, (sure, amb) in expected.items():
        n, lo, hi = result.get(rid, (0, 0, 0))
        extra = n - len(sure)
        if not 0 <= extra <= len(amb):
            errors.append(f"region {rid}: {n} rows, expected {len(sure)}"
                          f"..{len(sure) + len(amb)}")
            continue
        if len(amb) > MAX_AMBIGUOUS:
            errors.append(f"region {rid}: {len(amb)} points in the band")
            continue
        ok = any(checksum(np.concatenate([sure, np.array(t, np.int64)]))
                 == (lo, hi) for t in itertools.combinations(amb, extra))
        if not ok:
            errors.append(f"region {rid}: url checksum differs")
    return errors


def demo_shapes(regions, scalar) -> list[Shape]:
    """The oracle's view of demo_regions(), from their parameters."""
    from s2geometry_spark.regions import Cap, Polygon, Rect

    out = []
    for r in regions:
        if isinstance(r, Cap):
            lat = math.degrees(math.asin(r.cz))
            lng = math.degrees(math.atan2(r.cy, r.cx))
            radius = math.degrees(math.acos(1.0 - r.height))
            out.append(Shape(r.region_id, "cap", (lat, lng, radius)))
        elif isinstance(r, Rect):
            out.append(Shape(r.region_id, "rect",
                             tuple(math.degrees(v) for v in
                                   (r.lat_lo, r.lat_hi, r.lng_lo, r.lng_hi))))
        elif isinstance(r, Polygon):
            loops = [(int(d), [(math.degrees(a), math.degrees(b))
                               for a, b in zip(lats, lngs)])
                     for d, lats, lngs in r.loops]
            out.append(Shape(r.region_id, "loops", loops, scalar))
        else:
            raise TypeError(f"no oracle for {type(r).__name__}")
    return out


# -- tile_ingest ----------------------------------------------------------------

def check_tile_table(root: str, table: str, urls: np.ndarray, n_batches: int,
                     scalar, sample_seed: int, sample_n: int = 500) -> list[str]:
    """Reads a committed ParquetTableIO table back with pyarrow and
    checks it against the input urls. Returns mismatches."""
    import json

    import pyarrow.dataset as ds

    errors = []
    with open(os.path.join(root, table, "_snapshots.json")) as f:
        snaps = json.load(f)["snapshots"]
    keys = sorted(k for s in snaps for k in s["meta"].get("batch_key", []))
    if keys != list(range(n_batches)):
        errors.append(f"batch keys {keys}, expected one snapshot per batch "
                      f"0..{n_batches - 1}")
    parts = []
    for s in snaps:
        for frag in ds.dataset(s["dir"], format="parquet").get_fragments():
            seg = [p for p in frag.path.split("/") if p.startswith("cell_l4=")]
            t = frag.to_table(columns=["url", "h", "lat", "lng", "cell_id"])
            parts.append((int(seg[-1].split("=", 1)[1]) if seg else None, t))
    if any(tile is None for tile, _ in parts):
        errors.append("a data file sits outside any cell_l4= directory")
        return errors
    url = np.concatenate([t.column("url").to_numpy(zero_copy_only=False)
                          for _, t in parts]).astype(str)
    cols = {c: np.concatenate([t.column(c).to_numpy() for _, t in parts])
            for c in ("h", "lat", "lng", "cell_id")}
    tile = np.concatenate([np.full(t.num_rows, v, np.int64) for v, t in parts])
    if len(url) != len(urls):
        errors.append(f"{len(url)} rows, expected {len(urls)}")
    if len(np.unique(url)) != len(urls) or not np.array_equal(np.sort(url), np.sort(urls)):
        errors.append("the url set differs from the input")
    parent = (cols["cell_id"] & np.int64(-CELL_L4_LSB)) | np.int64(CELL_L4_LSB)
    if not np.array_equal(parent, tile):
        errors.append(f"{int((parent != tile).sum())} rows sit outside their "
                      "tile's cell_l4 directory")
    lat, lng = latlng_from_hash(cols["h"])
    if not (np.array_equal(lat, cols["lat"]) and np.array_equal(lng, cols["lng"])):
        errors.append("lat/lng differ from the A36 formula over h")
    rng = np.random.default_rng(sample_seed)
    for i in rng.choice(len(url), size=min(sample_n, len(url)), replace=False):
        want = scalar.latlng_degrees_to_cell_id(float(cols["lat"][i]),
                                                float(cols["lng"][i]))
        if int(np.int64(cols["cell_id"][i]).view(np.uint64)) != want:
            errors.append(f"cell_id of {url[i]} differs from the scalar oracle")
            break
    with open(os.path.join(root, f"{table}@metrics", "_snapshots.json")) as f:
        msnaps = json.load(f)["snapshots"]
    n_metric = sum(int(ds.dataset(s["dir"], format="parquet").to_table(
        columns=["n_rows"]).column("n_rows").to_numpy().sum()) for s in msnaps)
    if n_metric != len(urls):
        errors.append(f"@metrics rows sum to {n_metric}, expected {len(urls)}")
    return errors
