"""Independent expected outputs for the benchmark workloads.

Nothing here imports ``spinix_spark``: every verdict is recomputed from
the generated inputs with plain NumPy and Python, so a check compares
the program against arithmetic, never against a stored copy of an
earlier output.

Geometry. Zones are hexagons (6-step polygonized circles) and buffered
devices are 12-gons, so a polygon test and a disc test agree only
outside a band of distances. For every (row, zone) or (row, snapshot
device) pair the oracle therefore rules MUST (match required), NOT
(match forbidden) or EITHER (inside the polygon-vs-disc band, plus a
2 % margin for the planar edges between geodesic vertices). The input
generators keep every point out of the zone bands, so zone verdicts
are exact; only ``devices(@)`` pairs may be EITHER.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone

import numpy as np

EARTH_RADIUS_M = 6371e3
MARGIN = 0.02

MUST, EITHER, NOT = 2, 1, 0

COS30 = math.cos(math.radians(30.0))  # hexagon inradius / circumradius
COS15 = math.cos(math.radians(15.0))  # 12-gon inradius / circumradius
COS22 = math.cos(math.radians(22.5))  # 8-gon (rule geofence) ratio


def haversine_m(lat_a, lon_a, lat_b, lon_b):
    """Great-circle distance in metres on the 6371 km sphere."""
    p1, p2 = np.radians(lat_a), np.radians(lat_b)
    dphi = p2 - p1
    dlam = np.radians(np.asarray(lon_b, dtype=np.float64) - lon_a)
    a = np.sin(dphi / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlam / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def destination(lat, lon, meters, bearing_deg):
    """Point ``meters`` from (lat, lon) along ``bearing_deg`` (sphere);
    longitudes come back normalised to [-180, 180)."""
    d = np.asarray(meters, dtype=np.float64) / EARTH_RADIUS_M
    th = np.radians(bearing_deg)
    p1, l1 = np.radians(lat), np.radians(lon)
    p2 = np.arcsin(np.sin(p1) * np.cos(d) + np.cos(p1) * np.sin(d) * np.cos(th))
    l2 = l1 + np.arctan2(
        np.sin(th) * np.sin(d) * np.cos(p1), np.cos(d) - np.sin(p1) * np.sin(p2)
    )
    lon2 = (np.degrees(l2) + 180.0) % 360.0 - 180.0
    return np.degrees(p2), lon2


def _band(d, must_below: float, not_above: float):
    d = np.asarray(d, dtype=np.float64)
    out = np.full(d.shape, EITHER, dtype=np.int8)
    out[d <= must_below * (1.0 - MARGIN)] = MUST
    out[d > not_above * (1.0 + MARGIN)] = NOT
    return out


def point_in_zone(d, zone_r: float):
    """Point device vs hexagon zone of circumradius ``zone_r``."""
    return _band(d, zone_r * COS30, zone_r)


def buffered_in_zone(d, zone_r: float, buffer_r: float):
    """``:radius`` 12-gon device vs hexagon zone: the inscribed discs
    touch at ``zone_r cos30 + buffer_r cos15``, the circumscribed discs
    part at ``zone_r + buffer_r``."""
    return _band(d, zone_r * COS30 + buffer_r * COS15, zone_r + buffer_r)


def buffered_has_point(d, buffer_r: float):
    """``:radius`` 12-gon device vs a snapshot device's point."""
    return _band(d, buffer_r * COS15, buffer_r)


def in_geofence(d, radius_m: float):
    """Rule geofence admission: the rule circle is an 8-gon whose bbox
    holds every point within ``radius cos22.5`` of the centre and none
    beyond ``radius sqrt(2)`` (1.6 here, for the lon stretch)."""
    d = np.asarray(d, dtype=np.float64)
    out = np.full(d.shape, EITHER, dtype=np.int8)
    out[d <= radius_m * COS22 * (1.0 - MARGIN)] = MUST
    out[d > radius_m * 1.6] = NOT
    return out


def weekday(ts: int) -> str:
    return datetime.fromtimestamp(int(ts), tz=timezone.utc).strftime("%A")


# --- per-(device, rule) trigger fold ------------------------------------

class TriggerFold:
    """checkTrigger/changeState for ``:trigger every <delay>`` as the
    survey states them (operator 19): the state resets when
    ``now - last_reset >= reset_interval``; the rule then fires while
    ``last_seen == 0`` or ``now - last_reset > delay``. The state
    advances on every row the rule admits, whether or not the row's
    spatial clause matches."""

    def __init__(self, reset_s: int, delay_s: int) -> None:
        self.reset_s = reset_s
        self.delay_s = delay_s
        self.state: dict[str, list[int]] = {}  # device -> [last_seen, last_reset]

    def step(self, device: str, now: int) -> bool:
        st = self.state.setdefault(device, [0, 0])
        if self.reset_s == 0 or st[1] == 0 or now - st[1] >= self.reset_s:
            st[0], st[1] = 0, now
        fire = st[0] == 0 or now - st[1] > self.delay_s
        if fire:
            st[0] = now
        return fire


def trigger_events(rows, fold: TriggerFold) -> set[str]:
    """``rows``: iterable of (device, datetime, url, admitted, matched).
    Folds in (device, datetime, url) order; returns the urls that fire
    and match."""
    out = set()
    for dev, ts, url, admitted, matched in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        if admitted and fold.step(dev, int(ts)) and matched:
            out.add(url)
    return out


# --- devices(@) ----------------------------------------------------------

def latest_positions(device, ts, lat, lon):
    """Latest row per device: datetime desc, then lat desc, lon desc.
    Returns (device ids, lat, lon) arrays."""
    order = np.lexsort((-np.asarray(lon), -np.asarray(lat), -np.asarray(ts), np.asarray(device)))
    dev_sorted = np.asarray(device)[order]
    first = np.ones(len(order), dtype=bool)
    first[1:] = dev_sorted[1:] != dev_sorted[:-1]
    keep = order[first]
    return np.asarray(device)[keep], np.asarray(lat)[keep], np.asarray(lon)[keep]


def at_verdicts(lat, lon, snap_lat, snap_lon, buffer_r: float):
    """Per row: (must, possible) for ``device :radius r intersects
    devices(@)`` against snapshot points (the device's own entry
    included), plus the number of EITHER pairs and of pairs within
    reach. Candidates come from a latitude window over the snapshot
    sorted by latitude."""
    n = len(lat)
    must = np.zeros(n, dtype=bool)
    possible = np.zeros(n, dtype=bool)
    n_either = 0
    n_pairs = 0
    if n == 0 or len(snap_lat) == 0:
        return must, possible, n_either, n_pairs
    reach = buffer_r * (1.0 + MARGIN) + 1.0
    dlat = math.degrees(reach / EARTH_RADIUS_M)
    slat = np.asarray(snap_lat, dtype=np.float64)
    slon = np.asarray(snap_lon, dtype=np.float64)
    order = np.argsort(slat)
    slat_s, slon_s = slat[order], slon[order]
    for i in range(n):
        lo = np.searchsorted(slat_s, lat[i] - dlat, "left")
        hi = np.searchsorted(slat_s, lat[i] + dlat, "right")
        if lo == hi:
            continue
        v = buffered_has_point(haversine_m(lat[i], lon[i], slat_s[lo:hi], slon_s[lo:hi]), buffer_r)
        near = v != NOT
        n_pairs += int(near.sum())
        n_either += int((v == EITHER).sum())
        must[i] = bool((v == MUST).any())
        possible[i] = bool(near.any())
    return must, possible, n_either, n_pairs


# --- grid cells (tile raster) --------------------------------------------

def grid_cell(lat, lon, res: int = 8):
    """Square grid cell of edge 0.01 * 2^(9 - res) degrees, numbered
    ``res * 10^15 + row * cols + col`` from (-90, -180)."""
    size = 0.01 * 2.0 ** (9 - res)
    cols = int(math.ceil(360.0 / size))
    rows = int(math.ceil(180.0 / size))
    row = np.clip(np.floor((np.asarray(lat) + 90.0) / size).astype(np.int64), 0, rows - 1)
    col = np.floor((np.asarray(lon) + 180.0) / size).astype(np.int64) % cols
    return res * 10**15 + row * cols + col


def cell_box(cell, res: int = 8):
    size = 0.01 * 2.0 ** (9 - res)
    cols = int(math.ceil(360.0 / size))
    c = int(cell) - res * 10**15
    minlat = (c // cols) * size - 90.0
    minlon = (c % cols) * size - 180.0
    return minlat, minlon, minlat + size, minlon + size


def tile_problems(raster: dict[int, int], matched_points, res: int = 8) -> list[str]:
    """Raster (cell -> match count) vs the matched points, one entry per
    event row as (lat, lon): counts sum to the event count, and every
    point lies inside the box of the cell it is counted in."""
    problems = []
    if sum(raster.values()) != len(matched_points):
        problems.append(f"tile counts sum {sum(raster.values())} != events {len(matched_points)}")
    want: dict[int, int] = {}
    for lat, lon in matched_points:
        c = int(grid_cell(lat, lon, res))
        a, b, c2, d = cell_box(c, res)
        if not (a <= lat <= c2 and b <= lon <= d):
            problems.append(f"point {lat},{lon} outside box of cell {c}")
        want[c] = want.get(c, 0) + 1
    if want != raster:
        diff = {k for k in set(want) | set(raster) if want.get(k) != raster.get(k)}
        problems.append(f"{len(diff)} cells with wrong counts")
    return problems


# --- near-duplicate truth ------------------------------------------------

def shingles(text: str, w: int = 3) -> set[tuple[str, ...]]:
    toks = text.split(" ")
    return {tuple(toks[i:i + w]) for i in range(len(toks) - w + 1)}


def isolated_docs(docs: dict[int, str]) -> set[int]:
    """Docs that share no 3-token shingle with any other doc."""
    owner: dict[tuple[str, ...], int] = {}
    shared: set[int] = set()
    for doc_id, text in docs.items():
        for s in shingles(text):
            o = owner.setdefault(s, doc_id)
            if o != doc_id:
                shared.add(o)
                shared.add(doc_id)
    return set(docs) - shared


def neardup_problems(docs: dict[int, str], dropped: list[int], exact_groups,
                     near_clusters, recall_floor: float) -> tuple[list[str], float]:
    """Check a drop set against the planted truth.

    ``exact_groups``: lists of doc ids with identical text (each must
    keep exactly its smallest id: equal length, ties to the smallest
    doc_id). ``near_clusters``: lists of planted near-duplicates; the
    recall is dropped members over (size - 1) summed over clusters."""
    problems = []
    drop = set(dropped)
    if len(drop) != len(dropped):
        problems.append(f"{len(dropped) - len(drop)} doc ids dropped twice")
    if not drop <= set(docs):
        problems.append(f"{len(drop - set(docs))} dropped ids not in the corpus")
    for g in exact_groups:
        kept = [d for d in g if d not in drop]
        if kept != [min(g)]:
            problems.append(f"exact group of {len(g)} keeps {kept[:3]}, want [{min(g)}]")
            break
    lonely = isolated_docs(docs) & drop
    if lonely:
        problems.append(f"{len(lonely)} pages sharing no shingle were dropped")
    want = sum(len(c) - 1 for c in near_clusters)
    got = sum(min(len(c) - 1, sum(d in drop for d in c)) for c in near_clusters)
    recall = got / want if want else 1.0
    if recall < recall_floor:
        problems.append(f"near-dup recall {recall:.3f} < {recall_floor}")
    return problems, recall
