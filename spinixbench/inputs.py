"""Seeded input generators, cached per seed under the work directory.

Each generator is a pure function of its seed: the same seed writes the
same parquet bytes' worth of rows (up to parquet metadata). Inputs are
written once per (workload, seed) into ``<work>/inputs/`` and reused by
later runs with that seed. The truth table beside them is what the
oracle reads; the program only ever sees the parquet inputs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from oracle import (
    EITHER,
    buffered_in_zone,
    destination,
    haversine_m,
    in_geofence,
    point_in_zone,
)

VERSION = 2
LAYER = "0" * 20
BASE_TS = 1_700_006_400  # 2023-11-15 00:00:00 UTC, a Wednesday

# ---------------------------------------------------------------- geofence
# Zone ids are 20-character xids; every zone is a hexagon of ZONE_R m.
ZONE_R = 400.0
GEO_CENTER = (40.0, -100.0)
GEO_BOX = (39.90, -100.13, 40.10, -99.87)
GEO_ZONES = {  # id -> (lat, lon)
    "a1" + "0" * 18: (40.010, -100.010),  # speed rule, inside the hot cell
    "a2" + "0" * 18: (40.060, -100.060),  # speed rule
    "a3" + "0" * 18: (40.010, -99.950),  # buffered day rule
    "a4" + "0" * 18: (39.950, -100.050),  # triggered rule
}
HOT_CELL = (40.00, -100.02, 40.02, -100.00)  # one 0.02-degree grid cell
BUFFER_R = 300.0  # `device :radius 300m` of the day rule
AT_R = 250.0  # `device :radius 250m intersects devices(@)`
AT_GEOFENCE_R = 40_000.0  # geofence radius of the devices(@) rules
TRIGGER_R = 3000.0  # geofence radius of the triggered rule
DAY_RULE_R = 2000.0  # geofence radius of the day rule
GEO_PAGES = 3_000
GEO_GROUPS = 2
GEO_DEVICES = 500
NO_COORD_SHARE = 0.15
HOT_SHARE = 0.08
NEAR_ZONE_SHARE = 0.20
TRIGGER_DEVICES = 30
TRIGGER_ROWS = 16

# ----------------------------------------------------------------- neardup
ND_DOCS = 4_000
ND_ZONE = ("b1" + "0" * 18, (35.0, 10.0))
ND_BOX = (34.95, 9.94, 35.05, 10.06)
BOILERPLATE_SHARE = 0.06
EXACT_SHARE = 0.10
NEAR_SHARE = 0.24
NON_EN_SHARE = 0.04
SHORT_SHARE = 0.03
COORD_SHARE = 0.40

# ------------------------------------------------------------------ stream
ST_CENTER = (25.0, 60.0)
ST_BOX = (24.88, 59.87, 25.12, 60.13)
ST_TZONE = ("c1" + "0" * 18, (25.03, 60.03))
ST_TRIGGER_R = 5000.0
DL_ZONE_R = 200.0
DL_ZONES = {  # east-side zone first: the rule centre frames to +180
    "d1" + "0" * 18: (10.02, 179.9995),
    "d2" + "0" * 18: (10.0, -179.9995),
}
ST_UNIVERSE = 1_000
ST_BATCHES = 2  # batch 0 seeds every device, batch 1 is a small delta
ST_DELTA_DEVICES = 40
ST_TRIGGER_DEVICES = 30
ST_BATCH_SPAN_S = 1_200


def device_id(prefix: str, i) -> str:
    return f"{prefix}{int(i):019d}"


def _resample(mask_fn, lat, lon, rng, sample, max_rounds=200):
    """Resample rows until ``mask_fn(lat, lon)`` clears them all."""
    for _ in range(max_rounds):
        bad = mask_fn(lat, lon)
        if not bad.any():
            return lat, lon
        nl, no = sample(int(bad.sum()), rng)
        lat[bad], lon[bad] = nl, no
    raise RuntimeError("generator could not clear the ambiguity bands")


def _geo_bad(lat, lon):
    """Rows inside any zone's polygon-vs-disc band, or inside the
    triggered rule's geofence band."""
    bad = np.zeros(len(lat), dtype=bool)
    zones = list(GEO_ZONES.values())
    for k, (zl, zo) in enumerate(zones):
        d = haversine_m(lat, lon, zl, zo)
        band = buffered_in_zone(d, ZONE_R, BUFFER_R) if k == 2 else point_in_zone(d, ZONE_R)
        bad |= band == EITHER
    tl, to = zones[3]
    bad |= in_geofence(haversine_m(lat, lon, tl, to), TRIGGER_R) == EITHER
    return bad


def _uniform_box(box):
    def sample(n, rng):
        return rng.uniform(box[0], box[2], n), rng.uniform(box[1], box[3], n)
    return sample


def _around(center, r_max, r_min=0.0):
    def sample(n, rng):
        d = np.sqrt(rng.uniform((r_min / r_max) ** 2, 1.0, n)) * r_max
        return destination(center[0], center[1], d, rng.uniform(0.0, 360.0, n))
    return sample


def _filler(rng, vocab, n):
    return " ".join(vocab[rng.integers(0, len(vocab), n)])


def gen_geofence(seed: int) -> tuple[dict[int, pd.DataFrame], pd.DataFrame]:
    """Crawled pages split into file groups, plus the truth table."""
    rng = np.random.default_rng([seed, 1])
    n = GEO_PAGES
    vocab = np.array([f"w{i}" for i in range(400)])
    trig_dev = np.arange(TRIGGER_DEVICES)
    n_trig = TRIGGER_DEVICES * TRIGGER_ROWS
    has = np.ones(n, dtype=bool)
    has[n_trig:] = rng.random(n - n_trig) >= NO_COORD_SHARE
    dev = np.empty(n, dtype=np.int64)
    dev[:n_trig] = np.repeat(trig_dev, TRIGGER_ROWS)
    dev[n_trig:] = rng.integers(TRIGGER_DEVICES, GEO_DEVICES, n - n_trig)
    ts = BASE_TS + rng.integers(0, 7 * 86400, n)
    # triggered devices: bursts of rows minutes apart inside the geofence
    start = BASE_TS + rng.integers(0, 6 * 86400, TRIGGER_DEVICES)
    gaps = rng.integers(120, 1500, (TRIGGER_DEVICES, TRIGGER_ROWS))
    ts[:n_trig] = (start[:, None] + np.cumsum(gaps, axis=1)).ravel()
    lat = np.zeros(n)
    lon = np.zeros(n)
    tz = GEO_ZONES["a4" + "0" * 18]
    inside = rng.random(n_trig) < 0.4
    lat[:n_trig][inside], lon[:n_trig][inside] = _around(tz, 320.0)(int(inside.sum()), rng)
    lat[:n_trig][~inside], lon[:n_trig][~inside] = _around(tz, 2300.0, 420.0)(int((~inside).sum()), rng)
    rest = np.nonzero(has[n_trig:])[0] + n_trig
    kind = rng.random(len(rest))
    hot = rest[kind < HOT_SHARE]
    near = rest[(kind >= HOT_SHARE) & (kind < HOT_SHARE + NEAR_ZONE_SHARE)]
    back = rest[kind >= HOT_SHARE + NEAR_ZONE_SHARE]
    hb = HOT_CELL
    # keep hot points a hair inside the cell so no point sits on an edge
    hot_sample = _uniform_box((hb[0] + 1e-6, hb[1] + 1e-6, hb[2] - 1e-6, hb[3] - 1e-6))
    lat[hot], lon[hot] = hot_sample(len(hot), rng)
    zl = np.array(list(GEO_ZONES.values())[:3])
    pick = rng.integers(0, 3, len(near))
    d = np.sqrt(rng.random(len(near))) * 1200.0
    lat[near], lon[near] = destination(zl[pick, 0], zl[pick, 1], d, rng.uniform(0, 360, len(near)))
    lat[back], lon[back] = _uniform_box(GEO_BOX)(len(back), rng)
    for idx, sample in ((hot, hot_sample), (near, _uniform_box(GEO_BOX)), (back, _uniform_box(GEO_BOX))):
        la, lo = _resample(_geo_bad, lat[idx].copy(), lon[idx].copy(), rng, sample)
        lat[idx], lon[idx] = la, lo
    assert not _geo_bad(lat[:n_trig], lon[:n_trig]).any()
    speed = rng.integers(0, 200, n)
    perm = rng.permutation(n)  # page number order is not generation order
    group = rng.integers(0, GEO_GROUPS, n)
    dev_ids = np.array([device_id("e", d) for d in dev])
    urls = np.array([f"https://geo.bench/{dev_ids[j]}/{perm[j]}" for j in range(n)])
    texts = []
    for j in range(n):
        pre = _filler(rng, vocab, 12)
        post = _filler(rng, vocab, 12)
        where = f"located at {float(lat[j])!r}, {float(lon[j])!r}" if has[j] else "with no position fix"
        texts.append(f"page {perm[j]} by device {dev_ids[j]} {pre} {where} speed {speed[j]} {post} end.")
    truth = pd.DataFrame(
        {"url": urls, "device_id": dev_ids, "datetime": ts, "speed": speed.astype(float),
         "has_coord": has, "lat": np.where(has, lat, np.nan), "lon": np.where(has, lon, np.nan),
         "group": group}
    )
    groups = {}
    for k in range(GEO_GROUPS):
        m = group == k
        groups[k] = _pages_frame(urls[m], ts[m], [t for t, mm in zip(texts, m) if mm])
    return groups, truth


def _pages_frame(urls, ts, texts, lang=None) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.to_datetime(np.asarray(ts), unit="s", utc=True),
            "html": [("<html><body>" + t + "</body></html>").encode() for t in texts],
            "text": texts,
            "lang": lang if lang is not None else ["en"] * len(urls),
        }
    )


def gen_neardup(seed: int) -> tuple[pd.DataFrame, dict]:
    """Long-text corpus with planted duplicate structure."""
    rng = np.random.default_rng([seed, 2])
    n = ND_DOCS
    vocab = np.array([f"t{i}" for i in range(30_000)])
    doc_ids = rng.choice(np.arange(1, 10 * n), n, replace=False).astype(np.int64)
    texts: list[str | None] = [None] * n
    lang = ["en"] * n
    pos = 0
    exact_groups, near_clusters = [], []

    def body(k):
        return list(vocab[rng.integers(0, len(vocab), k)])

    def coord_words():
        if rng.random() >= COORD_SHARE:
            return []
        la, lo = _resample(
            lambda a, b: point_in_zone(haversine_m(a, b, *ND_ZONE[1]), ZONE_R) == EITHER,
            *_nd_sample(1, rng), rng, _nd_sample)
        return f"located at {float(la[0])!r}, {float(lo[0])!r} speed {int(rng.integers(0, 200))}".split(" ")

    def place(words, i):
        texts[i] = " ".join(words)

    n_boiler = int(n * BOILERPLATE_SHARE)
    boiler = body(150) + coord_words()
    exact_groups.append(list(range(pos, pos + n_boiler)))
    for i in range(pos, pos + n_boiler):
        place(boiler, i)
    pos += n_boiler
    while pos < n_boiler + int(n * EXACT_SHARE):
        k = int(rng.integers(2, 5))
        w = body(int(rng.integers(120, 260)))
        w[len(w) // 2:len(w) // 2] = coord_words()
        exact_groups.append(list(range(pos, pos + k)))
        for i in range(pos, pos + k):
            place(w, i)
        pos += k
    while pos < n_boiler + int(n * (EXACT_SHARE + NEAR_SHARE)):
        k = int(rng.integers(3, 6))
        base = body(int(rng.integers(150, 260)))
        base[len(base) // 2:len(base) // 2] = coord_words()
        members = []
        for i in range(pos, pos + k):
            w = list(base)
            if i > pos:  # variants: a few substituted tokens, a few appended
                for j in rng.integers(0, len(w), int(rng.integers(2, 5))):
                    if not w[j].startswith("t"):
                        continue  # keep the coordinate phrase intact
                    w[j] = vocab[rng.integers(0, len(vocab))]
                w += body(int(rng.integers(0, 6)))
            place(w, i)
            members.append(i)
        near_clusters.append(members)
        pos += k
    for i in range(pos, n):
        r = rng.random()
        if r < SHORT_SHARE:
            place(body(5), i)
        else:
            w = body(int(rng.integers(120, 260)))
            w[len(w) // 2:len(w) // 2] = coord_words()
            place(w, i)
            if r < SHORT_SHARE + NON_EN_SHARE:
                lang[i] = "de"
    dev = rng.integers(0, 2000, n)
    urls = [f"https://text.bench/{device_id('f', dev[i])}/{doc_ids[i]}" for i in range(n)]
    ts = BASE_TS + rng.integers(0, 7 * 86400, n)
    pages = _pages_frame(np.array(urls), ts, texts, lang)
    pages.insert(0, "doc_id", doc_ids)
    truth = {
        "exact_groups": [[int(doc_ids[i]) for i in g] for g in exact_groups],
        "near_clusters": [[int(doc_ids[i]) for i in c] for c in near_clusters],
    }
    return pages.sample(frac=1.0, random_state=seed % (2**32)).reset_index(drop=True), truth


def _nd_sample(n, rng):
    if rng.random() < 0.5:
        return _around(ND_ZONE[1], 900.0)(n, rng)
    return _uniform_box(ND_BOX)(n, rng)


def _st_bad(lat, lon):
    tl, to = ST_TZONE[1]
    d = haversine_m(lat, lon, tl, to)
    return (point_in_zone(d, ZONE_R) == EITHER) | (in_geofence(d, ST_TRIGGER_R) == EITHER)


def _dateline_rows(rng):
    """Eight updates next to the dateline zones: four inside (each zone
    once on its own side of +-180 and once across it), four anywhere
    within 400 m of a zone centre but outside its band."""
    (_, e_c), (_, w_c) = DL_ZONES.items()
    # the line is ~55 m east of e_c and ~55 m west of w_c
    plans = [(e_c, 270.0, 0.0), (e_c, 90.0, 70.0), (w_c, 90.0, 0.0), (w_c, 270.0, 70.0)]
    rows = [destination(c[0], c[1], rng.uniform(lo, 160.0), brg) for c, brg, lo in plans]
    for _ in range(4):
        c = e_c if rng.random() < 0.5 else w_c
        d = rng.uniform(0.0, 400.0)
        while point_in_zone(d, DL_ZONE_R) == EITHER:
            d = rng.uniform(0.0, 400.0)
        rows.append(destination(c[0], c[1], d, rng.uniform(0.0, 360.0)))
    return [(float(la), float(lo)) for la, lo in rows]


def gen_stream(seed: int) -> list[pd.DataFrame]:
    """Micro-batch files of device updates."""
    rng = np.random.default_rng([seed, 3])
    batches = []
    uid = 0
    trig = np.arange(ST_TRIGGER_DEVICES)
    for b in range(ST_BATCHES):
        if b == 0:
            devs = np.arange(ST_UNIVERSE)
        else:  # a random delta, plus the triggered devices that report in every batch
            delta = rng.choice(np.arange(ST_TRIGGER_DEVICES, ST_UNIVERSE), ST_DELTA_DEVICES, replace=False)
            devs = np.concatenate([delta, trig])
        lat, lon = _uniform_box(ST_BOX)(len(devs), rng)
        tr = np.isin(devs, trig)
        inside = rng.random(int(tr.sum())) < 0.5
        tl, tlo = _around(ST_TZONE[1], 320.0)(len(inside), rng)
        ol, olo = _around(ST_TZONE[1], 4500.0, 420.0)(len(inside), rng)
        lat[tr] = np.where(inside, tl, ol)
        lon[tr] = np.where(inside, tlo, olo)
        lat, lon = _resample(_st_bad, lat, lon, rng, _uniform_box(ST_BOX))
        dl = _dateline_rows(rng)
        dl_dev = rng.choice(8, len(dl), replace=False)
        ids = [device_id("g", d) for d in devs] + [device_id("h", d) for d in dl_dev]
        lat = np.concatenate([lat, [p[0] for p in dl]])
        lon = np.concatenate([lon, [p[1] for p in dl]])
        m = len(ids)
        ts = BASE_TS + b * ST_BATCH_SPAN_S + rng.integers(0, ST_BATCH_SPAN_S, m)
        urls = [f"https://stream.bench/{b}/{uid + i}" for i in range(m)]
        uid += m
        batches.append(pd.DataFrame({
            "url": urls, "device_id": ids, "layer_id": LAYER, "lat": lat, "lon": lon,
            "datetime": ts.astype(np.int64), "speed": rng.integers(0, 200, m).astype(float),
        }))
    return batches


# ------------------------------------------------------------------- cache

def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def ensure_inputs(work: str, workload: str, seed: int) -> str:
    """Generate the inputs of (workload, seed) once; return their dir."""
    root = os.path.join(work, "inputs", f"{workload}-v{VERSION}-s{seed}")
    if os.path.exists(os.path.join(root, "_DONE")):
        return root
    tmp = root + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "geofence":
        groups, truth = gen_geofence(seed)
        for k, df in groups.items():
            os.makedirs(os.path.join(tmp, "pages", f"group={k}"))
            _write(df, os.path.join(tmp, "pages", f"group={k}", "part-0.parquet"))
        _write(truth, os.path.join(tmp, "truth.parquet"))
    elif workload == "neardup":
        pages, truth = gen_neardup(seed)
        os.makedirs(os.path.join(tmp, "pages"))
        _write(pages, os.path.join(tmp, "pages", "part-0.parquet"))
        import json

        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)
    else:
        os.makedirs(os.path.join(tmp, "updates"))
        for b, df in enumerate(gen_stream(seed)):
            path = os.path.join(tmp, "updates", f"batch-{b:03d}.parquet")
            _write(df, path)
            # the file source orders files by modification time
            os.utime(path, (BASE_TS + b, BASE_TS + b))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    return root


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="Write the inputs of one (workload, seed).")
    ap.add_argument("--workload", required=True, choices=("geofence", "neardup", "stream"))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    work = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".spinixbench")
    print(ensure_inputs(work, args.workload, args.seed))
