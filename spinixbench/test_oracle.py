"""Hand-built cases for the benchmark's oracles and input generators.

    python3 -m pytest spinixbench/test_oracle.py -q

No Spark: these check the independent computations the benchmark
compares the program against.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs as I  # noqa: E402
import oracle as O  # noqa: E402


def test_haversine_one_degree_of_latitude():
    assert O.haversine_m(0.0, 0.0, 1.0, 0.0) == pytest.approx(111_194.93, rel=1e-6)
    # across the dateline the short way round
    assert O.haversine_m(10.0, 179.9995, 10.0, -179.9995) == pytest.approx(109.5, abs=0.5)


def test_destination_round_trip():
    lat, lon = O.destination(10.0, 179.9995, 150.0, 90.0)
    assert lon < 0  # crossed +180
    assert O.haversine_m(10.0, 179.9995, lat, lon) == pytest.approx(150.0, abs=1e-6)


def test_dateline_world_five_points():
    """The 5-point world of tests/test_antimeridian.py: hexagon zones of
    200 m straddling +-180; matches cross the line in both directions."""
    zones = {"a1": (10.0, -179.9995), "b1": (10.02, 179.9995)}
    pts = {"pe1": (10.0, 179.9996), "pw1": (10.0, -179.9990), "pf1": (10.0, 179.9975),
           "pw2": (10.02, -179.9996), "pe2": (10.02, 179.9991)}
    got = {}
    for name, (la, lo) in pts.items():
        v = {z: int(O.point_in_zone(O.haversine_m(la, lo, *c), 200.0)) for z, c in zones.items()}
        assert O.EITHER not in v.values(), (name, v)
        got[name] = sorted(z for z, x in v.items() if x == O.MUST)
    assert got == {"pe1": ["a1"], "pw1": ["a1"], "pf1": [], "pw2": ["b1"], "pe2": ["b1"]}


def test_bands():
    # hexagon of 400 m: inradius 346 m
    assert O.point_in_zone(330.0, 400.0) == O.MUST
    assert O.point_in_zone(370.0, 400.0) == O.EITHER
    assert O.point_in_zone(420.0, 400.0) == O.NOT
    # 12-gon of 300 m vs hexagon of 400 m: inscribed discs touch at 636 m
    assert O.buffered_in_zone(600.0, 400.0, 300.0) == O.MUST
    assert O.buffered_in_zone(680.0, 400.0, 300.0) == O.EITHER
    assert O.buffered_in_zone(720.0, 400.0, 300.0) == O.NOT
    # 12-gon of 250 m vs a point: inradius 241 m
    assert O.buffered_has_point(230.0, 250.0) == O.MUST
    assert O.buffered_has_point(245.0, 250.0) == O.EITHER
    assert O.buffered_has_point(260.0, 250.0) == O.NOT
    assert O.in_geofence(2500.0, 3000.0) == O.MUST
    assert O.in_geofence(4900.0, 3000.0) == O.NOT


def test_weekday():
    assert O.weekday(I.BASE_TS) == "Wednesday"
    assert O.weekday(I.BASE_TS - 1) == "Tuesday"


def test_trigger_every_with_reset():
    f = O.TriggerFold(reset_s=3600, delay_s=600)
    # first row resets and fires; inside the delay nothing fires; after
    # the delay every row fires; an hour after the reset it starts over
    ts = [1000, 1300, 1600, 1700, 4600, 4700, 5300]
    assert [f.step("d", t) for t in ts] == [True, False, False, True, True, False, True]
    assert f.step("other", 1300) is True  # state is per device


def test_trigger_events_folds_in_device_time_order():
    f = O.TriggerFold(reset_s=3600, delay_s=600)
    rows = [("d", 1700, "u3", True, True), ("d", 1000, "u1", True, False),
            ("d", 1300, "u2", False, True), ("e", 1000, "u4", True, True)]
    # u1 admitted (fires, no match), u2 not admitted, u3 past the delay
    assert O.trigger_events(rows, f) == {"u3", "u4"}


def test_latest_positions_tie_break():
    dev = np.array(["a", "a", "a", "b"])
    ts = np.array([5, 9, 9, 1])
    lat = np.array([1.0, 2.0, 3.0, 4.0])
    lon = np.array([0.0, 0.0, 0.0, 0.0])
    d, la, _ = O.latest_positions(dev, ts, lat, lon)
    assert dict(zip(d, la)) == {"a": 3.0, "b": 4.0}


def test_at_verdicts_include_own_position():
    lat0, lon0 = 40.0, -100.0
    near_lat, near_lon = O.destination(lat0, lon0, 200.0, 0.0)
    band_lat, band_lon = O.destination(lat0, lon0, 246.0, 90.0)
    rows_lat = np.array([lat0, near_lat, 41.0])
    rows_lon = np.array([lon0, near_lon, -100.0])
    must, possible, n_either, _ = O.at_verdicts(
        rows_lat, rows_lon, [lat0, band_lat], [lon0, band_lon], 250.0)
    assert must.tolist() == [True, True, False]
    assert possible.tolist() == [True, True, False]
    assert n_either == 1  # the first row meets the 246 m device in the band


def test_grid_cell_box():
    c = O.grid_cell(40.01, -100.01)
    assert O.cell_box(int(c)) == pytest.approx((40.0, -100.02, 40.02, -100.0))
    assert O.grid_cell(40.01, -100.01) != O.grid_cell(40.03, -100.01)


def test_tile_problems():
    pts = [(40.01, -100.01), (40.011, -100.012), (40.05, -100.05)]
    c1, c2 = int(O.grid_cell(*pts[0])), int(O.grid_cell(*pts[2]))
    assert O.tile_problems({c1: 2, c2: 1}, pts) == []
    assert O.tile_problems({c1: 3}, pts)  # one point counted in the wrong cell
    assert O.tile_problems({c1: 2}, pts)  # counts do not sum to the events


def test_neardup_problems():
    docs = {1: "a b c d e", 2: "a b c d e", 3: "x y z w v", 4: "x y z w q",
            5: "p q r s t"}
    exact = [[1, 2]]
    near = [[3, 4]]
    ok, recall = O.neardup_problems(docs, [2, 4], exact, near, 0.9)
    assert ok == [] and recall == 1.0
    bad, _ = O.neardup_problems(docs, [1, 4], exact, near, 0.9)
    assert any("exact group" in p for p in bad)
    lonely, _ = O.neardup_problems(docs, [2, 4, 5], exact, near, 0.9)
    assert any("sharing no shingle" in p for p in lonely)
    low, recall = O.neardup_problems(docs, [2], exact, near, 0.9)
    assert recall == 0.0 and any("recall" in p for p in low)
    assert O.isolated_docs(docs) == {5}


def test_geofence_inputs_stay_out_of_the_zone_bands():
    groups, truth = I.gen_geofence(7)
    t = truth[truth.has_coord]
    assert not I._geo_bad(t.lat.to_numpy(), t.lon.to_numpy()).any()
    hb = I.HOT_CELL
    hot = t.lat.between(hb[0], hb[2]) & t.lon.between(hb[1], hb[3])
    assert 0.08 < hot.mean() < 0.2
    assert sum(len(g) for g in groups.values()) == len(truth)
    # the text carries the exact coordinate the truth table holds
    row = t.iloc[0]
    text = next(g for g in groups.values() if row.url in set(g.url))
    assert f"located at {row.lat!r}, {row.lon!r}" in text.set_index("url").text[row.url]


def test_stream_batches_straddle_the_dateline():
    batches = I.gen_stream(7)
    for b in batches:
        inside = {"east": 0, "west": 0}
        for la, lo in zip(b.lat, b.lon):
            for c in I.DL_ZONES.values():
                v = O.point_in_zone(O.haversine_m(la, lo, *c), I.DL_ZONE_R)
                assert v != O.EITHER
                if v == O.MUST:
                    inside["east" if lo > 0 else "west"] += 1
        assert inside["east"] >= 2 and inside["west"] >= 2
    assert len(set(batches[0].device_id)) > 5 * len(set(batches[1].device_id))


def test_metric_names_match_benchmark_json():
    import json

    import run
    from tracing import Tracer

    with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert run.END_TO_END == [m["name"] for m in bench["end_to_end"]]
    assert list(run.WORKLOADS) == [w["name"] for w in bench["workloads"]]

    class NoLayers:
        layer: dict = {}

    m = run.layer_metrics(NoLayers(), Tracer(False), {}, {}, [0.01], 1.0, 0)
    assert len(m) == len(bench["per_layer"])
    assert {k: u for k, (_, u) in m.items()} == {x["name"]: x["unit"] for x in bench["per_layer"]}
