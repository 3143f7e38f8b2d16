"""Workload ``geofence``: crawled pages through the chunked runner.

One chunk per file group; the chunk transform is geoparse -> detect with
all three detect strategies (Catalyst zone rule with a speed clause;
kernel rules: a buffered zone rule with a weekday clause and a zone
rule with a real trigger; a ``devices(@)`` pair-join rule against the
chunk's own latest-position snapshot). A round writes events per chunk
and the match raster, then removes the last chunk's manifest and runs
again (the resume pass).
"""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np
import pandas as pd

import inputs as I
import oracle as O
from tracing import tree_bytes

ZONE_IDS = list(I.GEO_ZONES)
RULES = {
    "geo0speed00000000000": "device INTERSECTS polygon({a1}, {a2}) and speed range [30 .. 170]",
    "geo1dayrule000000000": 'device :radius {buf}m INTERSECTS polygon({a3}) and day eq "Tuesday"'
                            " {{ :center {c3} :radius {day_r}m }}",
    "geo2trigger000000000": "device INTERSECTS polygon({a4})"
                            " {{ :center {c4} :radius {trig_r}m :trigger every 600s :reset after 1h }}",
    "geo3at00000000000000": "device :radius {at}m intersects devices(@)"
                            " {{ :center {c0} :radius {at_geo}m }}",
}
STRATEGY = {  # which detect strategy each rule takes
    "sql": ["geo0speed00000000000"],
    "kernel": ["geo1dayrule000000000", "geo2trigger000000000"],
    "at": ["geo3at00000000000000"],
}


def rule_texts() -> dict[str, str]:
    z = I.GEO_ZONES
    fmt = {f"a{k + 1}": zid for k, zid in enumerate(ZONE_IDS)}
    fmt.update({f"c{k + 1}": f"{z[zid][0]} {z[zid][1]}" for k, zid in enumerate(ZONE_IDS)})
    fmt["c0"] = f"{I.GEO_CENTER[0]} {I.GEO_CENTER[1]}"
    fmt.update(buf=int(I.BUFFER_R), day_r=int(I.DAY_RULE_R), trig_r=int(I.TRIGGER_R), at=int(I.AT_R),
               at_geo=int(I.AT_GEOFENCE_R))
    return {rid: spec.format(**fmt) for rid, spec in RULES.items()}


class Geofence:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.truth = pd.read_parquet(os.path.join(ctx.inputs, "truth.parquet"))
        self.n_pages = len(self.truth)
        self.expected = {k: self._expect(k) for k in range(I.GEO_GROUPS)}
        self.wall: list[float] = []
        self.resume: list[float] = []
        self.chunk_s: list[float] = []
        self.state_bytes: list[int] = []
        self.layer: dict[str, list[float]] = {"run.chunk_s": self.chunk_s}

    # --- engine ---------------------------------------------------------
    def build_engines(self):
        from spinix_spark.engine.detect import Engine
        from spinix_spark.engine.stores import zone_from_ring
        from spinix_spark.geo.rings import circle_ring

        def build(rule_ids):
            eng = Engine()
            for zid, (la, lo) in I.GEO_ZONES.items():
                eng.zones.add(zone_from_ring(zid, circle_ring(la, lo, I.ZONE_R, 6)))
            texts = rule_texts()
            t0 = time.perf_counter()
            for rid in rule_ids:
                eng.add_rule(texts[rid], rule_id=rid)
            return eng, time.perf_counter() - t0

        engine, compile_s = build(list(RULES))
        engines = {"all": engine}
        if self.ctx.tracer.enabled:
            for strat, ids in STRATEGY.items():
                engines[strat] = build(ids)[0]
        return engines, compile_s

    # --- oracle ---------------------------------------------------------
    def _expect(self, k: int) -> dict:
        """Expected (url, rule) event rows of chunk ``k`` and the rows that
        must and may match ``devices(@)``."""
        t = self.truth[(self.truth.group == k) & self.truth.has_coord]
        lat, lon = t.lat.to_numpy(), t.lon.to_numpy()
        urls = t.url.to_numpy()
        z = [I.GEO_ZONES[zid] for zid in ZONE_IDS]
        inz = [O.point_in_zone(O.haversine_m(lat, lon, *c), I.ZONE_R) for c in z]
        want: Counter = Counter()
        speed_ok = (t.speed >= 30) & (t.speed <= 170)
        for u in urls[((inz[0] == O.MUST) | (inz[1] == O.MUST)) & speed_ok.to_numpy()]:
            want[(u, "geo0speed00000000000")] = 2
        buf = O.buffered_in_zone(O.haversine_m(lat, lon, *z[2]), I.ZONE_R, I.BUFFER_R)
        tue = np.array([O.weekday(x) == "Tuesday" for x in t.datetime])
        for u in urls[(buf == O.MUST) & tue]:
            want[(u, "geo1dayrule000000000")] = 2
        adm = O.in_geofence(O.haversine_m(lat, lon, *z[3]), I.TRIGGER_R) == O.MUST
        fold = O.TriggerFold(reset_s=3600, delay_s=600)
        rows = zip(t.device_id, t.datetime, urls, adm, inz[3] == O.MUST)
        for u in O.trigger_events(rows, fold):
            want[(u, "geo2trigger000000000")] = 1
        _, slat, slon = O.latest_positions(t.device_id.to_numpy(), t.datetime.to_numpy(), lat, lon)
        must, possible, _, _ = O.at_verdicts(lat, lon, slat, slon, I.AT_R)
        return {"rows": want, "at_must": set(urls[must]), "at_possible": set(urls[possible])}

    def _check_chunk(self, path: str, k: int) -> list[str]:
        ev = pd.read_parquet(path, columns=["url", "rule_id"])
        got = Counter(zip(ev.url, ev.rule_id))
        exp = self.expected[k]
        problems = []
        at_got = {u for (u, r) in got if r == "geo3at00000000000000"}
        rest = Counter({key: n for key, n in got.items() if key[1] != "geo3at00000000000000"})
        if rest != exp["rows"]:
            miss = len(set(exp["rows"]) - set(rest))
            extra = len(set(rest) - set(exp["rows"]))
            problems.append(f"chunk {k}: zone events differ ({miss} missing, {extra} extra)")
        if any(got[(u, "geo3at00000000000000")] != 1 for u in at_got):
            problems.append(f"chunk {k}: duplicate devices(@) rows")
        if not exp["at_must"] <= at_got:
            problems.append(f"chunk {k}: {len(exp['at_must'] - at_got)} devices(@) matches missing")
        if not at_got <= exp["at_possible"]:
            problems.append(f"chunk {k}: {len(at_got - exp['at_possible'])} devices(@) matches extra")
        return problems

    def _check_raster(self, events: str, tiles: str) -> list[str]:
        ev = pd.read_parquet(events, columns=["url"])
        pos = self.truth.set_index("url").loc[ev.url, ["lat", "lon"]].to_numpy()
        r = pd.read_parquet(tiles, columns=["cell", "n_matches"])
        raster = {int(c): int(n) for c, n in zip(r.cell, r.n_matches)}
        return O.tile_problems(raster, [tuple(p) for p in pos])

    # --- one round ------------------------------------------------------
    def run_round(self, spark, engines, out: str, checks) -> None:
        from spinix_spark.engine.devices_at import snapshot_df_from_points
        from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
        from spinix_spark.engine.tiles import tile_rollup, write_tiles
        from spinix_spark.geo.cells import DEFAULT_SCHEME
        from spinix_spark.io.geoparse import cell_column, geoparse_points
        from spinix_spark.run.checkpoint import ChunkedRunner

        tr = self.ctx.tracer
        engine = engines["all"]
        pages_dir = os.path.join(self.ctx.inputs, "pages")

        def make_chunk_df(sp, k, n):
            tr.group("run.input")
            return sp.read.parquet(os.path.join(pages_dir, f"group={k}"))

        def transform(df_in):
            if tr.enabled:  # materialise each layer under its own job group
                with tr.span("io.geoparse"):
                    points = geoparse_points(df_in).persist()
                    points.count()
                with tr.span("engine.detect"):
                    with tr.span("engine.plan"):
                        events, _ = split_output(detect_batch_spark(
                            points, engine, devices_df=snapshot_df_from_points(points)))
                        events._jdf.queryExecution().executedPlan()
                    events = events.persist()
                    events.count()
                tr.group("io.sink")
                return events
            points = geoparse_points(df_in)
            events, _ = split_output(detect_batch_spark(
                points, engine, devices_df=snapshot_df_from_points(points)))
            return events

        events_dir = os.path.join(out, "events")
        tiles_dir = os.path.join(out, "tiles")
        t0 = time.perf_counter()
        with tr.span("run.chunked"):
            ChunkedRunner(events_dir, I.GEO_GROUPS).run(spark, make_chunk_df, transform)
        with tr.span("engine.tiles"):
            points = geoparse_points(spark.read.parquet(pages_dir)).drop("text").withColumn(
                "cell", cell_column(DEFAULT_SCHEME))
            events = spark.read.parquet(os.path.join(events_dir, "chunk=*"))
            write_tiles(tile_rollup(points, events, DEFAULT_SCHEME), tiles_dir, DEFAULT_SCHEME)
        self.wall.append(time.perf_counter() - t0)
        if tr.enabled:
            spark.catalog.clearCache()

        for k in range(I.GEO_GROUPS):
            checks.run(f"chunk {k}", lambda k=k: self._check_chunk(
                os.path.join(events_dir, f"chunk={k}"), k))
        checks.run("raster", lambda: self._check_raster(events_dir, tiles_dir))

        last = I.GEO_GROUPS - 1
        runner = ChunkedRunner(events_dir, I.GEO_GROUPS)
        self.chunk_s.extend(m["wall_s"] for m in runner.lineage())
        # what the resume pass relies on: chunk outputs and their manifests
        self.state_bytes.append(tree_bytes(events_dir))
        os.remove(os.path.join(events_dir, "_lineage", f"chunk-{last:05d}.json"))
        t0 = time.perf_counter()
        with tr.span("run.resume"):
            if tr.enabled:
                with tr.span("run.pending_scan"):
                    runner.pending_chunks()
            summary = runner.run(spark, make_chunk_df, transform)
        self.resume.append(time.perf_counter() - t0)
        self.chunk_s.append(runner.lineage()[last]["wall_s"])
        if tr.enabled:
            spark.catalog.clearCache()
            self.layer.setdefault("run.recomputed_chunks", []).append(summary["chunks_run"])
            self.layer.setdefault("io.sink_bytes", []).append(
                tree_bytes(events_dir) + tree_bytes(tiles_dir))

        def resume_ok():
            p = [] if summary["chunks_run"] == 1 else [f"resume ran {summary['chunks_run']} chunks"]
            return p + self._check_chunk(os.path.join(events_dir, f"chunk={last}"), last)
        checks.run("resume", resume_ok)

    def ops_per_round(self) -> int:
        return I.GEO_GROUPS + 2

    def metrics(self) -> dict:
        return {
            "pages_per_s": (self.n_pages / float(np.median(self.wall)), "1/s"),
            "resume_s": (float(np.median(self.resume)), "s"),
            "batch_p50_s": (float(np.median(self.chunk_s)), "s"),
            "state_bytes": (float(np.median(self.state_bytes)), "bytes"),
        }

    # --- traced extras --------------------------------------------------
    def trace_extras(self, spark, engines) -> dict:
        """Per-strategy detect over the same materialised points."""
        from spinix_spark.engine.devices_at import snapshot_df_from_points
        from spinix_spark.engine.spark_pipeline import (
            detect_batch_spark,
            rules_prune_expr,
            split_output,
        )
        from spinix_spark.io.geoparse import geoparse_points
        from pyspark.sql import functions as F

        tr = self.ctx.tracer
        pages = spark.read.parquet(os.path.join(self.ctx.inputs, "pages", "group=0"))
        points = geoparse_points(pages).drop("text").persist()
        n_points = points.count()
        snap = snapshot_df_from_points(points).persist()
        snap.count()
        out = {}
        for strat in ("sql", "kernel", "at"):
            eng = engines[strat]
            with tr.span(f"engine.detect_{strat}"):
                ev, _ = split_output(detect_batch_spark(points, eng, devices_df=snap))
                n_ev = ev.count()
            out[f"engine.detect_{strat}_s"] = tr.durations(f"engine.detect_{strat}")[-1]
            if strat == "kernel":
                pruned = points.where(F.expr(rules_prune_expr(eng))).count()
                out["engine.pruned_rows"] = pruned
                out["engine.events"] = n_ev
                out["engine.match_ratio"] = n_ev / pruned if pruned else 0.0
        n_pages = int(self.truth.group.eq(0).sum())
        out["io.points"] = n_points
        out["io.no_coord_pages"] = n_pages - n_points
        points.unpersist()
        snap.unpersist()
        return out
