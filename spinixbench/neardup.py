"""Workload ``neardup``: near-duplicate removal ahead of a light detect.

A quality funnel, ``queries_text.neardup_drop_ids``, a left-anti join,
then geoparse of the survivors, one Catalyst-compiled zone rule and the
match raster.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter

import numpy as np
import pandas as pd

import inputs as I
import oracle as O
from tracing import tree_bytes

RULE_ID = "text0speed0000000000"
RULE = "device INTERSECTS polygon({z}) and speed range [30 .. 170]"
MIN_WORDS = 30
RECALL_FLOOR = 0.9
RESUMES = 2  # output rebuilds per round; resume_s is their median


class Neardup:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        pages = pd.read_parquet(os.path.join(ctx.inputs, "pages"), columns=["doc_id", "url", "text", "lang"])
        with open(os.path.join(ctx.inputs, "truth.json")) as f:
            self.truth = json.load(f)
        self.n_pages = len(pages)
        words = pages.text.str.split(" ").str.len()
        keep = (pages.lang == "en") & (words >= MIN_WORDS)
        self.corpus = dict(zip(pages.doc_id[keep].astype(int), pages.text[keep]))
        self.urls = dict(zip(pages.doc_id.astype(int), pages.url))
        self.wall: list[float] = []
        self.dedup: list[float] = []
        self.resume: list[float] = []
        self.state_bytes: list[int] = []
        self.recall: list[float] = []
        self.layer: dict[str, list[float]] = {"text.recall": self.recall}
        self._points = self._parse_points()

    def _parse_points(self) -> pd.DataFrame:
        """Coordinates and speed of every corpus page, read from the text
        with Python string operations (not the program's regex)."""
        rows = []
        for doc_id, text in self.corpus.items():
            w = text.split(" ")
            if "located" not in w:
                continue
            k = w.index("located")
            rows.append((doc_id, self.urls[doc_id], float(w[k + 2].rstrip(",")), float(w[k + 3]),
                         float(w[k + 5])))
        return pd.DataFrame(rows, columns=["doc_id", "url", "lat", "lon", "speed"])

    def build_engines(self):
        from spinix_spark.engine.detect import Engine
        from spinix_spark.engine.stores import zone_from_ring
        from spinix_spark.geo.rings import circle_ring

        zid, (la, lo) = I.ND_ZONE
        eng = Engine()
        eng.zones.add(zone_from_ring(zid, circle_ring(la, lo, I.ZONE_R, 6)))
        t0 = time.perf_counter()
        eng.add_rule(RULE.format(z=zid), rule_id=RULE_ID)
        return {"all": eng}, time.perf_counter() - t0

    def ops_per_round(self) -> int:
        return 4 + 2 * RESUMES

    def _outputs(self, spark, engines, corpus, drop, paths) -> None:
        """Survivors -> geoparse -> zone rule -> events and raster."""
        from spinix_spark.engine.spark_pipeline import detect_batch_spark, split_output
        from spinix_spark.engine.tiles import tile_rollup, write_tiles
        from spinix_spark.geo.cells import DEFAULT_SCHEME
        from spinix_spark.io.geoparse import cell_column, geoparse_points
        from spinix_spark.io.sink import write_events

        tr = self.ctx.tracer
        with tr.span("io.sink"):
            clean = corpus.join(drop, "doc_id", "left_anti")
            clean.select("doc_id").write.mode("overwrite").parquet(paths["kept"])
        with tr.span("io.geoparse"):
            points = geoparse_points(clean.drop("doc_id", "n_chars")).drop("text").withColumn(
                "cell", cell_column(DEFAULT_SCHEME))
            if tr.enabled:
                points = points.persist()
                n_points = points.count()
                n_kept = spark.read.parquet(paths["kept"]).count()
                self.layer.setdefault("io.points", []).append(n_points)
                self.layer.setdefault("io.no_coord_pages", []).append(n_kept - n_points)
        with tr.span("engine.detect"):
            with tr.span("engine.plan"):
                events, _ = split_output(detect_batch_spark(points, engines["all"]))
                if tr.enabled:
                    events._jdf.queryExecution().executedPlan()
            write_events(events, paths["events"])
        with tr.span("engine.tiles"):
            events = spark.read.parquet(paths["events"])
            write_tiles(tile_rollup(points, events, DEFAULT_SCHEME), paths["tiles"], DEFAULT_SCHEME)
        if tr.enabled:
            points.unpersist()

    def run_round(self, spark, engines, out: str, checks) -> None:
        from pyspark.sql import functions as F

        from spinix_spark.queries_text import neardup_drop_ids

        tr = self.ctx.tracer
        paths = {k: os.path.join(out, k) for k in ("drop", "kept", "events", "tiles")}
        t0 = time.perf_counter()
        pages = spark.read.parquet(os.path.join(self.ctx.inputs, "pages"))
        corpus = pages.where(
            (F.col("lang") == "en") & (F.size(F.split(F.col("text"), " ")) >= MIN_WORDS)
        ).withColumn("n_chars", F.length("text"))
        with tr.span("text.edges_cc"):
            drop = neardup_drop_ids(corpus)
        with tr.span("text.keep"):
            drop = drop.persist()
            n_drop = drop.count()
            drop.write.mode("overwrite").parquet(paths["drop"])
        self.dedup.append(time.perf_counter() - t0)
        self._outputs(spark, engines, corpus, drop, paths)
        self.wall.append(time.perf_counter() - t0)
        drop.unpersist()
        self.state_bytes.append(tree_bytes(paths["drop"]))
        if tr.enabled:
            self.layer.setdefault("text.dropped", []).append(n_drop)
        self._check_all(checks, paths, with_drop=True)

        # resume: the outputs are lost, the stored drop set is not; rebuild
        # them without recomputing the near-duplicate stage
        for _ in range(RESUMES):
            for k in ("kept", "events", "tiles"):
                shutil.rmtree(paths[k])
            t0 = time.perf_counter()
            with tr.span("run.resume"):
                self._outputs(spark, engines, corpus, spark.read.parquet(paths["drop"]), paths)
            self.resume.append(time.perf_counter() - t0)
            self._check_all(checks, paths, with_drop=False)

    def _check_all(self, checks, paths, with_drop: bool) -> None:
        dropped = [int(x) for x in pd.read_parquet(paths["drop"]).doc_id]
        kept = [int(x) for x in pd.read_parquet(paths["kept"]).doc_id]

        def drop_ok():
            problems, recall = O.neardup_problems(
                self.corpus, dropped, self.truth["exact_groups"], self.truth["near_clusters"],
                RECALL_FLOOR)
            self.recall.append(recall)
            return problems

        def partition_ok():
            k, d = set(kept), set(dropped)
            p = []
            if len(k) != len(kept):
                p.append("kept ids repeat")
            if k & d:
                p.append(f"{len(k & d)} ids both kept and dropped")
            if k | d != set(self.corpus):
                p.append(f"kept + dropped cover {len(k | d)} of {len(self.corpus)} pages")
            return p

        if with_drop:
            checks.run("drop set", drop_ok)
            checks.run("partition", partition_ok)
        pts = self._points[self._points.doc_id.isin(set(kept))]
        d = O.haversine_m(pts.lat.to_numpy(), pts.lon.to_numpy(), *I.ND_ZONE[1])
        hit = (O.point_in_zone(d, I.ZONE_R) == O.MUST) & pts.speed.between(30, 170).to_numpy()
        want = Counter({(u, RULE_ID): 2 for u in pts.url[hit]})

        def events_ok():
            ev = pd.read_parquet(paths["events"], columns=["url", "rule_id"])
            got = Counter(zip(ev.url, ev.rule_id.astype(str)))
            if got == want:
                return []
            return [f"events differ ({len(set(want) - set(got))} missing, {len(set(got) - set(want))} extra)"]

        def tiles_ok():
            ev = pd.read_parquet(paths["events"], columns=["url"])
            pos = pts.set_index("url").loc[ev.url, ["lat", "lon"]].to_numpy()
            r = pd.read_parquet(paths["tiles"], columns=["cell", "n_matches"])
            return O.tile_problems({int(c): int(n) for c, n in zip(r.cell, r.n_matches)},
                                   [tuple(p) for p in pos])

        checks.run("events", events_ok)
        checks.run("tiles", tiles_ok)

    def metrics(self) -> dict:
        return {
            "pages_per_s": (self.n_pages / float(np.median(self.wall)), "1/s"),
            "resume_s": (float(np.median(self.resume)), "s"),
            "batch_p50_s": (float(np.median(self.dedup)), "s"),
            "state_bytes": (float(np.median(self.state_bytes)), "bytes"),
        }

    def trace_extras(self, spark, engines) -> dict:
        return {}
