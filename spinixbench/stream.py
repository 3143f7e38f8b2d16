"""Workload ``stream``: micro-batches of device updates from parquet files.

Two queries read the same files one file per trigger:
``stream_detect_scalable`` (triggered zone rule, dateline zone rule,
``devices(@)`` rule; bucketed snapshot and state tables rewritten every
batch) and ``keyed_stream_detect`` (the two zone rules). Each
micro-batch of each query is one operation.

Known fault: ``keyed_stream_detect`` masks raw longitudes against the
rule box, so it drops every dateline-zone match west of 180 degrees;
each keyed micro-batch carries such rows and fails its check.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections import Counter
from datetime import datetime

import numpy as np
import pandas as pd

import inputs as I
import oracle as O
from tracing import tree_bytes

SCHEMA = ("url string, device_id string, layer_id string, lat double, lon double,"
          " datetime bigint, speed double")
T_RULE = "strm0trigger00000000"
D_RULE = "strm1dateline0000000"
A_RULE = "strm2at0000000000000"
KNOWN = "known fault: "
# Bucket layout of the snapshot and state tables. At the 256 default a
# 40-device delta batch costs ~12 s here against ~8 s at 16, which would
# not fit the run budget; the universe (1000 devices) fills all 16.
N_BUCKETS = 16
REPLAYS = 2  # keyed-query restarts per round; resume_s is their median


def rule_texts() -> dict[str, str]:
    tz, (tl, to) = I.ST_TZONE
    dl = ", ".join(I.DL_ZONES)
    return {
        T_RULE: f"device INTERSECTS polygon({tz}) {{ :center {tl} {to}"
                f" :radius {int(I.ST_TRIGGER_R)}m :trigger every 600s :reset after 1h }}",
        D_RULE: f"device INTERSECTS polygon({dl})",
        A_RULE: f"device :radius {int(I.AT_R)}m intersects devices(@)"
                f" {{ :center {I.ST_CENTER[0]} {I.ST_CENTER[1]} :radius {int(I.AT_GEOFENCE_R)}m }}",
    }


class Stream:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.files = sorted(glob.glob(os.path.join(ctx.inputs, "updates", "*.parquet")))
        self.batches = [pd.read_parquet(p) for p in self.files]
        self.n_updates = sum(len(b) for b in self.batches)
        self.expected = self._expect()
        self.wall: list[float] = []
        self.batch_s: list[float] = []
        self.keyed_batch_s: list[float] = []
        self.resume: list[float] = []
        self.state_bytes: list[int] = []
        self.layer: dict[str, list[float]] = {"stream.keyed_batch_p50_s": self.keyed_batch_s}

    # --- oracle ---------------------------------------------------------
    def _expect(self) -> list[dict]:
        fold = O.TriggerFold(reset_s=3600, delay_s=600)
        tz = I.ST_TZONE[1]
        out = []
        for k, b in enumerate(self.batches):
            lat, lon, urls = b.lat.to_numpy(), b.lon.to_numpy(), b.url.to_numpy()
            d = O.haversine_m(lat, lon, *tz)
            adm = O.in_geofence(d, I.ST_TRIGGER_R) == O.MUST
            rows = zip(b.device_id, b.datetime, urls, adm, O.point_in_zone(d, I.ZONE_R) == O.MUST)
            want = Counter({(u, T_RULE): 1 for u in O.trigger_events(rows, fold)})
            dl = np.zeros(len(b), dtype=bool)
            for c in I.DL_ZONES.values():
                dl |= O.point_in_zone(O.haversine_m(lat, lon, *c), I.DL_ZONE_R) == O.MUST
            for u in urls[dl]:
                want[(u, D_RULE)] = 1
            in_at = O.in_geofence(O.haversine_m(lat, lon, *I.ST_CENTER), I.AT_GEOFENCE_R) == O.MUST
            # batch k sees the snapshot as of batch k - 1
            seen = pd.concat(self.batches[:k]) if k else b.iloc[:0]
            _, slat, slon = O.latest_positions(seen.device_id.to_numpy(), seen.datetime.to_numpy(),
                                               seen.lat.to_numpy(), seen.lon.to_numpy())
            must, possible, _, _ = O.at_verdicts(lat[in_at], lon[in_at], slat, slon, I.AT_R)
            out.append({"zone": want, "west": set(urls[dl & (lon < 0)]),
                        "at_must": set(urls[in_at][must]), "at_possible": set(urls[in_at][possible])})
        return out

    def _check(self, path: str, b: int, keyed: bool) -> list[str]:
        if not os.path.exists(path):
            ev = pd.DataFrame({"url": [], "rule_id": []})
        else:
            ev = pd.read_parquet(path, columns=["url", "rule_id"])
        got = Counter(zip(ev.url, ev.rule_id))
        exp = self.expected[b]
        zone = Counter({k: n for k, n in got.items() if k[1] != A_RULE})
        problems = []
        if zone != exp["zone"]:
            missing = set(exp["zone"]) - set(zone)
            extra = set(zone) - set(exp["zone"])
            west = {(u, D_RULE) for u in exp["west"]}
            if keyed and not extra and missing == west and all(
                    zone[k] == exp["zone"][k] for k in zone):
                problems.append(f"{KNOWN}batch {b}: {len(missing)} dateline matches west of 180 missing")
            else:
                problems.append(f"batch {b}: zone events differ ({len(missing)} missing, {len(extra)} extra)")
        at = {u for (u, r) in got if r == A_RULE}
        if keyed and at:
            problems.append(f"batch {b}: keyed query emitted devices(@) events")
        if not keyed:
            if any(got[(u, A_RULE)] != 1 for u in at):
                problems.append(f"batch {b}: duplicate devices(@) rows")
            if not exp["at_must"] <= at:
                problems.append(f"batch {b}: {len(exp['at_must'] - at)} devices(@) matches missing")
            if not at <= exp["at_possible"]:
                problems.append(f"batch {b}: {len(at - exp['at_possible'])} devices(@) matches extra")
        return problems

    # --- engine ---------------------------------------------------------
    def build_engines(self):
        from spinix_spark.engine.detect import Engine
        from spinix_spark.engine.stores import zone_from_ring
        from spinix_spark.geo.rings import circle_ring

        texts = rule_texts()
        zones = [I.ST_TZONE] + list(I.DL_ZONES.items())
        engines, compile_s = {}, 0.0
        for name, ids in (("scalable", [T_RULE, D_RULE, A_RULE]), ("keyed", [T_RULE, D_RULE])):
            eng = Engine()
            for zid, (la, lo) in zones:
                r = I.ZONE_R if zid == I.ST_TZONE[0] else I.DL_ZONE_R
                eng.zones.add(zone_from_ring(zid, circle_ring(la, lo, r, 6)))
            t0 = time.perf_counter()
            for rid in ids:
                eng.add_rule(texts[rid], rule_id=rid)
            compile_s += time.perf_counter() - t0
            engines[name] = eng
        return engines, compile_s

    def ops_per_round(self) -> int:
        return 2 * len(self.files) + REPLAYS

    # --- one round ------------------------------------------------------
    def run_round(self, spark, engines, out: str, checks) -> None:
        import warnings

        from spinix_spark.streaming.detect_stream import stream_detect_scalable
        from spinix_spark.streaming.keyed_detect import keyed_stream_detect

        tr = self.ctx.tracer
        src_dir = os.path.join(self.ctx.inputs, "updates")

        def source():
            return (spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
                    .parquet(src_dir))

        sink_done: dict[int, float] = {}
        state_dir = os.path.join(out, "state")

        def sink(events, batch_id):
            if tr.enabled:
                self._count_versions(state_dir, batch_id - 1)
            events.write.mode("overwrite").parquet(os.path.join(out, "scalable", f"batch={batch_id}"))
            sink_done[batch_id] = time.time()

        t0 = time.perf_counter()
        with tr.span("stream.scalable"), warnings.catch_warnings():
            # the devices(@) rule's geofence block makes it a trigger-less
            # stateful rule, which the scalable query warns about
            warnings.simplefilter("ignore")
            q = stream_detect_scalable(source(), engines["scalable"], sink, state_dir,
                                       checkpoint_dir=os.path.join(out, "ckpt_scalable"),
                                       n_buckets=N_BUCKETS)
            q.awaitTermination()
        self.wall.append(time.perf_counter() - t0)
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        if q.exception() is not None:
            raise RuntimeError(f"scalable query failed: {q.exception()}")
        if tr.enabled:
            self._count_versions(state_dir, len(self.files) - 1)
        self.state_bytes.append(tree_bytes(state_dir))
        for p in progress:
            dur = p["durationMs"]
            if p["batchId"] > 0:  # batch 0 is the initial load of the universe
                self.batch_s.append(dur["triggerExecution"] / 1000.0)
            if tr.enabled:
                start = _epoch(p["timestamp"])
                done = sink_done.get(p["batchId"], start)
                self.layer.setdefault("stream.add_batch_s", []).append(dur.get("addBatch", 0) / 1000.0)
                self.layer.setdefault("stream.planning_s", []).append(dur.get("queryPlanning", 0) / 1000.0)
                self.layer.setdefault("stream.detect_s", []).append(done - start)
                self.layer.setdefault("stream.state_io_s", []).append(
                    start + dur["triggerExecution"] / 1000.0 - done)

        keyed_dir = os.path.join(out, "keyed")
        keyed_ckpt = os.path.join(out, "ckpt_keyed")

        def run_keyed():
            events = keyed_stream_detect(source(), engines["keyed"])
            q = (events.writeStream
                 .foreachBatch(lambda df, bid: df.write.mode("overwrite").parquet(
                     os.path.join(keyed_dir, f"batch={bid}")))
                 .outputMode("append")
                 .option("checkpointLocation", keyed_ckpt)
                 .trigger(availableNow=True)
                 .start())
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"keyed query failed: {q.exception()}")
            return [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]

        with tr.span("stream.keyed"):
            kprog = run_keyed()
        for p in kprog:
            if p["batchId"] > 0:
                self.keyed_batch_s.append(p["durationMs"]["triggerExecution"] / 1000.0)
            if tr.enabled:
                self.layer.setdefault("stream.keyed_add_batch_s", []).append(
                    p["durationMs"].get("addBatch", 0) / 1000.0)
        if tr.enabled and kprog:
            ops = kprog[-1].get("stateOperators") or [{}]
            self.layer.setdefault("stream.keyed_state_rows", []).append(ops[0].get("numRowsTotal", 0))
            self.layer.setdefault("stream.keyed_state_bytes", []).append(ops[0].get("memoryUsedBytes", 0))

        # batch ids follow the files in order; a batch that never ran fails its check
        for b in range(len(self.files)):
            checks.run(f"scalable batch {b}", lambda b=b: self._check(
                os.path.join(out, "scalable", f"batch={b}"), b, keyed=False))
        known = lambda p: all(x.startswith(KNOWN) for x in p)  # noqa: E731
        for b in range(len(self.files)):
            checks.run(f"keyed batch {b}", lambda b=b: self._check(
                os.path.join(keyed_dir, f"batch={b}"), b, keyed=True), known_fault=known)

        # resume: the last batch's commit is lost; the restarted query
        # replays that batch from its checkpoint and state store
        last = len(self.files) - 1

        def replay_ok(replay):
            ids = [p["batchId"] for p in replay]
            p = [] if ids == [last] else [f"replay ran batches {ids}, want [{last}]"]
            return p + self._check(os.path.join(keyed_dir, f"batch={last}"), last, keyed=True)

        for _ in range(REPLAYS):
            for name in (str(last), f".{last}.crc"):  # the commit and its checksum
                os.remove(os.path.join(keyed_ckpt, "commits", name))
            shutil.rmtree(os.path.join(keyed_dir, f"batch={last}"), ignore_errors=True)
            t0 = time.perf_counter()
            with tr.span("run.resume"):
                replay = run_keyed()
            self.resume.append(time.perf_counter() - t0)
            checks.run("keyed replay", lambda: replay_ok(replay), known_fault=known)

    def _count_versions(self, state_dir: str, batch_id: int) -> None:
        """Bucket versions and files the scalable query wrote for a batch."""
        if batch_id < 0:
            return
        dirs = glob.glob(os.path.join(state_dir, "*", "bucket=*", f"v{batch_id}"))
        files = [f for d in dirs for f in os.listdir(d) if f.endswith(".parquet")]
        self.layer.setdefault("stream.dirty_buckets", []).append(len(dirs))
        self.layer.setdefault("stream.files_written", []).append(len(files))

    def metrics(self) -> dict:
        return {
            "pages_per_s": (self.n_updates / float(np.median(self.wall)), "1/s"),
            "resume_s": (float(np.median(self.resume)), "s"),
            "batch_p50_s": (float(np.median(self.batch_s)), "s"),
            "state_bytes": (float(np.median(self.state_bytes)), "bytes"),
        }

    def trace_extras(self, spark, engines) -> dict:
        return {}


def _epoch(ts: str) -> float:
    return datetime.strptime(ts.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
