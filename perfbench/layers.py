"""Per-layer metrics of a traced run (--trace 1).

collect() runs, after the traced passes and inside spans, the extra work
each layer needs: a noop-sink scan of the input, the route probe, single-
threaded kernel runs on a seeded sample of the inputs, cumulative-prefix
timings of the strip route, and one query of each spatial join over the
convert table's tile extents. finish() joins those timings with the Spark
event log (attributed to spans through job descriptions) into the flat
metric dict. A metric that does not apply to the workload reads 0; see
README.md for which layer feeds which end-to-end metric on which workload.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import inputs as I
import workloads as W

SPATIAL_QUERIES = ("pip", "knn", "knn_adaptive", "zonal", "distance")
N_POINTS = 2000
N_ZONES = 20
KNN_K = 5
RADIUS_DEG = 0.05


def _m(out: dict, name: str, value, unit: str) -> None:
    out[name] = (float(value), unit)


def _timed(tracer, name, fn):
    with tracer.span(name):
        t0 = time.perf_counter()
        res = fn()
        return time.perf_counter() - t0, res


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# single-threaded kernel rates
# ---------------------------------------------------------------------------


def imagecodecs_rates(m: dict, rng) -> dict:
    """ms per level-0 Mpx of decode_any, build_pyramid and
    cut_tiles + encode_image on a seeded sample of the convert images."""
    import pyarrow.parquet as pq
    from cogger_spark.functions.imagecodecs import (build_pyramid, cut_tiles,
                                                    encode_image)
    from cogger_spark.operators.tiling import decode_any
    tbl = pq.read_table(m["input"]).to_pylist()
    picks = rng.choice(len(tbl), min(4, len(tbl)), replace=False)
    t = {"decode": 0.0, "pyramid": 0.0, "encode": 0.0}
    mpx = 0.0
    for k in picks:
        r = tbl[int(k)]
        t0 = time.perf_counter()
        px, nplanes, _mask = decode_any(r["bytes"], r["w"], r["h"], r["fmt"])
        t1 = time.perf_counter()
        levels = build_pyramid(px[:, :, :nplanes], W.TILE)
        t2 = time.perf_counter()
        for lpx in levels:
            for _tx, _ty, block in cut_tiles(lpx, W.TILE):
                encode_image(block, "deflate")
        t3 = time.perf_counter()
        t["decode"] += t1 - t0
        t["pyramid"] += t2 - t1
        t["encode"] += t3 - t2
        mpx += r["w"] * r["h"] / 1e6
    return {k: 1e3 * v / mpx for k, v in t.items()}


def codec_rates(m: dict, rng) -> tuple:
    """(ms per parse_tiff, MB/s of rewrite) on sampled input files."""
    import pathlib

    from cogger_spark.tiff.codec import Config, parse_tiff, rewrite
    files = sorted(pathlib.Path(m["input"]).glob("*.tif"))
    picks = [files[int(k)] for k in rng.choice(len(files), 6, replace=False)]
    datas = [p.read_bytes() for p in picks]
    t0 = time.perf_counter()
    for d in datas:
        parse_tiff(d)
    t1 = time.perf_counter()
    for d in datas:
        rewrite(d, cfg=Config(with_gdal_ghost=True))
    t2 = time.perf_counter()
    mb = sum(len(d) for d in datas) / 1e6
    return 1e3 * (t1 - t0) / len(datas), mb / (t2 - t1)


def cells_rates(rng) -> dict:
    from cogger_spark.functions import cells as C
    from cogger_spark.functions.geo import DEFAULT_RES
    n = 100_000
    lon = rng.uniform(-175, 165, n)
    lat = rng.uniform(-85, 80, n)
    t0 = time.perf_counter()
    cell = C.cell_encode(lon, lat, DEFAULT_RES)
    t1 = time.perf_counter()
    ring = C.k_ring(cell[:20_000], 2)
    t2 = time.perf_counter()
    nt = 20_000
    C.cover_bbox(lon[:nt], lat[:nt], lon[:nt] + 0.5, lat[:nt] + 0.5, DEFAULT_RES)
    t3 = time.perf_counter()
    return {"encode": 1e9 * (t1 - t0) / n,
            "kring": 1e9 * (t2 - t1) / max(1, np.asarray(ring).size),
            "cover": 1e9 * (t3 - t2) / nt}


# ---------------------------------------------------------------------------
# spatial joins over the convert table's tile extents
# ---------------------------------------------------------------------------


def _tile_extents(rows) -> dict:
    """Level-0 tile bboxes computed here from (index, w, h) and the geo frame."""
    from cogger_spark.functions.geo import PIXEL_DEG, anchor
    t = W.TILE
    out = {k: [] for k in ("image_id", "ty", "tx", "x0", "y0", "x1", "y1",
                           "npx")}
    for i, w, h, *_r in rows:
        lon0, lat0 = anchor(i)
        for ty in range(-(-h // t)):
            for tx in range(-(-w // t)):
                pw, ph = min(t, w - tx * t), min(t, h - ty * t)
                out["image_id"].append(f"img_{i:08d}")
                out["ty"].append(ty)
                out["tx"].append(tx)
                out["x0"].append(lon0 + tx * t * PIXEL_DEG)
                out["y0"].append(lat0 + ty * t * PIXEL_DEG)
                out["x1"].append(lon0 + (tx * t + pw) * PIXEL_DEG)
                out["y1"].append(lat0 + (ty * t + ph) * PIXEL_DEG)
                out["npx"].append(pw * ph)
    return {k: np.asarray(v) for k, v in out.items()}


def spatial_inputs(rows, rng):
    import pandas as pd
    from cogger_spark.functions.geo import PIXEL_DEG, anchor
    pick = rng.integers(0, len(rows), N_POINTS)
    lon, lat = np.empty(N_POINTS), np.empty(N_POINTS)
    for j, k in enumerate(pick):
        i, w, h, *_r = rows[int(k)]
        lon0, lat0 = anchor(i)
        lon[j] = lon0 + rng.uniform(0, 1) * w * PIXEL_DEG
        lat[j] = lat0 + rng.uniform(0, 1) * h * PIXEL_DEG
    lon[::10] += 5.0                     # a tenth match no tile
    pts = pd.DataFrame({"point_id": [f"pt_{j:06d}" for j in range(N_POINTS)],
                        "lon": lon.round(9), "lat": lat.round(9),
                        "label": ["p"] * N_POINTS})
    zk = rng.integers(0, len(rows), N_ZONES)
    zl = [anchor(rows[int(k)][0]) for k in zk]
    span = rng.uniform(0.2, 1.2, N_ZONES)
    zones = pd.DataFrame({
        "zone_id": [f"zone_{z:03d}" for z in range(N_ZONES)],
        "lon_min": [a[0] - 0.1 for a in zl], "lat_min": [a[1] - 0.1 for a in zl],
        "lon_max": [a[0] - 0.1 + s for a, s in zip(zl, span)],
        "lat_max": [a[1] - 0.1 + s / 2 for a, s in zip(zl, span)]})
    return pts, zones


def check_pip(res, pts, tiles) -> list:
    x, y = pts["lon"].values[:, None], pts["lat"].values[:, None]
    inside = ((x >= tiles["x0"]) & (x < tiles["x1"])
              & (y >= tiles["y0"]) & (y < tiles["y1"]))
    pi, ti = np.nonzero(inside)
    want = {(pts["point_id"].iat[a], tiles["image_id"][b], int(tiles["ty"][b]),
             int(tiles["tx"][b])) for a, b in zip(pi, ti)}
    got = {(r.point_id, r.image_id, r.ty, r.tx) for r in res}
    return [] if got == want else [
        f"pip_join: {len(got)} pairs, brute force has {len(want)}"]


def check_zonal(res, zones, tiles) -> list:
    errs = []
    got = {r.zone_id: (r.n_tiles, r.n_images, r.px_sum) for r in res}
    want = {}
    for z in zones.itertuples(index=False):
        hit = ((tiles["x0"] < z.lon_max) & (tiles["x1"] > z.lon_min)
               & (tiles["y0"] < z.lat_max) & (tiles["y1"] > z.lat_min))
        if hit.any():
            want[z.zone_id] = (int(hit.sum()),
                               len(set(tiles["image_id"][hit])),
                               int(tiles["npx"][hit].sum()))
    if got != want:
        errs.append(f"zonal_stats: {len(got)} zones differ from brute force "
                    f"({len(want)} zones)")
    return errs


def check_distance(res, pts) -> list:
    x, y = pts["lon"].values, pts["lat"].values
    d2 = (x[:, None] - x[None, :]) ** 2 + (y[:, None] - y[None, :]) ** 2
    ids = pts["point_id"].values
    a, b = np.nonzero(np.triu(d2 <= RADIUS_DEG ** 2, 1))
    want = {(ids[i], ids[j]) for i, j in zip(a, b)}
    got = {(r.point_a, r.point_b) for r in res}
    errs = [] if got == want else [
        f"distance_join: {len(got)} pairs, brute force has {len(want)}"]
    pos = {p: k for k, p in enumerate(ids)}
    for r in res:
        if abs(r.dist2 - d2[pos[r.point_a], pos[r.point_b]]) > 1e-9:
            errs.append("distance_join: dist2 differs from a recomputation")
            break
    return errs


def check_knn(name, res, pts, tiles, k) -> list:
    """k rows per point at most, ranks 1..m, non-decreasing distances that
    match a recomputation from the tile centre."""
    pos = {p: j for j, p in enumerate(pts["point_id"].values)}
    key = {(tiles["image_id"][j], int(tiles["ty"][j]), int(tiles["tx"][j])): j
           for j in range(len(tiles["ty"]))}
    by_pt = {}
    for r in res:
        by_pt.setdefault(r.point_id, []).append(r)
    for pid, rs in by_pt.items():
        rs.sort(key=lambda r: r.rank)
        if len(rs) > k or [r.rank for r in rs] != list(range(1, len(rs) + 1)):
            return [f"{name}: point {pid} has ranks {[r.rank for r in rs]}"]
        d = [r.dist2 for r in rs]
        if any(b < a for a, b in zip(d, d[1:])):
            return [f"{name}: point {pid} distances decrease"]
        x, y = pts["lon"].iat[pos[pid]], pts["lat"].iat[pos[pid]]
        for r in rs:
            j = key.get((r.image_id, r.ty, r.tx))
            if r.level != 0 or j is None:
                return [f"{name}: unknown tile {r.image_id}/{r.ty}/{r.tx}"]
            cx = (tiles["x0"][j] + tiles["x1"][j]) / 2
            cy = (tiles["y0"][j] + tiles["y1"][j]) / 2
            if abs((x - cx) ** 2 + (y - cy) ** 2 - r.dist2) > 1e-9:
                return [f"{name}: dist2 differs from a recomputation"]
    return []


def candidate_pairs(pts, tiles) -> int:
    """Point-tile pairs sharing a grid cell: pip_join's equi-join output
    before the exact containment filter."""
    from cogger_spark.functions import cells as C
    from cogger_spark.functions.geo import DEFAULT_RES
    pc = C.cell_encode(pts["lon"].values, pts["lat"].values, DEFAULT_RES)
    covers = C.cover_bbox(tiles["x0"], tiles["y0"], tiles["x1"], tiles["y1"],
                          DEFAULT_RES)
    per_cell = {}
    for cov in covers:
        for c in np.unique(np.asarray(cov)):
            per_cell[int(c)] = per_cell.get(int(c), 0) + 1
    return sum(per_cell.get(int(c), 0) for c in pc)


def spatial_section(spark, wl, tracer, stats, rng) -> dict:
    from cogger_spark.operators import spatial as S
    rows = wl.m["rows"]
    tiles = _tile_extents(rows)
    pts, zones = spatial_inputs(rows, rng)
    d = wl.out.parent / "spatial"
    d.mkdir(parents=True, exist_ok=True)
    pts.to_parquet(d / "points.parquet")
    zones.to_parquet(d / "zones.parquet")
    points = spark.read.parquet(str(d / "points.parquet"))
    zdf = spark.read.parquet(str(d / "zones.parquet"))
    manifest = S.tile_manifest(spark.read.parquet(wl.m["input"]),
                               tile=W.TILE, level=0)
    queries = {
        "pip": (lambda: S.pip_join(points, manifest),
                lambda r: check_pip(r, pts, tiles)),
        "knn": (lambda: S.knn_join(points, manifest, k=KNN_K),
                lambda r: check_knn("knn_join", r, pts, tiles, KNN_K)),
        "knn_adaptive": (lambda: S.knn_join_adaptive(points, manifest, k=2),
                         lambda r: check_knn("knn_join_adaptive", r, pts,
                                             tiles, 2)),
        "zonal": (lambda: S.zonal_stats(zdf, manifest),
                  lambda r: check_zonal(r, zones, tiles)),
        "distance": (lambda: S.distance_join(points, RADIUS_DEG),
                     lambda r: check_distance(r, pts)),
    }
    out = {"secs": {}, "rows": {}}
    for name in SPATIAL_QUERIES:
        build, check = queries[name]
        stats["attempted"] += 1
        try:
            dt, res = _timed(tracer, f"operators.spatial.{name}",
                             lambda b=build: b().collect())
            errs = check(res)
        except Exception as e:  # noqa: BLE001 — counted as a failed query
            dt, res, errs = 0.0, [], [f"{name}: {type(e).__name__}: {e}"]
        stats["failed"] += bool(errs)
        wl.errors += errs
        out["secs"][name] = dt
        out["rows"][name] = len(res)
    out["candidates"] = candidate_pairs(pts, tiles)
    return out


# ---------------------------------------------------------------------------
# strip route: cumulative prefixes of public calls
# ---------------------------------------------------------------------------


def strips_section(spark, wl, tracer, stats) -> dict:
    from cogger_spark.operators.strips import strips_level0, tile_images_strips
    from cogger_spark.operators.tiling import convert_images
    src = wl.out.parent / "strip.parquet"
    rows = I.strip_rows(wl.m["seed"])
    I.write_image_table(src, rows)
    df = spark.read.parquet(str(src))
    out = {}
    out["level0"], _ = _timed(tracer, "operators.strips.strips_level0",
                              lambda: _noop(strips_level0(df, tile=W.TILE)))
    out["tiles"], _ = _timed(tracer, "operators.strips.tile_images_strips",
                             lambda: _noop(tile_images_strips(df, tile=W.TILE)))
    dst = wl.out.parent / "strip_out"
    stats["attempted"] += 1
    try:
        out["convert"], _ = _timed(
            tracer, "operators.strips.convert_images",
            lambda: convert_images(df, str(dst), tile=W.TILE,
                                   split_threshold_px=I.STRIP_THRESHOLD_PX))
        p = dst / f"img_{rows[0][0]:08d}.tif"
        errs = W.check_cog(p.read_bytes(), rows[0], wl.rng, max_tiles=16)
    except Exception as e:  # noqa: BLE001 — counted as a failed operation
        out["convert"], errs = 0.0, [f"strip route: {type(e).__name__}: {e}"]
    stats["failed"] += bool(errs)
    wl.errors += errs
    return out


# ---------------------------------------------------------------------------
# entry points
# ---------------------------------------------------------------------------


def collect(spark, wl, tracer, stats) -> dict:
    """Extra traced work after the timed passes; returns raw timings."""
    from cogger_spark.operators.tiling import route_probe
    from cogger_spark.sources.tiffdir import read_tiff_dir
    rng = np.random.default_rng([wl.m["seed"], 5])
    ex = {"workload": wl.name}
    if wl.name == "convert":
        src = spark.read.parquet(wl.m["input"])
        ex["scan_s"], _ = _timed(tracer, "sources.scan", lambda: _noop(src))
        ex["probe_s"], _ = _timed(tracer, "operators.tiling.route_probe",
                                  lambda: route_probe(src))
        ex["imagecodecs"] = imagecodecs_rates(wl.m, rng)
        ex["strips"] = strips_section(spark, wl, tracer, stats)
        ex["cells"] = cells_rates(rng)
        ex["spatial"] = spatial_section(spark, wl, tracer, stats, rng)
    else:
        src = read_tiff_dir(spark, wl.m["input"])
        ex["scan_s"], _ = _timed(tracer, "sources.scan", lambda: _noop(src))
        ex["codec"] = codec_rates(wl.m, rng)
    return ex


def _descs(tracer, roots) -> set:
    """Job descriptions of the given spans and all their descendants."""
    ids = {s["id"] for s in roots}
    grew = True
    while grew:
        new = {s["id"] for s in tracer.spans if s["parent"] in ids}
        grew = not new <= ids
        ids |= new
    return {tracer.desc(s) for s in tracer.spans if s["id"] in ids}


def finish(ex, log, tracer, wl, setups, untraced, times, other_cpu_s,
           peak_rss_mb, attempted, failed, slots) -> dict:
    import spans as T
    out = {}
    first = setups[0]
    _m(out, "session.first_start_s", first[0] + first[1], "s")
    _m(out, "session.start_s", statistics.median(a for a, _b in setups), "s")
    _m(out, "session.warmup_s", statistics.median(b for _a, b in setups), "s")

    passes = [s for s in tracer.spans if s["name"] == "pass"]
    n = max(1, len(passes))
    agg = T.span_metrics(log, _descs(tracer, passes))
    wall = sum(s["end"] - s["start"] for s in passes)
    _m(out, "sources.scan_s", ex["scan_s"], "s")
    _m(out, "sources.in_mb", wl.m["in_bytes"] / 1e6, "MB")
    _m(out, "tiling.driver_s", max(0.0, wall - agg["job_wall_s"]) / n, "s")
    _m(out, "tiling.route_probe_s", ex.get("probe_s", 0.0), "s")
    _m(out, "tiling.kernel_tasks", agg["kernel_tasks"] / n, "count")
    _m(out, "tiling.tasks_per_slot", agg["kernel_tasks"] / n / slots, "count")

    ic = ex.get("imagecodecs", {"decode": 0.0, "pyramid": 0.0, "encode": 0.0})
    _m(out, "imagecodecs.decode_ms_per_mpx", ic["decode"], "ms/Mpx")
    _m(out, "imagecodecs.pyramid_ms_per_mpx", ic["pyramid"], "ms/Mpx")
    _m(out, "imagecodecs.encode_ms_per_mpx", ic["encode"], "ms/Mpx")
    parse_ms, rw_mbs = ex.get("codec", (0.0, 0.0))
    _m(out, "codec.parse_ms_per_file", parse_ms, "ms")
    _m(out, "codec.rewrite_mb_per_s", rw_mbs, "MB/s")
    # single-threaded kernel time the rates predict for one pass, over the
    # pass's summed task run time
    if wl.name == "convert":
        mpx = sum(w * h for _i, w, h, *_r in wl.m["rows"]) / 1e6
        kernel_s = mpx * sum(ic.values()) / 1e3
    else:
        kernel_s = wl.m["in_bytes"] / 1e6 / rw_mbs if rw_mbs else 0.0
    run_s = agg["run_s"] / n
    _m(out, "tiling.kernel_share", kernel_s / run_s if run_s else 0.0, "ratio")

    st = ex.get("strips", {})
    strip_log = T.span_metrics(log, {tracer.desc(s) for s in tracer.spans
                                     if s["name"] == "operators.strips.convert_images"})
    _m(out, "strips.level0_s", st.get("level0", 0.0), "s")
    _m(out, "strips.tiles_s", st.get("tiles", 0.0), "s")
    _m(out, "strips.assemble_write_s",
       max(0.0, st.get("convert", 0.0) - st.get("tiles", 0.0)), "s")
    _m(out, "strips.shuffle_mb", strip_log["shuffle_write_mb"], "MB")

    ce = ex.get("cells", {"encode": 0.0, "kring": 0.0, "cover": 0.0})
    _m(out, "cells.encode_ns_per_point", ce["encode"], "ns")
    _m(out, "cells.kring_ns_per_cell", ce["kring"], "ns")
    _m(out, "cells.cover_ns_per_tile", ce["cover"], "ns")
    sp = ex.get("spatial")
    qspans = [s for s in tracer.spans if s["name"].startswith("operators.spatial.")]
    q = T.span_metrics(log, {tracer.desc(s) for s in qspans})
    nq = max(1, len(qspans))
    for name in SPATIAL_QUERIES:
        _m(out, f"spatial.{name}_s", sp["secs"][name] if sp else 0.0, "s")
    _m(out, "spatial.stages_per_query", q["stages"] / nq, "count")
    _m(out, "spatial.tasks_per_query", q["tasks"] / nq, "count")
    _m(out, "spatial.shuffle_mb_per_query", q["shuffle_write_mb"] / nq, "MB")
    cand = sp["candidates"] if sp else 0
    _m(out, "spatial.candidate_pairs", cand, "count")
    _m(out, "spatial.refine_keep_ratio",
       sp["rows"]["pip"] / cand if sp and cand else 0.0, "ratio")

    _m(out, "spark.jobs", agg["jobs"] / n, "count")
    _m(out, "spark.stages", agg["stages"] / n, "count")
    _m(out, "spark.tasks", agg["tasks"] / n, "count")
    for key, name in (("run_s", "executor_run_s"), ("cpu_s", "executor_cpu_s"),
                      ("gc_s", "gc_s"), ("sched_delay_s", "scheduler_delay_s"),
                      ("deser_s", "deserialize_s"),
                      ("fetch_wait_s", "fetch_wait_s")):
        _m(out, f"spark.{name}", agg[key] / n, "s")
    for key in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        _m(out, f"spark.{key}", agg[key] / n, "MB")
    _m(out, "spark.python_sent_mb", agg["py_sent_mb"] / n, "MB")
    _m(out, "spark.python_recv_mb", agg["py_recv_mb"] / n, "MB")
    _m(out, "spark.failed_tasks", agg["failed_tasks"], "count")
    _m(out, "spark.slot_util", agg["run_s"] / (wall * slots) if wall else 0.0,
       "ratio")

    u, t = statistics.median(untraced), statistics.median(times)
    _m(out, "trace.untraced_op_s", u, "s")
    _m(out, "trace.traced_op_s", t, "s")
    _m(out, "trace.overhead_frac", t / u - 1.0, "ratio")
    _m(out, "trace.span_coverage", min(tracer.coverage(s) for s in passes),
       "ratio")
    _m(out, "host.other_cpu_s", other_cpu_s, "s")
    _m(out, "host.peak_rss_mb", peak_rss_mb, "MB")
    _m(out, "failed_frac", failed / attempted, "ratio")
    return out
