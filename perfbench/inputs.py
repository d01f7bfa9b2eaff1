"""Seeded benchmark inputs, generated outside the timed region.

Everything here is a function of the seed: the same seed writes the same
bytes, a different seed changes image indices, dimensions and order. Sizes
are drawn from fixed multisets with a small seeded jitter, so every seed
does about the same amount of work and throughput stays comparable.

Pixels come from ``cogger_spark.fixtures.make_pixels`` (closed form, so
the output checks can recompute any tile). The raw-tiled TIFFs for the
rewrite workload are written by the small writer below, not by the engine,
so a change to the engine cannot change its own inputs.
"""

from __future__ import annotations

import json
import pathlib
import shutil
import struct
import zlib

import numpy as np

TILE = 512
# convert: mixed small images, all on the fused route
SMALL_DIMS = (512, 640, 768, 896, 1024, 1280, 1536, 2048)
N_SMALL = 48
# traced runs time the strip route on one image above STRIP_THRESHOLD_PX:
# convert_images' public split_threshold_px, lowered from its 64 Mi px
# default so the strip pipeline and the parts writer fit a short run
STRIP_THRESHOLD_PX = 8 * 2**20
BIG_W, BIG_H = 4096, 4224          # 17.3 Mpx
# rewrite: raw-tiled TIFFs with overviews, IFDs at the end (not COG order).
# Every dim lies in (1024, 1536], so every file has a 3x3, 2x2, 1x1 tile
# pyramid and the same size. Spark's binaryFile source packs files into
# partitions by bytes, so equal files make equal partitions, one per slot;
# uneven ones leave slots idle while one slot sets the operation's time
REWRITE_DIMS = (1152, 1280, 1408, 1536)
N_REWRITE = 32
# every dim above is a multiple of 128: jitter below it stays in its tile
JITTER = 16
# set-up warm-up: a few tiny images, the same for every seed
WARM_DIMS = ((300, 257), (513, 129), (64, 64))

# ---------------------------------------------------------------------------
# image tables (convert)
# ---------------------------------------------------------------------------


def _table(rows):
    import pyarrow as pa
    from cogger_spark.fixtures import encode_pixels, make_pixels
    ids, blobs, ws, hs, fmts = [], [], [], [], []
    for i, w, h, bands, mask, fmt in rows:
        px = make_pixels(i, w, h, bands, mask)
        ids.append(f"img_{i:08d}")
        blobs.append(encode_pixels(px, fmt))
        ws.append(w)
        hs.append(h)
        fmts.append(fmt)
    return pa.table({
        "image_id": pa.array(ids, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "w": pa.array(ws, pa.int32()),
        "h": pa.array(hs, pa.int32()),
        "fmt": pa.array(fmts, pa.string()),
    })


def convert_rows(seed: int) -> list:
    """[(img_idx, w, h, bands, has_mask, fmt)] for the convert workload.

    The shapes and their order are the same for every seed: each width
    meets each band count once, and a base index that is a multiple of 30
    fixes the band, mask and format cycles of fixtures.py. The seed moves
    the image ids (and so their geo anchors) and a jitter of up to 15 px
    that never crosses a tile boundary, so tile and level counts, and the
    rows' placement in partitions, stay the same."""
    from cogger_spark.fixtures import has_mask, image_fmt, n_bands
    rng = np.random.default_rng([seed, 1])
    base = 30 * int(rng.integers(1, 1_000_000))
    rows = []
    for j in range(N_SMALL):
        i = base + j
        w = SMALL_DIMS[j % len(SMALL_DIMS)] - int(rng.integers(0, JITTER))
        h = SMALL_DIMS[(3 * j + 1) % len(SMALL_DIMS)] - int(rng.integers(0, JITTER))
        rows.append((i, w, h, n_bands(i), has_mask(i), image_fmt(i)))
    return rows


def strip_rows(seed: int) -> list:
    """One single-band image above STRIP_THRESHOLD_PX (traced runs)."""
    rng = np.random.default_rng([seed, 4])
    i = 3 * int(rng.integers(1, 3_000_000))    # i % 3 == 0: 1 band, no mask
    return [(i, BIG_W - int(rng.integers(0, JITTER)),
             BIG_H - int(rng.integers(0, JITTER)), 1, False, "deflate")]


def warm_rows() -> list:
    from cogger_spark.fixtures import has_mask, image_fmt, n_bands
    return [(i, w, h, n_bands(i), has_mask(i), image_fmt(i))
            for i, (w, h) in enumerate(WARM_DIMS, start=10)]


def write_image_table(path: pathlib.Path, rows: list) -> None:
    import pyarrow.parquet as pq
    # one row group per image, so a split never holds more than one blob
    pq.write_table(_table(rows), path, row_group_size=1, compression="snappy")


# ---------------------------------------------------------------------------
# raw-tiled TIFFs (rewrite)
# ---------------------------------------------------------------------------


def rewrite_rows(seed: int) -> list:
    """[(img_idx, w, h, bands)] — 3-band, no mask; the same shapes for
    every seed, with seeded ids and jitter as in convert_rows."""
    rng = np.random.default_rng([seed, 2])
    base = int(rng.integers(1, 3_000_000))
    n = len(REWRITE_DIMS)
    return [(base + j,
             REWRITE_DIMS[j % n] - int(rng.integers(0, JITTER)),
             REWRITE_DIMS[(j // n + j) % n] - int(rng.integers(0, JITTER)),
             3)
            for j in range(N_REWRITE)]


def _overviews(px: np.ndarray, tile: int) -> list:
    levels = [px]
    while px.shape[0] > tile or px.shape[1] > tile:
        px = px[::2, ::2]
        levels.append(np.ascontiguousarray(px))
    return levels


def _tiles(px: np.ndarray, tile: int) -> np.ndarray:
    """(n_tiles, tile*tile*bands) uint8, row-major tile order, edge tiles
    zero-padded."""
    h, w, b = px.shape
    nty, ntx = -(-h // tile), -(-w // tile)
    pad = np.zeros((nty * tile, ntx * tile, b), np.uint8)
    pad[:h, :w] = px
    return (pad.reshape(nty, tile, ntx, tile, b).transpose(0, 2, 1, 3, 4)
            .reshape(nty * ntx, -1))


def tiled_tiff_bytes(px: np.ndarray, tile: int = TILE) -> bytes:
    """Little-endian classic TIFF: full-res IFD plus 2x-decimated overview
    IFDs, uncompressed pixel-interleaved tiles. Tile data comes first, full
    resolution first; the IFD chain sits at the end of the file — the
    layout a COG rewrite has to reorder."""
    levels = _overviews(px, tile)
    spp = px.shape[2]
    buf = bytearray(b"II*\x00\x00\x00\x00\x00")
    tile_meta = []
    for lpx in levels:
        tiles = _tiles(lpx, tile)
        size = tiles.shape[1]
        tile_meta.append(([len(buf) + k * size for k in range(len(tiles))],
                          [size] * len(tiles)))
        buf += tiles.tobytes()
    prev_next = 4                       # where to patch the next-IFD offset
    for lvl, (lpx, (offs, counts)) in enumerate(zip(levels, tile_meta)):
        if len(buf) % 2:
            buf += b"\x00"
        entries = [
            (254, 4, [1 if lvl else 0]),
            (256, 4, [lpx.shape[1]]),
            (257, 4, [lpx.shape[0]]),
            (258, 3, [8] * spp),
            (259, 3, [1]),
            (262, 3, [2 if spp == 3 else 1]),
            (277, 3, [spp]),
            (284, 3, [1]),
            (322, 3, [tile]),
            (323, 3, [tile]),
            (324, 4, offs),
            (325, 4, counts),
        ]
        ifd_off = len(buf)
        struct.pack_into("<I", buf, prev_next, ifd_off)
        extra_off = ifd_off + 2 + 12 * len(entries) + 4
        body = bytearray(struct.pack("<H", len(entries)))
        extra = bytearray()
        for tag, typ, vals in entries:
            fmt = "<%d%s" % (len(vals), "H" if typ == 3 else "I")
            payload = struct.pack(fmt, *vals)
            if len(payload) <= 4:
                field = payload.ljust(4, b"\x00")
            else:
                field = struct.pack("<I", extra_off + len(extra))
                extra += payload
                if len(extra) % 2:
                    extra += b"\x00"
            body += struct.pack("<HHI", tag, typ, len(vals)) + field
        prev_next = ifd_off + len(body)
        body += b"\x00\x00\x00\x00"
        buf += body + extra
    return bytes(buf)


def write_rewrite_dir(path: pathlib.Path, rows: list) -> None:
    from cogger_spark.fixtures import make_pixels
    path.mkdir(parents=True, exist_ok=True)
    for i, w, h, bands in rows:
        data = tiled_tiff_bytes(make_pixels(i, w, h, bands, False))
        (path / f"img_{i:08d}.tif").write_bytes(data)


# ---------------------------------------------------------------------------
# minimal TIFF reader used by the output checks
# ---------------------------------------------------------------------------

_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8,
          11: 4, 12: 8, 16: 8, 17: 8, 18: 8}
_FMT = {1: "B", 3: "H", 4: "I", 16: "Q", 7: "B", 2: "B"}


def read_ifds(data: bytes) -> list:
    """[{tag: tuple(values)}] in file order, classic or BigTIFF, little
    endian. Only integer-typed tags are decoded; others are skipped."""
    if data[:2] != b"II":
        raise ValueError("not a little-endian TIFF")
    version = struct.unpack_from("<H", data, 2)[0]
    big = version == 43
    if not big and version != 42:
        raise ValueError(f"bad TIFF version {version}")
    off = struct.unpack_from("<Q" if big else "<I", data, 8 if big else 4)[0]
    ifds = []
    while off:
        n = struct.unpack_from("<Q" if big else "<H", data, off)[0]
        pos = off + (8 if big else 2)
        esize, cap = (20, 8) if big else (12, 4)
        tags = {}
        for k in range(n):
            e = pos + k * esize
            tag, typ = struct.unpack_from("<HH", data, e)
            cnt = struct.unpack_from("<Q" if big else "<I", data, e + 4)[0]
            if typ not in _FMT:
                continue
            size = _SIZES[typ] * cnt
            vpos = e + (12 if big else 8)
            if size > cap:
                vpos = struct.unpack_from("<Q" if big else "<I", data, vpos)[0]
            tags[tag] = struct.unpack_from("<%d%s" % (cnt, _FMT[typ]), data, vpos)
        ifds.append(tags)
        off = struct.unpack_from("<Q" if big else "<I", data, pos + n * esize)[0]
    return ifds


# ---------------------------------------------------------------------------
# per-seed cache
# ---------------------------------------------------------------------------


def _digest(paths) -> str:
    """CRC-32 over names and bytes: cheap enough for ~0.5 GB per run, and
    enough to tell two generations apart."""
    crc = 0
    for p in sorted(paths):
        crc = zlib.crc32(p.read_bytes(), zlib.crc32(p.name.encode(), crc))
    return f"{crc:08x}"


def prepare(workload: str, seed: int, root: pathlib.Path) -> dict:
    """Generate (or reuse) one workload's inputs under root; returns a
    manifest with paths, sizes and a digest of every input byte."""
    d = root / f"{workload}-s{seed}"
    meta = d / "manifest.json"
    # keep one seed per workload on disk: a rewrite input is ~350 MB
    for other in root.glob(f"{workload}-s*"):
        if other != d:
            shutil.rmtree(other, ignore_errors=True)
    if meta.exists():
        return json.loads(meta.read_text())
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    warm = d / "warm.parquet"
    write_image_table(warm, warm_rows())
    m = {"workload": workload, "seed": seed, "warm": str(warm)}
    if workload == "rewrite":
        warm = d / "warm_tiffs"
        write_rewrite_dir(warm, [(i, w, h, 1) for i, w, h, *_r in warm_rows()])
        m["warm"] = str(warm)
    if workload == "convert":
        rows = convert_rows(seed)
        src = d / "images.parquet"
        write_image_table(src, rows)
        m.update(input=str(src), rows=rows,
                 in_files=1, in_bytes=src.stat().st_size,
                 px_bytes=sum(w * h * (b + int(mk))
                              for _i, w, h, b, mk, _f in rows),
                 digest=_digest([src]))
    elif workload == "rewrite":
        rows = rewrite_rows(seed)
        src = d / "tiffs"
        write_rewrite_dir(src, rows)
        files = sorted(src.glob("*.tif"))
        m.update(input=str(src), rows=rows, in_files=len(files),
                 in_bytes=sum(f.stat().st_size for f in files),
                 digest=_digest(files))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    meta.write_text(json.dumps(m))
    return m
