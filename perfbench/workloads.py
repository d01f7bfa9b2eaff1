"""The two workloads: one operation, its warm-up, and its output checks.

convert  convert_images over a mixed table: small images on the fused
         route plus one image above SPLIT_THRESHOLD_PX on the strip route
         and the bounded parts writer. Pixel-bound.
rewrite  read_tiff_dir + rewrite_tiffs_to_dir over raw-tiled TIFFs. A byte
         reshuffle with no pixel work; stresses tiff.codec and the file
         source.

Each workload calls only the package's public functions. Checks are made
outside the timed region: the first operation's outputs are verified from
first principles and fingerprinted; every later operation must reproduce
each file's size exactly, and the bytes of a fresh sample of files.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import struct
import zlib

import numpy as np

import inputs as I

TILE = I.TILE
# files whose bytes every operation after the first re-checks
RECHECK_FILES = 8


def _fingerprint(path: pathlib.Path) -> int:
    return zlib.crc32(path.read_bytes())


class Workload:
    name = ""

    def __init__(self, manifest: dict, work: pathlib.Path):
        self.m = manifest
        self.out = work / "out"
        self.warm_out = work / "warm_out"
        self.rng = np.random.default_rng([manifest["seed"], 3])
        self.first_ok = None          # verdict of the first operation
        self.first_crc = None
        self.first_sizes = None
        self.errors: list[str] = []

    # -- lifecycle ---------------------------------------------------------
    def clean(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.warm_out, ignore_errors=True)
        os.sync()

    def out_files(self) -> list:
        return sorted(self.out.glob("*.tif"))

    def out_bytes(self) -> int:
        return sum(p.stat().st_size for p in self.out_files())

    def verify(self) -> bool:
        """True when this operation's outputs are correct."""
        files = self.out_files()
        sizes = {p.name: p.stat().st_size for p in files}
        if self.first_crc is None:
            errs = self.verify_from_scratch(files)
            self.errors += errs
            self.first_ok = not errs
            self.first_sizes = sizes
            self.first_crc = {p.name: _fingerprint(p) for p in files}
            return self.first_ok
        # later operations: every file's name and size, and the bytes of a
        # fresh sample of files, must match the first operation's
        names = sorted(self.first_crc)
        sample = self.rng.choice(names, min(RECHECK_FILES, len(names)),
                                 replace=False)
        if sizes != self.first_sizes or any(
                _fingerprint(self.out / n) != self.first_crc[n] for n in sample):
            self.errors.append("outputs differ from the first operation's")
            return False
        return bool(self.first_ok)


class Convert(Workload):
    name = "convert"

    def bind(self, spark) -> None:
        self.df = spark.read.parquet(self.m["input"])

    def warm(self, spark) -> None:
        from cogger_spark.operators.tiling import convert_images
        convert_images(spark.read.parquet(self.m["warm"]), str(self.warm_out),
                       tile=TILE, split_threshold_px=I.STRIP_THRESHOLD_PX)

    def run(self, tracer) -> None:
        from cogger_spark.operators.tiling import convert_images
        with tracer.span("operators.tiling.convert_images"):
            convert_images(self.df, str(self.out), tile=TILE,
                           split_threshold_px=I.STRIP_THRESHOLD_PX)

    def in_bytes(self) -> int:
        """Decoded pixel bytes (all planes) — the px_mb_per_s numerator."""
        return self.m["px_bytes"]

    def guard_min_python_bytes(self) -> float:
        import pyarrow.parquet as pq
        col = pq.read_table(self.m["input"], columns=["bytes"]).column(0)
        return float(sum(len(b) for b in col.to_pylist()))

    def verify_from_scratch(self, files) -> list:
        rows = {f"img_{r[0]:08d}.tif": r for r in self.m["rows"]}
        errs = []
        names = sorted(p.name for p in files)
        if names != sorted(rows):
            errs.append(f"convert wrote {len(names)} files for {len(rows)} images")
        small = [n for n, r in rows.items()
                 if r[1] * r[2] <= I.STRIP_THRESHOLD_PX]
        big = [n for n in rows if n not in small]
        sample = list(self.rng.choice(sorted(small), 5, replace=False)) + big
        for name in sample:
            p = self.out / name
            if not p.exists():
                continue
            try:
                errs += check_cog(p.read_bytes(), rows[name], self.rng,
                                  max_tiles=24)
            except Exception as e:    # a malformed file is a failed check
                errs.append(f"{name}: {type(e).__name__}: {e}")
        return errs


def _inflate(data: bytes, comp: int) -> bytes:
    if comp == 1:
        return data
    if comp == 8:
        return zlib.decompress(data)
    raise ValueError(f"unexpected compression {comp}")


def check_cog(data: bytes, row, rng, max_tiles: int) -> list:
    """Level and tile counts against planner.pyramid; level-0 tiles decoded
    and compared exactly with fixtures.make_pixels, with the GDAL block
    leader and trailer around each, when the ghost area declares them."""
    from cogger_spark.fixtures import make_pixels
    from cogger_spark.planner.pyramid import overview_count, overview_dims
    i, w, h, bands, mask, _fmt = row
    name = f"img_{i:08d}"
    ifds = I.read_ifds(data)
    imagery = [d for d in ifds if not d.get(254, (0,))[0] & 4]
    masks = [d for d in ifds if d.get(254, (0,))[0] & 4]
    n_over = overview_count(w, h, TILE, TILE)
    dims = overview_dims(w, h, n_over)
    errs = []
    if len(imagery) != n_over + 1:
        errs.append(f"{name}: {len(imagery)} levels, planner says {n_over + 1}")
    if len(masks) != (n_over + 1 if mask else 0):
        errs.append(f"{name}: {len(masks)} mask levels")
    imagery.sort(key=lambda d: -d[256][0])
    for lvl, d in enumerate(imagery[:len(dims)]):
        lw, lh = dims[lvl]
        want = -(-lw // TILE) * -(-lh // TILE)
        if (d[256][0], d[257][0]) != (lw, lh) or len(d[324]) != want:
            errs.append(f"{name}: level {lvl} is {d[256][0]}x{d[257][0]} with "
                        f"{len(d[324])} tiles, planner says {lw}x{lh}/{want}")
    if errs:
        return errs
    l0 = imagery[0]
    if l0[277][0] != bands or l0.get(317, (1,))[0] != 1:
        return [f"{name}: samples {l0[277][0]} / predictor, expected {bands}"]
    px = make_pixels(i, w, h, bands, mask)[:, :, :bands]
    ghost = data[8:400]
    leader = b"BLOCK_LEADER=SIZE_AS_UINT4" in ghost
    trailer = b"BLOCK_TRAILER=LAST_4_BYTES_REPEATED" in ghost
    ntx = -(-w // TILE)
    n = len(l0[324])
    picks = range(n) if n <= max_tiles else sorted(
        rng.choice(n, max_tiles, replace=False))
    for k in picks:
        ty, tx = divmod(int(k), ntx)
        off, size = l0[324][k], l0[325][k]
        if ((leader and data[off - 4:off] != struct.pack("<I", size)) or
                (trailer and data[off + size:off + size + 4]
                 != data[off + size - 4:off + size])):
            return [f"{name}: level-0 tile ({ty},{tx}) breaks the GDAL "
                    "block leader/trailer its ghost area declares"]
        raw = _inflate(data[off:off + size], l0[259][0])
        tile = np.frombuffer(raw, np.uint8).reshape(TILE, TILE, bands)
        want = np.zeros((TILE, TILE, bands), np.uint8)
        part = px[ty * TILE:(ty + 1) * TILE, tx * TILE:(tx + 1) * TILE]
        want[:part.shape[0], :part.shape[1]] = part
        if not np.array_equal(tile, want):
            return [f"{name}: level-0 tile ({ty},{tx}) differs from the source"]
    return []


class Rewrite(Workload):
    name = "rewrite"

    def bind(self, spark) -> None:
        from cogger_spark.sources.tiffdir import read_tiff_dir
        self.df = read_tiff_dir(spark, self.m["input"])
        self.last = None

    def warm(self, spark) -> None:
        from cogger_spark.operators.tiling import rewrite_tiffs_to_dir
        from cogger_spark.sources.tiffdir import read_tiff_dir
        rewrite_tiffs_to_dir(read_tiff_dir(spark, self.m["warm"]),
                             str(self.warm_out)).count()

    def run(self, tracer) -> None:
        import pyspark.sql.functions as F
        from cogger_spark.operators.tiling import rewrite_tiffs_to_dir
        with tracer.span("operators.tiling.rewrite_tiffs_to_dir"):
            # the aggregate consumes in_bytes, which only the kernel produces
            self.last = (rewrite_tiffs_to_dir(self.df, str(self.out))
                         .agg(F.count(F.lit(1)).alias("n"),
                              F.sum("in_bytes").alias("in_bytes"),
                              F.sum("out_bytes").alias("out_bytes"))
                         .collect()[0])

    def in_bytes(self) -> int:
        return self.m["in_bytes"]

    def guard_min_python_bytes(self) -> float:
        return 0.0        # the kernel may read the files itself (path route)

    def verify(self) -> bool:
        n, ib, ob = self.last["n"], self.last["in_bytes"], self.last["out_bytes"]
        ok = True
        if n != self.m["in_files"] or ib != self.m["in_bytes"]:
            self.errors.append(f"kernel saw {n} files / {ib} bytes, input has "
                               f"{self.m['in_files']} / {self.m['in_bytes']}")
            ok = False
        if ob != self.out_bytes():
            self.errors.append(f"kernel reported {ob} bytes, files hold "
                               f"{self.out_bytes()}")
            ok = False
        return super().verify() and ok

    def verify_from_scratch(self, files) -> list:
        from cogger_spark.tiff.codec import Config, rewrite
        src = pathlib.Path(self.m["input"])
        names = sorted(p.name for p in src.glob("*.tif"))
        if sorted(p.name for p in files) != names:
            return [f"rewrite wrote {len(files)} files for {len(names)} inputs"]
        errs = []
        for name in self.rng.choice(names, 6, replace=False):
            want = rewrite(src.joinpath(name).read_bytes(),
                           cfg=Config(with_gdal_ghost=True))
            if self.out.joinpath(name).read_bytes() != want:
                errs.append(f"{name}: differs from an in-process codec.rewrite")
        return errs


WORKLOADS = {"convert": Convert, "rewrite": Rewrite}
