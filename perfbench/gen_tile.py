#!/usr/bin/env python3
"""Seeded Imaris (.ims) tile for the conversion workloads.

Writes through the in-repo pure-python HDF5 writer (`tools/gen_fixtures.py`)
so no h5py is needed. Content is microscopy-like and compresses under both
the HDF5 gzip+shuffle filters and the Zarr v3 bytes->zstd chain: a smooth,
blocky background (a seeded coarse random field upsampled by repetition)
plus a few bright blobs and a small per-voxel noise term of 0..15 counts.
The earlier `gen_big_fixture` tile XORed a full random low byte into every
voxel, which zstd cannot compress at all (stored/raw ratio 1.00).

Levels 1 and 2 are the 2x mean reduction of the level below, as Imaris
stores them, so `translate` copies a real pyramid.

Usage: gen_tile.py <out.ims> <seed> [z y x]
"""
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import gen_fixtures as gf  # noqa: E402

# HDF5 chunk of every level (the big-fixture choice; real tiles vary)
CHUNK = (128, 256, 256)
LEVELS = 3


def level0(shape, seed):
    rng = np.random.default_rng(seed)
    z, y, x = shape
    block = 32
    coarse = rng.integers(80, 400, size=(-(-z // block), -(-y // block), -(-x // block)))
    out = np.repeat(np.repeat(np.repeat(coarse, block, 0), block, 1), block, 2)
    out = out[:z, :y, :x].astype(np.uint16)
    # bright cell-like blobs: axis-aligned boxes of a higher constant level
    for _ in range(24):
        bz, by, bx = (int(rng.integers(0, n)) for n in shape)
        hz, hy, hx = (int(rng.integers(4, 24)) for _ in range(3))
        out[max(0, bz - hz):bz + hz, max(0, by - hy):by + hy,
            max(0, bx - hx):bx + hx] += np.uint16(rng.integers(500, 3000))
    for zi in range(z):
        out[zi] += rng.integers(0, 16, size=(y, x), dtype=np.uint16)
    return out


def mean2(a):
    z, y, x = (n // 2 for n in a.shape)
    a = a[:2 * z, :2 * y, :2 * x].astype(np.uint32)
    s = a.reshape(z, 2, y, 2, x, 2).sum(axis=(1, 3, 5))
    return (s // 8).astype(np.uint16)


def write_tile(path, seed, shape):
    w = gf.Writer()
    data = level0(shape, seed)
    levels = {}
    for lvl in range(LEVELS):
        if lvl:
            data = mean2(data)
        ds = w.chunked_dataset(data.astype("<u2"), CHUNK, {"gzip", "shuffle"})
        levels[lvl] = w.group({"TimePoint 0": w.group({"Channel 0": w.group({"Data": ds})})})
    tz, ty, tx = shape
    image = w.group_with_attrs({
        "X": str(tx), "Y": str(ty), "Z": str(tz),
        "ExtMin0": "0.0", "ExtMin1": "0.0", "ExtMin2": "0.0",
        "ExtMax0": str(float(tx)), "ExtMax1": str(float(ty)),
        "ExtMax2": str(float(tz)), "Unit": "um",
    })
    tmp = path + ".tmp"
    w.finish({"DataSet": w.group({f"ResolutionLevel {l}": levels[l] for l in levels}),
              "DataSetInfo": w.group({"Image": image})}, tmp)
    os.replace(tmp, path)


if __name__ == "__main__":
    shape = tuple(int(v) for v in sys.argv[3:6]) if len(sys.argv) > 3 else (256, 512, 1024)
    write_tile(sys.argv[1], int(sys.argv[2]), shape)
