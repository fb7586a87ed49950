"""Benchmark inputs: the committed sf0.01 seed tables and copies scaled from them.

``seed_data/`` holds the ten sf0.01 testdata tables (TESTDATA.md, generated
with seed 42), so a checkout carries its own inputs. A larger scale factor is
built once per checkout by ``tools/make_sf.build`` (N key-offset copies of
every fact table) into ``perfbench/.work/data/`` and reused by later runs.
The build is deterministic, so the reference hashes recorded for a scale
factor hold in every checkout.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
SEED_DIR = os.path.join(BENCH_DIR, "seed_data")
WORK_DIR = os.path.join(BENCH_DIR, ".work")
SEED_SF = 0.01


def sf_dir(copies: int) -> str:
    """Directory of the inputs at ``copies`` x the seed scale, built on first use."""
    if copies == 1:
        return SEED_DIR
    out = os.path.join(WORK_DIR, "data", f"x{copies}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    from tools import make_sf

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    make_sf.SRC = SEED_DIR
    with contextlib.redirect_stdout(sys.stderr):
        make_sf.build(copies, tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out

