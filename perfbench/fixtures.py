"""Benchmark input tables, generated from source inside the checkout.

The star schema and the LLM-data corpus come from the repository's own
generator (``scripts/gen_sf.py``), so their schemas match the engine's
fixtures. That generator copies the SF-invariant ``region`` and ``nation``
tables from a source fixture; those two are written here first (5 regions,
25 ``NATION_i`` rows, nation i in region i mod 5, as in every fixture).

Tables depend only on the scale factor, never on the benchmark seed, and are
made once per checkout: a later run finds the directory and reuses it.
"""

from __future__ import annotations

import importlib.util
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write_dimensions(sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        os.path.join(sf_dir, "region.parquet"),
    )
    pq.write_table(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        os.path.join(sf_dir, "nation.parquet"),
    )


def _load_generator(root: str):
    path = os.path.join(root, "scripts", "gen_sf.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen_sf", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def ensure(root: str, work_dir: str, sf: float) -> str:
    """Return the fixture directory for ``sf``, generating it if absent.

    Generation writes into a temporary sibling and renames it into place, so
    an interrupted run never leaves a half-written fixture behind.
    """
    out = os.path.join(work_dir, "fixtures", f"sf{sf:g}")
    if os.path.isdir(out):
        return out
    gen = _load_generator(root)
    tmp = f"{out}.tmp{os.getpid()}"
    dims = os.path.join(tmp, "_dims")
    # gen_sf copies region/nation from {SRC}/sf0.1
    _write_dimensions(os.path.join(dims, "sf0.1"))
    gen.SRC = dims
    gen.generate(sf, tmp)
    shutil.rmtree(dims)
    try:
        os.rename(tmp, out)
    except OSError:
        # another run renamed its copy into place first
        if not os.path.isdir(out):
            raise
        shutil.rmtree(tmp)
    return out
