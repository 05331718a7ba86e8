"""Seeded inputs: per-pass op order and the daily batch's landed event files.

Everything here is a pure function of the seed and the fixture, so the same
seed gives the same order and byte-identical delta files.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# landing files per daily delta; with maxFilesPerTrigger=1 each is one
# micro-batch of the incremental upsert
DELTA_FILES = 4
# share of events landed a second time, with a later ts, in a later file:
# the latest-wins upsert must merge them into the existing snapshot rows
RESEND_SHARE = 0.05


def pass_order(names: list[str], seed: int, pass_idx: int) -> list[str]:
    """The op order of one pass: a seeded permutation of ``names``."""
    order = list(names)
    random.Random(f"{seed}:{pass_idx}").shuffle(order)
    return order


def write_delta(events_path: str, landing_dir: str, seed: int) -> int:
    """Split the events table into ``DELTA_FILES`` landing files and re-send
    a seeded share of event_ids with a later ts in a later file.

    Returns the number of distinct event_ids landed, which the upserted
    snapshot must hold.
    """
    events = pq.read_table(events_path)
    n = events.num_rows
    rng = np.random.default_rng(seed)
    # ts is written tz-aware (UTC) so the stream reads it as TIMESTAMP
    events = events.set_column(
        events.schema.get_field_index("ts"),
        "ts",
        events.column("ts").cast(pa.timestamp("us", tz="UTC")),
    )
    part = rng.integers(0, DELTA_FILES, n)
    resend = np.flatnonzero(
        (rng.random(n) < RESEND_SHARE) & (part < DELTA_FILES - 1)
    )
    # re-sent copies land in a strictly later file, 1 s .. 1 h later, with a
    # new value, so the merge has a single latest version to keep
    resent = events.take(pa.array(resend))
    later_us = rng.integers(1_000_000, 3_600_000_001, len(resend))
    ts_us = resent.column("ts").cast(pa.int64()).to_numpy() + later_us
    resent = resent.set_column(
        resent.schema.get_field_index("ts"),
        "ts",
        pa.array(ts_us, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
    )
    resent = resent.set_column(
        resent.schema.get_field_index("value"),
        "value",
        pa.array(np.round(rng.exponential(50.0, len(resend)), 2)),
    )
    resent_part = part[resend] + 1 + (
        rng.integers(0, DELTA_FILES, len(resend)) % (DELTA_FILES - 1 - part[resend])
    )
    os.makedirs(landing_dir, exist_ok=True)
    for k in range(DELTA_FILES):
        chunk = pa.concat_tables([
            events.take(pa.array(np.flatnonzero(part == k))),
            resent.take(pa.array(np.flatnonzero(resent_part == k))),
        ])
        pq.write_table(chunk, os.path.join(landing_dir, f"events-{k:02d}.parquet"))
    return n
