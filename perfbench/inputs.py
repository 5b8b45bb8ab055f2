"""Seeded input generation: the same seed always writes the same parquet
files.  Everything is drawn with numpy and written with pyarrow, so set-up
runs no Spark stage."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from linkgraph.synth import synth_transcripts_pdf


def transcripts(path: str, n_convs: int, seed: int) -> None:
    """``synth_transcripts_pdf`` at the bench tier (``unique_users=True``),
    with ``ts`` stored UTC-adjusted, so Spark reads it as a TIMESTAMP."""
    pdf = synth_transcripts_pdf(n_convs, seed=seed, unique_users=True)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False).cast(
            pa.schema(
                [
                    ("conv_id", pa.string()),
                    ("turn_idx", pa.int32()),
                    ("role", pa.string()),
                    ("text", pa.string()),
                    ("tool", pa.string()),
                    ("ts", pa.timestamp("us", tz="UTC")),
                ]
            )
        ),
        path,
    )


def power_edges(path: str, n_vertices: int, n_edges: int, star: int, seed: int) -> None:
    """Power-law edges in ``synth_power_edges``' law (src uniform, dst
    Zipf(1.3), multi-edges kept) plus one planted star: vertex
    ``n_vertices - 1`` gets ``star`` distinct out-edges, enough to cross the
    hub threshold."""
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n_vertices, size=n_edges, dtype=np.int64)
    dst = (rng.zipf(1.3, size=n_edges).astype(np.int64) - 1) % n_vertices
    src = np.concatenate([src, np.full(star, n_vertices - 1, dtype=np.int64)])
    dst = np.concatenate([dst, np.arange(star, dtype=np.int64)])
    pq.write_table(pa.table({"src": src, "dst": dst, "w": np.ones(len(src))}), path)


_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def events(path: str, n_events: int, n_users: int, seed: int) -> None:
    """``events`` in the repo's test-data schema: ``ts`` increasing over
    about a month, uniform users and event types, ``props`` a small JSON."""
    rng = np.random.default_rng(seed)
    gaps = rng.exponential(259.0, size=n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        np.cumsum(gaps) * 1e6
    ).astype("timedelta64[us]")
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, size=n_events, dtype=np.int64),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, size=n_events)],
            "value": np.round(rng.exponential(50.0, size=n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
