"""Seeded benchmark inputs, generated without Spark.

Every stream is cut into fixed-size chunks: chunk ``i`` holds the
events with LSNs ``[i * chunk, (i + 1) * chunk)`` and is drawn by the
package's own per-chunk generator (``generate_changes_pdf``) from
``numpy.random.default_rng((seed, i))`` -- the scheme
``generate_changes`` uses per partition. The chunk size is fixed by the
benchmark, never by the core count, so the input is identical at any
``nproc``. Chunks ``0 .. base_chunks-1`` form the preloaded base; every
later chunk is one ingest window (or one envelope file).

Files are cached under the work directory by (seed, sizes); the cache
is never part of a timed section.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from oregonwaterdataportal_etl_spark.cdc.changegen import generate_changes_pdf

# 2024-01-01T00:00:00Z; event time advances SECONDS_PER_LSN per LSN so
# the base spans several days and the day-partitioned tree has more
# than one partition to route to
T0 = 1704067200
SECONDS_PER_LSN = 8

CHANGE_ARROW = pa.schema(
    [
        ("op", pa.string()),
        ("lsn", pa.int64()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class StreamSpec:
    """Shape of one change stream (FIXTURES.md traffic dimensions)."""

    chunk: int  # events per chunk = per window / envelope file
    base_chunks: int
    n_convs: int
    max_turns: int = 50
    zipf_a: float = 1.1  # hot conversations
    update_rate: float = 0.25
    delete_rate: float = 0.05
    out_of_order: float = 0.10
    malformed_rate: float = 0.01  # envelope files only
    txn_per_file: int = 20  # 3-event transactions inside one file
    txn_spanning: int = 5  # 4-event transactions split over two files

    @property
    def base_events(self) -> int:
        return self.chunk * self.base_chunks

    def key(self, seed: int) -> str:
        return (
            f"s{seed}-c{self.chunk}-b{self.base_chunks}-k{self.n_convs}"
            f"-t{self.max_turns}-z{self.zipf_a}-u{self.update_rate}"
            f"-d{self.delete_rate}-o{self.out_of_order}-m{self.malformed_rate}"
            f"-x{self.txn_per_file}.{self.txn_spanning}"
        )


def chunk_events(spec: StreamSpec, seed: int, i: int) -> pd.DataFrame:
    """Change events of chunk ``i`` (LSNs ``[i*chunk, (i+1)*chunk)``)."""
    pdf = generate_changes_pdf(
        spec.chunk,
        spec.n_convs,
        seed=(seed, i),
        max_turns=spec.max_turns,
        update_rate=spec.update_rate,
        delete_rate=spec.delete_rate,
        out_of_order=spec.out_of_order,
        zipf_a=spec.zipf_a,
        lsn_start=i * spec.chunk,
    )
    pdf["ts"] = pd.to_datetime(T0 + pdf["lsn"] * SECONDS_PER_LSN, unit="s", utc=True)
    return pdf


def _write(pdf: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"  # concurrent runs may share the cache
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), tmp)
    os.replace(tmp, path)


class ChangeStream:
    """Base + per-window parquet change files for one (seed, spec)."""

    def __init__(self, root: str, spec: StreamSpec, seed: int):
        self.spec = spec
        self.seed = seed
        self.dir = os.path.join(root, "inputs", spec.key(seed))
        os.makedirs(self.dir, exist_ok=True)

    def base_path(self) -> str:
        p = os.path.join(self.dir, "base.parquet")
        if not os.path.exists(p):
            pdf = pd.concat(
                [chunk_events(self.spec, self.seed, i) for i in range(self.spec.base_chunks)],
                ignore_index=True,
            )
            _write(pdf, p, CHANGE_ARROW)
        return p

    def window_path(self, w: int) -> str:
        """Change file of tail window ``w`` (0-based after the base)."""
        p = os.path.join(self.dir, f"window-{w:05d}.parquet")
        if not os.path.exists(p):
            _write(chunk_events(self.spec, self.seed, self.spec.base_chunks + w), p, CHANGE_ARROW)
        return p

    def window_range(self, w: int) -> tuple[int, int]:
        lo = (self.spec.base_chunks + w) * self.spec.chunk
        return lo, lo + self.spec.chunk - 1


# ------------------------------------------------------------ envelopes
_WIRE_OP = {"insert": "c", "update": "u", "delete": "d"}


def _ts_wire(ts: pd.Timestamp) -> str:
    # the envelope front-end's JSON_OPTS timestamp format
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def envelope_file(spec: StreamSpec, seed: int, w: int) -> tuple[pd.DataFrame, list[str], np.ndarray]:
    """(flat events, envelope JSON strings, malformed mask) of envelope
    file ``w``. Transactions: ``txn_per_file`` 3-event groups inside the
    file, and for odd ``w`` two events of each of ``txn_spanning``
    4-event groups close file ``w`` while the other two open file
    ``w+1`` -- so the pending-transaction tail is non-empty after every
    odd file and empty after every even one. About ``malformed_rate`` of
    the non-transactional envelopes are truncated (DLQ
    ``malformed_json``)."""
    ev = chunk_events(spec, seed, spec.base_chunks + w)
    n = len(ev)
    rng = np.random.default_rng((seed, 1_000_003, w))
    txn_id = np.full(n, None, dtype=object)
    txn_order = np.zeros(n, dtype=np.int64)
    txn_count = np.zeros(n, dtype=np.int64)
    span = 2 * spec.txn_spanning
    # spanning groups: tail of an odd file + head of the next even file
    for g in range(spec.txn_spanning if w > 0 else 0):
        tid = f"span-{seed}-{w - 1 + w % 2}-{g}"
        if w % 2 == 1:
            idx, orders = [n - span + 2 * g, n - span + 2 * g + 1], [0, 1]
        else:
            idx, orders = [2 * g, 2 * g + 1], [2, 3]
        for j, o in zip(idx, orders):
            txn_id[j], txn_order[j], txn_count[j] = tid, o, 4
    # intra-file groups, placed clear of both spanning regions
    starts = rng.choice(np.arange(span, n - span - 3, 3), size=spec.txn_per_file, replace=False)
    for g, s in enumerate(sorted(starts)):
        for o in range(3):
            txn_id[s + o], txn_order[s + o], txn_count[s + o] = f"in-{seed}-{w}-{g}", o, 3
    free = np.flatnonzero(txn_id == None)  # noqa: E711 -- object array
    n_bad = int(round(n * spec.malformed_rate))
    bad = np.zeros(n, dtype=bool)
    bad[rng.choice(free, size=n_bad, replace=False)] = True

    wire = []
    for j, row in enumerate(ev.itertuples(index=False)):
        image = {"conv_id": row.conv_id, "turn_idx": int(row.turn_idx), "ts": _ts_wire(row.ts)}
        if row.op != "delete":
            image.update(role=row.role, text=row.text)
            if row.tool is not None:
                image["tool"] = row.tool
        env = {
            "op": _WIRE_OP[row.op],
            ("before" if row.op == "delete" else "after"): image,
            "source": {"lsn": int(row.lsn)},
        }
        if txn_id[j] is not None:
            env["transaction"] = {
                "id": txn_id[j],
                "total_order": int(txn_order[j]),
                "event_count": int(txn_count[j]),
            }
        s = json.dumps(env, separators=(",", ":"))
        wire.append(s[: len(s) // 2] if bad[j] else s)
    return ev, wire, bad


class EnvelopeStream:
    """Per-file envelope wire (parquet ``value`` column) plus the flat
    events and malformed mask behind it, for the oracle."""

    def __init__(self, root: str, spec: StreamSpec, seed: int):
        self.spec = spec
        self.seed = seed
        self.changes = ChangeStream(root, spec, seed)
        self.dir = self.changes.dir

    def files(self, w: int) -> tuple[str, str]:
        """(wire file, flat-event file with a ``malformed`` column)."""
        wire_p = os.path.join(self.dir, f"wire-{w:05d}.parquet")
        flat_p = os.path.join(self.dir, f"wireflat-{w:05d}.parquet")
        if not (os.path.exists(wire_p) and os.path.exists(flat_p)):
            ev, wire, bad = envelope_file(self.spec, self.seed, w)
            ev = ev.assign(malformed=bad)
            _write(ev, flat_p, CHANGE_ARROW.append(pa.field("malformed", pa.bool_())))
            _write(pd.DataFrame({"value": wire}), wire_p, pa.schema([("value", pa.string())]))
        return wire_p, flat_p
