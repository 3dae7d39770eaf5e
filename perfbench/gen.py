"""Seeded input generator and the in-memory model the oracles check against.

Every input the engine sees is made here, from ``--seed`` alone: clip rows,
CDC batches, the lookup/range/scan mix.  Payloads are real encoded audio:
``functions.audio.synth_wave`` seeded by ``xxhash64(clip_id)`` (the numpy
twin in ``functions.xxh64``), so the engine's SNR gate can verify them.  The
model keeps, per live key, the scalar columns plus a CRC32 and length of
the payload, which is what lookups, range counts, payload scans and the
final key-set check are compared with.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from open_finance_lakehouse_spark.functions import audio
from open_finance_lakehouse_spark.functions.xxh64 import xxh64_spark_column

SAMPLE_RATES = (8000, 16000, 22050, 44100)
CODECS = audio.CODECS
HOT_PREFIXES = 4
HOT_FRACTION = 0.2
_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india kilo lima "
          "mike oscar papa romeo sierra tango victor river stone amber "
          "vector kernel ledger beacon").split()

ARROW_SCHEMA = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()), ("codec", pa.string()),
    ("transcript", pa.string()),
])
CDC_SCHEMA = ARROW_SCHEMA.append(pa.field("op", pa.string())).append(
    pa.field("seq", pa.int64()))


@dataclass(frozen=True)
class Row:
    sr_hz: int
    dur_ms: int
    codec: str
    transcript: str
    nbytes: int
    crc: int


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def clip_ids(seed: int, start: int, n: int, rng: np.random.Generator
             ) -> list[str]:
    """Keys unique per (seed, index); a ``HOT_FRACTION`` share carries one
    of a few hot prefixes, the skewed key ranges CDC batches aim at."""
    hot = rng.random(n) < HOT_FRACTION
    pre = rng.integers(0, HOT_PREFIXES, n)
    return [f"clip-hot{pre[k]}-{seed:06d}-{start + k:08d}" if hot[k]
            else f"clip-{seed:06d}-{start + k:08d}" for k in range(n)]


def make_rows(ids: list[str], rng: np.random.Generator, dur_max_ms: int
              ) -> dict[str, list]:
    """Column lists for ``ids`` with fresh attributes and payloads."""
    n = len(ids)
    sr = rng.choice(SAMPLE_RATES, n).astype(int)
    dur = rng.integers(200, dur_max_ms + 1, n)
    codec = rng.choice(CODECS, n)
    words = rng.integers(0, len(_WORDS), (n, 4))
    seeds = xxh64_spark_column(ids, "string")
    payloads = [
        audio.encode(audio.synth_wave(int(seeds[k]),
                                      int(dur[k]) * int(sr[k]) // 1000,
                                      int(sr[k])), str(codec[k]))
        for k in range(n)]
    return {
        "clip_id": list(ids), "bytes": payloads,
        "sr_hz": [int(v) for v in sr], "dur_ms": [int(v) for v in dur],
        "codec": [str(v) for v in codec],
        "transcript": [" ".join(_WORDS[w] for w in ws) for ws in words],
    }


def write_batch(path: str, cols: dict[str, list], cdc: bool = False) -> str:
    """One landing-zone Parquet file the engine reads as its input batch."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols, schema=CDC_SCHEMA if cdc else ARROW_SCHEMA),
                   path, compression="none")
    return path


class Model:
    """Expected table state: live key -> Row."""

    def __init__(self):
        self.rows: dict[str, Row] = {}

    def upsert(self, cols: dict[str, list]) -> None:
        for k, cid in enumerate(cols["clip_id"]):
            b = cols["bytes"][k]
            self.rows[cid] = Row(cols["sr_hz"][k], cols["dur_ms"][k],
                                 cols["codec"][k], cols["transcript"][k],
                                 len(b), zlib.crc32(b))

    def delete(self, keys) -> None:
        for cid in keys:
            self.rows.pop(cid, None)

    def range_count(self, lo: int, hi: int, sr_hz: int) -> int:
        return sum(1 for r in self.rows.values()
                   if lo <= r.dur_ms <= hi and r.sr_hz == sr_hz)

    def payload_bytes(self, codec: str) -> int:
        return sum(r.nbytes for r in self.rows.values() if r.codec == codec)

    def matches(self, cid: str, sr_hz, dur_ms, codec, transcript,
                payload: bytes) -> bool:
        r = self.rows.get(cid)
        return (r is not None and r == Row(sr_hz, dur_ms, codec, transcript,
                                           len(payload), zlib.crc32(payload)))
