"""Seeded backlog of Kafka-envelope JSON files for the stream workloads.

Each file holds one micro-batch worth of JSON-lines records shaped like
``RAW_EVENT_SCHEMA``: a base64 payload (the file source decodes
BinaryType fields from base64, as a binary Kafka value round-trips
through JSON), topic, partition, a global offset and a per-record
produce timestamp.  Payloads carry the SPC report shapes the enrichment
chain handles: HHMM and RFC 3339 times, invalid ``2510``-style times,
``UNK`` and ``EF*`` magnitudes, relative and bare locations, and
trailing ``(WFO)`` comments.

Fixed shares per file: about 1% poison payloads (malformed JSON),
about 5% in-file replays (same payload, later offset) and about 0.5%
replays of a record from an earlier file.  Every original record has
a unique (lat, lon) pair, so its deterministic id is unique and the
expected first-wins output count is known without running the engine.

File ``i`` of a seed is a pure function of ``(seed, i, records)``, so
a backlog of any length is a prefix of the same stream.
"""

from __future__ import annotations

import base64
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from pathlib import Path

POISON_SHARE = 0.01
IN_FILE_REPLAY_SHARE = 0.05
CROSS_FILE_REPLAY_SHARE = 0.005

_TYPES = ("hail", "wind", "tornado")
_OFFICES = ("OUN", "TSA", "FWD", "EWX", "SJT", "LUB", "AMA", "ICT", "GLD", "OAX", "DMX", "FSD")
_STATES = ("TX", "OK", "KS", "NE", "IA", "SD", "ND", "MO", "CO", "MN")
_COUNTIES = ("Tarrant", "Bell", "San Saba", "Cleveland", "Sedgwick", "Douglas", "Polk", "Ellis")
_TOWNS = ("Norman", "Moore", "Waco", "Hays", "Colby", "Salina", "Ada", "Anthon", "Minot", "Paris")
_DIRS = ("N", "NNE", "NE", "ENE", "E", "ESE", "SE", "SSE", "S", "SSW", "SW", "WSW", "W", "WNW", "NW", "NNW")
_POISON = ('{"Time": "1510", "Size": ', "{not valid json", '{"EventType": "hail"', "[1, 2,", "}{")

_EPOCH = datetime(2024, 4, 26, tzinfo=timezone.utc)


@dataclass
class FileCounts:
    """What the generator put in one file."""

    records: int
    poison: int
    unique_valid: int  # distinct ids among the valid records


def _payload(rng: random.Random, uid: int) -> str:
    et = rng.choice(_TYPES) if rng.random() > 0.01 else "flood"
    roll = rng.random()
    if roll < 0.80:
        t = f"{rng.randrange(24):02d}{rng.randrange(60):02d}"
    elif roll < 0.88:
        t = f"{rng.randrange(1, 10)}{rng.randrange(60):02d}"  # 3-digit HHMM
    elif roll < 0.95:
        t = f"2024-04-26T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00Z"
    else:
        t = rng.choice(("2510", "1299", "", "99"))  # invalid: base-timestamp fallback
    size = f_scale = speed = ""
    if et == "hail":
        size = rng.choice(("UNK", str(rng.randrange(50, 400, 25)), f"{rng.uniform(0.5, 4):.2f}"))
    elif et == "tornado":
        f_scale = rng.choice(("UNK", f"EF{rng.randrange(6)}", f"F{rng.randrange(6)}"))
    elif et == "wind":
        speed = rng.choice(("UNK", str(rng.randrange(40, 110))))
    town = rng.choice(_TOWNS)
    if rng.random() < 0.7:
        dist = rng.choice((str(rng.randrange(1, 30)), f"{rng.uniform(0.5, 20):.1f}"))
        location = f"{dist} {rng.choice(_DIRS)} {town}"
    else:
        location = town
    comments = f"Report {uid} near {town}."
    if rng.random() < 0.9:
        comments += f" ({rng.choice(_OFFICES)})"
    # (lat, lon) is a bijection of uid, so every original id is unique
    lat = f"{25 + (uid % 2000) * 0.01:.2f}"
    lon = f"{-125 + (uid // 2000 % 5000) * 0.01:.2f}"
    if uid % 2000 == 7:
        lat = "bad"  # unparseable -> 0.0; one per lon value, so still unique
    # no field holds a quote or backslash, so plain formatting is valid JSON
    return (
        f'{{"Time": "{t}", "Size": "{size}", "F_Scale": "{f_scale}", "Speed": "{speed}", '
        f'"Location": "{location}", "County": "{rng.choice(_COUNTIES)}", '
        f'"State": "{rng.choice(_STATES)}", "Lat": "{lat}", "Lon": "{lon}", '
        f'"Comments": "{comments}", "EventType": "{et}"}}'
    )


def _envelope(value: str, offset: int) -> str:
    ts = _EPOCH + timedelta(milliseconds=10 * offset)  # ~100 msg/s produce rate
    b64 = base64.b64encode(value.encode()).decode()
    return (
        f'{{"key": null, "value": "{b64}", "topic": "raw-weather-reports", '
        f'"partition": 0, "offset": {offset}, '
        f'"timestamp": "{ts:%Y-%m-%dT%H:%M:%S}.{ts.microsecond // 1000:03d}Z"}}'
    )


def _anchor(seed: int | str, index: int, records: int) -> str:
    """Payload of file ``index``'s last record, the one later files replay."""
    uid = index * records + records - 1
    return _payload(random.Random(f"{seed}:{index}:anchor"), uid)


def write_file(path: Path, seed: int | str, index: int, records: int) -> FileCounts:
    """Write file ``index`` of the seed's backlog and return its counts."""
    rng = random.Random(f"{seed}:{index}")
    first = index * records
    lines, originals, replayed = [], [], set()
    poison = 0
    for k in range(records):
        offset = first + k
        roll = rng.random()
        if k == records - 1:
            value = _anchor(seed, index, records)
            originals.append(value)
        elif roll < POISON_SHARE:
            value = rng.choice(_POISON)
            poison += 1
        elif roll < POISON_SHARE + IN_FILE_REPLAY_SHARE and originals:
            value = rng.choice(originals)
        elif roll < POISON_SHARE + IN_FILE_REPLAY_SHARE + CROSS_FILE_REPLAY_SHARE and index:
            value = _anchor(seed, rng.randrange(index), records)
            replayed.add(value)
        else:
            value = _payload(rng, offset)
            originals.append(value)
        lines.append(_envelope(value, offset))
    path.write_text("\n".join(lines) + "\n")
    # originals have distinct (lat, lon) pairs, and so do the earlier
    # files' anchors, so the distinct ids are the distinct payloads
    return FileCounts(records=records, poison=poison, unique_valid=len(originals) + len(replayed))


def write_backlog(directory: Path, seed: int | str, files: int, records: int) -> list[FileCounts]:
    """Write the first ``files`` files of the seed's backlog."""
    directory.mkdir(parents=True, exist_ok=True)
    return [write_file(directory / f"batch-{i:06d}.json", seed, i, records) for i in range(files)]
