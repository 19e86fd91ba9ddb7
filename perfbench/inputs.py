"""Seeded benchmark inputs. The engine only ever sees the files written here."""

from __future__ import annotations

import json
from collections import Counter
from datetime import datetime, timedelta

from iot_real_time_data_pipeline_spark import generator as G

STREAM_FILE_EVENTS = 200  # events per stream file (one file per micro-batch)
REPLAY_EVERY = 10  # every tenth file re-delivers ...
REPLAY_EVENTS = 5  # ... this many events of the file ten places earlier
CADENCE_S = 3.0  # generator seconds between two events
START = datetime(2024, 3, 1, 6, 0, 0)

LAKE_CLASSES = (G.VALID, G.WARNING, G.INVALID)
DEAD_LETTER_TYPES = {
    G.DEAD_LETTER_JSON: "json_decode_error",
    G.DEAD_LETTER_PROCESSING: "processing_error",
}


class Deliveries:
    """Generator traffic cut into files, made on demand from one seed.

    File 0 holds ``head_events`` events, every later file
    ``STREAM_FILE_EVENTS``; each file continues the event-time line of
    the one before. Every tenth file (10, 20, ...) also re-delivers the
    first events of the file ten places earlier, as a late duplicate
    delivery (as in tests/test_stream_soak.py)."""

    def __init__(self, seed: int, head_events: int):
        self.seed = seed
        self.head_events = head_events
        self.files: list[list[dict]] = []

    def file(self, k: int) -> list[dict]:
        while len(self.files) <= k:
            i = len(self.files)
            n = self.head_events if i == 0 else STREAM_FILE_EVENTS
            first = 0 if i == 0 else self.head_events + (i - 1) * STREAM_FILE_EVENTS
            events = G.generate_events(
                n=n, seed=self.seed * 1_000_003 + i,
                start=START + timedelta(seconds=CADENCE_S * first),
            )
            if i and i % REPLAY_EVERY == 0:
                events = self.files[i - REPLAY_EVERY][:REPLAY_EVENTS] + events
            self.files.append(events)
        return self.files[k]

    def write(self, k: int, path: str) -> int:
        """Write file ``k`` in the stream wire format; returns its line count."""
        events = self.file(k)
        with open(path, "w") as fh:
            fh.writelines(_payload(e).replace("\n", " ") + "\n" for e in events)
        return len(events)


def _payload(event: dict) -> str:
    # An empty line is a blank text-source row; keep it a garbage payload
    # of the same class (as tests/test_stream_soak.py does).
    return event["raw"] if event["raw"] else "not-json"


def _event_id(event: dict) -> str | None:
    try:
        return json.loads(event["raw"]).get("event_id")
    except (ValueError, AttributeError):
        return None


def expected_sinks(deliveries: list[dict]) -> dict:
    """Sink contents the engine must produce for these deliveries, from
    the generator's ``expected_class`` labels.

    - VALID/WARNING lake rows and the fact are exactly-once per event id;
    - INVALID lake rows and dead letters are delivery logs: one row per
      delivery (the reference stores every Kinesis delivery it rejects).
    """
    seen: dict[str, str] = {}
    invalid = 0
    dead = Counter()
    for e in deliveries:
        cls = e["expected_class"]
        if cls in DEAD_LETTER_TYPES:
            dead[DEAD_LETTER_TYPES[cls]] += 1
        elif cls == G.INVALID:
            invalid += 1
        else:
            seen.setdefault(_event_id(e), cls)
    lake = Counter(seen.values())
    lake[G.INVALID] = invalid
    return {
        "fact_ids": set(seen),
        "lake": {c: lake[c] for c in LAKE_CLASSES if lake[c]},
        "dead_letter": dict(dead),
    }
