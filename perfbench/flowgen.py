"""Seeded flow-log backlog generator for the flowlog workload.

Pure Python, one process, no Spark: the benchmark writes the events as
wire-JSON lines (one file per micro-batch) and the program under test
sees only those files.  Value pools come from ``sources.generators``.

Rates and sizes are the ones of the reference generators that
``sources.generators`` ports (S11-S13):

- normal traffic runs at S11's 10 events/s (``normal_traffic_stream``),
  so normal event ``k`` starts at ``BASE_MS + k * NORMAL_MS``;
- attack-shaped episodes start at S13's ``anomaly_rate`` of 0.001 per
  event (``replay_with_injection``): where S13 rewrites one event into
  an outlier, an episode here lays a whole run on an attack key;
- run events are 10 ms apart, S12's 100 events/s (``attack_burst``), and
  a ``long`` run is S12's burst of 50.

The shapes are the ones FIXTURES.md names for the detector, each drawn
with equal weight (the reference gives no mix):

- ``match``: 10-30 ``packets=1`` fragments, then a closer (packets>10)
- ``short`` / ``long``: a closed run of 1-9 fragments / of 50
- ``neutral``: a 10-30 run with one to three ``packets==10`` events in it
- ``straddle``: a 10-30 run spread over more than the 60 s window
- ``open``: a 10-30 run that never sees a closer, on keys used for
  nothing else

Episodes on one key are at least a window apart.  All events are merged
on one timeline, so event time ascends within every file and across
files, and the stream's zero-delay watermark never drops an event.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

from spot_anomalies_flink_workshop_resources_spark.functions.net import cidr_hosts
from spot_anomalies_flink_workshop_resources_spark.sources import generators as G

BASE_MS = 1_700_000_000_000
NORMAL_MS = 100  # S11: 10 events/s
RUN_MS = 10  # S12: 100 events/s
LONG_RUN = 50  # S12: burst size
ANOMALY_RATE = 0.001  # S13: episodes started per event
WINDOW_MS = 60_000

NORMAL_DST = [h for c in G.DST_POOLS for h in cidr_hosts(c, 50)]
_ATTACK_HOSTS = [cidr_hosts(c, 20) for c in G.ATTACK_POOLS]
ATTACK_SRC = [h for hosts in _ATTACK_HOSTS for h in hosts[:10]]
ATTACK_DST = ATTACK_SRC  # closed episodes: the reference's own pool
OPEN_DST = [h for hosts in _ATTACK_HOSTS for h in hosts[10:]]

KINDS = ("match", "short", "long", "neutral", "straddle", "open")

_NORMAL_TEXT = json.dumps(G.NORMAL_TEXT)
_SQLI_TEXT = json.dumps(G.SQLI_TEXT)


@dataclass
class Backlog:
    """Events in timeline order plus their wire-JSON files."""

    ts: list[int] = field(default_factory=list)
    ip_src: list[str] = field(default_factory=list)
    ip_dst: list[str] = field(default_factory=list)
    packets: list[int] = field(default_factory=list)
    bytes: list[int] = field(default_factory=list)
    lines: list[str] = field(default_factory=list)
    events_per_file: int = 0

    def __len__(self) -> int:
        return len(self.lines)

    def file_lines(self, i: int) -> list[str]:
        k = self.events_per_file
        return self.lines[i * k : (i + 1) * k]

    def stage_file(self, i: int, directory: str) -> tuple[str, str]:
        """Write file ``i`` under a hidden name in ``directory``, which a
        file source skips.  Returns (hidden path, final path): renaming
        the one to the other lands the file whole, in no time."""
        path = os.path.join(directory, f"part-{i:05d}.json")
        tmp = os.path.join(directory, f".part-{i:05d}.json.tmp")
        with open(tmp, "w") as fh:
            fh.write("\n".join(self.file_lines(i)))
            fh.write("\n")
        return tmp, path

    def columns(self, n: int) -> dict[str, list]:
        """The first ``n`` events as columns, for the batch oracle."""
        start = self.ts[:n]
        return {
            "ip_src": self.ip_src[:n],
            "ip_dst": self.ip_dst[:n],
            "timestamp_start": start,
            "timestamp_end": [s + 10 for s in start],
            "packets": self.packets[:n],
            "bytes": self.bytes[:n],
        }


def _episode(kind: str, rng: random.Random) -> tuple[list[int], int, bool]:
    """(packets per run event, ms between run events, closed?) for one
    episode."""
    if kind == "short":
        n = rng.randint(1, 9)
    elif kind == "long":
        n = LONG_RUN
    else:
        n = rng.randint(10, 30)
    packets = [1] * n
    if kind == "neutral":
        for _ in range(rng.randint(1, 3)):
            packets.insert(rng.randint(1, len(packets) - 1), 10)
    gap = (WINDOW_MS + 10_000) // (n - 1) if kind == "straddle" else RUN_MS
    return packets, gap, kind != "open"


def _episodes(rng: random.Random, n_events: int) -> list[tuple]:
    """Episode events as (ms offset, ip_dst, ip_src, packets), in time
    order; a closer has ip_src None."""
    span = n_events * NORMAL_MS
    free_from = dict.fromkeys(ATTACK_DST + OPEN_DST, 0)
    out = []
    starts = sorted(rng.randrange(span) for _ in range(round(ANOMALY_RATE * n_events)))
    for start in starts:
        kind = rng.choice(KINDS)
        keys = OPEN_DST if kind == "open" else ATTACK_DST
        ready = [k for k in keys if free_from[k] <= start]
        if not ready:
            continue
        key, attacker = rng.choice(ready), rng.choice(ATTACK_SRC)
        packets, gap, closed = _episode(kind, rng)
        t = start
        for i, p in enumerate(packets):
            t = start + i * gap
            out.append((t, key, attacker, p))
        if closed:
            t += RUN_MS
            out.append((t, key, None, 0))
        free_from[key] = t + WINDOW_MS
    out.sort(key=lambda e: e[0])
    return out


def generate(seed: int, n_events: int, events_per_file: int) -> Backlog:
    rng = random.Random(seed)
    episodes = _episodes(rng, n_events)
    # merge normal traffic (one event every NORMAL_MS) with the episodes
    slots, j, k = [], 0, 0
    for _ in range(n_events):
        if j < len(episodes) and episodes[j][0] < k * NORMAL_MS:
            slots.append(episodes[j])
            j += 1
        else:
            slots.append((k * NORMAL_MS, None, None, 0))
            k += 1

    out = Backlog(events_per_file=events_per_file)
    n = n_events
    pick = rng.choices
    srcs = [
        f"{a}.{b}.{c}.{d}"
        for a, b, c, d in zip(
            pick(range(1, 224), k=n), pick(range(256), k=n),
            pick(range(256), k=n), pick(range(1, 255), k=n),
        )
    ]
    dsts = pick(NORMAL_DST, k=n)
    big_pk, big_by = pick(range(100, 501), k=n), pick(range(64, 1501), k=n)
    small_by = pick(range(8, 65), k=n)
    etypes, psrcs, pdsts = pick(G.EVENT_TYPES, k=n), pick(G.PORTS, k=n), pick(G.PORTS, k=n)
    protos = pick(G.PROTOS, k=n)
    writers = [f"{w:08x}-x{x}" for w, x in zip(pick(range(1 << 32), k=n), pick(range(1, 6), k=n))]
    ts_out, ip_src, ip_dst, packets, nbytes, lines = (
        out.ts, out.ip_src, out.ip_dst, out.packets, out.bytes, out.lines,
    )
    for i, (offset, key, attacker, run_pk) in enumerate(slots):
        ts = BASE_MS + offset
        if attacker is None:  # normal traffic, or a closer on an attack key
            src = srcs[i]
            dst = key or dsts[i]
            pk, by = big_pk[i], big_by[i]
            etype, psrc, pdst, proto = etypes[i], psrcs[i], pdsts[i], protos[i]
            writer = f"ENI-{writers[i]}"
            text = _NORMAL_TEXT
        else:
            dst, src, pk = key, attacker, run_pk
            by = small_by[i]
            etype = G.ATTACK_EVENT_TYPES[i % 3]
            psrc, pdst = G.ATTACK_SRC_PORTS[i % 3], G.ATTACK_DST_PORTS[i % 2]
            proto = "UDP"
            writer = f"ENI{writers[i]}"
            text = _SQLI_TEXT
        ts_out.append(ts)
        ip_src.append(src)
        ip_dst.append(dst)
        packets.append(pk)
        nbytes.append(by)
        lines.append(
            f'{{"event_type":"{etype}","ip_src":"{src}","ip_dst":"{dst}",'
            f'"port_src":"{psrc}","port_dst":"{pdst}","ip_proto":"{proto}",'
            f'"timestamp_start":{ts},"timestamp_end":{ts + 10},'
            f'"packets":{pk},"bytes":{by},"writer_id":"{writer}",'
            f'"text":{text}}}'
        )
    return out
