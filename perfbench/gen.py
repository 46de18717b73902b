"""Seeded CDC input generator and its plain-Python ground truth.

Everything here is a pure function of ``(seed, Scale)``: the same seed
yields byte-identical snapshot CSVs, backlog files and stream ticks, and
the ground truth is computed by replaying the same event records in
Python, never by the engine under test. The engine only ever sees the
files this module writes.

Time model. Event timestamps are *virtual*: the catch-up backlog spans
``MONTHS`` before ``STREAM_EPOCH_MS``, and stream tick ``k`` covers the
virtual interval ``[STREAM_EPOCH_MS + k * TICK_MS, ... + TICK_MS)``: its
events are stamped evenly across it, as if offered one by one at the
fixed rate, and its file lands when the interval ends. The benchmark maps
virtual to wall time with the wall instant of ``STREAM_EPOCH_MS``, so a
file's bytes do not depend on when it was written, yet every event
carries its due time.

Run as a script, this module is the load generator: one process, one
thread, landing one NDJSON file per topic every ``TICK_MS`` on a fixed
schedule that never waits for the system under test. SIGTERM stops it
before the next tick; it then reports the ticks it wrote.
"""

from __future__ import annotations

import argparse
import bisect
import csv
import datetime as dt
import io
import json
import os
import random
import signal
import sys
import time
from collections import Counter
from dataclasses import dataclass

TICK_MS = 250
STREAM_EPOCH_MS = 1767225600000  # 2026-01-01T00:00:00Z, virtual tick 0
MONTHS = ("202509", "202510", "202511", "202512")
BACKLOG_START_MS = 1756684800000  # 2025-09-01T00:00:00Z
SNAPSHOT_EXPORT_MS = 1759276800000  # 2025-10-01T00:00:00Z, inside MONTHS[1]
RETENTION_CUTOFF = MONTHS[1]  # maintenance drops the oldest month
RANGE_START_MS = STREAM_EPOCH_MS - 30 * 60_000  # the "last hour" window
RANGE_END_MS = STREAM_EPOCH_MS + 30 * 60_000

LABELS = ("Person", "Device", "Site", "Service", "Account")
REL_TYPES = ("CONNECTS", "OWNS", "RUNS_ON", "LOCATED_IN")
TIERS = ("gold", "silver", "bronze")
# the five quarantine reasons of operators/ingest.py, in its CASE order
REASONS = (
    "unparseable_json",
    "missing_event_id",
    "missing_entity_id",
    "unclassified_kind",
    "bad_timestamp",
)
OPS = {"CREATE": "INSERT", "UPDATE": "UPDATE", "DELETE": "DELETE"}
DEGREE_K = 10
LATEST_N = 10
POISON_SHARE = 0.01  # of stream envelopes, spread over REASONS
DUP_SHARE = 0.005  # of stream envelopes: a producer re-emits an earlier one
OOO_SHARE = 0.02  # of backlog events, moved into a later file
ZIPF_S = 1.1  # skew of updates over the graph's entities


@dataclass(frozen=True)
class Scale:
    """Input sizes. ``eps`` is the offered stream rate; 60% of it goes to
    the node topic and 40% to the relationship topic."""

    nodes: int = 2000
    rels: int = 4000
    backlog: int = 6000
    eps: int = 4000

    @property
    def node_per_tick(self) -> int:
        return round(self.eps * TICK_MS / 1000 * 0.6)

    @property
    def rel_per_tick(self) -> int:
        return round(self.eps * TICK_MS / 1000) - self.node_per_tick


def iso_ms(ms: int) -> str:
    """ISO-8601 UTC with milliseconds, the envelope's ``TZDT`` format."""
    return (
        dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
        .isoformat(timespec="milliseconds")
    )


def month_of(ms: int) -> str:
    return dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc).strftime(
        "%Y%m"
    )


def _props(rng: random.Random, name: str) -> dict:
    return {
        "name": name,
        "tier": rng.choice(TIERS),
        "score": rng.randrange(1000),
    }


class Graph:
    """The fixed graph every workload's updates are drawn from: node ids,
    labels and a Zipf rank order (hot entities are random ids, not the
    first ones)."""

    def __init__(self, seed: int, scale: Scale):
        rng = random.Random(f"graph-{seed}")
        self.scale = scale
        self._order = list(range(scale.nodes))
        rng.shuffle(self._order)
        acc, self._cum = 0.0, []
        for r in range(scale.nodes):
            acc += 1.0 / (r + 1) ** ZIPF_S
            self._cum.append(acc)
        self.node_ids = [f"4:n:{i}" for i in range(scale.nodes)]
        self.labels = {
            nid: tuple(sorted(rng.sample(LABELS, rng.choice((1, 1, 2)))))
            for nid in self.node_ids
        }
        self.node_props = {nid: _props(rng, nid) for nid in self.node_ids}
        self.rels = []
        for i in range(scale.rels):
            self.rels.append(
                (
                    f"5:r:{i}",
                    rng.choice(REL_TYPES),
                    self.node_ids[self._zipf_index(rng)],
                    rng.choice(self.node_ids),
                )
            )
        self.rel_by_id = {r[0]: r for r in self.rels}
        self.rel_props = {r[0]: _props(rng, r[0]) for r in self.rels}

    def _zipf_index(self, rng: random.Random) -> int:
        r = bisect.bisect_left(self._cum, rng.random() * self._cum[-1])
        return self._order[min(r, len(self._order) - 1)]

    def hot_node(self, rng: random.Random) -> str:
        return self.node_ids[self._zipf_index(rng)]

    def hot_rel(self, rng: random.Random) -> tuple:
        # relationships inherit skew through their Zipf-drawn source
        return self.rels[self._zipf_index(rng) % len(self.rels)]


# -- event records --------------------------------------------------------
#
# A good event is a dict with: id, kind ('node'|'rel'), op, ts, entity,
# labels (node) or type/src/dst (rel), props. A poison event carries
# 'reason' and its raw 'line'. Both render to one NDJSON line.


def envelope_line(ev: dict) -> str:
    if "line" in ev:
        return ev["line"]
    event = {
        "operation": ev["op"],
        "eventType": "NODE_EVENT" if ev["kind"] == "node" else "RELATIONSHIP_EVENT",
        "elementId": ev["entity"],
    }
    if ev["kind"] == "node":
        event["labels"] = list(ev["labels"])
    else:
        event["type"] = ev["type"]
        event["start"] = {"elementId": ev["src"]}
        event["end"] = {"elementId": ev["dst"]}
    after = None if ev["op"] == "DELETE" else json.dumps(ev["props"])
    event["state"] = {"before": None, "after": {"properties": after}}
    return json.dumps(
        {
            "id": ev["id"],
            "metadata": {"txStartTime": {"TZDT": iso_ms(ev["ts"])}},
            "event": event,
        },
        separators=(",", ":"),
    )


def _poison(rng: random.Random, kind: str, eid: str, ts: int, entity: str) -> dict:
    reason = REASONS[rng.randrange(len(REASONS))]
    base = {
        "id": eid,
        "metadata": {"txStartTime": {"TZDT": iso_ms(ts)}},
        "event": {
            "operation": "UPDATE",
            "eventType": "NODE_EVENT" if kind == "node" else "RELATIONSHIP_EVENT",
            "elementId": entity,
        },
    }
    if kind == "rel":
        base["event"].update(
            {"type": "CONNECTS", "start": {"elementId": entity},
             "end": {"elementId": entity}}
        )
    if reason == "unparseable_json":
        line = f"not json {eid} ~~~"
    else:
        if reason == "missing_event_id":
            del base["id"]
        elif reason == "missing_entity_id":
            del base["event"]["elementId"]
        elif reason == "unclassified_kind":
            base["event"]["eventType"] = "SCHEMA_EVENT"
        else:  # bad_timestamp
            base["metadata"]["txStartTime"]["TZDT"] = f"not-a-time-{eid}"
        line = json.dumps(base, separators=(",", ":"))
    return {"kind": kind, "reason": reason, "line": line}


class EventSource:
    """Deterministic event factory for one phase ('b' backlog, 's'
    stream, 'w' warm-up) of one seed."""

    def __init__(self, graph: Graph, seed: int, phase: str):
        self.g = graph
        self.phase = phase
        self.seed = seed
        self.n = 0
        self.next_node = graph.scale.nodes
        self.next_rel = graph.scale.rels

    def _id(self) -> str:
        self.n += 1
        return f"{self.phase}-{self.seed}-{self.n:09d}"

    def node_event(self, rng: random.Random, ts: int) -> dict:
        roll = rng.random()
        if roll < 0.08:
            nid = f"4:n:{self.next_node}"
            self.next_node += 1
            labels = tuple(sorted(rng.sample(LABELS, rng.choice((1, 2)))))
            op = "CREATE"
        else:
            nid = self.g.hot_node(rng)
            labels = self.g.labels[nid]
            op = "DELETE" if roll > 0.96 else "UPDATE"
        return {
            "id": self._id(), "kind": "node", "op": op, "ts": ts,
            "entity": nid, "labels": labels, "props": _props(rng, nid),
        }

    def rel_event(self, rng: random.Random, ts: int) -> dict:
        roll = rng.random()
        if roll < 0.08:
            rid = f"5:r:{self.next_rel}"
            self.next_rel += 1
            rtype, src, dst = (
                rng.choice(REL_TYPES), self.g.hot_node(rng),
                rng.choice(self.g.node_ids),
            )
            op = "CREATE"
        else:
            rid, rtype, src, dst = self.g.hot_rel(rng)
            op = "DELETE" if roll > 0.96 else "UPDATE"
        return {
            "id": self._id(), "kind": "rel", "op": op, "ts": ts,
            "entity": rid, "type": rtype, "src": src, "dst": dst,
            "props": _props(rng, rid),
        }

    def event(self, rng, kind: str, ts: int, poison_share: float) -> dict:
        if rng.random() < poison_share:
            return _poison(rng, kind, self._id(), ts, self.g.hot_node(rng))
        return self.node_event(rng, ts) if kind == "node" else self.rel_event(rng, ts)


# -- inputs ---------------------------------------------------------------


def snapshot_csvs(graph: Graph) -> tuple[str, str]:
    """APOC-layout node and relationship export CSVs. Labels alternate
    between JSON-array and comma forms; properties are pretty-printed
    JSON, so every quoted field spans several lines."""
    nodes, rels = io.StringIO(), io.StringIO()
    w = csv.writer(nodes, lineterminator="\n")
    w.writerow(["entity_id", "labels", "properties", "export_timestamp"])
    for i, nid in enumerate(graph.node_ids):
        labels = graph.labels[nid]
        text = json.dumps(list(labels)) if i % 2 else ", ".join(labels)
        w.writerow([nid, text, json.dumps(graph.node_props[nid], indent=1),
                    SNAPSHOT_EXPORT_MS])
    w = csv.writer(rels, lineterminator="\n")
    w.writerow(["entity_id", "relationship_type", "source_id", "target_id",
                "properties", "export_timestamp"])
    for rid, rtype, src, dst in graph.rels:
        w.writerow([rid, rtype, src, dst,
                    json.dumps(graph.rel_props[rid], indent=1),
                    SNAPSHOT_EXPORT_MS])
    return nodes.getvalue(), rels.getvalue()


def backlog(graph: Graph, seed: int) -> dict[str, list[list[dict]]]:
    """The catch-up backlog: ``scale.backlog`` good envelopes spread over
    ``MONTHS`` (60% node, 40% relationship), split into files per topic.
    ``OOO_SHARE`` of the events are moved into a later file than their
    timestamp order, so each entity sees out-of-order arrivals."""
    scale = graph.scale
    rng = random.Random(f"backlog-{seed}")
    src = EventSource(graph, seed, "b")
    span = STREAM_EPOCH_MS - BACKLOG_START_MS
    step = span // (scale.backlog + 1)
    out: dict[str, list[list[dict]]] = {}
    evs = {"node": [], "rel": []}
    for i in range(scale.backlog):
        ts = BACKLOG_START_MS + (i + 1) * step
        if ts == SNAPSHOT_EXPORT_MS:
            ts += 1  # never tie a snapshot row: its event id is random
        kind = "node" if rng.random() < 0.6 else "rel"
        evs[kind].append(src.event(rng, kind, ts, 0.0))
    files_per_topic = 8
    for kind, seq in evs.items():
        files: list[list[dict]] = [[] for _ in range(files_per_topic)]
        per = max(1, -(-len(seq) // files_per_topic))
        for i, ev in enumerate(seq):
            f = min(i // per, files_per_topic - 1)
            if rng.random() < OOO_SHARE and f < files_per_topic - 1:
                f = rng.randrange(f + 1, files_per_topic)
            files[f].append(ev)
        out[kind] = files
    return out


class Stream:
    """The live stream: tick ``k`` holds ``node_per_tick`` node and
    ``rel_per_tick`` relationship envelopes, due (and stamped) evenly
    over ``TICK_MS`` from ``STREAM_EPOCH_MS + k * TICK_MS``. A producer
    duplicate re-emits an earlier envelope unchanged. The warm-up phase
    ``'w'`` has its own ids."""

    def __init__(self, graph: Graph, seed: int, phase: str = "s"):
        self.g = graph
        self.seed = seed
        self.rng = random.Random(f"stream-{phase}-{seed}")
        self.src = EventSource(graph, seed, phase)
        self.recent: list[dict] = []  # candidates for producer duplicates

    def tick(self, k: int, ts: int | None = None) -> dict[str, list[dict]]:
        scale = self.g.scale
        rng = self.rng
        base = STREAM_EPOCH_MS + k * TICK_MS if ts is None else ts
        out = {}
        for kind, n in (("node", scale.node_per_tick), ("rel", scale.rel_per_tick)):
            evs = []
            for j in range(n):
                ts = base + j * TICK_MS // n
                if self.recent and rng.random() < DUP_SHARE:
                    dup = self.recent[rng.randrange(len(self.recent))]
                    if dup["kind"] == kind:
                        evs.append(dup)  # the same envelope, re-emitted
                        continue
                ev = self.src.event(rng, kind, ts, POISON_SHARE)
                evs.append(ev)
                if "reason" not in ev:
                    self.recent.append(ev)
            out[kind] = evs
        self.recent = self.recent[-500:]
        return out


def render(events: list[dict]) -> str:
    return "".join(envelope_line(ev) + "\n" for ev in events)


def write_file(directory: str, name: str, text: str) -> None:
    """Write-then-rename: a file source must never list a torn file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.rename(tmp, os.path.join(directory, name))


# -- ground truth ---------------------------------------------------------


class Truth:
    """Plain-Python model of what the event tables must hold and what the
    query mix must return. Rows are (event_id, event_type, ts, entity,
    attrs, props); snapshot rows have ``event_id=None`` because the
    engine draws their ids from ``uuid()``."""

    def __init__(self):
        self.rows = {"node": [], "rel": []}
        self.quarantine = {"node": Counter(), "rel": Counter()}

    def add_snapshot(self, graph: Graph) -> None:
        for nid in graph.node_ids:
            self.rows["node"].append(
                (None, "SNAPSHOT", SNAPSHOT_EXPORT_MS, nid, graph.labels[nid],
                 graph.node_props[nid])
            )
        for rid, rtype, src, dst in graph.rels:
            self.rows["rel"].append(
                (None, "SNAPSHOT", SNAPSHOT_EXPORT_MS, rid, (rtype, src, dst),
                 graph.rel_props[rid])
            )

    def add(self, ev: dict) -> None:
        if "reason" in ev:
            self.quarantine[ev["kind"]][ev["reason"]] += 1
            return
        attrs = ev["labels"] if ev["kind"] == "node" else (
            ev["type"], ev["src"], ev["dst"])
        props = {} if ev["op"] == "DELETE" else ev["props"]
        self.rows[ev["kind"]].append(
            (ev["id"], OPS[ev["op"]], ev["ts"], ev["entity"], attrs, props)
        )

    def maintain(self, cutoff: str = RETENTION_CUTOFF) -> None:
        """``maintenance_cycle(keep='latest')`` after a retention drop of
        every month before ``cutoff``."""
        for kind, rows in self.rows.items():
            kept = [r for r in rows if month_of(r[2]) >= cutoff]
            self.rows[kind] = list(self._latest(kept).values())

    @staticmethod
    def _latest(rows) -> dict:
        best: dict = {}
        for r in rows:
            cur = best.get(r[3])
            if cur is None or (r[2], r[0] or "") > (cur[2], cur[0] or ""):
                best[r[3]] = r
        return best

    def answers(self) -> dict:
        """The query mix's expected results, in the shapes
        ``workloads.run_query`` returns."""
        live_n = {e: r for e, r in self._latest(self.rows["node"]).items()
                  if r[1] != "DELETE"}
        live_r = {e: r for e, r in self._latest(self.rows["rel"]).items()
                  if r[1] != "DELETE"}
        per_label = Counter(lab for r in live_n.values() for lab in r[4])
        snaps = Counter(r[3] for r in self.rows["node"] if r[1] == "SNAPSHOT")
        deg = Counter(r[4][1] for r in live_r.values() if r[4][1] in live_n)
        top = sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[:DEGREE_K]
        by_type = Counter(r[1] for r in self.rows["node"])
        in_range = sum(
            1 for r in self.rows["node"] if RANGE_START_MS <= r[2] < RANGE_END_MS
        )
        newest = sorted(
            (r for r in self.rows["node"] if r[0] is not None),
            key=lambda r: (r[2], r[0]), reverse=True,
        )[:LATEST_N]
        gold = sum(1 for r in live_n.values() if r[5].get("tier") == "gold")
        hops = sum(
            1 for r in live_r.values() if r[4][1] in live_n and r[4][2] in live_n
        )
        return {
            "current_state": [list(kv) for kv in sorted(per_label.items())],
            "duplicate_entities": sorted(e for e, c in snaps.items() if c > 1),
            "count_by_type": [list(kv) for kv in sorted(by_type.items())],
            "degree_topk": [list(kv) for kv in top],
            "events_in_range": in_range,
            "latest_n": [r[0] for r in newest],
            "json_extract_string": gold,
            "two_hop": hops,
        }

    def event_ids(self, kind: str) -> Counter:
        return Counter(r[0] for r in self.rows[kind] if r[0] is not None)

    def count(self, kind: str) -> int:
        return len(self.rows[kind])


# -- the load generator process ------------------------------------------


def run_generator(args: argparse.Namespace) -> dict:
    """Land up to ``args.ticks`` ticks on schedule: tick ``k`` is due at
    ``args.t0 + (k + 1) * TICK_MS / 1000`` (wall clock), when the last of
    its events is. A late tick is written
    at once, never skipped; its lateness is recorded. SIGTERM (blocked by
    the caller, so it stays pending during a write) ends the run before
    the next tick; the report says how many ticks were written."""
    graph = Graph(args.seed, scale_from_json(args.scale))
    stream = Stream(graph, args.seed)
    late_ms = []
    offered = 0
    for k in range(args.ticks):
        batch = stream.tick(k)
        due = args.t0 + (k + 1) * TICK_MS / 1000
        if signal.sigtimedwait({signal.SIGTERM}, max(0.0, due - time.time())):
            break
        for kind, directory in (("node", args.node_dir), ("rel", args.rel_dir)):
            write_file(directory, f"tick-{k:06d}.ndjson", render(batch[kind]))
            offered += len(batch[kind])
        late_ms.append((time.time() - due) * 1000)
    return {"ticks": len(late_ms), "offered": offered, "late_ms": late_ms}


def scale_from_json(text: str) -> Scale:
    return Scale(**json.loads(text))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--scale", required=True, help="Scale fields as JSON")
    p.add_argument("--ticks", type=int, required=True)
    p.add_argument("--t0", type=float, required=True,
                   help="wall-clock epoch seconds of STREAM_EPOCH_MS")
    p.add_argument("--node-dir", required=True)
    p.add_argument("--rel-dir", required=True)
    args = p.parse_args(argv)
    signal.pthread_sigmask(signal.SIG_BLOCK, {signal.SIGTERM})
    print(json.dumps(run_generator(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
