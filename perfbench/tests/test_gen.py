"""Generator determinism and agreement with its ground truth."""

import json
from collections import Counter

import pytest

import gen

TINY = gen.Scale(nodes=60, rels=120, backlog=300, eps=400)


@pytest.fixture(autouse=True)
def dense_planting(monkeypatch):
    """Plant poison and duplicates densely enough for a few tiny ticks."""
    monkeypatch.setattr(gen, "POISON_SHARE", 0.05)
    monkeypatch.setattr(gen, "DUP_SHARE", 0.05)


def _inputs(seed):
    g = gen.Graph(seed, TINY)
    stream = gen.Stream(g, seed)
    ticks = [gen.render(evs) for k in range(12) for evs in stream.tick(k).values()]
    backlog = [gen.render(f) for files in gen.backlog(g, seed).values() for f in files]
    return gen.snapshot_csvs(g), backlog, ticks


def test_same_seed_gives_byte_identical_inputs():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)


def _planted(seed, ticks=12):
    g = gen.Graph(seed, TINY)
    stream = gen.Stream(g, seed)
    truth = gen.Truth()
    lines = {"node": [], "rel": []}
    for k in range(ticks):
        for kind, evs in stream.tick(k).items():
            for ev in evs:
                truth.add(ev)
                lines[kind].append(gen.envelope_line(ev))
    return truth, lines


def _reparse(lines):
    """Ingest semantics re-derived from the rendered text alone."""
    good, bad = [], Counter()
    for line in lines:
        try:
            env = json.loads(line)
        except ValueError:
            bad["unparseable_json"] += 1
            continue
        event = env.get("event", {})
        if "id" not in env:
            bad["missing_event_id"] += 1
        elif "elementId" not in event:
            bad["missing_entity_id"] += 1
        elif event.get("eventType") not in ("NODE_EVENT", "RELATIONSHIP_EVENT"):
            bad["unclassified_kind"] += 1
        elif not env["metadata"]["txStartTime"]["TZDT"][:4].isdigit():
            bad["bad_timestamp"] += 1
        else:
            good.append(env)
    return good, bad


def test_ground_truth_agrees_with_rendered_files():
    truth, lines = _planted(3)
    for kind in ("node", "rel"):
        good, bad = _reparse(lines[kind])
        assert bad == truth.quarantine[kind]
        assert Counter(e["id"] for e in good) == truth.event_ids(kind)
    assert sum(truth.quarantine["node"].values()) > 0
    assert any(c > 1 for c in truth.event_ids("node").values()), "no planted duplicate"

    good, _ = _reparse(lines["node"])
    latest = {}
    for e in good:
        key = (e["metadata"]["txStartTime"]["TZDT"], e["id"])
        ent = e["event"]["elementId"]
        if ent not in latest or key > latest[ent][0]:
            latest[ent] = (key, e["event"])
    per_label = Counter(
        lab for _, ev in latest.values() if ev["operation"] != "DELETE"
        for lab in ev["labels"]
    )
    assert truth.answers()["current_state"] == [list(kv) for kv in sorted(per_label.items())]


def test_maintenance_model_keeps_one_row_per_entity():
    g = gen.Graph(5, TINY)
    truth = gen.Truth()
    truth.add_snapshot(g)
    for files in gen.backlog(g, 5).values():
        for f in files:
            for ev in f:
                truth.add(ev)
    truth.maintain()
    for kind in ("node", "rel"):
        entities = [r[3] for r in truth.rows[kind]]
        assert len(entities) == len(set(entities))
        assert all(gen.month_of(r[2]) >= gen.RETENTION_CUTOFF for r in truth.rows[kind])
    assert truth.answers()["duplicate_entities"] == []


def test_backlog_plants_out_of_order_arrivals():
    g = gen.Graph(9, gen.Scale(nodes=200, rels=400, backlog=3000))
    files = gen.backlog(g, 9)["node"]
    stamps = [ev["ts"] for f in files for ev in f]
    assert stamps != sorted(stamps)


def test_stream_events_are_due_evenly_across_their_tick():
    g = gen.Graph(4, TINY)
    stream = gen.Stream(g, 4)
    for k in range(4):
        start = gen.STREAM_EPOCH_MS + k * gen.TICK_MS
        for evs in stream.tick(k).values():
            # producer duplicates re-emit earlier envelopes, earlier stamps
            fresh = [ev["ts"] for ev in evs if "ts" in ev and ev["ts"] >= start]
            assert max(fresh) < start + gen.TICK_MS
            assert max(fresh) - min(fresh) >= 0.9 * gen.TICK_MS
