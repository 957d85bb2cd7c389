"""Tests of the benchmark's own code: seeded generators, planted truth,
the event-log reducer and BENCHMARK.json's metric lists.

    python3 -m pytest perfbench/test_perfbench.py -q

Pure Python; no Spark session is started.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_adsb  # noqa: E402
import gen_corpus  # noqa: E402
import trace  # noqa: E402

RUNWAY_POLY = [(-1.619792, 47.141703), (-1.603446, 47.163170),
               (-1.602936, 47.162999), (-1.619280, 47.141525)]
LINE_RE = re.compile(
    r"^MSG,\d,\d+,\d+,[0-9A-F]+,\d+,[0-9/]+,[0-9:.]+,[0-9/]+,[0-9:.]+,[\w\s]*,"
    r"[\d-]*,\d*,[\d-]*,[\d.-]*,[\d.-]*,[\d-]*,\d*,[\d-]*,[\d-]*,[\d-]*,[\d-]*$")


def _inside(lon, lat, poly) -> bool:
    hit = False
    for (x1, y1), (x2, y2) in zip(poly, poly[1:] + poly[:1]):
        if (y1 > lat) != (y2 > lat) and lon < x1 + (lat - y1) * (x2 - x1) / (y2 - y1):
            hit = not hit
    return hit


def test_capture_is_byte_identical_for_a_seed():
    a = gen_adsb.generate_capture(7, 2, 40)
    b = gen_adsb.generate_capture(7, 2, 40)
    c = gen_adsb.generate_capture(8, 2, 40)
    assert "\n".join(a.lines).encode() == "\n".join(b.lines).encode()
    assert a.lines != c.lines
    assert a.truth() == b.truth()


def test_capture_uses_every_msg_type_and_malformed_lines():
    cap = gen_adsb.generate_capture(3, 2, 60)
    types = {ln.split(",")[1] for ln in cap.lines if LINE_RE.match(ln)}
    assert types == {str(t) for t in range(1, 9)}
    bad = sum(1 for ln in cap.lines if not LINE_RE.match(ln))
    assert bad == cap.rejected_lines
    assert 0.005 < bad / len(cap.lines) < 0.02


def _derive_events(lines):
    """Re-derive flights and landing/takeoff events from the lines the
    way the ETL defines them: valid lines only, 300 s gap sessions per
    hexident, admission, position rows (MSG2 with lat/lon, MSG3 with
    lat/lon/alt), onground flips of those rows, 2 s debounce against
    the previous candidate."""
    by_hex: dict[str, list] = {}
    for ln in lines:
        if not LINE_RE.match(ln):
            continue
        f = ln.split(",")
        d = f[6].split("/")
        h, m, s = f[7].split(":")
        t_ms = round((
            (int(d[2]) - 4) * 86400 + int(h) * 3600 + int(m) * 60 + float(s)) * 1000)
        by_hex.setdefault(f[4], []).append((t_ms, f))
    flights, positions, events = 0, 0, []
    for hx, msgs in by_hex.items():
        msgs.sort(key=lambda m: m[0])
        sessions, cur = [], [msgs[0]]
        for prev, m in zip(msgs, msgs[1:]):
            if m[0] - prev[0] > 300_000:
                sessions.append(cur)
                cur = []
            cur.append(m)
        sessions.append(cur)
        for sess in sessions:
            adm = next((i for i, (_t, f) in enumerate(sess)
                        if f[1] == "2" or (f[1] == "3" and f[11] and int(f[11]) < 10000)),
                       None)
            if adm is None:
                continue
            flights += 1
            og, last = None, None
            for t, f in sess[adm:]:
                if f[1] not in ("2", "3") or not (f[14] and f[15]) or (
                        f[1] == "3" and not f[11]):
                    continue
                positions += 1
                cur_og = f[21] == "-1"
                if og is not None and cur_og != og:
                    if last is None or t - last > 2000:
                        events.append((t, hx, "landing" if cur_og else "takeoff",
                                       float(f[15]), float(f[14])))
                    last = t
                og = cur_og
    return flights, positions, sorted(events)


def test_truth_matches_the_generated_trajectories():
    cap = gen_adsb.generate_capture(11, 3, 60)
    truth = cap.truth()
    flights, positions, events = _derive_events(cap.lines)
    assert (flights, positions) == (truth["flights"], truth["positions"])
    planted = sorted(
        (t, cap.flights[fid - 1].hexident, kind)
        for kind in ("landings", "takeoffs") for t, fid, _rw in truth[kind])
    assert [(t, hx, k + "s") for t, hx, k, _lon, _lat in events] == planted
    assert any(f.bounced for f in cap.flights)
    # runway attribution: LFRS events sit on the strip, remote ones not
    rw_of = {(t, fid): rw for kind in ("landings", "takeoffs")
             for t, fid, rw in truth[kind]}
    fid_of = {(f.hexident, t): i + 1 for i, f in enumerate(cap.flights)
              for t, _k, _rw in f.events}
    for t, hx, _k, lon, lat in events:
        rw = rw_of[(t, fid_of[(hx, t)])]
        assert _inside(lon, lat, RUNWAY_POLY) == (rw != "UNK")
    assert sum(truth["per_hour"].values()) == len(events)
    assert sum(truth["path_points"].values()) == truth["positions"]


def _shingles(text):
    w = " ".join(text.lower().split()).split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def test_corpus_is_identical_for_a_seed_and_families_are_near_duplicates():
    a = gen_corpus.generate_corpus(5, 600)
    b = gen_corpus.generate_corpus(5, 600)
    assert a.docs == b.docs and a.families == b.families
    assert gen_corpus.generate_corpus(6, 600).docs != a.docs
    text = dict(a.docs)
    assert a.families
    for fam in a.families:
        base = _shingles(text[fam[0]])
        for other in fam[1:]:
            sh = _shingles(text[other])
            assert len(base & sh) / len(base | sh) >= 0.94
    in_family = {d for fam in a.families for d in fam}
    loners = [d for d, _t in a.docs if d not in in_family][:50]
    for x, y in zip(loners, loners[1:]):
        sx, sy = _shingles(text[x]), _shingles(text[y])
        assert len(sx & sy) / len(sx | sy) < 0.1
    assert a.distinct_docs == len(a.docs) - len(in_family) + len(a.families)


def test_embedding_twins_are_nearest_neighbours():
    e = gen_corpus.generate_embeddings(4, 400, 16, 20)
    assert e == gen_corpus.generate_embeddings(4, 400, 16, 20)
    vec = dict(e.vectors)
    for q in e.queries:
        best = max((v for v in vec if v != q),
                   key=lambda v: sum(x * y for x, y in zip(vec[q], vec[v])))
        assert best == e.twin[q]
        assert math.isclose(sum(x * x for x in vec[q]), 1.0, rel_tol=1e-4)


def test_event_log_reduction_charges_tasks_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Executor Run Time": 3000,
            "JVM GC Time": 100, "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 6,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Input Metrics": {"Bytes Read": 9}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = trace.reduce_event_log(str(tmp_path))
    g = groups["pb0"]
    assert (g["jobs"], g["tasks"], g["executor_cpu_s"], g["executor_run_s"]) == (1, 1, 2.0, 3.0)
    assert (g["shuffle_read_b"], g["shuffle_write_b"], g["spill_b"], g["input_b"]) == (3, 7, 11, 9)
    assert groups["-"]["tasks"] == 1
    tr = trace.Tracer()
    with tr.span("etl"):
        with tr.span("operators.parse"):
            pass
    layers = trace.per_layer_counters(tr, {"pb1": g})
    assert layers["operators.parse"]["tasks"] == 1
    assert tr.self_time(0) <= tr.duration(0)


def test_benchmark_json_lists_the_metrics_the_run_prints():
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == sorted(workloads.WORKLOADS)
    per_layer = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    assert per_layer == workloads.per_layer_spec()
    e2e = workloads._e2e(1.0, 1.0, [0.1, 0.2], 1.0)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [
        (k, u) for k, (_v, u) in e2e.items()]


def test_chain_check_flags_a_table_whose_columns_drift_from_build_tables():
    from types import SimpleNamespace

    import workloads

    def frame(cols):
        return SimpleNamespace(schema=SimpleNamespace(fields=[
            SimpleNamespace(name=n, dataType=t) for n, t in cols]))

    built = {"positions": frame([("id", "long"), ("track", "short"), ("_dt", "date")])}
    truth = {"flights": 1, "positions": 2, "per_runway": {}}
    counts = {"flights": 1, "positions": 2, "by_runway": {}}
    same = {"positions": frame([("id", "long"), ("track", "short")])}
    assert workloads._chain_check(same, counts, built, truth) == []
    narrower = {"positions": frame([("id", "long")])}
    errs = workloads._chain_check(narrower, counts, built, truth)
    assert len(errs) == 1 and errs[0].startswith("chain positions schema")
