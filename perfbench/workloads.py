"""The benchmark's workloads, untraced and traced.

``adsb_etl_query``: the batch ETL write path (``plans.etl.build_tables``
over a seeded multi-day capture) and the query API read path (a
closed-loop client issuing seeded ``plans.adsb`` calls against the
tables that pass built).  Its traced run also chains the ETL layers'
public functions one by one and streams the same capture through the
streaming pipeline.

``corpus_near_dup``: MinHash near-duplicate clustering over seeded
documents, then IVF top-k over seeded embeddings in query batches.

Each workload returns ``(report, metrics)``: the report holds every
number under the workload's own names, ``metrics`` the benchmark's
end-to-end (untraced) or per-layer (traced) metrics as
``name -> (value, unit)``.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import adsb
import corpus
import host
import stream
import trace

ADSB_SIZE = {"days": 5, "flights_per_day": 80, "files": 4}
CORPUS_SIZE = {"docs": 4000, "vectors": 4000, "dim": 32, "queries": 160,
               "query_batch": 80, "files": 4}
GEN_REPEATS = 3
# measured build_tables passes after the first (warm-up) one
ETL_PASSES = 2
# the query phase runs at least --seconds and at least this many rounds
# (ADS-B: 16 calls a round; corpus: one batch of 80 queries a round)
MIN_ROUNDS = {"adsb": 1, "corpus": 5}


def percentile_report(samples: list[float]) -> dict:
    """Median, and the highest percentile that leaves at least ten
    samples above it, with the sample count."""
    s = sorted(samples)
    n = len(s)
    out = {"n": n, "p50": statistics.median(s) if s else None}
    if n >= 11:
        out["tail_pct"] = round(100 * (n - 10) / n, 1)
        out["tail"] = s[n - 11]
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _setup_inputs(make, seed, size):
    """Generate the inputs ``GEN_REPEATS`` times (same seed, so the
    same inputs) and keep the median generation time."""
    times, out = [], None
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        out = make(seed, size)
        times.append(time.perf_counter() - t)
    return out, _median(times)


def _e2e(setup_s, items_per_s, calls_s, queries_per_s):
    """The end-to-end metrics, under the names every workload shares.
    ``queries_per_s`` is the closed loop's throughput over its whole
    query phase, so it also moves with the slow calls the median call
    does not see.  The call p90 stays in the report only: with 5 to 16
    calls a run it is the slowest few calls, which host noise moves
    too far to gate on."""
    return {
        "setup_s": (setup_s, "s"),
        "batch_items_per_s": (items_per_s, "1/s"),
        "call_p50_ms": (_median(calls_s) * 1000, "ms"),
        "queries_per_s": (queries_per_s, "1/s"),
    }


def _quantile(xs, q):
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


# --------------------------------------------------------------------------
# ADS-B
# --------------------------------------------------------------------------

def _adsb_setup(args, work, event_log):
    t0 = time.perf_counter()
    spark = host.start_session(work, event_log)
    session_s = time.perf_counter() - t0
    cap, gen_s = _setup_inputs(adsb.make_capture, args.seed, ADSB_SIZE)
    t1 = time.perf_counter()
    raw_dir = os.path.join(work, "capture")
    adsb.write_capture(cap, raw_dir, ADSB_SIZE["files"])
    dims = adsb.load_dims(spark)
    setup = {"session_start_s": session_s, "generate_s": gen_s,
             "setup_s": session_s + gen_s + time.perf_counter() - t1}
    return spark, cap, raw_dir, dims, setup


def _first_pass(spark, work, truth, raw_dir, dims, rng, setup, outcome):
    """The first ETL pass, in a fresh JVM, and the query client's warm-up
    round (checked, untimed) over the tables it built.  Both are
    warm-up: their time goes to set-up.  The first pass's own time (JIT,
    code generation, first plans) is in the report as
    ``etl_first_pass_s``; on the 4-vCPU host it spread by a quarter
    between runs of the same code, too far to gate on."""
    with host.Meter() as m:
        tables = adsb.etl_pass(spark, raw_dir, dims, os.path.join(work, "tables"))
    setup["etl_first_pass_s"] = m.wall_s
    setup["etl_first_meter"] = m.as_dict()
    setup["setup_s"] += m.wall_s
    summary = adsb.table_summary(tables)
    outcome.op(adsb.check_tables(summary, truth))
    t = time.perf_counter()
    _query_calls(rng, truth, tables, dims, outcome, warmup=True)
    setup["query_warmup_s"] = time.perf_counter() - t
    setup["setup_s"] += setup["query_warmup_s"]
    return tables, summary


def _warm_passes(spark, work, truth, raw_dir, dims, outcome):
    """The measured ETL passes: ``ETL_PASSES`` more ``build_tables``
    passes over the same capture in the warm JVM, each into its own
    directory and each checked against the planted truth.  Returns the
    wall time of every correct pass and the meter of each."""
    times, meters = [], []
    for i in range(ETL_PASSES):
        with host.Meter() as m:
            tables = adsb.etl_pass(spark, raw_dir, dims, os.path.join(work, f"etl_pass{i}"))
        meters.append(m.as_dict())
        if outcome.op(adsb.check_tables(adsb.table_summary(tables), truth)):
            times.append(m.wall_s)
    return times, meters


def _query_calls(rng, truth, tables, dims, outcome, tracer=None, per_fn=None,
                 warmup=False):
    calls = []
    for name, p in adsb.query_round(rng, truth["days"], truth["flights"], warmup):
        try:
            if tracer is None:
                b, e, rows = adsb.run_query(name, p, tables, dims)
            else:
                with tracer.span(f"plans.adsb.{name}"):
                    b, e, rows = adsb.run_query(name, p, tables, dims)
        except Exception as exc:  # a failing call counts; the client goes on
            outcome.op(f"{name}: {type(exc).__name__}: {exc}"[:300])
            continue
        if outcome.op(adsb.check_answer(name, p, rows, truth)):
            calls.append(b + e)
            if per_fn is not None:
                per_fn.setdefault(name, []).append((b, e))
    return calls


def run_adsb(args, work, outcome):
    event_log = os.path.join(work, "eventlog") if args.trace else None
    with host.RssSampler() as rss:
        spark, cap, raw_dir, dims, setup = _adsb_setup(args, work, event_log)
        try:
            labels = host.session_labels(spark)
            truth = cap.truth()
            rng = random.Random(args.seed)
            tables, summary = _first_pass(spark, work, truth, raw_dir, dims,
                                          rng, setup, outcome)
            if args.trace:
                report, metrics = _trace_adsb(work, spark, cap, truth, raw_dir, dims,
                                              tables, summary, rng, labels, outcome)
                report.update(setup, labels=labels)
                return report, metrics
            etl_s, setup["etl_meters"] = _warm_passes(spark, work, truth, raw_dir,
                                                      dims, outcome)
            calls = []
            rounds = 0
            with host.Meter() as qm:
                t0 = time.perf_counter()
                while (time.perf_counter() - t0 < args.seconds
                       or rounds < MIN_ROUNDS["adsb"]):
                    calls += _query_calls(rng, truth, tables, dims, outcome)
                    rounds += 1
            setup["query_meter"] = qm.as_dict()
        finally:
            host.stop_session(spark)
    lines = len(cap.lines)
    etl_rate = lines / _median(etl_s) if etl_s else 0.0
    qps = len(calls) / setup["query_meter"]["wall_s"]
    e2e = _e2e(setup["setup_s"], etl_rate, calls, qps)
    report = {
        **setup, "labels": labels, "lines": lines, "flights": truth["flights"],
        "etl_pass_s": etl_s, "etl_msgs_per_s": etl_rate,
        "query_ms": percentile_report([c * 1000 for c in calls]),
        "query_p50_ms": _median(calls) * 1000,
        "query_p90_ms": _quantile(calls, 0.9) * 1000,
        "queries_per_s": qps, "peak_rss_mb": rss.peak / 2**20,
    }
    return report, e2e


def _disk_usage(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _sub, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def _etl_chain(spark, tracer, raw_dir, dims, out):
    """build_tables' stages, one layer at a time, each layer's public
    functions over the previous layer's materialized output.  Returns
    the four tables (as build_tables writes them) and the counts the
    per-layer metrics need."""
    from dump1090_postgis_spark.functions.conversions import interpolated_track
    from dump1090_postgis_spark.operators import parse
    from dump1090_postgis_spark.operators.attribution import (
        attribute_runway,
        resolve_strategy,
    )
    from dump1090_postgis_spark.operators.events import (
        classify_intention,
        debounce_events,
        detect_onground_edges,
    )
    from dump1090_postgis_spark.operators.ids import with_dense_ids
    from dump1090_postgis_spark.operators.sessionize import (
        flight_summaries,
        sessionize,
    )
    from dump1090_postgis_spark.operators.storage import write_time_partitioned
    from pyspark.sql import functions as F

    c = {}
    raw = spark.read.text(raw_dir)
    with tracer.span("operators.parse"):
        msgs = parse.with_altitude_m(parse.dispatch_fields(
            parse.parse_sbs1_lines(raw))).localCheckpoint(eager=True)
        c["parse.rows_out"] = msgs.count()
    admissible = (F.col("transmission_type") == 2) | (
        (F.col("transmission_type") == 3) & F.col("altitude").isNotNull()
        & (F.col("altitude") > -1000.0) & (F.col("altitude") < 10000.0))
    key = ["hexident", "session_id"]
    with tracer.span("operators.sessionize"):
        raw_sess = sessionize(msgs).localCheckpoint(eager=True)
        adm = raw_sess.filter(admissible).groupBy(*key).agg(
            F.min("gen_date_time").alias("_adm_ts"))
        sess = (raw_sess.join(adm, key).filter(F.col("gen_date_time") >= F.col("_adm_ts"))
                .drop("_adm_ts").localCheckpoint(eager=True))
        summaries = flight_summaries(sess, extra_aggs=[
            F.min_by(F.col("onground"), F.when(F.col("onground").isNotNull(),
                                               F.col("gen_date_time"))).alias("first_onground"),
            F.bool_or(F.col("onground") == F.lit(False)).alias("any_airborne"),
        ]).localCheckpoint(eager=True)
        c["sessionize.sessions"] = summaries.count()
    with tracer.span("operators.ids"):
        flights = classify_intention(with_dense_ids(
            summaries, ["first_seen", "hexident", "session_id"], "id")).select(
            "id", "hexident", "session_id", F.col("last_callsign").alias("callsign"),
            "first_seen", "last_seen", "intention", "n_messages").localCheckpoint(eager=True)
        fid = flights.select(*key, F.col("id").alias("flight_id"))
        positions = with_dense_ids(
            parse.position_validity(sess).join(fid, key).select(
                "flight_id", F.col("gen_date_time").alias("time"), "longitude",
                "latitude", "altitude_m",
                F.col("verticalrate").cast("short").alias("verticalrate"),
                F.col("track").cast("short").alias("track"), "onground"),
            ["time", "flight_id"], "id").select(
            "id", "flight_id", "time", "longitude", "latitude", "altitude_m",
            "verticalrate", "track", "onground").localCheckpoint(eager=True)
    with tracer.span("operators.events"):
        cand = detect_onground_edges(interpolated_track(
            parse.position_validity(sess))).localCheckpoint(eager=True)
        c["events.edges_in"] = cand.count()
        edges = debounce_events(cand).localCheckpoint(eager=True)
        c["events.kept"] = edges.count()
    with tracer.span("operators.attribution"):
        with tracer.span("operators.attribution.build") as build:
            strategy = resolve_strategy(dims["runways"], dims["airport"])
        att = attribute_runway(edges, dims["runways"], dims["airport"],
                               strategy=strategy).localCheckpoint(eager=True)
        by_rw = {(r["event_type"], r["runway"]): r["n"] for r in att.groupBy(
            "event_type", "runway").agg(F.count(F.lit(1)).alias("n")).collect()}
    with tracer.span("operators.ids"):
        ev = att.join(fid, key)
        events = {
            kind: with_dense_ids(ev.filter(F.col("event_type") == kind[:-1]),
                                 ["gen_date_time", "flight_id"], "id").select(
                "id", "flight_id", F.col("gen_date_time").alias("time"), "runway"
            ).localCheckpoint(eager=True)
            for kind in ("landings", "takeoffs")}
    tables = {"flights": flights.drop("session_id"), "positions": positions, **events}
    with tracer.span("operators.storage"):
        tables["flights"].write.mode("overwrite").parquet(f"{out}/flights")
        write_time_partitioned(positions, f"{out}/positions", ts="time",
                               cluster_key="flight_id")
        for kind, df in events.items():
            write_time_partitioned(df, f"{out}/{kind}", ts="time")
    c["attribution.build_span"] = build["id"]
    c["by_runway"] = by_rw
    c["flights"] = flights.count()
    c["positions"] = positions.count()
    return tables, c


def _chain_check(tables, c, built, truth) -> list[str]:
    """The chain must build the tables build_tables builds: the same
    columns and types (build_tables' read-back adds ``_dt``) and the
    planted counts."""
    errs = []
    for name, df in tables.items():
        want = [(f.name, f.dataType) for f in built[name].schema.fields if f.name != "_dt"]
        got = [(f.name, f.dataType) for f in df.schema.fields]
        if got != want:
            errs.append(f"chain {name} schema {got} != build_tables {want}")
    got = {"landings": {}, "takeoffs": {}}
    for (typ, rw), n in c["by_runway"].items():
        got[typ + "s"][rw] = n
    return errs + adsb.check_tables(
        {"flights": c["flights"], "positions": c["positions"], **got}, truth)


def _stream_check(res, summary) -> list[str]:
    want = {f"{kind[:-1]}:{rw}": n for kind in ("landings", "takeoffs")
            for rw, n in summary[kind].items()}
    errs = []
    if res["exception"]:
        errs.append(f"streaming query failed: {res['exception']}")
    if not res["drained"]:
        errs.append("streaming backlog not drained in time")
    if res["counts"] != want:
        errs.append(f"streaming events {res['counts']} != batch ETL {want}")
    return errs


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _trace_adsb(work, spark, cap, truth, raw_dir, dims, tables, summary, rng,
                labels, outcome):
    # the reference for the overhead and the coverage: the same chain
    # untraced (no spans, no job groups) in the same JVM, once before and
    # once after the traced one, so that warm-up drift cancels out
    untraced = trace.NullTracer()
    untraced_s = [_timed(lambda: _etl_chain(spark, untraced, raw_dir, dims,
                                            os.path.join(work, "chain_untraced0")))]
    tracer = trace.Tracer(spark)
    t = time.perf_counter()
    with tracer.span("etl_chain") as root:
        chain_tables, chain = _etl_chain(spark, tracer, raw_dir, dims,
                                         os.path.join(work, "chain"))
    chain_s = time.perf_counter() - t
    # the part of the chain the layer spans cover
    chain_self = tracer.duration(root["id"]) - tracer.self_time(root["id"])
    untraced_s.append(_timed(lambda: _etl_chain(spark, untraced, raw_dir, dims,
                                                os.path.join(work, "chain_untraced1"))))
    outcome.op(_chain_check(chain_tables, chain, tables, truth))
    per_fn: dict = {}
    _query_calls(rng, truth, tables, dims, outcome, tracer, per_fn)
    with tracer.span("streaming"):
        res = stream.run_stream(spark, os.path.join(work, "stream"), cap.lines, dims)
    outcome.op(_stream_check(res, summary))
    host.stop_session(spark)

    groups = trace.reduce_event_log(os.path.join(work, "eventlog"))
    layers = trace.per_layer_counters(tracer, groups, {res["run_id"]})
    bytes_written, files_written = _disk_usage(os.path.join(work, "tables"))
    specific = {
        "operators.parse.rows_in": (len(cap.lines), "count"),
        "operators.parse.rows_out": (chain["parse.rows_out"], "count"),
        "operators.parse.reject_ratio": (1 - chain["parse.rows_out"] / len(cap.lines), "ratio"),
        "operators.sessionize.sessions": (chain["sessionize.sessions"], "count"),
        "operators.events.edges_in": (chain["events.edges_in"], "count"),
        "operators.events.debounce_keep_ratio": (
            chain["events.kept"] / max(1, chain["events.edges_in"]), "ratio"),
        "operators.attribution.match_ratio": (
            sum(n for (_t, rw), n in chain["by_runway"].items() if rw != "UNK")
            / max(1, sum(chain["by_runway"].values())), "ratio"),
        "operators.attribution.build_jobs": (
            groups.get(f"pb{chain['attribution.build_span']}", {}).get("jobs", 0), "count"),
        "operators.storage.bytes_written": (bytes_written, "B"),
        "operators.storage.files_written": (files_written, "count"),
        "trace.coverage_ratio": (chain_self / _median(untraced_s), "ratio"),
        "trace.overhead_ratio": (chain_s / _median(untraced_s), "ratio"),
    }
    for name, bes in per_fn.items():
        g = trace.group_counters(tracer, groups, f"plans.adsb.{name}")
        specific[f"plans.adsb.{name}.build_ms"] = (_median([b for b, _ in bes]) * 1000, "ms")
        specific[f"plans.adsb.{name}.exec_ms"] = (_median([e for _, e in bes]) * 1000, "ms")
        specific[f"plans.adsb.{name}.jobs"] = (g["jobs"], "count")
        specific[f"plans.adsb.{name}.input_b"] = (g["input_b"], "B")
    specific["streaming.engine_tws"] = (int(labels["stream_engine"] == "tws"), "bool")
    for k, v in stream.progress_metrics(res).items():
        unit = "ms" if k.endswith("_ms") else ("B" if k.endswith("_b") else "count")
        specific[f"streaming.{k}"] = (v, unit)
    report = {
        "untraced_chain_s": untraced_s, "traced_chain_s": chain_s,
        "stream_latency_p50_s": _median(res["latency_s"]),
        "stream_latency_p90_s": _quantile(res["latency_s"], 0.9),
        "stream_latency_s": percentile_report(res["latency_s"]),
        "stream_keepup_ratio": res["keepup_ratio"],
        "stream_drain_msgs_per_s": res["drain_msgs_per_s"],
        "stream_generator_lag_s": res["generator_lag_s"],
        "stream_offered": res["offered"],
    }
    tracer.write(os.path.join(work, "trace.json"), {"groups": groups, "report": report})
    busy = {layer: tracer.busy_s(layer) for layer in trace.LAYERS}
    return report, _layer_metrics(busy, layers, specific)


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------

def _corpus_setup(args, work, event_log):
    t0 = time.perf_counter()
    spark = host.start_session(work, event_log)
    session_s = time.perf_counter() - t0
    (docs_in, emb), gen_s = _setup_inputs(corpus.make_inputs, args.seed, CORPUS_SIZE)
    t1 = time.perf_counter()
    paths = corpus.write_inputs(docs_in, emb, work, CORPUS_SIZE["files"])
    frames = {k: spark.read.parquet(v) for k, v in paths.items()}
    setup = {"session_start_s": session_s, "generate_s": gen_s,
             "setup_s": session_s + gen_s + time.perf_counter() - t1}
    return spark, docs_in, emb, frames, setup


def _recall_check(rows, qids, emb) -> list[str]:
    r = corpus.twin_recall(rows, qids, emb)
    return [] if r >= corpus.RECALL_FLOOR else [f"twin recall {r:.3f} < {corpus.RECALL_FLOOR}"]


def _first_dedup(docs_in, emb, frames, batches, setup, outcome):
    """The measured near-dup pass (first in a fresh JVM, as a batch job
    pays it), then the IVF index build and a warm-up query batch,
    both added to set-up."""
    with host.Meter() as m:
        clusters = corpus.collect_clusters(corpus.near_dup_clusters(frames["docs"]))
    dedup_s = m.wall_s
    setup["dedup_meter"] = m.as_dict()
    ok = outcome.op(corpus.check_clusters(*clusters, docs_in))
    t = time.perf_counter()
    cen = corpus.build_index(frames["vecs"])
    outcome.op(_recall_check(corpus.topk(frames["vecs"], cen, batches[0]), batches[0], emb))
    setup["index_warmup_s"] = time.perf_counter() - t
    setup["setup_s"] += setup["index_warmup_s"]
    return cen, (dedup_s if ok else None)


def run_corpus(args, work, outcome):
    event_log = os.path.join(work, "eventlog") if args.trace else None
    with host.RssSampler() as rss:
        spark, docs_in, emb, frames, setup = _corpus_setup(args, work, event_log)
        try:
            labels = host.session_labels(spark)
            batches = corpus.query_batches(emb, CORPUS_SIZE["query_batch"])
            cen, dedup_s = _first_dedup(docs_in, emb, frames, batches, setup, outcome)
            if args.trace:
                report, metrics = _trace_corpus(work, spark, docs_in, emb, frames,
                                                batches, outcome)
                report.update(setup, labels=labels)
                return report, metrics
            calls, i = [], 0
            with host.Meter() as qm:
                t0 = time.perf_counter()
                while (time.perf_counter() - t0 < args.seconds
                       or i < MIN_ROUNDS["corpus"]):
                    qids = batches[i % len(batches)]
                    i += 1
                    t = time.perf_counter()
                    rows = corpus.topk(frames["vecs"], cen, qids)
                    dt = time.perf_counter() - t
                    if outcome.op(_recall_check(rows, qids, emb)):
                        calls.append(dt)
            setup["query_meter"] = qm.as_dict()
        finally:
            host.stop_session(spark)
    docs_rate = len(docs_in.docs) / dedup_s if dedup_s else 0.0
    qps = len(calls) * CORPUS_SIZE["query_batch"] / setup["query_meter"]["wall_s"]
    e2e = _e2e(setup["setup_s"], docs_rate, calls, qps)
    report = {
        **setup, "labels": labels, "docs": len(docs_in.docs),
        "distinct_docs": docs_in.distinct_docs, "dedup_pass_s": dedup_s,
        "dedup_docs_per_s": docs_rate,
        "topk_call_ms": percentile_report([c * 1000 for c in calls]),
        "topk_call_p90_ms": _quantile(calls, 0.9) * 1000,
        "topk_queries_per_s": qps, "peak_rss_mb": rss.peak / 2**20,
    }
    return report, e2e


def _dedup_chain(tracer, docs):
    """The near-dup chain one function at a time, each over the previous
    one's materialized output."""
    from dump1090_postgis_spark.datapipe import cluster, dedup

    with tracer.span("datapipe.dedup.minhash_banded"):
        banded = dedup.minhash_banded(docs, num_hashes=corpus.NUM_HASHES,
                                      bands=corpus.BANDS).localCheckpoint(eager=True)
    with tracer.span("datapipe.dedup.candidates"):
        cands = dedup.banded_candidate_pairs(banded).localCheckpoint(eager=True)
        n_cand = cands.count()
    with tracer.span("datapipe.dedup.verify"):
        ver = dedup.jaccard_pairs(docs, cands, threshold=corpus.JACCARD_THRESHOLD) \
            .localCheckpoint(eager=True)
        n_ver = ver.count()
    with tracer.span("datapipe.cluster.duplicate_clusters"):
        cl = cluster.duplicate_clusters(docs, ver).localCheckpoint(eager=True)
    return banded, n_cand, n_ver, cl


def _trace_corpus(work, spark, docs_in, emb, frames, batches, outcome):
    from dump1090_postgis_spark.datapipe import dedup, similarity
    from pyspark.sql import functions as F

    docs, vecs = frames["docs"], frames["vecs"]
    # the untraced reference, as in _trace_adsb
    untraced = trace.NullTracer()
    untraced_s = [_timed(lambda: _dedup_chain(untraced, docs))]
    tracer = trace.Tracer(spark)
    t = time.perf_counter()
    with tracer.span("dedup_chain") as root:
        banded, n_cand, n_ver, cl = _dedup_chain(tracer, docs)
    chain_s = time.perf_counter() - t
    chain_self = tracer.duration(root["id"]) - tracer.self_time(root["id"])
    untraced_s.append(_timed(lambda: _dedup_chain(untraced, docs)))
    outcome.op(corpus.check_clusters(*corpus.collect_clusters(cl), docs_in))
    dropped = dedup.oversize_buckets(banded).count()
    with tracer.span("datapipe.similarity.build_centroids"):
        cen = corpus.build_index(vecs)
    rows = []
    for qids in batches:
        with tracer.span("datapipe.similarity.ivf_topk"):
            got = corpus.topk(vecs, cen, qids)
        outcome.op(_recall_check(got, qids, emb))
        rows += got
    # recall against exact search on a sample, outside every span
    sample = set(batches[0])
    exact = similarity.brute_force_topk(
        vecs, vecs.filter(F.col("vec_id").isin(list(sample))), k=corpus.TOP_K).collect()
    want = {(r["query_id"], r["neighbor_id"]) for r in exact}
    have = {(r["query_id"], r["neighbor_id"]) for r in rows if r["query_id"] in sample}
    recall = len(want & have) / max(1, len(want))
    host.stop_session(spark)

    groups = trace.reduce_event_log(os.path.join(work, "eventlog"))
    layers = trace.per_layer_counters(tracer, groups)
    specific = {
        "datapipe.dedup.minhash_banded.busy_s": (tracer.busy_s("datapipe.dedup.minhash_banded"), "s"),
        "datapipe.dedup.candidates.busy_s": (tracer.busy_s("datapipe.dedup.candidates"), "s"),
        "datapipe.dedup.candidates": (n_cand, "count"),
        "datapipe.dedup.verify.busy_s": (tracer.busy_s("datapipe.dedup.verify"), "s"),
        "datapipe.dedup.verify_yield": (n_ver / max(1, n_cand), "ratio"),
        "datapipe.dedup.bucket_cap_dropped": (dropped, "count"),
        "datapipe.similarity.build_centroids.busy_s": (
            tracer.busy_s("datapipe.similarity.build_centroids"), "s"),
        "datapipe.similarity.ivf_topk.busy_s": (tracer.busy_s("datapipe.similarity.ivf_topk"), "s"),
        "datapipe.similarity.recall_at_k": (recall, "ratio"),
        "trace.coverage_ratio": (chain_self / _median(untraced_s), "ratio"),
        "trace.overhead_ratio": (chain_s / _median(untraced_s), "ratio"),
    }
    report = {"untraced_chain_s": untraced_s,
              "traced_chain_s": chain_s, "recall_at_k": recall}
    tracer.write(os.path.join(work, "trace.json"), {"groups": groups, "report": report})
    busy = {layer: tracer.busy_s(layer) for layer in trace.LAYERS}
    return report, _layer_metrics(busy, layers, specific)


# --------------------------------------------------------------------------
# per-layer metric set (the same names on every workload)
# --------------------------------------------------------------------------

LAYER_COUNTERS = (("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
                  ("shuffle_write_b", "B"), ("spill_b", "B"))


def per_layer_spec() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in output order."""
    spec = []
    for layer in trace.LAYERS:
        if layer != "streaming" and layer != "plans.adsb":
            spec.append((f"{layer}.busy_s", "s"))
        spec += [(f"{layer}.{k}", u) for k, u in LAYER_COUNTERS]
    spec += [
        ("operators.parse.rows_in", "count"), ("operators.parse.rows_out", "count"),
        ("operators.parse.reject_ratio", "ratio"),
        ("operators.sessionize.sessions", "count"),
        ("operators.events.edges_in", "count"),
        ("operators.events.debounce_keep_ratio", "ratio"),
        ("operators.attribution.match_ratio", "ratio"),
        ("operators.attribution.build_jobs", "count"),
        ("operators.storage.bytes_written", "B"),
        ("operators.storage.files_written", "count"),
    ]
    for name in adsb.QUERY_NAMES:
        spec += [(f"plans.adsb.{name}.build_ms", "ms"), (f"plans.adsb.{name}.exec_ms", "ms"),
                 (f"plans.adsb.{name}.jobs", "count"), (f"plans.adsb.{name}.input_b", "B")]
    spec += [("streaming.engine_tws", "bool")] + [
        (f"streaming.{k}", "ms" if k.endswith("_ms") else ("B" if k.endswith("_b") else "count"))
        for k in ("add_batch_ms", "query_planning_ms", "wal_commit_ms", "latest_offset_ms",
                  "batches", "empty_batch_ms", "state_rows", "state_memory_b", "sink_ms")]
    spec += [
        ("datapipe.dedup.minhash_banded.busy_s", "s"), ("datapipe.dedup.candidates.busy_s", "s"),
        ("datapipe.dedup.candidates", "count"), ("datapipe.dedup.verify.busy_s", "s"),
        ("datapipe.dedup.verify_yield", "ratio"), ("datapipe.dedup.bucket_cap_dropped", "count"),
        ("datapipe.similarity.build_centroids.busy_s", "s"),
        ("datapipe.similarity.ivf_topk.busy_s", "s"),
        ("datapipe.similarity.recall_at_k", "ratio"),
        ("trace.coverage_ratio", "ratio"), ("trace.overhead_ratio", "ratio"),
    ]
    return spec


def _layer_metrics(busy, layers, specific) -> dict:
    out = {}
    for name, unit in per_layer_spec():
        if name in specific:
            out[name] = (specific[name][0], unit)
            continue
        layer, _, field = name.rpartition(".")
        if field == "busy_s" and layer in busy:
            out[name] = (busy[layer], unit)
        elif layer in layers and field in layers[layer]:
            out[name] = (layers[layer][field], unit)
        else:
            out[name] = (0, unit)
    return out


WORKLOADS = {"adsb_etl_query": run_adsb, "corpus_near_dup": run_corpus}
