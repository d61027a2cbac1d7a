"""Metrics from the harness's raw records.

The JVM side (src/main/scala/perfbench) only records: samples, ticks,
merges, progress objects, spans and counters, one JSON object per line.
Everything derived from them is computed here, so each rule is written
once and unit-tested (tests/test_analysis.py).
"""
import bisect
import json
import math
from collections import defaultdict


def quantile(values, q):
    """Linear-interpolation quantile (R type 7, as numpy's default) of
    unsorted values. None for no values, instead of an index error."""
    xs = sorted(values)
    if not xs:
        return None
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (pos - lo) * (xs[hi] - xs[lo])


def median(values):
    return quantile(values, 0.5)


def load(path):
    """Records of a run, grouped by kind."""
    out = defaultdict(list)
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            out[r.pop("kind")].append(r)
    return out


# ---- freshness ---------------------------------------------------------

def end_offset(progress):
    """The MemoryStream end offset a micro-batch read up to, or None.
    Progress objects render it as a number or a numeric string."""
    srcs = progress.get("sources") or []
    if not srcs or srcs[0].get("endOffset") is None:
        return None
    return int(str(srcs[0]["endOffset"]))


def tick_epochs(tick_offsets, epochs):
    """For each tick, the batch id of the first epoch whose source end
    offset reaches the tick's offset (the offset `addData` returned), or
    None when no epoch did. `epochs` holds (batch id, end offset) pairs."""
    ordered = sorted((o, b) for b, o in epochs if o is not None)
    # end offsets never decrease with the batch id; keep the earliest batch
    # of each offset so a no-data batch cannot shadow the one that read it
    firsts = []
    for o, b in ordered:
        if not firsts or o > firsts[-1][0]:
            firsts.append((o, b))
    offs = [o for o, _ in firsts]
    out = []
    for t in tick_offsets:
        i = bisect.bisect_left(offs, t)
        out.append(firsts[i][1] if i < len(firsts) else None)
    return out


def freshness(ticks, progress, tile_merges):
    """Seconds from each tick's due time to the end of the tiles merge of
    the epoch that first read it; None for a tick never made visible."""
    merged = {m["batch"]: m["end"] for m in tile_merges}
    epochs = [(p["batchId"], end_offset(p)) for p in progress]
    batches = tick_epochs([t["offset"] for t in ticks], epochs)
    return [(merged[b] - t["due"]) / 1e6 if b in merged else None
            for t, b in zip(ticks, batches)]


# ---- spans -------------------------------------------------------------

def span_parents(spans):
    """Parent index of each span (or None): the shortest other span of the
    same trace whose interval contains it. Of two spans with one interval,
    the earlier recorded is the parent, so the result has no cycles."""
    by_trace = defaultdict(list)
    for i, s in enumerate(spans):
        by_trace[s["trace"]].append(i)
    parent = [None] * len(spans)
    for idx in by_trace.values():
        for i in idx:
            s, best = spans[i], None
            for j in idx:
                t = spans[j]
                if j == i or not (t["start"] <= s["start"] and s["end"] <= t["end"]):
                    continue
                if t["start"] == s["start"] and t["end"] == s["end"] and j > i:
                    continue
                if best is None or t["end"] - t["start"] < spans[best]["end"] - spans[best]["start"]:
                    best = j
            parent[i] = best
    return parent


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, parent=None):
    """Self seconds per layer: each span's duration minus the part of its
    interval that its child spans cover."""
    parent = span_parents(spans) if parent is None else parent
    children = defaultdict(list)
    for i, p in enumerate(parent):
        if p is not None:
            children[p].append(spans[i])
    out = defaultdict(float)
    for i, s in enumerate(spans):
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in children[i]]
        out[s["layer"]] += (s["end"] - s["start"] - covered(kids)) / 1e6
    return dict(out)


# ---- failures ----------------------------------------------------------

def batch_accounting(queries, samples, oracle_failed):
    """(attempted, failed) for a batch run: a query fails if any of its
    samples threw or the oracle check rejected its result (a missing
    result included); each query counts once."""
    bad = {s["q"] for s in samples if not s["ok"]} | set(oracle_failed)
    return len(queries), len(bad & set(queries))


def ingest_checks(progress, gen):
    """Booleans: rows parsed equal events sent, rows without a provider
    equal the malformed events injected, rows dropped by sanitize and snap
    equal the out-of-range events injected."""
    tot = defaultdict(int)
    for p in progress:
        for name, row in (p.get("observedMetrics") or {}).items():
            for k, v in row.items():
                tot[f"{name}.{k}"] += int(v)
    parsed = tot["graft_ingest.rows_parsed"]
    with_provider = tot["graft_ingest.rows_with_provider"]
    clean = tot["graft_clean.rows_clean"]
    return [parsed == gen["events"],
            parsed - with_provider == gen["malformed"],
            with_provider - clean == gen["out_of_range"]]


def stream_accounting(fresh, checks, ingest):
    """(attempted, failed) for a stream run: ticks never made visible,
    sink keys that differ from the batch twin, and ingest counts that
    differ from the generator's."""
    attempted = len(fresh) + sum(c["n"] for c in checks) + len(ingest)
    failed = (sum(1 for f in fresh if f is None) + sum(c["bad"] for c in checks)
              + sum(1 for ok in ingest if not ok))
    return attempted, failed


def fail_ratio(attempted, failed):
    return failed / attempted if attempted else 1.0


# ---- end-to-end metrics ------------------------------------------------

def rows_parsed(progress):
    """Events an epoch read. `numInputRows` counts the source once per
    branch of the multiplexed plan, so it reads twice the events."""
    return int((progress.get("observedMetrics") or {}).get("graft_ingest", {}).get("rows_parsed", 0))


def timed_epochs(rec):
    """Progress of the epochs after the warm ones that read input."""
    warm = rec["warm"][0]["last_batch"]
    return [p for p in progress_of(rec) if p["batchId"] > warm and rows_parsed(p) > 0]


def batch_e2e(rec, tail_q):
    cold = [s["s"] for s in rec["sample"] if s["pass"] == 0]
    warm = [s for s in rec["sample"] if s["pass"] > 0 and not s["traced"]]
    per_q = defaultdict(list)
    for s in warm:
        per_q[s["q"]].append(s["s"])
    meds = {q: median(v) for q, v in per_q.items()}
    return {
        "setup_s": median([s["s"] for s in rec["setup"]]),
        "cold_s": sum(cold),
        "p50_s": median([s["s"] for s in warm]),
        "tail_s": quantile([s["s"] for s in warm], tail_q),
        "work_s": sum(meds.values()),
        "retained_heap_mb": rec["heap"][0]["mb"],
    }, {"samples": len(warm), "passes": len({s["pass"] for s in warm}), "queries": len(meds)}


def live_e2e(rec, fresh, tail_q):
    seen = [f for f in fresh if f is not None]
    epochs = timed_epochs(rec)
    return {
        "setup_s": median([s["s"] for s in rec["setup"]]),
        "cold_s": rec["cold"][0]["s"],
        "p50_s": median(seen),
        "tail_s": quantile(seen, tail_q),
        "work_s": median([p["durationMs"]["triggerExecution"] / 1e3 for p in epochs]),
        "retained_heap_mb": rec["heap"][0]["mb"],
    }, {"ticks": len(fresh), "epochs": len(epochs),
        "gen_late_max_ms": max((t["sent"] - t["due"]) / 1e3 for t in rec["tick"])}


def progress_of(rec):
    return [r["json"] for r in rec["progress"]]


def merges(rec, sink):
    return [m for m in rec["merge"] if m["sink"] == sink]


# ---- per-layer metrics (traced run) ------------------------------------

def counter_sums(rec, traces):
    out = defaultdict(float)
    for c in rec["counter"]:
        if c["trace"] in traces:
            out[c["name"]] += c["value"]
    return out


def jobs_under(spans, parent, layer_name):
    """Per parent span of the given name: the job spans directly under it."""
    out = defaultdict(list)
    for i, s in enumerate(spans):
        p = parent[i]
        if s["name"] == "job" and p is not None and spans[p]["name"] == layer_name:
            out[p].append(s)
    return out


def batch_layers(rec, workload, cores):
    warm = [s for s in rec["sample"] if s["pass"] > 0]
    traced = [s for s in warm if s["traced"]]
    untraced = [s for s in warm if not s["traced"]]
    passes = {s["pass"] for s in traced}
    n = max(len(passes), 1)
    traces = {f"{workload}/p{s['pass']}/{s['q']}" for s in traced}
    cold_traces = {f"{workload}/p0/{s['q']}" for s in rec["sample"] if s["pass"] == 0}
    c = counter_sums(rec, traces)
    cold = counter_sums(rec, cold_traces)
    spans = [s for s in rec["span"] if s["trace"] in traces]
    parent = span_parents(spans)
    wall = sum(s["s"] for s in traced)
    out = {k: v / n for k, v in c.items()}
    construct_jobs = jobs_under(spans, parent, "construct")
    materialize_jobs = jobs_under(spans, parent, "materialize")
    gap = 0.0
    for i, s in enumerate(spans):
        if s["name"] == "materialize":
            jobs = [(j["start"], j["end"]) for j in materialize_jobs[i]]
            gap += (s["end"] - s["start"] - covered(jobs)) / 1e6
    untraced_n = max(len({s["pass"] for s in untraced}), 1)
    t_pass = wall / n
    u_pass = sum(s["s"] for s in untraced) / untraced_n
    out.update({
        "queries.construct_s": sum(s["construct_s"] for s in traced) / n,
        "queries.construct_jobs": sum(len(v) for v in construct_jobs.values()) / n,
        "spark.driver_gap_s": gap / n,
        "spark.cpu_util": c["spark.task_cpu_s"] / (wall * cores) if wall else 0.0,
        "spark.codegen_cold_compiles": cold["spark.codegen_compiles"],
        "spark.codegen_cold_ms": cold["spark.codegen_ms"],
        "trace.overhead_pct": 100.0 * (t_pass - u_pass) / u_pass if untraced and traced else 0.0,
        "trace.units": len(passes),
    })
    for layer, secs in self_times(spans, parent).items():
        out[f"{layer}.self_s"] = secs / n
    # parquet scans run inside query jobs; the tables layer's own span is
    # the set-up read of every table
    for s in rec["span"]:
        if s["layer"] == "tables":
            out["tables.self_s"] = (s["end"] - s["start"]) / 1e6
    return out


def stream_layers(rec, workload):
    """Per-layer metrics of a traced stream run."""
    progress = progress_of(rec)
    epochs = timed_epochs(rec)
    warm = rec["warm"][0]["last_batch"]
    tiles_m = [m for m in merges(rec, "tiles") if m["batch"] > warm]
    latest_m = [m for m in merges(rec, "latest") if m["batch"] > warm]
    traced_b = {m["batch"] for m in tiles_m if m["traced"]}
    t_epochs = [p for p in epochs if p["batchId"] in traced_b]
    t_ids = {p["batchId"] for p in t_epochs}
    n = max(len(t_epochs), 1)
    ep_traces = {f"epoch-{b}" for b in t_ids}
    reads = [r for r in rec["read"] if r["traced"]]
    read_traces = {f"read-{r['i']}" for r in reads}
    spans = [s for s in rec["span"] if s["trace"] in ep_traces | read_traces | {"load"}]
    parent = span_parents(spans)

    def p50(f, ps=t_epochs):
        return median([f(p) for p in ps]) or 0.0

    def dur(key):
        return p50(lambda p: p["durationMs"].get(key, 0))

    def ops(p, key):
        return sum(o.get(key, 0) for o in p.get("stateOperators", []))

    def merge_ms(ms):
        return median([(m["end"] - m["start"]) / 1e3 for m in ms if m["batch"] in t_ids]) or 0.0

    per_epoch = defaultdict(lambda: defaultdict(float))
    for cnt in rec["counter"]:
        if cnt["trace"] in ep_traces:
            per_epoch[cnt["name"]][cnt["trace"]] += cnt["value"]
    out = {name: sum(v.values()) / n for name, v in per_epoch.items()}
    # planning of the per-epoch sink actions, which the harness's main
    # trace (the workload) carries
    for name, v in counter_sums(rec, {workload}).items():
        if name.startswith("plans."):
            out[name] = v / n
    merge_jobs = {**jobs_under(spans, parent, "tiles_merge"), **jobs_under(spans, parent, "latest_merge")}
    jobs_per_epoch = defaultdict(int)
    for i, js in merge_jobs.items():
        jobs_per_epoch[spans[i]["trace"]] += len(js)
    parsed = sum(rows_parsed(p) for p in progress)
    clean = sum(int((p.get("observedMetrics") or {}).get("graft_clean", {}).get("rows_clean", 0))
                for p in progress)
    both = sorted(tiles_m + latest_m, key=lambda m: m["batch"])
    first_b, last_b = (both[0]["batch"], both[-1]["batch"]) if both else (0, 0)
    early = sum(m["end"] - m["start"] for m in both if m["batch"] == first_b)
    late = sum(m["end"] - m["start"] for m in both if m["batch"] == last_b)
    gen = rec["gen"][0]
    out.update({
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.latestOffset_ms": dur("latestOffset"),
        "stream.getBatch_ms": dur("getBatch"),
        "stream.queryPlanning_ms": dur("queryPlanning"),
        "stream.walCommit_ms": dur("walCommit"),
        "stream.commitOffsets_ms": dur("commitOffsets"),
        "stream.addBatch_ms": dur("addBatch"),
        "stream.state_commit_ms": p50(lambda p: ops(p, "commitTimeMs")),
        "stream.state_rows": p50(lambda p: ops(p, "numRowsTotal")),
        "stream.state_mem_mb": p50(lambda p: ops(p, "memoryUsedBytes")) / 1048576.0,
        "stream.late_rows_dropped": sum(ops(p, "numRowsDroppedByWatermark") for p in progress),
        "stream.epochs": len(epochs),
        "stream.rows_per_epoch": p50(rows_parsed, epochs),
        "stream.ingest_drop_ratio": 1.0 - clean / parsed if parsed else 0.0,
        "sink.tiles_merge_ms": merge_ms(tiles_m),
        "sink.latest_merge_ms": merge_ms(latest_m),
        "sink.merge_jobs": median([jobs_per_epoch[t] for t in ep_traces]) or 0.0,
        "sink.merge_growth": late / early if early else 0.0,
        "serve.read_jobs": median([counter_sums(rec, {f"read-{r['i']}"})["spark.jobs"] for r in reads]) or 0.0,
        "serve.payload_mb": (median([r["bytes"] for r in reads]) or 0.0) / 1048576.0,
        "serve.read_ms": (median([r["s"] for r in reads]) or 0.0) * 1e3,
        "load.events_sent": gen["events"],
        "trace.units": len(t_epochs),
    })
    last_sent = max(t["sent"] for t in rec["tick"])
    merged = {m["batch"]: m["end"] for m in merges(rec, "tiles")}
    batches = tick_epochs([t["offset"] for t in rec["tick"]],
                          [(p["batchId"], end_offset(p)) for p in progress])
    out["load.gen_late_max_ms"] = max((t["sent"] - t["due"]) / 1e3 for t in rec["tick"])
    out["load.backlog_end"] = sum(t["events"] for t, b in zip(rec["tick"], batches)
                                  if merged.get(b, math.inf) > last_sent)
    on = [p["durationMs"]["triggerExecution"] for p in t_epochs]
    off = [p["durationMs"]["triggerExecution"] for p in epochs if p["batchId"] not in traced_b]
    out["trace.overhead_pct"] = (100.0 * (median(on) - median(off)) / median(off)
                                 if on and off else 0.0)
    for layer, secs in self_times(spans, parent).items():
        out[f"{layer}.self_s"] = secs / n
    return out
