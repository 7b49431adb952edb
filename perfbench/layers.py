"""Turns a traced run's raw events into graft's per-layer metrics.

The JVM side records benchmark spans (one per call into a library layer,
inside one root span per timed job), every Spark job with its call sites,
per-stage task metrics, each SQL query's planning phases and the row counts
of its filter/join nodes, and streaming progress. This module attributes
jobs to layers and derives the per-layer metrics from those records.

Attribution rule: a job belongs to the first library source file named in
its call site (the long form, innermost frame first; a file of SparkEntry
counts as `pipeline`), else to the first one named in the call site of the
SQL execution that ran it (AQE stage jobs run on a pool thread), else to
the innermost benchmark span open when it started.
"""
import statistics

FILES = {
    "Tables.scala": "core.Tables", "Embed.scala": "ml.Embed", "Dbscan.scala": "ml.Dbscan",
    "TextPipeline.scala": "ml.TextPipeline", "ClusterStats.scala": "ml.ClusterStats",
    "Dedup.scala": "dedup.Dedup", "Curation.scala": "dedup.Curation",
    "Similarity.scala": "dedup.Similarity", "StreamIngest.scala": "streaming.StreamIngest",
    "Relational.scala": "ops.Relational", "RangeAgg.scala": "ops.RangeAgg",
    "DistQuantile.scala": "ops.DistQuantile", "SparkEntry.scala": "pipeline",
}
LAYERS = ["core.Tables", "ml.Embed", "ml.Dbscan", "ml.TextPipeline", "ml.ClusterStats",
          "dedup.Dedup", "dedup.Curation", "dedup.Similarity", "streaming.StreamIngest",
          "ops.Relational", "ops.RangeAgg", "ops.DistQuantile", "pipeline"]
LAYER_METRICS = [("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("task_busy_s", "s"),
                 ("sched_wait_s", "s"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                 ("gc_s", "s")]
STREAM_PHASES = ["addBatch", "walCommit", "commit", "queryPlanning", "getBatch"]
STREAM_KEYS = {"commit": "commitOffsets"}   # progress durationMs key of the commit-log write
WORKLOAD_METRICS = (
    [("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
     ("driver_gap_s", "s"), ("shuffle_skew", "ratio")]
    + [(f"stream.{p}_ms", "ms") for p in STREAM_PHASES]
    + [("stream.state_rows", "count"), ("stream.state_bytes", "bytes"),
       ("dedup.candidate_yield", "ratio"), ("ann.candidate_yield", "ratio"),
       ("semdup.pair_yield", "ratio")])


def per_layer_names():
    """Every per-layer metric as (name, unit), in a fixed order."""
    return [(f"{layer}.{m}", u) for layer in LAYERS for m, u in LAYER_METRICS] + WORKLOAD_METRICS


def module_of_call_site(files):
    """The layer named by a call site's library files (innermost first)."""
    for f in files:
        if f in FILES:
            return FILES[f]
    return None


def union_length(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(parent, children):
    """Splits a parent interval over possibly overlapping children.

    parent: (start, end); children: [(start, end, key)]. Each instant of the
    parent goes to the running child that started last (the innermost one);
    instants with no running child are the parent's own time. Returns
    ({key: seconds}, own seconds)."""
    p0, p1 = parent
    kids = [(max(s, p0), min(e, p1), k) for s, e, k in children if min(e, p1) > max(s, p0)]
    cuts = sorted({p0, p1, *[s for s, _, _ in kids], *[e for _, e, _ in kids]})
    out, own = {}, 0.0
    for a, b in zip(cuts, cuts[1:]):
        running = [c for c in kids if c[0] <= a and c[1] >= b]
        if running:
            k = max(running, key=lambda c: c[0])[2]
            out[k] = out.get(k, 0.0) + (b - a)
        else:
            own += b - a
    return out, own


def innermost(spans, t):
    """The deepest span open at time t (latest start among those open)."""
    open_ = [s for s in spans if s["start"] <= t < s["end"]]
    return max(open_, key=lambda s: (s["start"], s["id"])) if open_ else None


def attribute(trace):
    """Each timed job's layer (or None) and iteration; jobs outside the timed
    iterations are dropped."""
    spans = [s for s in trace["spans"] if s["iter"] >= 0 and s["end"] is not None]
    out = []
    for j in trace["jobs"]:
        if j["end"] is None:
            continue
        sp = innermost(spans, j["start"])
        if sp is None:
            continue
        layer = module_of_call_site(j["graft_files"]) or module_of_call_site(j["execution_files"])
        if layer is None and sp["name"] in LAYERS:
            layer = sp["name"]
        out.append(dict(j, layer=layer, iter=sp["iter"]))
    return out


def tail_percentile(samples):
    """The highest of p50/p75/p90/p95/p99/p99.9 with at least ten samples
    beyond it, as (percentile, nearest-rank value); None under 20 samples."""
    xs = sorted(samples)
    best = None
    for p in (50, 75, 90, 95, 99, 99.9):
        rank = max(1, -(-len(xs) * p // 100))   # nearest rank, 1-based
        rank = int(rank)
        if len(xs) - rank >= 10:
            best = (p, xs[rank - 1])
    return best


def layer_metrics(trace, extras):
    """(metrics {name: value}, report {residual_s, jobs_per_iteration, ...})."""
    roots = [s for s in trace["spans"] if s["iter"] >= 0 and s["name"] == "job"]
    iters = max(len(roots), 1)
    spans = [s for s in trace["spans"] if s["iter"] >= 0 and s["name"] != "job"]
    jobs = attribute(trace)
    job_layer = {j["id"]: j["layer"] for j in jobs}
    m = {name: 0.0 for name, _ in per_layer_names()}

    by_layer = {}
    for s in spans:
        if s["name"] in LAYERS:
            by_layer.setdefault(s["name"], []).append((s["start"], s["end"]))
    for j in jobs:
        if j["layer"]:
            by_layer.setdefault(j["layer"], []).append((j["start"], j["end"]))
    for layer, iv in by_layer.items():
        m[f"{layer}.wall_s"] = union_length(iv) / 1000 / iters

    gap, own_total = 0.0, {}
    for r in roots:
        kids = [(j["start"], j["end"], j["layer"]) for j in jobs if j["iter"] == r["iter"]]
        own, g = self_times((r["start"], r["end"]), kids)
        gap += g
        for k, v in own.items():
            own_total[k] = own_total.get(k, 0.0) + v
    for layer, v in own_total.items():
        if layer:
            m[f"{layer}.self_s"] = v / 1000 / iters
    m["driver_gap_s"] = gap / 1000 / iters
    wall = sum(r["end"] - r["start"] for r in roots) / 1000 / iters
    residual = wall - sum(m[f"{l}.self_s"] for l in LAYERS) - m["driver_gap_s"]

    counts = {}
    for j in jobs:
        if j["layer"]:
            m[f"{j['layer']}.jobs"] += 1 / iters
            counts.setdefault(j["iter"], {}).setdefault(j["layer"], 0)
            counts[j["iter"]][j["layer"]] += 1
    skews = []
    for st in trace["stages"]:
        layer = job_layer.get(st["job"])
        if st["job"] in job_layer:
            rb = st["read_bytes"]
            if len(rb) >= 2 and statistics.median(rb) > 0:
                skews.append(max(rb) / statistics.median(rb))
        if not layer:
            continue
        m[f"{layer}.task_busy_s"] += st["busy_s"] / iters
        m[f"{layer}.sched_wait_s"] += st["sched_wait_s"] / iters
        m[f"{layer}.shuffle_bytes"] += st["shuffle_bytes"] / iters
        m[f"{layer}.spill_bytes"] += st["spill_bytes"] / iters
        m[f"{layer}.gc_s"] += st["gc_s"] / iters
    m["shuffle_skew"] = max(skews) if skews else 0.0

    t0 = min((r["start"] for r in roots), default=0)
    t1 = max((r["end"] for r in roots), default=0)
    timed = [q for q in trace["queries"] if t0 <= q["end"] <= t1 + 1000]
    for phase in ("analysis", "optimization", "planning"):
        m[f"plan.{phase}_s"] = sum(q["phases"].get(phase, 0.0) for q in timed) / iters

    progress = [p for p in trace["stream_progress"] if t0 <= p["at"] <= t1 + 1000 and p["rows"] > 0]
    for ph in STREAM_PHASES:
        key = STREAM_KEYS.get(ph, ph)
        xs = [p["durations"][key] for p in progress if key in p["durations"]]
        m[f"stream.{ph}_ms"] = statistics.median(xs) if xs else 0.0
    last = {}
    for p in trace["stream_progress"]:
        last[p["query"]] = p
    m["stream.state_rows"] = float(sum(p["state_rows"] for p in last.values()))
    m["stream.state_bytes"] = float(sum(p["state_bytes"] for p in last.values()))

    # the optimizer inlines named columns into conditions and may fold a
    # filter into the join under it
    m["dedup.candidate_yield"] = node_yield(timed, "array_intersect")
    cands = sum(n["rows"] for q in timed for n in q["nodes"]
                if n["kind"] == "filter" and "graft_cos_sim" in n["desc"] and ">= -1.0" in n["desc"])
    if cands and extras.get("ann.k_queries"):
        m["ann.candidate_yield"] = extras["ann.k_queries"] / (cands / iters)
    if extras.get("semdup.pairs_scored"):
        m["semdup.pair_yield"] = extras["semdup.pairs_kept"] / extras["semdup.pairs_scored"]

    per_iter = [counts.get(r["iter"], {}) for r in roots]
    report = {"job_wall_s": wall, "residual_s": residual, "iterations": len(roots),
              "jobs_per_iteration": per_iter,
              "jobs_repeat_across_iterations": all(c == per_iter[0] for c in per_iter)}
    return m, report


def node_yield(queries, marker):
    """Rows kept by the filter or join whose condition names `marker`, over
    the rows of the first join below it (nodes are listed parent first)."""
    kept = cand = 0
    for q in queries:
        nodes = q["nodes"]
        for i, n in enumerate(nodes):
            if n["kind"] in ("filter", "join") and marker in n["desc"]:
                below = next((x for x in nodes[i + 1:] if x["kind"] == "join"), None)
                if below:
                    kept += n["rows"]
                    cand += below["rows"]
    return kept / cand if cand else 0.0
