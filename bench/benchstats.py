"""Statistics and trace arithmetic of the benchmark: medians, quartiles,
tail percentiles, span self time, and the metrics computed from a run
record written by the JVM side (``graftbench.BenchMain``)."""
import statistics

TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(q1, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) < 2:
        x = xs[0] if xs else 0.0
        return x, x
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))
    return s[int(k)]


def tail_percentile(xs, beyond=10):
    """The highest of TAIL_PERCENTILES with at least ``beyond`` samples above
    it, as (p, value), or None when the sample is too small for any."""
    best = None
    for p in TAIL_PERCENTILES:
        if len(xs) * (100.0 - p) / 100.0 >= beyond:
            best = (p, percentile(xs, p))
    return best


def _covered(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """span id -> self time: its duration less the part of its interval
    covered by its children (parallel children counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"])
            - _covered(kids.get(s["id"], []), s["start_us"], s["end_us"]) for s in spans}


def task_s_under(spans, name):
    """pass -> summed duration (s) of the ``spark.task`` spans below the
    spans called ``name``."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        if s["name"] != "spark.task":
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != name:
            p = by_id.get(p["parent"])
        if p is not None:
            out[s["pass"]] = out.get(s["pass"], 0.0) + (s["end_us"] - s["start_us"]) / 1e6
    return out


def self_by_name(spans, pass_ids):
    """name -> median over the given passes of the summed self time (s) of
    that name's spans in a pass."""
    st = self_times(spans)
    per = {}
    for s in spans:
        if s["pass"] in pass_ids:
            per.setdefault(s["name"], {}).setdefault(s["pass"], 0)
            per[s["name"]][s["pass"]] += st[s["id"]]
    return {name: median([v / 1e6 for v in by_pass.values()]) for name, by_pass in per.items()}


def end_to_end(rec):
    """The four end-to-end metrics of an untraced run."""
    passes = rec["passes"]
    s = rec["setup"]
    builds = s["input_builds_s"]
    wall = [p["wall_s"] for p in passes]
    return {
        "setup_s": s["jvm_to_first_pass_s"] - sum(builds) + median(builds),
        "rows_per_s": sum(p["rows"] for p in passes if p["ok"]) / sum(wall),
        "pass_p50_s": median(wall),
        "heap_mb": median([p["heap_mb"] for p in passes]),
    }


LAYER_METRICS = [
    # name, unit
    ("core.parse_us_per_turn", "us"), ("core.alloc_b_per_turn", "B"),
    ("core.items_per_turn", "count"), ("core.engine_share", "share"),
    ("pipeline.extract_s", "s"), ("pipeline.parallel_eff", "share"),
    ("io.write_s", "s"), ("io.sink_bytes", "B"),
    ("skew.cap_dropped_rows", "count"), ("skew.task_skew", "ratio"),
    ("matching.wratio_us_per_pair", "us"), ("matching.top_matches_s", "s"),
    ("matching.pairs_scored", "count"), ("matching.useful_pair_ratio", "share"),
    ("expr.tokens_ns_per_row", "ns"), ("expr.shingles_ns_per_row", "ns"),
    ("expr.minhash_sig_ns_per_row", "ns"),
    ("dedup.clusters_s", "s"), ("dedup.candidate_pairs", "count"),
    ("dedup.verified_pairs", "count"), ("dedup.verify_yield", "share"),
    ("text.filter_s", "s"), ("text.chain_s", "s"), ("text.keep_ratio", "share"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.driver_gap_s", "s"), ("spark.driver_gap_share", "share"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.busy_share", "share"),
    ("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B"),
    ("jvm.gc_s", "s"), ("jvm.jit_s", "s"), ("jvm.alloc_b_per_row", "B"),
    ("trace.overhead", "share"),
]

# the pass call each workload exists for, and the layer metric that reads it
PASS_CALL_METRIC = {"sku_match": "matching.top_matches_s", "corpus_dedup": "text.chain_s"}


def per_layer(rec):
    """Every per-layer metric of a traced run. A layer the workload never
    calls reads 0."""
    m = {name: 0.0 for name, _ in LAYER_METRICS}
    cores = rec["cores"]
    passes = rec["passes"]
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    spark = rec["spark"]
    spans = rec["spans"]
    tw = median([p["wall_s"] for p in traced])

    # Spark and driver layers, per traced pass
    sp = [spark[str(p["i"])] for p in traced if str(p["i"]) in spark]
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_write_bytes", "spill_bytes"):
        m["spark." + key] = median([s[key] for s in sp])
    st = self_times(spans)
    gaps, busy, skew = [], [], []
    for p in traced:
        mine = [s for s in spans if s["pass"] == p["i"]]
        gaps.append(sum(st[s["id"]] for s in mine if not s["name"].startswith("spark.")) / 1e6)
        s = spark.get(str(p["i"]))
        if s:
            busy.append(s["executor_run_s"] / (p["wall_s"] * cores))
            w = s["widest_stage_task_ms"]
            if w and median(w) > 0:
                skew.append(max(w) / median(w))
    m["spark.driver_gap_s"] = median(gaps)
    m["spark.driver_gap_share"] = median(gaps) / tw if tw else 0.0
    m["spark.busy_share"] = median(busy)
    m["skew.task_skew"] = median(skew)
    m["skew.cap_dropped_rows"] = rec["cap_dropped_rows"]

    # JVM, over the timed window
    rows = sum(p["rows"] for p in passes)
    m["jvm.gc_s"] = sum(p["gc_s"] for p in passes)
    m["jvm.jit_s"] = sum(p["jit_s"] for p in passes)
    m["jvm.alloc_b_per_row"] = sum(p["alloc_b"] for p in passes) / rows if rows else 0.0
    if plain and traced:
        m["trace.overhead"] = tw / median([p["wall_s"] for p in plain]) - 1.0

    # layer probes: medians over their repetitions
    probes = rec["probes"]
    for key in {k for pr in probes for k in pr}:
        m[key] = median([pr[key] for pr in probes])
    wl = rec["workload"]
    if wl in PASS_CALL_METRIC:
        m[PASS_CALL_METRIC[wl]] = tw
    if wl == "extract":
        rows_pass = traced[0]["rows"] if traced else 0
        m["io.write_s"] = tw - m["pipeline.extract_s"]
        if m["pipeline.extract_s"] and m["core.parse_us_per_turn"]:
            m["pipeline.parallel_eff"] = (rows_pass / m["pipeline.extract_s"]) / (
                cores * 1e6 / m["core.parse_us_per_turn"])
        engine = median(list(task_s_under(spans, "pipeline.extract_turns").values()))
        whole = median(list(task_s_under(spans, "io.resumable_extract").values()))
        if whole:
            m["core.engine_share"] = engine / whole
    return m
