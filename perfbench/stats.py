"""Arithmetic of the benchmark: the task-interval union behind
`driver_s`, failure counting, the LSH wasted-work ratio, and the
reduction of a run's raw records to its end-to-end and per-layer
metrics."""
import statistics

LAYERS = ["scrape", "relational", "flagship", "graph", "similarity", "dedup",
          "text_analysis"]
LAYER_FIELDS = ["wall_s", "driver_s", "task_s", "jobs", "shuffle_mb"]
SCAN_LAYERS = ["scrape", "relational"]
WATCH = [("similarity", "s_pq_adc", "driver_s"), ("graph", "g_cc_star", "jobs"),
         ("text_analysis", "t_bpe_encode", "jobs"), ("text_analysis", "t_lm_score", "wall_s")]
MB = 1048576.0


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, clipped to
    [lo, hi] when given."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_s(wall_s, t0_ms, t1_ms, task_intervals):
    """Wall time of a call minus the time in which at least one of its
    tasks was running."""
    busy = union_ms(task_intervals, t0_ms, t1_ms) / 1e3
    return max(0.0, wall_s - busy)


def count_failures(ops, checks):
    """Every call and every check is one attempted operation; a call
    that threw or a check that did not hold is a failed one."""
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    return attempted, failed


def shingles(text, width=5):
    """The program's near-duplicate shingles: `width`-word windows of
    the lower-cased text (the whole text when it is shorter)."""
    toks = text.lower().split()
    return {" ".join(toks[i:i + width]) for i in range(max(1, len(toks) - width + 1))}


def cand_per_dup(pairs, texts, threshold=0.5):
    """LSH candidate pairs per pair whose exact shingle Jaccard reaches
    `threshold` (the dedup layer's wasted work).  `pairs` are (a, b)
    document ids, `texts` maps an id to its text."""
    sh = {}
    confirmed = 0
    for a, b in pairs:
        sa = sh.setdefault(a, shingles(texts[a]))
        sb = sh.setdefault(b, shingles(texts[b]))
        if len(sa & sb) >= threshold * len(sa | sb):
            confirmed += 1
    return len(pairs) / max(1, confirmed)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def call_medians(res):
    """Median seconds of each named call over the timed passes."""
    by = {}
    for o in res["ops"]:
        if o["pass"] > 0 and o["ok"]:
            by.setdefault(f'{o["layer"]}/{o["name"]}', []).append(o["secs"])
    return {k: round(_median(v), 4) for k, v in sorted(by.items())}


def end_to_end(res, rows):
    """End-to-end metrics of an untraced run over `rows` input rows."""
    timed = [p for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    pass_p50 = _median([p["wallS"] for p in timed])
    return {
        "setup_s": (res["facts"]["setup_s"], "s"),
        "pass_s.p50": (pass_p50, "s"),
        "rows_per_s": (rows / pass_p50, "1/s"),
    }


def per_layer(res):
    """Per-layer metrics of a traced run, per traced pass."""
    ops = [o for o in res["ops"] if o["traced"] and o["pass"] > 0]
    traced_passes = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"] and p["pass"] > 0]
    npass = max(1, len(traced_passes))
    tasks = {}
    for t in res["tasks"]:
        tasks.setdefault(t["group"], []).append(t)
    jobs, scans = res["jobs"], res["scan_bytes"]

    def call(o):
        ts = tasks.get(o["group"], [])
        return {
            "wall_s": o["secs"],
            "driver_s": driver_s(o["secs"], o["t0"], o["t1"],
                                 [(t["launchMs"], t["finishMs"]) for t in ts]),
            "task_s": sum(t["runMs"] for t in ts) / 1e3,
            "jobs": jobs.get(o["group"], 0),
            "shuffle_mb": sum(t["shuffleWrite"] for t in ts) / MB,
            "scan_mb": scans.get(o["group"], 0) / MB,
        }

    calls = [(o, call(o)) for o in ops]
    m = {}
    for layer in LAYERS:
        mine = [c for o, c in calls if o["layer"] == layer]
        for f in LAYER_FIELDS:
            m[f"{layer}.{f}"] = (sum(c[f] for c in mine) / npass,
                                 "count" if f == "jobs" else "MB" if f == "shuffle_mb" else "s")
    for layer in SCAN_LAYERS:
        m[f"{layer}.scan_mb"] = (sum(c["scan_mb"] for o, c in calls if o["layer"] == layer) / npass, "MB")
    m["dedup.cand_per_dup"] = (res["facts"].get("dedup.cand_per_dup", 0.0), "ratio")

    for layer, name, f in WATCH:
        m[f"{layer}.{name}.{f}"] = (
            sum(c[f] for o, c in calls if o["name"] == name) / npass,
            "count" if f == "jobs" else "s")

    m["jvm.gc_s"] = (_median([p["gcS"] for p in traced_passes + untraced]), "s")
    m["jvm.heap_after_pass_mb"] = (_median([p["heapMb"] for p in traced_passes + untraced]), "MB")
    tp = _median([p["wallS"] for p in traced_passes])
    up = _median([p["wallS"] for p in untraced])
    m["trace.overhead_frac"] = (tp / up - 1.0 if up else 0.0, "ratio")

    m["jvm.live_heap_mb"] = (res["facts"]["live_heap_mb"], "MB")
    return m
