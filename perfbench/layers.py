"""Span-tree arithmetic and the metric definitions of the benchmark.

Everything here is a pure function of the result file `perfbench.Main`
writes, so it can be tested without Spark (see test_layers.py).
"""
import statistics

# The tail of a timing is the highest of these percentiles that leaves at
# least TAIL_BEYOND samples beyond it. With fewer than 2 * TAIL_BEYOND
# samples not even the median does, and the tail is the maximum.
PERCENTILES = (50, 75, 90, 95, 99, 99.9, 99.99)
TAIL_BEYOND = 10
MB = 1024.0 * 1024.0

MAPLEJUICE_OPS = ("condorcet_p1", "condorcet_p2", "wordcount_hash",
                  "wordcount_range")


def percentile(values, p):
    """Linear-interpolated percentile `p` (0-100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """The highest of PERCENTILES leaving at least TAIL_BEYOND of `n`
    samples beyond it, or 100 (the maximum) when none does."""
    fits = [p for p in PERCENTILES if n * (100 - p) / 100.0 >= TAIL_BEYOND - 1e-9]
    return max(fits) if fits else 100


def timing(values):
    """Median, tail and sample count of a list of timings."""
    p = tail_percentile(len(values))
    return {"p50": percentile(values, 50), "tail": percentile(values, p),
            "tail_p": p, "n": len(values)}


def union_length(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """Span duration not covered by any child, overlaps counted once."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


class Tree:
    """Spans indexed by id with children lists. A span whose parent is -1
    (query-execution planning, reported without local properties) is
    attached to the innermost driver span that contains its start."""

    DRIVER_KINDS = ("pass", "op", "build", "action", "views", "rung")

    def __init__(self, spans):
        self.by_id = {s["id"]: s for s in spans}
        self.children = {s["id"]: [] for s in spans}
        drivers = sorted((s for s in spans if s["kind"] in self.DRIVER_KINDS),
                         key=lambda s: s["end"] - s["start"])
        for s in spans:
            parent = s["parent"]
            if parent == -1:
                parent = next((d["id"] for d in drivers
                               if d["start"] <= s["start"] <= d["end"]), -1)
                s["parent"] = parent
            if parent in self.children:
                self.children[parent].append(s)

    def descendants(self, span_id):
        out, stack = [], list(self.children.get(span_id, []))
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(self.children.get(s["id"], []))
        return out

    def self_time(self, span):
        return self_time(span, self.children.get(span["id"], []))


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


# ---------------------------------------------------------------- end to end

def rung_cost(rung):
    """Processing seconds per second of a stream rung's schedule: the
    seconds of every micro-batch that ran (the no-data batches that evict
    state too) over the seconds of schedule they consumed, without the
    query's first batch (its start-up)."""
    return sum(rung["batch_busy_s"][1:]) / sum(rung["batch_input_s"][1:])


def end_to_end(res):
    """The end-to-end metrics of an untraced run (see README.md)."""
    timed = [p for p in res["passes"] if p["kind"] == "timed"]
    m = {"setup_s": median(res["session_start_s"]) + res["warmup_s"],
         "live_mb": res["live_mb"]}
    if res["workload"] == "stream_dedup":
        # open loop: the ladder's wall is set by its schedule, so a pass is
        # the seconds the query needs to process the ladder's scheduled
        # input, and the throughput is text processed per such second on
        # the top rung, which is past capacity
        m["pass_s"] = median(
            sum(rung_cost(r) * r["scheduled_rows"] / r["rate"] for r in p["rungs"])
            for p in timed)
        m["cpu_s"] = median(
            sum(r["cpu_s"] * r["scheduled_rows"] / r["processed_rows"] for r in p["rungs"])
            for p in timed)
        m["input_mb_s"] = median(
            p["rungs"][-1]["text_bytes"] / p["rungs"][-1]["processed_rows"]
            * p["rungs"][-1]["rate"] / MB / rung_cost(p["rungs"][-1]) for p in timed)
        # event latency over the rungs below the top one, which is past
        # capacity and whose latency grows with the length of the rung
        t = timing([x for p in timed for r in p["rungs"][:-1]
                    for x in r["latencies_s"]])
        m["op_p50_s"], m["op_tail_s"] = t["p50"], t["tail"]
        return m, t
    m["pass_s"] = median(p["wall_s"] for p in timed)
    m["cpu_s"] = median(p["cpu_s"] for p in timed)
    m["input_mb_s"] = median(
        sum(o["stated_bytes"] for o in p["ops"]) / MB / p["wall_s"] for p in timed)
    # a batch pass is a handful of different ops, each run once per pass:
    # the samples are each op's median over the timed passes. The typical
    # op is their geometric mean: the median op would switch between ops of
    # different length from run to run
    walls = {}
    for p in timed:
        for o in p["ops"]:
            walls.setdefault(o["name"], []).append(o["wall_s"])
    t = timing([median(w) for w in walls.values()])
    m["op_p50_s"] = statistics.geometric_mean(median(w) for w in walls.values())
    m["op_tail_s"] = t["tail"]
    return m, t


# ----------------------------------------------------------------- per layer

def stream_rung_metrics(rung, latency_limit_s):
    """Per-rung latency, backlog and whether the rate was sustained."""
    t = timing(rung["latencies_s"]) if rung["latencies_s"] else None
    backlog = rung["backlog_rows"]
    # the rate source releases whole seconds, so one second of input is
    # always pending; more than two seconds behind at the end is a backlog
    growing = bool(backlog) and backlog[-1] > 2 * rung["rate"]
    ok = t is not None and t["tail"] <= latency_limit_s and not growing
    return t, ok


def per_layer(res, rates, latency_limit_s, generate_s):
    """Per-layer metrics of a traced run, medians over traced passes."""
    tree = Tree(res["spans"])
    traced = [p for p in res["passes"] if p["kind"] == "traced"]
    untraced = [p for p in res["passes"] if p["kind"] == "timed"]
    cores = res["cores"]
    out = {
        "core.session_start_s": median(res["session_start_s"]),
        "core.warmup_s": res["warmup_s"],
        "sources.generate_s": generate_s,
        "functions.codegen_fallbacks": float(res["codegen_fallbacks"]),
        "jvm.peak_rss_mb": res["peak_rss_mb"],
        "trace.spans": float(len(res["spans"])),
    }
    per_pass = [pass_layers(tree, tree.by_id[p["span"]], p, cores)
                for p in traced]
    for k in per_pass[0]:
        out[k] = median(pp[k] for pp in per_pass)
    if res["workload"] == "stream_dedup":
        tr = [x for p in traced for r in p["rungs"][:-1] for x in r["latencies_s"]]
        un = [x for p in untraced for r in p["rungs"][:-1] for x in r["latencies_s"]]
        out["trace.overhead_s"] = median(tr) - median(un)
        sustained = 0.0
        for r in traced[0]["rungs"]:
            t, ok = stream_rung_metrics(r, latency_limit_s)
            out["streaming.lat_p50_s.%d" % r["rate"]] = t["p50"] if t else 0.0
            out["streaming.lat_tail_s.%d" % r["rate"]] = t["tail"] if t else 0.0
            if ok:
                sustained = max(sustained, r["processed_rows"] / r["wall_s"])
        out["streaming.sustained_eps"] = sustained
        last = traced[0]["rungs"][-1]
        out["streaming.backlog_rows"] = last["backlog_rows"][-1] if last["backlog_rows"] else 0.0
        processed = sum(r["processed_rows"] for r in traced[0]["rungs"])
        emitted = sum(r["emitted_rows"] for r in traced[0]["rungs"])
        out["streaming.emitted_per_input"] = emitted / processed if processed else 0.0
    else:
        out["trace.overhead_s"] = (median(p["wall_s"] for p in traced)
                                   - median(p["wall_s"] for p in untraced))
    for r in rates:
        out.setdefault("streaming.lat_p50_s.%d" % r, 0.0)
        out.setdefault("streaming.lat_tail_s.%d" % r, 0.0)
    for k in ("streaming.sustained_eps", "streaming.backlog_rows",
              "streaming.emitted_per_input"):
        out.setdefault(k, 0.0)
    return out


def pass_layers(tree, pass_span, pass_rec, cores):
    """Layer metrics of one traced pass (batch pass or streaming ladder)."""
    spans = tree.descendants(pass_span["id"])
    kinds = {}
    for s in spans:
        kinds.setdefault(s["kind"], []).append(s)
    ops = kinds.get("op", [])
    jobs = kinds.get("job", [])
    stages = kinds.get("stage", [])
    qes = kinds.get("qe", [])
    batches = kinds.get("batch", [])
    wall = pass_span["end"] - pass_span["start"]

    def a(s, k):
        return s["attrs"].get(k, 0.0)

    def ssum(items, k):
        return float(sum(a(s, k) for s in items))

    m = {}
    # self time of every layer of the span tree, in seconds
    m["self_s.pass"] = tree.self_time(pass_span) / 1e3
    for kind in ("op", "build", "action", "job", "stage", "rung", "batch"):
        m["self_s." + kind] = sum(tree.self_time(s) for s in kinds.get(kind, [])) / 1e3

    # graft.sources: scan nodes of every query execution in the pass
    m["sources.scan_mb"] = ssum(qes, "scan_bytes") / MB
    m["sources.scan_rows"] = ssum(qes, "scan_rows")
    m["sources.scan_task_s"] = ssum(qes, "scan_time_ms") / 1e3

    # graft.operators: catalog calls and their Spark work
    m["operators.build_s"] = sum(s["end"] - s["start"] for s in kinds.get("build", [])) / 1e3
    m["operators.action_s"] = sum(s["end"] - s["start"] for s in kinds.get("action", [])) / 1e3
    m["operators.jobs"] = float(len(jobs))
    m["operators.jobs_build"] = float(sum(
        1 for j in jobs if tree.by_id.get(j["parent"], {}).get("kind") == "build"))
    m["operators.stages"] = float(len(stages))
    m["operators.single_task_stages"] = float(sum(1 for s in stages if a(s, "num_tasks") == 1))
    gaps = 0.0
    for o in ops:
        inside = [j for j in tree.descendants(o["id"]) if j["kind"] == "job"]
        gaps += self_time(o, inside)
    m["operators.driver_gap_s"] = gaps / 1e3
    m["operators.checkpoint_mb"] = float(pass_rec.get("rdd_block_mb", 0.0))

    # Catalyst planning and the SQL front end
    builds = kinds.get("build", [])
    m["planning.analysis_s"] = (ssum(qes, "analysis_ms") + ssum(builds, "analysis_ms")) / 1e3
    m["planning.optimization_s"] = ssum(qes, "optimization_ms") / 1e3
    m["planning.physical_s"] = ssum(qes, "planning_ms") / 1e3
    m["planning.executions"] = float(len(qes)) / max(1, len(ops))
    m["sql.parse_s"] = (ssum(qes, "parsing_ms") + ssum(builds, "parsing_ms")) / 1e3
    m["sql.views_s"] = sum(s["end"] - s["start"] for s in kinds.get("views", [])) / 1e3

    # graft.mapreduce: the MapleJuice jobs
    mj_ops = [o for o in ops if o["name"] in MAPLEJUICE_OPS]
    mj_stages = [s for o in mj_ops for s in tree.descendants(o["id"])
                 if s["kind"] == "stage"]
    for phase, op_name in (("p1", "condorcet_p1"), ("p2", "condorcet_p2")):
        st = [s for o in mj_ops if o["name"] == op_name
              for s in tree.descendants(o["id"]) if s["kind"] == "stage"]
        maple = [(s["start"], s["end"]) for s in st if a(s, "shuffle_map") == 1]
        juice = [(s["start"], s["end"]) for s in st if a(s, "shuffle_map") != 1]
        m["mapreduce.maple_s." + phase] = union_length(maple, float("-inf"), float("inf")) / 1e3
        m["mapreduce.juice_s." + phase] = union_length(juice, float("-inf"), float("inf")) / 1e3
    m["mapreduce.kv_pairs"] = ssum(mj_stages, "sw_records")
    m["mapreduce.kv_mb"] = ssum(mj_stages, "sw_bytes") / MB
    m["mapreduce.spill_mb"] = (ssum(mj_stages, "spill_disk")) / MB
    skews = [a(s, "read_max") / a(s, "read_median") for s in mj_stages
             if a(s, "num_tasks") > 1 and a(s, "read_median") > 0]
    m["mapreduce.reduce_skew"] = max(skews) if skews else 0.0
    outs = ssum(mj_stages, "out_records")
    m["mapreduce.kv_per_out"] = m["mapreduce.kv_pairs"] / outs if outs else 0.0

    # exchange, executor and scheduler beneath every module
    m["exchange.write_mb"] = ssum(stages, "sw_bytes") / MB
    m["exchange.read_mb"] = ssum(stages, "sr_bytes") / MB
    m["exchange.records"] = ssum(stages, "sw_records")
    m["exchange.fetch_wait_s"] = ssum(stages, "fetch_wait_ms") / 1e3
    m["exchange.spill_mb"] = (ssum(stages, "spill_disk")) / MB
    skews = [a(s, "read_max") / a(s, "read_median") for s in stages
             if a(s, "num_tasks") > 1 and a(s, "read_median") > 0]
    m["exchange.read_skew"] = max(skews) if skews else 0.0
    m["executor.cpu_s"] = ssum(stages, "cpu_ns") / 1e9
    m["executor.run_s"] = ssum(stages, "run_ms") / 1e3
    m["executor.gc_s"] = ssum(stages, "gc_ms") / 1e3
    m["executor.busy_share"] = m["executor.run_s"] / (cores * wall / 1e3) if wall > 0 else 0.0
    m["executor.peak_exec_mb"] = max((a(s, "peak_exec") for s in stages), default=0.0) / MB
    m["executor.tasks_failed"] = ssum(stages, "failed")
    m["executor.tasks_retried"] = ssum(stages, "retried")
    m["scheduler.tasks"] = ssum(stages, "tasks")
    m["scheduler.launch_delay_s"] = ssum(stages, "launch_delay_ms") / 1e3

    # graft.streaming: micro-batches of the ladder
    data = [b for b in batches if a(b, "input_rows") > 0]
    m["streaming.batches"] = float(len(batches))
    m["streaming.trigger_s"] = ssum(batches, "triggerExecution_ms") / 1e3
    m["streaming.add_batch_s"] = ssum(batches, "addBatch_ms") / 1e3
    m["streaming.wal_commit_s"] = ssum(batches, "walCommit_ms") / 1e3
    m["streaming.latest_offset_s"] = ssum(batches, "latestOffset_ms") / 1e3
    m["streaming.query_planning_s"] = ssum(batches, "queryPlanning_ms") / 1e3
    m["streaming.input_rows"] = ssum(batches, "input_rows")
    m["streaming.state_rows"] = max((a(b, "state_rows") for b in data), default=0.0)
    m["streaming.state_mb"] = max((a(b, "state_bytes") for b in data), default=0.0) / MB
    m["streaming.state_commit_s"] = ssum(batches, "state_commit_ms") / 1e3
    m["streaming.watermark_dropped"] = ssum(batches, "watermark_dropped")
    return m
