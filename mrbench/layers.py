"""Per-layer metrics and exact counters, computed from a traced run's spans.

Span tree: workload -> pass -> op -> {build, plan, execute | output} ->
Spark job -> stage -> task, plus probe spans (single timed calls into one
module, made after the passes). Each per-layer number is computed per
traced pass and reported as the median over the traced passes.
"""
import statistics
from collections import defaultdict

MB = 1e6

# name -> unit; README.md says which end-to-end metric each should move
UNITS = {
    "scan.call_s": "s", "scan.input_records": "count", "scan.input_mb": "MB",
    "kernels.tokens_call_s": "s", "kernels.task_cpu_s": "s", "kernels.gc_s": "s",
    "exchange.write_records": "count", "exchange.write_mb": "MB", "exchange.read_mb": "MB",
    "exchange.write_s": "s", "exchange.fetch_wait_s": "s",
    "exchange.replication_rate": "ratio", "exchange.skew": "ratio",
    "reduce.task_cpu_s": "s", "reduce.spill_mb": "MB", "reduce.peak_exec_mem_mb": "MB",
    "output.call_s": "s", "output.records": "count", "output.mb": "MB",
    "driver.jobs": "count", "driver.stages": "count", "driver.tasks": "count",
    "driver.build_s": "s", "driver.plan_s": "s", "driver.no_task_s": "s",
    "driver.no_task_frac": "ratio", "driver.sched_delay_s": "s",
    "tasks.failed": "count", "tasks.useful_frac": "ratio",
    "trace.overhead_s": "s",
}


def map_records(workload: str, sizes: dict, pass_input_records: float) -> float:
    """Records the map side of one pass consumes: tokens for the MR jobs
    (three of the four combine jobs tokenise the corpus, the sort maps
    documents), rows read for the registry."""
    if workload == "mr_combine":
        return 3 * sizes["tokens"] + sizes["docs"]
    if workload == "mr_holistic":
        return sizes["tokens"]
    return pass_input_records


def union_us(intervals, lo, hi) -> float:
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def per_layer(spans, result, workload, sizes):
    by_id = {s["id"]: s for s in spans}

    def chain(s):
        seen = []
        while s is not None and len(seen) < 64:
            seen.append(s)
            s = by_id.get(s["parent"])
        return seen

    # group Spark spans under their pass and op
    under = defaultdict(lambda: defaultdict(list))  # pass id -> kind -> spans
    op_of = {}
    for s in spans:
        if s["kind"] not in ("job", "stage", "task", "build", "plan", "execute", "output", "op"):
            continue
        anc = chain(s)
        p = next((a for a in anc if a["kind"] == "pass"), None)
        if p is None:
            continue
        under[p["id"]][s["kind"]].append(s)
        op = next((a for a in anc if a["kind"] == "op"), None)
        if op is not None:
            op_of[s["id"]] = op["name"]
        if any(a["kind"] == "output" for a in anc):
            under[p["id"]]["under_output"].append(s)

    passes = sorted((s for s in spans if s["kind"] == "pass"), key=lambda s: s["start_us"])
    per_pass = []
    counters = {}
    for i, p in enumerate(passes):
        g = under[p["id"]]
        tasks, stages, jobs = g["task"], g["stage"], g["job"]
        stage_by_id = {s["id"]: s for s in stages}

        def a(t, k):
            return t["attrs"].get(k, 0.0)

        def reads_shuffle(t):
            st = stage_by_id.get(t["parent"])
            return st is not None and st["attrs"].get("reads_shuffle", 0) == 1

        map_tasks = [t for t in tasks if not reads_shuffle(t)]
        red_tasks = [t for t in tasks if reads_shuffle(t)]
        in_records = sum(a(t, "in_records") for t in tasks)
        sw_records = sum(a(t, "sw_records") for t in tasks)

        # skew: max / median shuffle-read bytes per task in the widest
        # stage that read shuffle data (most tasks, then most bytes)
        skew = 0.0
        reads_of = defaultdict(list)
        for t in red_tasks:
            reads_of[t["parent"]].append(a(t, "sr_bytes"))
        reads = max((r for r in reads_of.values() if sum(r) > 0),
                    key=lambda r: (len(r), sum(r)), default=[])
        if reads:
            med = statistics.median(reads)
            skew = max(reads) / (med if med > 0 else sum(reads) / len(reads))

        out_tasks = [t for t in g["under_output"] if t["kind"] == "task"]
        wall_us = p["end_us"] - p["start_us"]
        busy = union_us([(t["start_us"], t["end_us"]) for t in tasks], p["start_us"], p["end_us"])
        launched = len(tasks)
        m = {
            "scan.input_records": in_records,
            "scan.input_mb": sum(a(t, "in_bytes") for t in tasks) / MB,
            "kernels.task_cpu_s": sum(a(t, "cpu_ns") for t in map_tasks) / 1e9,
            "kernels.gc_s": sum(a(t, "gc_ms") for t in map_tasks) / 1e3,
            "exchange.write_records": sw_records,
            "exchange.write_mb": sum(a(t, "sw_bytes") for t in tasks) / MB,
            "exchange.read_mb": sum(a(t, "sr_bytes") for t in tasks) / MB,
            "exchange.write_s": sum(a(t, "sw_ns") for t in tasks) / 1e9,
            "exchange.fetch_wait_s": sum(a(t, "fetch_wait_ms") for t in tasks) / 1e3,
            "exchange.replication_rate": sw_records / max(1.0, map_records(workload, sizes, in_records)),
            "exchange.skew": skew,
            "reduce.task_cpu_s": sum(a(t, "cpu_ns") for t in red_tasks) / 1e9,
            "reduce.spill_mb": sum(a(t, "spill_disk_bytes") for t in tasks) / MB,
            "reduce.peak_exec_mem_mb": max([a(t, "peak_exec_mem") for t in red_tasks], default=0) / MB,
            "output.call_s": sum(s["end_us"] - s["start_us"] for s in g["output"]) / 1e6,
            "output.records": sum(a(t, "out_records") for t in out_tasks),
            "output.mb": sum(a(t, "out_bytes") for t in out_tasks) / MB,
            "driver.jobs": len(jobs),
            "driver.stages": len(stages),
            "driver.tasks": launched,
            "driver.build_s": sum(s["end_us"] - s["start_us"] for s in g["build"]) / 1e6,
            "driver.plan_s": sum(s["end_us"] - s["start_us"] for s in g["plan"]) / 1e6,
            "driver.no_task_s": (wall_us - busy) / 1e6,
            "driver.no_task_frac": (wall_us - busy) / wall_us if wall_us else 0.0,
            "driver.sched_delay_s": sum(max(0.0, (t["end_us"] - t["start_us"]) / 1e3 - a(t, "run_ms")
                                            - a(t, "deser_ms") - a(t, "result_ser_ms")
                                            - a(t, "getting_result_ms")) for t in tasks) / 1e3,
            "tasks.failed": sum(a(t, "failed") for t in tasks),
            "tasks.useful_frac": (sum(a(t, "successful") for t in tasks) / launched) if launched else 1.0,
        }
        per_pass.append(m)

        if i == 0:
            # exact counters of the first traced pass, per op and in total
            ops = defaultdict(lambda: defaultdict(float))
            for kind in ("job", "stage", "task"):
                for s in g[kind]:
                    c = ops[op_of.get(s["id"], "?")]
                    c[kind + "s"] += 1
                    if kind == "task":
                        c["input_records"] += a(s, "in_records")
                        c["shuffle_records"] += a(s, "sw_records")
            total = defaultdict(float)
            for c in ops.values():
                for k, v in c.items():
                    total[k] += v
            counters = {"workload": workload, "sizes": sizes,
                        "ops": {k: {kk: int(vv) for kk, vv in v.items()} for k, v in ops.items()},
                        "total": {k: int(v) for k, v in total.items()}}

    metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]} if per_pass else {}

    probes = defaultdict(list)
    for s in spans:
        if s["kind"] == "probe":
            probes[s["name"]].append((s["end_us"] - s["start_us"]) / 1e6)
    metrics["scan.call_s"] = statistics.median(probes["scan"]) if probes["scan"] else 0.0
    metrics["kernels.tokens_call_s"] = statistics.median(probes["tokens"]) if probes["tokens"] else 0.0

    walls = defaultdict(list)
    for p in result["passes"]:
        walls[p["traced"]].append(p["wall_s"])
    metrics["trace.overhead_s"] = (statistics.median(walls[True]) - statistics.median(walls[False])
                                   if walls[True] and walls[False] else 0.0)
    out = {k: (metrics.get(k, 0.0), UNITS[k]) for k in UNITS}
    return out, counters
