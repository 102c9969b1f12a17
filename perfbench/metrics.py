"""Pure helpers that turn the harness record into metrics.

Kept free of I/O so `perfbench/test_metrics.py` can check each rule:
interval union, the percentile rule, call-site -> module mapping and
the seeded pass order.
"""
import random
import re
import statistics

# engine classes that name a module: `graft.Tables` and every class of
# the `io`, `ops` and `streaming` packages; other `graft.` classes
# (helpers such as `media.Media` or `SparkEntry`) defer to their caller
_MODULE = re.compile(r"Tables|(?:io|ops|streaming)\.\w+")

_FRAME = re.compile(r"(?:^|[\s/])graft\.([\w.$]+?)\.[\w$<>]+\(")


def pass_orders(workload, seed, n_queries, n_passes):
    """Seeded permutations of query indexes, one per pass."""
    rng = random.Random(f"{workload}:{seed}")
    orders = []
    for _ in range(n_passes):
        order = list(range(n_queries))
        rng.shuffle(order)
        orders.append(order)
    return orders


def union_s(intervals):
    """Length of the union of [start, end] intervals, in the intervals'
    unit. Overlapping jobs (concurrent writes) count once, so busy time
    never exceeds the wall time it lies in."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, lo, hi):
    return (max(interval[0], lo), min(interval[1], hi))


def tail_percentile(n, beyond=10):
    """Highest percentile (in %) with at least `beyond` of n samples
    above it, or None when n is too small for any."""
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n


def module_of(site):
    """Engine module of a job from its long call site: the innermost
    `graft.` frame whose class is a module. Jobs whose short call
    site is a thread-pool frame (`CompletableFuture.java:...`) are
    attributed the same way, by the frames below it."""
    for line in (site or "").splitlines():
        m = _FRAME.search(line)
        if not m:
            continue
        cls = m.group(1).split("$")[0]
        if _MODULE.fullmatch(cls):
            return cls
    return "other"


def module_of_class(cls):
    """Module of a class name such as `graft.ops.X$$$Lambda/0x..`."""
    name = cls[len("graft."):].split("$")[0] if cls.startswith("graft.") \
        else ""
    return name if _MODULE.fullmatch(name) else "other"


def job_module(job, executions, query_module="other"):
    """Module of a job: its own call site first, then the call site of
    the SQL execution it ran under, then that execution's root. A job
    with no engine frame at all (the benchmark's own write of a query's
    result) goes to the module that registered the query."""
    mod = module_of(job["site"])
    ex = executions.get(job["exec"])
    if mod == "other" and ex is not None:
        mod = module_of(ex["site"])
        root = executions.get(ex["root"])
        if mod == "other" and root is not None:
            mod = module_of(root["site"])
    return query_module if mod == "other" else mod


def median(xs):
    return statistics.median(xs) if xs else 0.0


def trace_overhead(walls, traced):
    """Median over traced passes of the pass wall minus the mean wall of
    the untraced passes on either side of it, so a warm-up trend over
    the run cancels instead of biasing the difference."""
    return median([walls[i] - (walls[i - 1] + walls[i + 1]) / 2
                   for i in traced])


def layer_metrics(rec, pass_idx, modules=()):
    """Per-layer totals of one traced pass of the harness record.
    `jobs.<module>` and `busy_s.<module>` cover every module a job of
    the pass ran in, plus `modules` (which read 0 if none did)."""
    p = rec["passes"][pass_idx]
    spans = {s[0]: s for s in rec["spans"]}
    pass_span = next(s for s in rec["spans"]
                     if s[2] == "pass" and s[3] == f"pass{pass_idx}")
    lo, hi = pass_span[4], pass_span[5]
    qspans = {q["span"]: spans[q["span"]] for q in p["queries"]}
    child = {s[0]: s for s in rec["spans"]
             if s[1] in qspans and s[2] in ("construct", "execute")}
    executions = {e["id"]: e for e in rec["executions"]}
    registered = {n: module_of_class(c) for n, c in rec["modules"]}

    def owner(job):
        """Construct/execute span a job ran under."""
        if job["span"] in child:
            return child[job["span"]]
        for s in child.values():
            if s[4] <= job["start_ms"] <= s[5]:
                return s
        return None

    jobs = []
    for j in rec["jobs"]:
        if not lo <= j["start_ms"] <= hi:
            continue
        own = owner(j)
        qmod = registered.get(own[3], "other") if own else "other"
        j = dict(j, owner=own, module=job_module(j, executions, qmod))
        jobs.append(j)
    job_of_stage = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for sid in j["stages"]:
            job_of_stage.setdefault(sid, j)
    stages = [s for s in rec["stages"] if s["id"] in job_of_stage]

    m = {}
    m["sched.jobs"] = len(jobs)
    m["sched.stages"] = len(stages)
    m["sched.tasks"] = sum(s["tasks"] for s in stages)
    m["sched.failed_tasks"] = sum(s["failed_tasks"] for s in stages)
    m["sched.failed_jobs"] = sum(1 for j in jobs if not j["ok"])
    busy = gap = 0.0
    for qid, qs in qspans.items():
        ivs = [clip((j["start_ms"], j["end_ms"]), qs[4], qs[5])
               for j in jobs if j["owner"] is not None
               and j["owner"][1] == qid]
        b = union_s(ivs) / 1e3
        busy += b
        gap += max(0.0, (qs[5] - qs[4]) / 1e3 - b)
    m["sched.busy_s"] = busy
    m["sched.gap_s"] = gap
    m["ops.construct_s"] = sum(q["construct_s"] for q in p["queries"])
    m["ops.execute_s"] = sum(q["execute_s"] for q in p["queries"])
    m["ops.construct_jobs"] = sum(
        1 for j in jobs if j["owner"] and j["owner"][2] == "construct")
    m["ops.execute_jobs"] = sum(
        1 for j in jobs if j["owner"] and j["owner"][2] == "execute")
    phase = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for name, s, e in rec["phases"]:
        if name in phase and lo <= s <= hi:
            phase[name] += (e - s) / 1e3
    m["plan.analysis_s"] = phase["analysis"]
    m["plan.optimizer_s"] = phase["optimization"]
    m["plan.planning_s"] = phase["planning"]
    m["exec.run_s"] = sum(s["run_ms"] for s in stages) / 1e3
    m["exec.cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    m["exec.input_bytes"] = sum(s["in_bytes"] for s in stages)
    m["exec.output_bytes"] = sum(s["out_bytes"] for s in stages)
    m["shuffle.write_rows"] = sum(s["sw_rows"] for s in stages)
    m["shuffle.write_bytes"] = sum(s["sw_bytes"] for s in stages)
    m["spill.bytes"] = sum(s["spill_bytes"] for s in stages)
    reported = sorted(set(modules) | {j["module"] for j in jobs})
    for mod in reported:
        mj = [j for j in jobs if j["module"] == mod]
        m[f"jobs.{mod}"] = len(mj)
        m[f"busy_s.{mod}"] = union_s(
            [(j["start_ms"], j["end_ms"]) for j in mj]) / 1e3
    tables = [j for j in jobs if j["module"] == "Tables"]
    m["tables.infer_jobs"] = len(tables)
    m["tables.infer_s"] = union_s(
        [(j["start_ms"], j["end_ms"]) for j in tables]) / 1e3
    io_jobs = [j for j in jobs if j["module"].startswith("io.")]
    io_stages = [s for s in stages
                 if job_of_stage[s["id"]]["module"].startswith("io.")]
    m["io.jobs"] = len(io_jobs)
    m["io.busy_s"] = union_s(
        [(j["start_ms"], j["end_ms"]) for j in io_jobs]) / 1e3
    # busy time as a share of the pass wall (%): a layer a workload never
    # enters reads 0 % on every run, which is not a measured time
    wall_ms = (hi - lo) or 1.0
    for mod in reported:
        m[f"busy_share.{mod}"] = 100e3 * m[f"busy_s.{mod}"] / wall_ms
    m["io.busy_share"] = 100e3 * m["io.busy_s"] / wall_ms
    m["io.output_bytes"] = sum(s["out_bytes"] for s in io_stages)
    m["io.input_bytes"] = sum(s["in_bytes"] for s in io_stages)
    m["cache.leaked_queries"] = sum(
        1 for q in p["queries"] if q["cache_entries"] > 0)
    m["cache.leaked_entries"] = sum(q["cache_entries"] for q in p["queries"])
    m["cache.persistent_rdds"] = sum(
        q["persistent_rdds"] for q in p["queries"])
    m["jvm.heap_peak_mb"] = p["heap_peak_mb"]
    m["jvm.gc_pause_s"] = p["gc_s"]
    return m, jobs, stages


def trace_spans(rec, jobs_by_pass):
    """Every span of the run as [id, parent, kind, name, start_ms,
    end_ms, query_id]: harness spans plus one span per job and stage.
    All spans under one query carry that query's span id."""
    spans = {s[0]: s for s in rec["spans"]}

    def query_of(sid):
        while sid in spans:
            if spans[sid][2] == "query":
                return sid
            sid = spans[sid][1]
        return None

    out = [s[:6] + [query_of(s[0])] for s in rec["spans"]]
    next_id = max(spans, default=0) + 1
    for jobs, stages in jobs_by_pass:
        job_span = {}
        for j in jobs:
            parent = j["owner"][0] if j["owner"] else None
            job_span[j["id"]] = next_id
            out.append([next_id, parent, "job", f"job{j['id']}:{j['module']}",
                        j["start_ms"], j["end_ms"], query_of(parent)])
            next_id += 1
        for s in stages:
            owner = next((j for j in sorted(jobs, key=lambda j: j["id"])
                          if s["id"] in j["stages"]), None)
            if owner is None:
                continue
            parent = job_span[owner["id"]]
            out.append([next_id, parent, "stage", f"stage{s['id']}",
                        s["start_ms"], s["end_ms"],
                        query_of(owner["owner"][0]) if owner["owner"]
                        else None])
            next_id += 1
    return out
