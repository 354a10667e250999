"""Arithmetic of the graft benchmark: order statistics, interval unions,
span self time, and the end-to-end and per-layer metrics of one run,
computed from the spans the harness records (see README.md)."""

import math

TAIL_BEYOND = 10


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no values")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def tail(xs):
    """The highest percentile with at least TAIL_BEYOND samples above it.

    Returns (value, percentile, samples beyond, n). With too few samples
    for any such percentile the maximum is returned, with 0 beyond."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no values")
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, 0, n
    i = n - 1 - TAIL_BEYOND
    return s[i], 100.0 * (i + 1) / n, TAIL_BEYOND, n


def typical(samples):
    """Geometric mean, over kinds, of each kind's median latency; with one
    kind, its median. `samples` maps a kind to its latencies. When kinds
    differ several-fold, a median across all samples jumps whenever one
    kind overtakes another; here each kind moves the result by its share."""
    if not samples:
        raise ValueError("typical of no kinds")
    meds = [median(xs) for xs in samples.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's length minus the part of it its children's intervals cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def lock_wait(intervals):
    """Time spent waiting on a lock that serializes the given calls: their
    summed length minus the length of their union."""
    return sum(e - s for s, e in intervals) - union_length(intervals)


class Spans:
    """A run's span tree: bench spans, plus Spark SQL executions and jobs in
    a traced run. Times are epoch microseconds."""

    def __init__(self, spans):
        self.all = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    @staticmethod
    def dur(s):
        return (s["end_us"] - s["start_us"]) / 1e6

    def kind(self, *kinds):
        return [s for s in self.all if s["kind"] in kinds]

    def descendants(self, s):
        out, stack = [], list(self.children.get(s["id"], []))
        while stack:
            c = stack.pop()
            out.append(c)
            stack.extend(self.children.get(c["id"], []))
        return out

    def ancestor(self, s, pred):
        p = self.by_id.get(s["parent"])
        while p is not None and not pred(p):
            p = self.by_id.get(p["parent"])
        return p

    def self_times(self):
        return {s["id"]: self_time(s["start_us"], s["end_us"],
                                   [(c["start_us"], c["end_us"])
                                    for c in self.children.get(s["id"], [])]) / 1e6
                for s in self.all}


# Which spans are a workload's reads and writes for the latency metrics.
READS = {"backup_cycle": ("catalog.db",), "vector_serving": ("serve.read",)}
WRITES = {"backup_cycle": ("engine.export", "engine.import"),
          "vector_serving": ("serve.write",)}


def latencies(run):
    """Durations of the timed reads and writes of a run."""
    w = run["workload"]
    timed = [s for s in run["spans"] if s["start_us"] >= run["run_start_us"]]
    return ([Spans.dur(s) for s in timed if s["kind"] in READS[w]],
            [Spans.dur(s) for s in timed if s["kind"] in WRITES[w]])


def end_to_end(run):
    sp = Spans(run["spans"])
    reads = {}
    for s in sp.kind(*READS[run["workload"]]):
        if s["start_us"] >= run["run_start_us"]:
            reads.setdefault(s["name"], []).append(Spans.dur(s))
    # a round's time is the time its ops spent in graft: the rounds run
    # ops back to back, but also generate deltas and check outputs
    rounds = [sum(Spans.dur(d) for d in sp.descendants(r)
                  if d["attrs"].get("op") and d["kind"] != "check")
              for r in sp.kind("round")]
    return {
        "setup_s": (run["run_start_us"] - run["t0_us"]) / 1e6,
        "run_s": median(rounds),
        "read_s": typical(reads),
    }


SPARK_COUNTS = ("tasks", "failed_tasks", "input_bytes", "output_bytes",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def per_layer(run, cores):
    """Per-layer metrics of the timed part; `queries.*` measure setup's
    contract queries."""
    sp = Spans(run["spans"])
    counters = run.get("counters", {})
    start = run["run_start_us"]
    reads, writes = latencies(run)
    tail_s, tail_p, _, tail_n = tail(reads + writes)
    m = {"ops.write_p50_s": median(writes), "ops.tail_s": tail_s,
         "ops.tail_p": tail_p, "ops.tail_n": tail_n,
         "driver.heap_peak_mb": run["heap_peak_mb"]}

    def timed(*kinds):
        return [s for s in sp.kind(*kinds) if s["start_us"] >= start]

    def total(kind):
        return sum(Spans.dur(s) for s in timed(kind))

    def med(kind, scale=1.0):
        xs = [Spans.dur(s) * scale for s in timed(kind)]
        return median(xs) if xs else 0.0

    # orchestrate: one table job per (session, table); attempts include retries
    sessions = timed("backup.full", "backup.incr", "backup.restore")
    jobs, attempts, queue_wait, attempt_s = 0, 0, 0.0, 0.0
    for sess in sessions:
        atts = [d for d in sp.descendants(sess)
                if d["kind"] in ("engine.export", "engine.import")]
        first = {}
        for a in atts:
            t = a["attrs"]["table"]
            first[t] = min(first.get(t, a["start_us"]), a["start_us"])
        jobs += len(first)
        attempts += len(atts)
        queue_wait += sum(f - sess["start_us"] for f in first.values()) / 1e6
        attempt_s += sum(Spans.dur(a) for a in atts)
    session_s = sum(Spans.dur(s) for s in sessions)
    m["orchestrate.jobs"] = jobs
    m["orchestrate.attempts"] = attempts
    m["orchestrate.queue_wait_s"] = queue_wait
    m["orchestrate.in_flight_mean"] = attempt_s / session_s if session_s else 0.0

    # engine
    exports = timed("engine.export")
    m["engine.export_s"] = total("engine.export")
    m["engine.import_s"] = total("engine.import")
    rows = sum(s["attrs"].get("rows", 0) for s in exports)
    scanned = sum(d["attrs"].get("input_records", 0)
                  for s in exports for d in sp.descendants(s)
                  if d["kind"] == "spark.job")
    m["engine.rows_written"] = rows
    m["engine.bytes_written"] = counters.get("backup_bytes", 0.0)
    m["engine.files_written"] = counters.get("backup_files", 0.0)
    m["engine.scan_useful_ratio"] = rows / scanned if scanned else 0.0

    # catalog
    records = timed("catalog.record")
    m["catalog.record_s"] = total("catalog.record")
    m["catalog.record_wait_s"] = lock_wait(
        [(s["start_us"], s["end_us"]) for s in records]) / 1e6
    m["catalog.data_files"] = counters.get("catalog_data_files", 0.0)
    m["catalog.compactions"] = counters.get("catalog_compactions", 0.0)
    m["catalog.read_ms"] = med("catalog.read", 1000.0)
    m["incremental.plan_ms"] = med("incremental.plan", 1000.0)

    # backup sessions, as an operator sees them
    m["backup.full_s"] = med("backup.full")
    m["backup.incr_s"] = med("backup.incr")
    m["backup.restore_s"] = med("backup.restore")
    src = counters.get("source_bytes", 0.0)
    m["backup.bytes_ratio"] = counters.get("backup_bytes", 0.0) / src if src else 0.0

    # queries (the contract queries run through SparkEntry.queries)
    m["queries.s_s"] = sum(Spans.dur(s) for s in sp.kind("contract"))
    m["queries.build_s"] = sum(Spans.dur(s) for s in sp.kind("queries.build"))
    m["queries.execute_s"] = sum(Spans.dur(s) for s in sp.kind("queries.execute"))

    # ext: median call latency per serving function
    for fn in ("ann", "ann_rerank", "ann_mmr", "hybrid", "hybrid_rerank",
               "hybrid_mmr", "update", "update_index", "delete"):
        m[f"ext.{fn}_s"] = med(f"ext.{fn}")
    m["ext.store_files"] = counters.get("store_files", 0.0)

    # spark, per timed op: jobs and SQL executions hang under the op
    # (directly or through layer spans) that caused them
    ops = [s for s in sp.all if s["attrs"].get("op") and s["kind"] != "check"
           and s["start_us"] >= start]
    op_ids = {s["id"] for s in ops}
    per_op = {i: {"jobs": [], "sql": []} for i in op_ids}
    for s in sp.kind("spark.job", "spark.sql"):
        a = sp.ancestor(s, lambda p: p["id"] in op_ids)
        if a is not None:
            per_op[a["id"]]["jobs" if s["kind"] == "spark.job" else "sql"].append(s)
    n = max(len(ops), 1)
    agg = dict.fromkeys(SPARK_COUNTS, 0)
    job_s = task_s = cpu_s = gc_s = driver_s = planning = 0.0
    stages = njobs = nsql = broadcasts = 0
    for op in ops:
        js, qs = per_op[op["id"]]["jobs"], per_op[op["id"]]["sql"]
        union = union_length([(j["start_us"], j["end_us"]) for j in js]) / 1e6
        job_s += union
        driver_s += Spans.dur(op) - union
        njobs += len(js)
        nsql += len(qs)
        for j in js:
            a = j["attrs"]
            stages += a.get("stages", 0)
            task_s += a.get("task_ms", 0) / 1e3
            cpu_s += a.get("task_cpu_ns", 0) / 1e9
            gc_s += a.get("gc_ms", 0) / 1e3
            for k in SPARK_COUNTS:
                agg[k] += a.get(k, 0)
        for q in qs:
            planning += q["attrs"].get("planning_ms", 0)
            broadcasts += q["attrs"].get("broadcasts", 0)
    m["spark.sql_executions"] = nsql / n
    m["spark.jobs"] = njobs / n
    m["spark.stages"] = stages / n
    m["spark.tasks"] = agg["tasks"] / n
    m["spark.broadcasts"] = broadcasts / n
    m["spark.failed_tasks"] = agg["failed_tasks"] / n
    m["spark.job_s"] = job_s / n
    m["spark.task_s"] = task_s / n
    m["spark.task_cpu_s"] = cpu_s / n
    m["spark.gc_s"] = gc_s / n
    m["spark.driver_s"] = driver_s / n
    m["spark.planning_ms"] = planning / n
    m["spark.slot_idle_frac"] = 1 - task_s / (job_s * cores) if job_s else 0.0
    for k in ("input_bytes", "output_bytes", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes"):
        m[f"spark.{k}"] = agg[k] / n
    return m
