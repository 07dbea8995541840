"""Per-layer metrics of a traced run, from the spans, Spark jobs, query
plans and log-store counts the benchmark JVM recorded. Each metric is
the median over the run's operations of that operation's total; a
format's own metrics (sources.<fmt>.*) are the median over the
operations that touched that format, and its storage figures are taken
once, at the end of the run. Metrics that a workload does not exercise
read 0."""
import stats

FORMATS = ["graft", "delta", "iceberg"]
ENTRIES = ["q28_minhash_lsh", "q62_dedup_clusters", "q93_equidepth_hist",
           "q116_rfm_segments", "q162_time_to_convert"]
MB = 1048576.0


def metric_names():
    """(name, unit, better) of every per-layer metric, in report order."""
    m = [("ext.parse_ms", "ms", "lower"), ("ext.analyze_ms", "ms", "lower"),
         ("ext.optimize_ms", "ms", "lower"), ("ext.plan_ms", "ms", "lower"),
         ("ext.graft_rules_ms", "ms", "lower"),
         ("ext.graft_rules_invoked", "count", "lower"),
         ("ext.graft_rules_effective_ratio", "ratio", "higher"),
         ("etl.mart_build_s", "s", "lower"),
         ("queries.construct_ms", "ms", "lower"),
         ("queries.construct_jobs", "count", "lower"),
         ("queries.leaked_cached_plans", "count", "lower"),
         ("queries.leaked_rdds", "count", "lower")]
    for e in ENTRIES:
        m += [(f"ops.{e}.wall_ms", "ms", "lower"), (f"ops.{e}.construct_ms", "ms", "lower"),
              (f"ops.{e}.construct_jobs", "count", "lower"), (f"ops.{e}.jobs", "count", "lower")]
    for f in FORMATS:
        m += [(f"sources.{f}.resolve_ms", "ms", "lower"),
              (f"sources.{f}.log_files", "count", "lower"),
              (f"sources.{f}.log_bytes", "B", "lower"),
              (f"sources.{f}.data_files", "count", "lower"),
              (f"sources.{f}.bytes_per_user_byte", "x", "lower")]
    m += [("sources.graft.log_lists", "count", "lower"),
          ("sources.graft.log_reads", "count", "lower"),
          ("sources.storage_amp", "x", "lower"),
          ("exec.jobs", "count", "lower"), ("exec.stages", "count", "lower"),
          ("exec.tasks", "count", "lower"), ("exec.job_wall_ms", "ms", "lower"),
          ("exec.task_run_ms", "ms", "lower"), ("exec.task_cpu_ms", "ms", "lower"),
          ("exec.task_gc_ms", "ms", "lower"), ("exec.sched_delay_ms", "ms", "lower"),
          ("exec.shuffle_read_mb", "MB", "lower"), ("exec.shuffle_write_mb", "MB", "lower"),
          ("exec.spill_mb", "MB", "lower"), ("exec.input_mb", "MB", "lower"),
          ("exec.failed_tasks", "count", "lower"),
          ("exec.core_util", "ratio", "higher"), ("exec.outside_jobs_ms", "ms", "lower"),
          ("trace.op_p50_ms", "ms", "lower")]
    return m


def _storage(raw):
    """{format: (log files, log bytes, data files, data bytes, plain bytes)}"""
    g = raw["gate"]
    if "storage" in g:  # mart_serving: the three mart tables per format
        return {f: (s["log_files"], s["log_bytes"], s["data_files"], s["data_bytes"],
                    g["plain_bytes"]) for f, s in g["storage"].items()}
    return {}


def storage_amp(raw):
    """Bytes of table data plus log on disk, over all formats, divided by
    the bytes of the same live rows written once as plain parquet."""
    st = _storage(raw)
    plain = sum(s[4] for s in st.values())
    return sum(s[1] + s[3] for s in st.values()) / plain if plain else 0.0


def per_layer(raw, cpus):
    """Returns ({name: {"value", "unit"}}, span self-time table)."""
    tr = raw["trace"]
    traced = [o for o in raw["ops"] if o["ok"]]
    ids = {o["id"] for o in traced}
    spans = [s for s in tr["spans"] if s["op"] in ids]
    by_id = {s["id"]: s for s in spans}
    jobs = [j for j in tr["jobs"] if j["op"] in ids]
    plans = [p for p in tr["plans"] if p["op"] in ids]

    def ancestors(span_id):
        while span_id in by_id:
            yield by_id[span_id]
            span_id = by_id[span_id]["parent"]

    def under(j, pred):
        return any(pred(s) for s in ancestors(j["span"]))

    per_op = {i: {} for i in ids}

    def add(op, k, v):
        per_op[op][k] = per_op[op].get(k, 0.0) + v

    for s in spans:
        d = (s["end_us"] - s["start_us"]) / 1000.0
        n, t, op = s["name"], s["tag"], s["op"]
        if n.startswith("sources.") and n.endswith(".resolve"):
            add(op, n + "_ms", d)
        elif n == "queries.construct":
            add(op, "queries.construct_ms", d)
            if t in ENTRIES:
                add(op, f"ops.{t}.construct_ms", d)
                add(op, f"ops.{t}.wall_ms", d)
        elif n == "exec.collect" and t in ENTRIES:
            add(op, f"ops.{t}.wall_ms", d)
    for j in jobs:
        op = j["op"]
        add(op, "exec.jobs", 1)
        for k, src, scale in [("stages", "stages", 1), ("tasks", "tasks", 1),
                              ("task_run_ms", "run_ms", 1), ("task_cpu_ms", "cpu_ms", 1),
                              ("task_gc_ms", "gc_ms", 1), ("sched_delay_ms", "sched_delay_ms", 1),
                              ("shuffle_read_mb", "shuffle_read", MB),
                              ("shuffle_write_mb", "shuffle_write", MB),
                              ("spill_mb", "spill", MB), ("input_mb", "input", MB),
                              ("failed_tasks", "failed_tasks", 1)]:
            add(op, f"exec.{k}", j[src] / scale)
        add(op, "exec.job_wall_ms", (j["end_us"] - j["start_us"]) / 1000.0)
        if under(j, lambda s: s["name"] == "queries.construct"):
            add(op, "queries.construct_jobs", 1)
        for e in ENTRIES:
            if under(j, lambda s, e=e: s["tag"] == e):
                add(op, f"ops.{e}.jobs", 1)
                if under(j, lambda s, e=e: s["tag"] == e and s["name"] == "queries.construct"):
                    add(op, f"ops.{e}.construct_jobs", 1)
    planning = {i: 0.0 for i in ids}
    for p in plans:
        op = p["op"]
        for k in ["parse_ms", "analyze_ms", "optimize_ms", "plan_ms"]:
            add(op, f"ext.{k}", p[k])
        planning[op] += p["parse_ms"] + p["analyze_ms"] + p["optimize_ms"] + p["plan_ms"]
        add(op, "ext.graft_rules_ms", p["graft_rule_ns"] / 1e6)
        add(op, "ext.graft_rules_invoked", p["graft_rule_calls"])
    effective = sum(p["graft_rule_effective"] for p in plans)
    invoked = sum(p["graft_rule_calls"] for p in plans)
    for o in traced:
        i = o["id"]
        job_iv = [(j["start_us"], j["end_us"]) for j in jobs if j["op"] == i]
        busy_ms = stats.union_length(job_iv) / 1000.0
        if busy_ms > 0:
            add(i, "exec.core_util", per_op[i].get("exec.task_run_ms", 0.0) / (busy_ms * cpus))
        add(i, "exec.outside_jobs_ms", max(0.0, o["wall_ms"] - busy_ms - planning[i]))
        add(i, "queries.leaked_cached_plans", o["leaked_cached_plans"])
        add(i, "queries.leaked_rdds", o["leaked_rdds"])
        lo = tr["log_ops"].get(str(i))
        if lo:
            add(i, "sources.graft.log_lists", lo["lists"])
            add(i, "sources.graft.log_reads", lo["reads"])

    # a format's own metrics are taken over the operations that touched it
    touched = {i: set() for i in ids}
    for s in spans:
        if s["name"].startswith("sources."):
            touched[s["op"]].add(s["name"].split(".")[1])
    values = {}
    for name, unit, _ in metric_names():
        fmt = name.split(".")[1]
        pool = [i for i in ids if fmt in touched[i]] if fmt in FORMATS else ids
        values[name] = stats.median([per_op[i].get(name, 0.0) for i in pool])
    values["ext.graft_rules_effective_ratio"] = effective / invoked if invoked else 0.0
    st = _storage(raw)
    for f, (lf, lb, df, db, plain) in st.items():
        values[f"sources.{f}.log_files"] = lf
        values[f"sources.{f}.log_bytes"] = lb
        values[f"sources.{f}.data_files"] = df
        values[f"sources.{f}.bytes_per_user_byte"] = (lb + db) / plain if plain else 0.0
    values["sources.storage_amp"] = storage_amp(raw)
    values["etl.mart_build_s"] = raw["gate"].get("mart_build_s", 0.0)
    values["trace.op_p50_ms"] = stats.median([o["wall_ms"] for o in traced])
    metrics = {n: {"value": values[n], "unit": u} for n, u, _ in metric_names()}
    return metrics, span_table(spans, jobs, len(ids))


def span_table(spans, jobs, n_ops):
    """Per span name (jobs appear as exec.job): calls, total and self
    time in ms, summed over the traced operations."""
    job_spans = [{"id": ("job", j["job"]), "parent": j["span"], "name": "exec.job",
                  "start_us": j["start_us"], "end_us": j["end_us"]} for j in jobs]
    allspans = spans + job_spans
    selfs = stats.self_times(allspans)
    rows = {}
    for s in allspans:
        r = rows.setdefault(s["name"], {"name": s["name"], "n": 0, "total_ms": 0.0,
                                        "self_ms": 0.0})
        r["n"] += 1
        r["total_ms"] += (s["end_us"] - s["start_us"]) / 1000.0
        r["self_ms"] += selfs[s["id"]] / 1000.0
    out = sorted(rows.values(), key=lambda r: -r["self_ms"])
    for r in out:
        r["ops"] = n_ops
    return out
