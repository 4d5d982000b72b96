"""Per-layer table from a traced run's span and task records.

Each Spark job belongs to the span whose id is its job group; a job whose
group names no span (one started on a thread that did not inherit the
group) belongs to the innermost span open when it started. A task belongs
to its job's span, and a span to its layer.

`problems` checks the ledger against figures recorded apart from its task
records: the tasks the scheduler launched and the process's CPU time.
"""
import json

from . import stats

LAYERS = ["extract.mentions", "extract.triples", "link", "canon", "graph.materialize",
          "graph.query", "io", "dedup", "similarity", "text", "streaming", "multimodal",
          "sparkentry"]
LAYER_STATS = [("wall_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_bytes", "B"),
               ("spill_bytes", "B"), ("tasks", "count"), ("task_skew", "ratio")]
# the roadmap's slow queries that the sweep runs
NAMED_QUERIES = ["kg_cypher", "dd_embed_neardup", "st_sessions", "sim_ann_lsh"]
HIGHER_IS_BETTER = {"extract.mentions_per_turn", "extract.triples_per_turn", "link.linked_frac"}
# spans that are not a layer's work: setup, the benchmark's own audits and
# overhead comparison ("check"), and the final listener flush ("ledger")
NON_LAYERS = ["setup", "check", "ledger"]


def metric_units():
    """Every per-layer metric the traced run prints, with its unit, in order."""
    units = [(f"{layer}.{stat}", unit) for layer in LAYERS for stat, unit in LAYER_STATS]
    units += [
        ("jvm.gc_s", "s"), ("jvm.peak_heap_mb", "MB"),
        ("extract.cpu_us_per_turn", "us"), ("extract.mentions_per_turn", "count"),
        ("extract.triples_per_turn", "count"), ("link.linked_frac", "ratio"),
        ("canon.jobs", "count"), ("canon.components", "count"),
        ("graph.materialize.nodes", "count"), ("graph.materialize.edges", "count"),
        ("io.write_s", "s"), ("io.read_s", "s"), ("io.bytes_written", "B"),
        ("io.files_written", "count"),
        ("graph.query.build_ms", "ms"), ("graph.query.driver_ms", "ms"),
        ("graph.query.jobs_per_query", "count")]
    units += [(f"sparkentry.{q}_s", "s") for q in NAMED_QUERIES]
    units += [("setup.task_cpu_s", "s"), ("ledger.total_task_cpu_s", "s"),
              ("ledger.unattributed_cpu_s", "s"), ("ledger.process_cpu_s", "s"),
              ("ledger.tasks_launched", "count"), ("ledger.task_records", "count"),
              ("trace.overhead_pct", "%"),
              ("trace.listener_ms", "ms"), ("trace.traced_wall_s", "s"),
              ("trace.untraced_wall_s", "s")]
    return units


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _span_layers(spans, span_jobs):
    """Effective layer of every span. Everything under a "check" span is
    check work. The first graph query's DataFrame construction builds the
    memoized graph (extract, link, canon, materialize), so the first graph
    query build span that runs Spark jobs counts as graph.materialize; later
    builds that run jobs (a shortest-path search, say) stay graph.query.
    """
    builds = [sid for sid, s in spans.items() if s["layer"] == "graph.query"
              and s["name"].endswith(".build") and span_jobs.get(sid)]
    graph_build = min(builds, key=lambda sid: spans[sid]["start"]) if builds else None
    layers = {}

    def layer_of(sid):
        if sid not in layers:
            s = spans[sid]
            parent = layer_of(s["parent"]) if s["parent"] in spans else ""
            layer = s["layer"]
            if parent == "check":
                layer = "check"
            elif sid == graph_build:
                layer = "graph.materialize"
            layers[sid] = layer
        return layers[sid]

    for sid in spans:
        layer_of(sid)
    return layers


def analyze(records, turns, counts=None, trace=None):
    """All per-layer metrics; layers that did not run on the workload read 0.

    `counts` adds to the counts recorded in the trace; `trace` holds the
    trace.* figures measured outside the ledger.
    """
    spans = {r["id"]: r for r in records if r["ev"] == "span"}
    jobs = {r["id"]: dict(r) for r in records if r["ev"] == "job"}
    for r in records:
        if r["ev"] == "job_end" and r["id"] in jobs:
            jobs[r["id"]]["end"] = r["end"]
    tasks = [r for r in records if r["ev"] == "task"]
    jvm = next((r for r in records if r["ev"] == "jvm"), {})
    all_counts = dict(counts or {})
    for r in records:
        # a count recorded twice keeps the first (the reported pass's) value
        if r["ev"] == "count":
            all_counts.setdefault(r["name"], r["value"])

    def span_of(job):
        group = job.get("group") or ""
        if group == "ledger-flush":
            return "ledger"
        if group.startswith("span-") and int(group[5:]) in spans:
            return int(group[5:])
        open_spans = [s for s in spans.values() if s["start"] <= job["start"] <= s["end"]]
        return max(open_spans, key=lambda s: s["start"])["id"] if open_spans else None

    job_span = {jid: span_of(j) for jid, j in jobs.items()}
    span_jobs = {}
    for jid, sid in job_span.items():
        span_jobs.setdefault(sid, []).append(jid)
    span_layer = _span_layers(spans, span_jobs)
    span_layer["ledger"] = "ledger"
    self_ms = stats.self_times(spans)

    def layer_of_job(jid):
        return span_layer.get(job_span.get(jid), "")

    by_layer = {}
    for t in tasks:
        by_layer.setdefault(layer_of_job(t["job"]), []).append(t)

    out = {}
    for layer in LAYERS:
        ts = by_layer.get(layer, [])
        stages = {}
        for t in ts:
            stages.setdefault(t["stage"], []).append(t["run_ms"])
        heaviest = max(stages.values(), key=sum) if stages else []
        out[f"{layer}.wall_s"] = sum(self_ms[s] for s in spans if span_layer[s] == layer) / 1e3
        out[f"{layer}.task_cpu_s"] = sum(t["cpu_ns"] for t in ts) / 1e9
        out[f"{layer}.gc_s"] = sum(t["gc_ms"] for t in ts) / 1e3
        out[f"{layer}.shuffle_bytes"] = sum(t["shuffle_read"] + t["shuffle_write"] for t in ts)
        out[f"{layer}.spill_bytes"] = sum(t["spill"] for t in ts)
        out[f"{layer}.tasks"] = len(ts)
        out[f"{layer}.task_skew"] = stats.task_skew(heaviest)

    out["jvm.gc_s"] = jvm.get("gc_ms", 0) / 1e3
    out["jvm.peak_heap_mb"] = jvm.get("peak_heap_mb", 0.0)
    extract_cpu_ns = sum(t["cpu_ns"] for layer in ("extract.mentions", "extract.triples")
                         for t in by_layer.get(layer, []))
    out["extract.cpu_us_per_turn"] = extract_cpu_ns / 1e3 / turns
    out["extract.mentions_per_turn"] = all_counts.get("mentions.rows", 0) / turns
    out["extract.triples_per_turn"] = all_counts.get("triples.rows", 0) / turns
    out["link.linked_frac"] = all_counts.get("link.linked_frac", 0.0)
    out["canon.jobs"] = sum(1 for jid in jobs if layer_of_job(jid) == "canon")
    out["canon.components"] = all_counts.get("canon.components", 0)
    out["graph.materialize.nodes"] = all_counts.get("nodes.rows", 0)
    out["graph.materialize.edges"] = all_counts.get("edges.rows", 0)

    io_spans = [s for s in spans if span_layer[s] == "io"]
    out["io.write_s"] = sum(self_ms[s] for s in io_spans if spans[s]["name"].endswith(".commit")) / 1e3
    out["io.read_s"] = sum(self_ms[s] for s in io_spans if not spans[s]["name"].endswith(".commit")) / 1e3
    out["io.bytes_written"] = sum(v for k, v in all_counts.items() if k.startswith("io.") and k.endswith(".bytes"))
    out["io.files_written"] = sum(v for k, v in all_counts.items() if k.startswith("io.") and k.endswith(".files"))

    actions = [s for s in spans if span_layer[s] == "graph.query" and spans[s]["name"].endswith(".action")]
    builds = [s for s in spans if span_layer[s] == "graph.query" and spans[s]["name"].endswith(".build")]
    n_queries = max(1, len(actions))
    driver_ms = 0.0
    for s in actions:
        sp = spans[s]
        ran = [(jobs[j]["start"], jobs[j].get("end", sp["end"])) for j in span_jobs.get(s, [])]
        driver_ms += (sp["end"] - sp["start"]) - stats.covered(ran, sp["start"], sp["end"])
    out["graph.query.build_ms"] = sum(self_ms[s] for s in builds) / n_queries if actions else 0.0
    out["graph.query.driver_ms"] = driver_ms / n_queries if actions else 0.0
    out["graph.query.jobs_per_query"] = (
        sum(1 for jid in jobs if layer_of_job(jid) == "graph.query") / n_queries if actions else 0.0)

    for q in NAMED_QUERIES:
        hits = [s for s in spans.values() if s["name"] == q and span_layer[s["id"]] != "check"]
        out[f"sparkentry.{q}_s"] = sum(s["end"] - s["start"] for s in hits) / 1e3

    # whole nanoseconds, so that a ledger that adds up leaves exactly 0
    cpu_ns = {layer: sum(t["cpu_ns"] for t in ts) for layer, ts in by_layer.items()}
    total_ns = sum(cpu_ns.values())
    attributed_ns = sum(v for layer, v in cpu_ns.items() if layer in LAYERS or layer in NON_LAYERS)
    out["setup.task_cpu_s"] = cpu_ns.get("setup", 0) / 1e9
    out["ledger.total_task_cpu_s"] = total_ns / 1e9
    out["ledger.unattributed_cpu_s"] = (total_ns - attributed_ns) / 1e9
    out["ledger.process_cpu_s"] = jvm.get("process_cpu_ns", 0) / 1e9
    out["ledger.tasks_launched"] = jvm.get("tasks_started", 0)
    out["ledger.task_records"] = len(tasks)
    trace = trace or {}
    out["trace.overhead_pct"] = trace.get("overhead_pct", 0.0)
    out["trace.listener_ms"] = jvm.get("listener_ms", 0.0)
    out["trace.traced_wall_s"] = trace.get("traced_wall_s", 0.0)
    out["trace.untraced_wall_s"] = trace.get("untraced_wall_s", 0.0)
    return out


def problems(records, metrics):
    """Where the ledger does not add up; empty when it does.

    - every task the scheduler launched while recording has a task record;
    - each completed stage has as many task records as its attempts had
      tasks;
    - all task CPU is charged to a layer, setup or a check;
    - the task CPU does not exceed the CPU time the whole process used.
    """
    found = []
    if metrics["ledger.tasks_launched"] != metrics["ledger.task_records"]:
        found.append(f"{metrics['ledger.tasks_launched']} tasks launched, "
                     f"{metrics['ledger.task_records']} task records")
    launched = {}
    for r in records:
        if r["ev"] == "stage":
            launched[r["id"]] = launched.get(r["id"], 0) + r["tasks"]
    ended = {}
    for r in records:
        if r["ev"] == "task":
            ended[r["stage"]] = ended.get(r["stage"], 0) + 1
    short = sorted(sid for sid, n in launched.items() if ended.get(sid, 0) != n)
    if short:
        found.append(f"{len(short)} stages whose task records differ from their task count, "
                     f"first stage {short[0]}")
    if metrics["ledger.unattributed_cpu_s"] != 0:
        found.append(f"{metrics['ledger.unattributed_cpu_s']:.6f} s of task CPU charged to no layer")
    process = metrics["ledger.process_cpu_s"]
    if process and metrics["ledger.total_task_cpu_s"] > process:
        found.append(f"task CPU {metrics['ledger.total_task_cpu_s']:.3f} s exceeds the "
                     f"process's {process:.3f} s")
    return found
