"""From one JVM run's result to the oracle verdicts and the printed metrics."""
import json
import os

from . import jxgen, oracle, stats

STREAM_PHASES = {"add_batch_ms": "addBatch",
                 "query_planning_ms": "queryPlanning",
                 "wal_commit_ms": "walCommit",
                 "commit_offsets_ms": "commitOffsets",
                 "latest_offset_ms": "latestOffset"}


def per_layer_names(query_names):
    """Per-layer metrics (traced runs), in BENCHMARK.json order."""
    return (["jx.parse_ms", "service.driver_ms", "tables.resolve_cold_ms",
             "catalyst.analysis_ms", "catalyst.optimization_ms",
             "catalyst.planning_ms", "codegen.compiles", "codegen.compile_ms",
             "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
             "exec.job_ms", "exec.task_run_ms", "exec.task_cpu_ms",
             "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
             "exec.spill_bytes", "exec.input_bytes", "exec.output_bytes",
             "driver.self_ms", "queries.build_s", "queries.build_jobs",
             "queries.action_s"] +
            [f"query.{q}_s" for q in query_names] +
            ["staged.build_s", "stream.batches", "stream.input_rows"] +
            [f"stream.{k}" for k in STREAM_PHASES] +
            ["stream.state_commit_ms", "stream.state_rows",
             "stream.state_memory_bytes", "stream.microbatch_p50_ms",
             "stream.microbatch_p95_ms", "op.tail_ms", "jvm.gc_ms",
             "jvm.gc_count", "trace.overhead_ms", "health.probe_spread"])


def layer_unit(name):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_rows", "rows")):
        if name.endswith(suffix):
            return unit
    return "ratio" if name == "health.probe_spread" else "count"


def check(con, spec, result, out, cache_dir):
    """Every failed timed or traced operation as (name, reason).

    An operation fails when it threw, or when its output differs from
    the DuckDB oracle: a service response from its request's SQL twin,
    a query result from the query's `oracleSql`."""
    failures = []
    if spec["workload"] == "jx_service":
        sent = (spec["requests"] + spec["trace_requests"] +
                spec["untraced_requests"])
        sql = {r["id"]: r["sql"] for r in sent}
        template = {r["id"]: r["template"] for r in sent}
        with open(os.path.join(out, "responses.jsonl")) as f:
            for line in f:
                r = json.loads(line)
                why = r.get("error")
                if why is None:
                    why = oracle.check_response(con, r["response"],
                                                sql[r["id"]])
                if why is not None:
                    failures.append((f"{r['id']} ({template[r['id']]})",
                                     why))
        return failures
    verdict = {}
    for q, c in result["check"].items():
        if "error" in c:
            verdict[q] = f"threw: {c['error']}"
        elif q in result["oracle_sql"]:
            verdict[q] = oracle.check_query(
                con, result["oracle_sql"][q], os.path.join(out, "check", q),
                cache_dir)
        else:
            verdict[q] = None if c["rows"] > 0 else "no rows (rows-only)"
    for o in result["ops"]:
        why = verdict[o["name"]] or (None if o["ok"] else o.get("error"))
        if why is not None:
            failures.append((o["name"], why))
    return failures


def _spans_of(result, traced_ops):
    """Spans of the traced unit: one tree per operation, linked by the
    operation's id. Spark's jobs, Catalyst phases and micro-batches are
    attached to the operation (and build/action span) whose interval
    contains their start."""
    spans = []
    for i, o in enumerate(traced_ops):
        root = {"op": i, "id": f"{i}", "parent": None, "name": o["name"],
                "layer": "op", "start": o["start"], "end": o["end"]}
        spans.append(root)
        if o["build_end"] < o["end"]:
            spans.append({"op": i, "id": f"{i}.b", "parent": root["id"],
                          "name": "build", "layer": "queries",
                          "start": o["start"], "end": o["build_end"]})
            spans.append({"op": i, "id": f"{i}.a", "parent": root["id"],
                          "name": "action", "layer": "queries",
                          "start": o["build_end"], "end": o["end"]})

    def owner(t):
        for i, o in enumerate(traced_ops):
            if o["start"] - 1 <= t <= o["end"] + 1:
                if o["build_end"] >= o["end"]:
                    return i, f"{i}"
                return i, f"{i}.b" if t < o["build_end"] else f"{i}.a"
        return None, None

    for k, j in enumerate(result["jobs"]):
        i, parent = owner(j["start"])
        if i is not None:
            spans.append({"op": i, "id": f"{i}.j{k}", "parent": parent,
                          "name": f"job {j['id']}", "layer": "exec",
                          "start": j["start"], "end": max(j["end"], j["start"]),
                          "job": j})
    for k, p in enumerate(result["phases"]):
        i, parent = owner(p["start"])
        if i is not None:
            spans.append({"op": i, "id": f"{i}.c{k}", "parent": parent,
                          "name": p["name"], "layer": "catalyst",
                          "start": p["start"], "end": p["end"]})
    for k, m in enumerate(result["microbatches"]):
        i, parent = owner(m["start"])
        if i is not None:
            spans.append({"op": i, "id": f"{i}.m{k}", "parent": parent,
                          "name": "microbatch", "layer": "stream",
                          "start": m["start"],
                          "end": m["start"] +
                          m["duration_ms"].get("triggerExecution", 0),
                          "batch": m})
    return spans


def layer_self_ms(spans, ops):
    """Self time per layer over the traced unit. Each instant of an
    operation is charged to the innermost layer covering it, in the
    order exec > catalyst > stream > queries > op."""
    order = ["exec", "catalyst", "stream", "queries"]
    out = {k: 0.0 for k in order + ["op"]}
    for i, o in enumerate(ops):
        span = (o["start"], o["end"])
        covered = []
        for layer in order:
            mine = [(s["start"], s["end"]) for s in spans
                    if s["op"] == i and s["layer"] == layer]
            before = stats.union_length(
                [(max(span[0], a), min(span[1], b)) for a, b in covered])
            covered += mine
            after = stats.union_length(
                [(max(span[0], a), min(span[1], b)) for a, b in covered])
            out[layer] += after - before
        out["op"] += stats.self_time(span, covered)
    return out


def per_layer(spec, result, query_names):
    ops = result["ops"]
    traced_ops = [o for o in ops if o["phase"] == "traced"]
    untraced_ops = [o for o in ops if o["phase"] == "untraced"]
    timed_ops = [o for o in ops if o["phase"] == "timed"]
    spans = _spans_of(result, traced_ops)
    m = {n: 0.0 for n in per_layer_names(query_names)}
    jobs = [s for s in spans if s["layer"] == "exec"]
    phases = [s for s in spans if s["layer"] == "catalyst"]
    batches = [s["batch"] for s in spans if s["layer"] == "stream"]
    for o in traced_ops:
        m["jx.parse_ms"] += o["parse_ms"]
    for i, o in enumerate(traced_ops):
        span = (o["start"], o["end"])
        js = [(s["start"], s["end"]) for s in jobs if s["op"] == i]
        ps = [(s["start"], s["end"]) for s in phases if s["op"] == i]
        m["driver.self_ms"] += stats.self_time(span, js)
        if spec["workload"] == "jx_service":
            m["service.driver_ms"] += stats.self_time(span, js + ps)
        if o["build_end"] < o["end"]:
            m["queries.build_s"] += (o["build_end"] - o["start"]) / 1e3
            m["queries.action_s"] += (o["end"] - o["build_end"]) / 1e3
            m["queries.build_jobs"] += sum(
                1 for s in jobs if s["op"] == i and s["parent"].endswith(".b"))
            key = f"query.{o['name']}_s"
            if key in m:
                m[key] += (o["end"] - o["start"]) / 1e3
    for s in phases:
        key = f"catalyst.{s['name']}_ms"
        if key in m:
            m[key] += s["end"] - s["start"]
    for s in jobs:
        j = s["job"]
        m["exec.jobs"] += 1
        m["exec.job_ms"] += s["end"] - s["start"]
        for k, f in [("stages", "stages"), ("tasks", "tasks"),
                     ("failed_tasks", "failed_tasks"),
                     ("task_run_ms", "run_ms"), ("task_cpu_ms", "cpu_ms"),
                     ("shuffle_read_bytes", "shuffle_read"),
                     ("shuffle_write_bytes", "shuffle_write"),
                     ("spill_bytes", "spill"), ("input_bytes", "input"),
                     ("output_bytes", "output")]:
            m[f"exec.{k}"] += j[f]
    last_state = {}
    for b in batches:
        m["stream.batches"] += 1
        m["stream.input_rows"] += b["input_rows"]
        for k, phase in STREAM_PHASES.items():
            m[f"stream.{k}"] += b["duration_ms"].get(phase, 0)
        m["stream.state_commit_ms"] += b["state_commit_ms"]
        last_state[b["run_id"]] = b
    m["stream.state_rows"] = sum(b["state_rows"] for b in last_state.values())
    m["stream.state_memory_bytes"] = sum(
        b["state_memory_bytes"] for b in last_state.values())
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    if trig:
        m["stream.microbatch_p50_ms"] = stats.median(trig)
        m["stream.microbatch_p95_ms"] = stats.percentile(trig, 95)
    lat = [o["end"] - o["start"] for o in timed_ops]
    tail = stats.tail_percentile(len(lat))
    m["op.tail_ms"] = stats.percentile(lat, tail or 50)
    c = result["traced_counters"]
    m["codegen.compiles"] = c["codegen_compiles"]
    m["codegen.compile_ms"] = c["codegen_compile_ms"]
    m["jvm.gc_ms"] = c["gc_ms"]
    m["jvm.gc_count"] = c["gc_count"]
    m["tables.resolve_cold_ms"] = result["tables_resolve_cold_ms"]
    m["staged.build_s"] = result["staged_setup_s"]
    m["trace.overhead_ms"] = (
        _unit_ms(spec, traced_ops) - _unit_ms(spec, untraced_ops))
    m["health.probe_spread"] = _probe_spread(result)
    return m, spans, layer_self_ms(spans, traced_ops)


def _passes(spec, ops):
    """Durations (s) of each complete pass over the operation list: a
    sweep over the query list, or one request of every JX template."""
    k = (len(jxgen.TEMPLATES) if spec["workload"] == "jx_service"
         else len(spec["queries"]))
    lat = [(o["end"] - o["start"]) / 1e3 for o in ops]
    return [sum(lat[i:i + k]) for i in range(0, len(lat) - k + 1, k)]


def _unit_ms(spec, ops):
    """Median pass time (ms), so units of different lengths compare."""
    return stats.median(_passes(spec, ops)) * 1e3


def _probe_spread(result):
    p = result["probe"]
    return max(p["before_s"], p["after_s"]) / min(p["before_s"], p["after_s"])


def report(spec, result, failures, traced):
    timed = [o for o in result["ops"] if o["phase"] == "timed"]
    lat = [o["end"] - o["start"] for o in timed]
    e2e = {
        "setup_s": (result["setup_s"], "s"),
        "op_p50_ms": (stats.median(lat), "ms"),
        "ops_per_s": (len(timed) / result["timed_s"], "1/s"),
        "sweep_s": (stats.median(_passes(spec, timed)), "s"),
        "heap_retained_mb": (result["heap_retained_mb"], "MB"),
    }
    attempted = len(result["ops"])
    rep = {
        "workload": spec["workload"],
        "health": {"probe_before_s": result["probe"]["before_s"],
                   "probe_after_s": result["probe"]["after_s"],
                   "probe_spread": _probe_spread(result)},
        "failed_frac": len(failures) / attempted,
        "failures": failures,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "info": {"timed_ops": len(timed), "timed_s": result["timed_s"],
                 "session_s": result["session_s"],
                 "staged_setup_s": result["staged_setup_s"]},
    }
    tail = stats.tail_percentile(len(lat))
    if tail:
        rep["info"][f"op_p{tail:g}_ms"] = stats.percentile(lat, tail)
    trig = [b["duration_ms"].get("triggerExecution", 0)
            for b in result["microbatches"]]
    if trig:
        rep["info"]["microbatches"] = len(trig)
        rep["info"]["microbatch_p50_ms"] = stats.median(trig)
    if traced:
        names = spec.get("all_queries", [])
        layer, spans, self_ms = per_layer(spec, result, names)
        rep["per_layer"] = layer
        rep["layer_self_ms"] = self_ms
        rep["spans"] = spans
        shown = {n: {"value": v, "unit": layer_unit(n)}
                 for n, v in layer.items()}
    else:
        shown = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    rep["line"] = {"correct": not failures, "attempted": attempted,
                   "failed": len(failures),
                   "metrics": shown}
    return rep
