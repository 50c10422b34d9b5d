"""Turn the JVM driver's raw record of a run into the benchmark's metrics."""
import json
import statistics

END_TO_END_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
                    "ops_per_s": "1/s", "peak_rss_mb": "MB"}

# spans whose self time differs from a module metric above it
# (trace.self.<name>_ms)
SELF_SPANS = ["sink", "build", "noop_sink", "release", "execution", "job", "stage"]
KERNELS = ["shingle_hashes", "minhash_sig", "band_hashes", "sig_match_frac", "l2_dist_sq"]


def tail(xs, p):
    """(label, value, supported) of the p-th percentile of xs (p=100: the
    maximum); `supported` when at least ten samples lie beyond it."""
    xs = sorted(xs)
    if p >= 100 or len(xs) < 2:
        return "max", xs[-1], False
    v = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    return f"p{p}", v, len(xs) * (100 - p) / 100 >= 10


def setup_s(result, launched_ms):
    """Wall time from the JVM's launch to the start of the first timed
    operation: JVM start, session, function registration, table DDL and the
    warm-up/check pass."""
    return (result["first_timed_ms"] - launched_ms) / 1000.0


def _ok_ops(result):
    return [o for o in result["ops"] if o["ok"]]


def ops_per_s(spec, result):
    """Operations per pass over the median pass wall time."""
    walls = [p["s"] for p in result["passes_s"] if p["ok"]]
    return len(spec["passes"][0]) / statistics.median(walls) if walls else 0.0


def latencies(spec, result):
    """The latency samples op_p50_ms and op_tail_ms are taken over: every
    statement of sql_interactive; in a batch workload, whose two or three
    passes give only a few samples per query, each query's median."""
    ok = _ok_ops(result)
    if "queries" not in spec:
        return [o["ms"] for o in ok]
    per_query = {}
    for o in ok:
        per_query.setdefault(o["name"], []).append(o["ms"])
    return [statistics.median(v) for v in per_query.values()]


def end_to_end(spec, result, launched_ms, p_tail):
    lat = latencies(spec, result)
    values = {
        "setup_s": setup_s(result, launched_ms),
        "op_p50_ms": statistics.median(lat) if lat else 0.0,
        "op_tail_ms": tail(lat, p_tail)[1] if lat else 0.0,
        "ops_per_s": ops_per_s(spec, result),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    return values, END_TO_END_UNITS


def span_times(spans_path):
    """Σ inclusive and Σ self time (ms) per span name. A span's self time is
    its duration minus the union of its children's intervals; an op span's
    self time is the part of the operation no span covers."""
    with open(spans_path) as f:
        spans = [json.loads(line) for line in f]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    incl, self_ = {}, {}
    for s in spans:
        covered, cur_a, cur_b = 0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start_us"]), min(b, s["end_us"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                covered += (cur_b - cur_a) if cur_b is not None else 0
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        covered += (cur_b - cur_a) if cur_b is not None else 0
        dur = s["end_us"] - s["start_us"]
        incl[s["name"]] = incl.get(s["name"], 0.0) + dur / 1000.0
        self_[s["name"]] = self_.get(s["name"], 0.0) + (dur - covered) / 1000.0
    return incl, self_


def per_layer(name, spec, result):
    """Per-layer metrics of the traced operations, each a mean per operation
    (the counters divide by the number of traced operations). Returns
    (values, units, zeros): `zeros` names layers that did work on this
    workload but read zero."""
    traced = [o for o in result["ops"] if o["traced"]]
    n = max(1, len(traced))
    by_op = result.get("traced_ops", [])
    tot = lambda k: sum(o.get(k, 0) for o in by_op)  # noqa: E731
    # inclusive time of the calls into each module (plan: the client's own
    # plan call on reads, planning inside the execution otherwise)
    client, spans = span_times(spec["spans"])
    values, units = {}, {}

    def put(k, v, unit):
        values[k] = v
        units[k] = unit

    put("context.sql_ms", client.get("sql", 0.0) / n, "ms")
    put("context.write_ms", client.get("sink", 0.0) / n, "ms")
    put("context.write_bytes", tot("write_bytes") / n, "bytes")
    put("sources.ddl_ms", client.get("ddl", 0.0) / n, "ms")
    put("render.ms", spans.get("render", 0.0) / n, "ms")
    put("plans.plan_ms", client.get("plan", 0.0) / n, "ms")
    put("plans.codegen_compiles", tot("codegen_compiles") / n, "count")
    put("plans.codegen_compile_ms", tot("codegen_compile_ms") / n, "ms")
    put("plans.exchanges", tot("exchanges") / n, "count")
    put("plans.broadcasts", tot("broadcasts") / n, "count")
    put("plans.codegen_stages", tot("codegen_stages") / n, "count")
    put("queries.build_ms", client.get("build", 0.0) / n, "ms")
    put("queries.build_jobs", tot("build_jobs") / n, "count")
    put("operators.persisted_frames", tot("persisted_frames") / n, "count")
    put("operators.release_ms", tot("release_ns") / 1e6 / n, "ms")
    kern = result.get("kernels_ns_per_row", {})
    for k in KERNELS:
        put(f"functions.{k}_ns_per_row", kern.get(k, 0.0), "ns/row")
    exec_ms = tot("exec_ms")
    crit = tot("critical_path_ms")
    put("spark.sched.jobs", tot("jobs") / n, "count")
    put("spark.sched.stages", tot("stages") / n, "count")
    put("spark.sched.tasks", tot("tasks") / n, "count")
    put("spark.sched.overhead_ms", (exec_ms - crit) / n, "ms")
    put("spark.exec.wall_ms", exec_ms / n, "ms")
    put("spark.exec.task_ms", tot("task_ms") / n, "ms")
    put("spark.exec.cpu_ms", tot("cpu_ms") / n, "ms")
    put("spark.exec.critical_path_ms", crit / n, "ms")
    put("spark.exec.core_util", tot("task_ms") / (exec_ms * spec["cores"]) if exec_ms else 0.0,
        "ratio")
    put("spark.exec.gc_ms", tot("gc_ms") / n, "ms")
    put("spark.exec.shuffle_read_bytes", tot("shuffle_read_bytes") / n, "bytes")
    put("spark.exec.shuffle_write_bytes", tot("shuffle_write_bytes") / n, "bytes")
    put("spark.exec.spill_bytes", tot("spill_bytes") / n, "bytes")
    put("spark.exec.input_rows", tot("input_rows") / n, "count")
    ops_all = len(result["ops"])
    put("jvm.gc_ms", result["jvm_gc_ms"] / max(1, ops_all), "ms")
    put("jvm.heap_peak_mb", result["jvm_heap_peak_mb"], "MB")
    for s in SELF_SPANS:
        put(f"trace.self.{s}_ms", spans.get(s, 0.0) / n, "ms")
    put("trace.uncovered_ms", spans.get("op", 0.0) / n, "ms")
    put("trace.overhead_pct", overhead_pct(spec, result), "%")

    must = ["spark.sched.jobs", "spark.sched.tasks", "spark.exec.wall_ms", "plans.plan_ms",
            "plans.exchanges", "plans.codegen_stages", "jvm.heap_peak_mb"]
    must += [f"functions.{k}_ns_per_row" for k in KERNELS]
    if "queries" in spec:
        must += ["queries.build_ms"]
    else:
        must += ["context.sql_ms", "render.ms", "context.write_ms", "context.write_bytes",
                 "sources.ddl_ms"]
    zeros = [k for k in must if not values[k] > 0]
    if not traced:
        zeros.append("traced operations")
    return values, units, zeros


def overhead_pct(spec, result):
    """Traced minus untraced pass time, as a share of untraced (a traced run
    alternates traced and untraced passes)."""
    t = [p["s"] for p in result["passes_s"] if p["traced"] and p["ok"]]
    u = [p["s"] for p in result["passes_s"] if not p["traced"] and p["ok"]]
    if not t or not u:
        return 0.0
    return (statistics.median(t) / statistics.median(u) - 1.0) * 100.0


def summary(name, seed, spec, result, launched_ms, failures, attempted, p_tail):
    """Human-readable lines printed before the result line."""
    out = [f"[{name}] seed={seed} cores={spec['cores']} data={spec['data_dir']}"]
    def line(label, xs):
        if xs:
            p, v, ok = tail(xs, p_tail)
            note = "" if ok else " (fewer than 10 samples beyond)"
            out.append(f"  {label}: n={len(xs)} p50={statistics.median(xs):.2f} ms "
                       f"tail {p}={v:.2f} ms{note}")

    if "queries" in spec:
        line("query medians", latencies(spec, result))
        for q in spec["queries"]:
            xs = [o["ms"] for o in _ok_ops(result) if o["name"] == q]
            out.append(f"  {q}: " + " ".join(f"{x:.0f}" for x in xs) + " ms")
    else:
        line("ops", latencies(spec, result))
        for kind in ("read", "write"):
            line(kind, [o["ms"] for o in _ok_ops(result) if o["kind"] == kind])
    walls = [p["s"] for p in result["passes_s"]]
    out.append(f"  pass_s: median={statistics.median(walls):.3f} n={len(walls)} "
               f"({len(spec['passes'][0])} operations a pass)")
    out.append(f"  setup_s={setup_s(result, launched_ms):.3f} (JVM start "
               f"{(result['main_entered_ms'] - launched_ms) / 1000.0:.3f} s, session + DDL "
               f"{result['session_s']:.3f} s, warm-up {result['warmup_s']:.3f} s) "
               f"calib_s={result['calib_s']:.3f}")
    out.append(f"  failed_frac={len(failures) / max(1, attempted):.4f} "
               f"({len(failures)} of {attempted})")
    for f in failures:
        out.append(f"  FAILED {f['phase']} {f['name']}: {f['error'][:300]}")
    return "\n".join(out)
