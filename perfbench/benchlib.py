"""Metric arithmetic of the benchmark, kept apart from the runner so the
tests can cover it: percentiles and the ten-samples-beyond rule, span
self time, the metric-name grammar, result hashing, and the assembly of
end-to-end and per-layer metrics from the harness's raw observations."""
import hashlib
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

MiB = 1048576.0

# every per-layer metric the traced run reports, with its unit; a layer the
# workload does not exercise reports 0
LAYER_UNITS = {
    "session.build_ms": "ms", "session.warmup_ms": "ms", "inputs.generate_ms": "ms",
    "prime_ms": "ms", "unit.wall_ms": "ms", "unit.cpu_ms": "ms", "unit.program_cpu_ms": "ms",
    "unit.gc_cpu_ms": "ms",
    "gates.build_ms": "ms", "gates.eager_jobs": "count", "gates.action_ms": "ms",
    "plan.actions": "count", "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "jobs": "count", "stages": "count", "tasks": "count", "jobs.busy_ms": "ms",
    "driver.idle_ms": "ms", "scan.listing_jobs": "count", "scan.bytes_read": "bytes",
    "executor.run_ms": "ms", "executor.cpu_ms": "ms", "cores.busy_ratio": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.write_records": "count",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_ms": "ms", "spill.bytes": "bytes",
    "pins.created": "count", "pins.peak_mb": "MB", "pins.left_rdds": "count",
    "pins.left_mb": "MB",
    "stream.triggers": "count", "stream.trigger_ms": "ms", "stream.state_rows": "count",
    "task.run_ms": "ms", "task.rows_per_s": "rows/s", "task.wave1_ms": "ms",
    "task.wave2_ms": "ms", "task.max_parallel_tables": "count",
    "task.heartbeat_ticks": "count",
    "sync.recreate_ms": "ms", "sync.append_where_ms": "ms", "sync.append_bymax_ms": "ms",
    "sync.append_notin_ms": "ms", "sync.update_ms": "ms", "sync.rows_copied": "count",
    "io.bytes_written": "bytes", "io.files_written": "count", "io.write_amp": "ratio",
    "calc.run_ms": "ms", "calc.calculation_ms": "ms", "calc.copyback_ms": "ms",
    "calc.promote_ms": "ms",
    "jvm.gc_ms": "ms", "jvm.codecache_mb": "MB",
    "jobs.unattributed": "count", "trace.overhead_pct": "%", "trace.spans": "count",
}
SPAN_KINDS = ["workload", "pass", "gate", "gate.build", "gate.action", "release",
              "cycle", "task", "table", "calc", "calc.views", "calc.calculation",
              "calc.copyback", "calc.promote", "job"]
LAYER_UNITS.update({f"self.{k}_ms": "ms" for k in SPAN_KINDS})

# spans a Spark job may be attributed to: a gate, a table or a calc phase
ATTRIBUTABLE = {"gate.build", "gate.action", "table", "calc.views", "calc.calculation",
                "calc.copyback", "calc.promote"}


def quantile(values, q):
    """Linear interpolation between closest ranks (q in [0, 1])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable(n, pct):
    """A percentile is reported only with at least ten samples beyond it."""
    return n * (100 - pct) / 100.0 >= 10


def highest_reportable(n, candidates=(99, 95, 90, 80, 75)):
    return next((p for p in candidates if reportable(n, p)), None)


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. `spans` are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_ms(kids)
    return out


def frame_digest(df):
    """Row count and order-insensitive hash of a result frame. Columns are
    taken in name order and cells rendered as text the way the repository's
    oracle check compares them, so the hash matches whenever that check
    would."""
    cols = sorted(df.columns)
    acc = 0
    for row in df[cols].astype(str).itertuples(index=False, name=None):
        h = hashlib.blake2b("\x1f".join(row).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "big")) % (1 << 64)
    head = hashlib.blake2b("\x1f".join(cols).encode(), digest_size=4).hexdigest()
    return {"rows": int(len(df)), "hash": f"{head}-{acc:016x}"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw):
    """The metrics named in BENCHMARK.json, from a plain run, as CPU time
    of the program's own threads (JIT compiler threads excluded): on a
    shared host wall time swings with the neighbours' load, so the
    wall-time figures are printed in the workload summary instead.
    `setup_s` is the program's set-up: session build and warm-up action,
    the JVM's first use of Spark."""
    return {
        "setup_s": (raw["setup"]["program_cpu_ms"] / 1000.0, "s"),
        "pass_cpu_s": (median([u["program_cpu_ms"] for u in raw["units"]]) / 1000.0, "s"),
    }


def workload_summary(raw, failed, attempted):
    """The wall-time figures, with sample counts, printed above the result
    line under the names the workloads were specified with."""
    units = raw["units"]
    walls = [u["ms"] / 1000.0 for u in units]
    ms = [o["ms"] for o in raw["ops"] if o.get("ms") is not None and not o.get("error")]
    out = {"fail_ratio": (failed / attempted if attempted else 0.0, "ratio")}
    if raw["workload"] == "gates":
        out["tail_pass_s"] = (median(walls), "s")
        out["tail_query_p50_ms"] = (median(ms), "ms")
        pct = highest_reportable(len(ms))
        if pct is not None:
            out[f"tail_query_p{pct}_ms"] = (quantile(ms, pct / 100.0), "ms")
        out["passes"] = (len(units), "count")
    else:
        rows = [sum(o.get("rows_copied") or 0 for o in raw["ops"]
                    if o["unit"] == u["index"] and o["kind"] == "sync") for u in units]
        task = [u["task_ms"] / 1000.0 for u in units]
        out["cycle_s"] = (median(walls), "s")
        out["task_s"] = (median(task), "s")
        out["task_rows_per_s"] = (median([r / t for r, t in zip(rows, task) if t > 0]), "rows/s")
        out["calc_s"] = (median([u["calc_ms"] / 1000.0 for u in units]), "s")
        out["op_p50_ms"] = (median(ms), "ms")
        out["cycles"] = (len(units), "count")
    out["samples"] = (len(ms), "count")
    return out


def _events(unit):
    return sorted(unit.get("events", []), key=lambda e: e["t"])


def task_layers(unit, update_tables):
    """Orchestration figures of one cycle from the audit events."""
    ev = _events(unit)
    begins = {e["table"]: e["t"] for e in ev if e["status"] == "begin"}
    ends = {e["table"]: e["t"] for e in ev
            if e["status"].startswith("finished") or e["status"] == "error"}

    def wave(tables):
        b = [begins[t] for t in tables if t in begins]
        e = [ends[t] for t in tables if t in ends]
        return (max(e) - min(b)) if b and e else 0.0

    open_now = peak = 0
    for e in ev:
        if e["status"] == "begin":
            open_now += 1
            peak = max(peak, open_now)
        elif e["table"] in ends and e["t"] == ends[e["table"]]:
            open_now -= 1
    by_op = {}
    for t, b in begins.items():
        if t in ends:
            op = next(e["op"] for e in ev if e["table"] == t)
            by_op[op] = by_op.get(op, 0.0) + ends[t] - b
    return {
        "task.wave1_ms": wave([t for t in begins if t not in update_tables]),
        "task.wave2_ms": wave([t for t in begins if t in update_tables]),
        "task.max_parallel_tables": peak,
        "task.heartbeat_ticks": sum(1 for e in ev if e["status"] == "copying"),
        **{f"sync.{op}_ms": ms for op, ms in by_op.items()},
    }


def calc_layers(unit):
    at = {}
    for p in unit.get("calc_phases", []):
        at.setdefault(p["phase"], p["t"])
    started = [at[k] for k in ("copying", "local_copying") if k in at]

    def span(a, b):
        return (at[b] - at[a]) if a in at and b in at else 0.0
    return {
        "calc.calculation_ms": (min(started) - at["calculation"]) if started and "calculation" in at else 0.0,
        "calc.copyback_ms": span("copying", "finished_chora_copy"),
        "calc.promote_ms": span("local_copying", "finished_local_copy"),
    }


def job_spans(jobs):
    """Spark jobs as spans under the span that launched them."""
    return [{"id": f"job{j['id']}", "parent": int(j["span"]) if j["span"] else None,
             "kind": "job", "name": j["call_site"], "start": j["start"],
             "end": j["end"] if j["end"] is not None else j["start"]}
            for j in jobs]


def is_listing_job(job):
    """A file-listing or schema-inference job of a DataFrame reader: it runs
    outside any SQL execution."""
    site = job["call_site"]
    return not job["in_sql"] and ("parquet" in site or "Listing leaf files" in site)


def descendants(spans, root):
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


def unit_layers(raw, unit, cores, update_tables, bytes_per_row):
    """Per-layer figures of one traced unit."""
    m = {}
    probe = raw["probes"][str(unit["index"])]
    jobs = probe["jobs"]
    mine = [s for s in raw["spans"] if s["id"] == unit["root"]] + descendants(raw["spans"], unit["root"])
    kind_of = {s["id"]: s["kind"] for s in mine}
    spans = mine + job_spans(jobs)
    wall = unit["ms"]
    m["unit.wall_ms"] = wall
    m["unit.cpu_ms"] = unit["cpu_ms"]
    m["unit.program_cpu_ms"] = unit["program_cpu_ms"]
    m["unit.gc_cpu_ms"] = unit["gc_cpu_ms"]
    m["trace.spans"] = len(spans)
    selfs = self_times(spans)
    for s in spans:
        key = f"self.{s['kind']}_ms"
        m[key] = m.get(key, 0.0) + selfs[s["id"]]

    def owner(j):
        return kind_of.get(int(j["span"])) if j["span"] else None
    busy = union_ms([(j["start"], j["end"]) for j in jobs if j["end"] is not None])
    m["jobs"] = len(jobs)
    m["jobs.unattributed"] = sum(1 for j in jobs if owner(j) not in ATTRIBUTABLE)
    m["gates.eager_jobs"] = sum(1 for j in jobs if owner(j) == "gate.build")
    m["scan.listing_jobs"] = sum(1 for j in jobs if is_listing_job(j))
    m["jobs.busy_ms"] = busy
    m["driver.idle_ms"] = wall - busy
    for key, field in [("stages", "stages"), ("tasks", "tasks"), ("scan.bytes_read", "input_bytes"),
                       ("executor.run_ms", "run_ms"), ("executor.cpu_ms", "cpu_ms"),
                       ("shuffle.write_bytes", "shuffle_write_bytes"),
                       ("shuffle.write_records", "shuffle_write_records"),
                       ("shuffle.read_bytes", "shuffle_read_bytes"),
                       ("shuffle.fetch_wait_ms", "fetch_wait_ms"), ("spill.bytes", "spill_bytes"),
                       ("io.bytes_written", "output_bytes")]:
        m[key] = sum(j[field] for j in jobs)
    m["cores.busy_ratio"] = m["executor.run_ms"] / (wall * cores) if wall > 0 else 0.0
    for k, v in probe["plan"].items():
        m[f"plan.{k}"] = v
    m["pins.created"] = probe["pins"]["created"]
    m["pins.peak_mb"] = probe["pins"]["peak_bytes"] / MiB
    for group in ("stream", "jvm"):
        for k, v in probe[group].items():
            m[f"{group}.{k}"] = v

    ops = [o for o in raw["ops"] if o["unit"] == unit["index"]]
    gate_ops = [o for o in ops if o["kind"] == "gate"]
    m["gates.build_ms"] = sum(o["build_ms"] for o in gate_ops)
    m["gates.action_ms"] = sum(o["action_ms"] for o in gate_ops)
    m["pins.left_rdds"] = sum(o["pins_left_rdds"] for o in gate_ops)
    m["pins.left_mb"] = sum(o["pins_left_bytes"] for o in gate_ops) / MiB
    if unit["kind"] == "cycle":
        rows = sum(o.get("rows_copied") or 0 for o in ops if o["kind"] == "sync")
        m["task.run_ms"] = unit["task_ms"]
        m["task.rows_per_s"] = rows / (unit["task_ms"] / 1000.0) if unit["task_ms"] > 0 else 0.0
        m["sync.rows_copied"] = rows
        m["calc.run_ms"] = unit["calc_ms"]
        m["io.files_written"] = unit["files_written"]
        delivered = sum((o.get("rows_copied") or 0) * (bytes_per_row or {}).get(o["name"], 0.0)
                        for o in ops if o["kind"] == "sync")
        m["io.write_amp"] = m["io.bytes_written"] / delivered if delivered > 0 else 0.0
        m.update(task_layers(unit, set(update_tables)))
        m.update(calc_layers(unit))
    return m


def layers(raw, inputs_ms, cores, update_tables=(), bytes_per_row=None):
    """Per-layer metrics: each is the mean over the traced units of its
    value per unit (a pass or a cycle). A layer the workload does not
    exercise is 0."""
    m = {k: 0.0 for k in LAYER_UNITS}
    m["session.build_ms"] = raw["setup"]["build_ms"]
    m["session.warmup_ms"] = raw["setup"]["warmup_ms"]
    m["inputs.generate_ms"] = inputs_ms
    m["prime_ms"] = raw.get("prime_ms", 0.0)
    traced = [u for u in raw["units"] if u.get("traced")]
    plain = [u for u in raw["units"] if not u.get("traced")]
    if traced and plain:
        m["trace.overhead_pct"] = (median([u["ms"] for u in traced]) /
                                   median([u["ms"] for u in plain]) - 1.0) * 100.0
    per = [unit_layers(raw, u, cores, update_tables, bytes_per_row) for u in traced]
    for k in m:
        vals = [p[k] for p in per if k in p]
        if vals:
            m[k] = sum(vals) / len(vals)
    return m
