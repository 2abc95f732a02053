#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload gates_tail --seed 1 --seconds 5 --trace 0

From the repository root. The first run in a checkout builds the harness
and the program with sbt (offline, from the local dependency cache); later
runs reuse the build until a source file changes. `--trace 0` measures the
end-to-end metrics with tracing off; `--trace 1` runs two plain and two
traced units, reports the per-layer metrics and the tracing overhead, and
writes the spans to perfbench/out/. Every operation's output is
checked; the last stdout line is the JSON result and the exit code is 1
when a check failed. See perfbench/README.md.
"""
import argparse
import decimal
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import etl_inputs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures", "sf0.1")
EXPECTED = os.path.join(HERE, "expected_gates.json")
DEADLINE_S = 175          # a run must end within 180 s once built
BUILD_TIMEOUT_S = 850
# Added to the program's own JVM options (its heap limit included):
# - a fixed set of JIT compiler threads, so none exits with CPU time the
#   per-thread accounting would then miss;
# - a fixed initial heap and young generation. G1 otherwise sizes both from
#   its pause times, which stretch with the host's load, and the GC CPU
#   time of identical units then varied from 0.1 s to 5.7 s on a 4-vCPU
#   machine. Spark sizes its memory from the heap limit, which is unchanged.
JVM_FLAGS = ["-XX:-UseDynamicNumberOfCompilerThreads", "-Xms2g", "-Xmn512m"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and kills the whole group if it
    outlives `timeout`, so no child is left behind."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def fingerprint():
    """Hash of every source and build file the harness build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project"),
             os.path.join(REPO, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else []
        for d, dirs, files in os.walk(root):
            dirs[:] = sorted(x for x in dirs if x != "target")
            paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def ensure_build():
    """Returns the launch spec (classpath and JVM options), building first
    when the sources changed since the last build in this checkout."""
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala"))):
        fail("the program's sources are missing: expected build.sbt and src/main/scala "
             "in the directory above the benchmark")
    target = os.path.join(HERE, "target")
    cached = os.path.join(target, f"launch-{fingerprint()}.json")
    if os.path.isfile(cached):
        with open(cached) as f:
            spec = json.load(f)
        if all(os.path.exists(p) for p in spec["classpath"]):
            return spec
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log_path = os.path.join(target, "build.log")
    with open(log_path, "w") as log:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchSpec"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.relpath(log_path, REPO)}")
    shutil.copyfile(os.path.join(target, "launch.json"), cached)
    with open(cached) as f:
        return json.load(f)


def same_value(a, b):
    try:
        return decimal.Decimal(a) == decimal.Decimal(b)
    except decimal.InvalidOperation:
        return a == b


def verify_gates(raw, work):
    """Failed operations (one message each): gate executions that threw,
    check-pass results that differ from the committed DuckDB expectation,
    and timed `count()`s that differ from its row count. Returns
    (messages, failed, attempted)."""
    import pyarrow.parquet as pq
    with open(EXPECTED) as f:
        expected = json.load(f)["gates"]
    failed = []
    for c in raw["check"]:
        name = c["name"]
        if c["error"]:
            failed.append(f"{name}: {c['error']}")
            continue
        got = benchlib.frame_digest(pq.ParquetDataset(os.path.join(work, "check", name)).read().to_pandas())
        if got != expected.get(name):
            failed.append(f"{name}: result {got} != expected {expected.get(name)}")
    for o in raw["ops"]:
        if o.get("error"):
            failed.append(f"pass {o['unit']} {o['name']}: {o['error']}")
        elif o["rows"] != expected[o["name"]]["rows"]:
            failed.append(f"pass {o['unit']} {o['name']}: count() {o['rows']} "
                          f"!= {expected[o['name']]['rows']}")
    return failed, len(failed), len(raw["check"]) + len(raw["ops"])


def verify_etl(raw, spec):
    """Failed operations: syncs or calcs that threw, and those whose target
    differs from the generator's prediction in a timed cycle. Returns
    (messages, failed, attempted)."""
    expected = etl_inputs.predict(spec, raw["bound_calc_sql"])
    failed = [f"prime: {e}" for e in raw.get("prime_errors", [])]
    n_failed = len(failed)
    bad = set()
    for cyc in raw["etl_checks"]:
        for target, want in expected.items():
            got = cyc["targets"].get(target, {})
            if set(got) != set(want) or not all(same_value(got[k], want[k]) for k in want):
                bad.add((cyc["unit"], etl_inputs.CHECK_OP[target]))
                failed.append(f"cycle {cyc['unit']} {target}: {got} != expected {want}")
    for o in raw["ops"]:
        if o.get("error") and (o["unit"], o["name"]) not in bad:
            bad.add((o["unit"], o["name"]))
            failed.append(f"cycle {o['unit']} {o['name']}: {o['error']}")
    prime_ops = len(spec["tables"]) + 1
    return failed, n_failed + len(bad), len(raw["ops"]) + prime_ops


def main():
    t_entry = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    launch = ensure_build()
    t_built = time.monotonic()
    if not os.path.isdir(FIXTURES):
        fail("fixtures missing: perfbench/fixtures/sf0.1")

    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cores = len(os.sched_getaffinity(0))
        jvm_args = ["--workload", wl["harness"], "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--fixtures", FIXTURES, "--work", work, "--cores", str(cores),
                    "--out", os.path.join(work, "raw.json"),
                    "--min-units", str(wl["min_units"])]
        inputs_ms, spec = 0.0, None
        if wl["harness"] == "gates":
            jvm_args += ["--gates", ",".join(wl["gates"])]
        else:
            g0 = time.monotonic()
            spec = etl_inputs.generate(FIXTURES, os.path.join(work, "etl"), args.seed,
                                       wl["copies"], wl["heartbeat_ms"])
            inputs_ms = (time.monotonic() - g0) * 1000.0
            spec_path = os.path.join(work, "etl_spec.json")
            with open(spec_path, "w") as f:
                json.dump(spec, f)
            jvm_args += ["--etl-spec", spec_path]

        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        # keep the JVM's scratch files inside the work directory
        cmd = ["java", *launch["javaOptions"], *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
               "-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main", *jvm_args]
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            budget = DEADLINE_S - 15 - (time.monotonic() - t_built)
            rc = run_group(cmd, budget, stdout=log, stderr=subprocess.STDOUT)
        if rc != 0:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail("the harness JVM " + ("timed out" if rc is None else f"exited with {rc}"))
        with open(os.path.join(work, "raw.json")) as f:
            raw = json.load(f)

        t_jvm = time.monotonic()
        if wl["harness"] == "gates":
            failures, n_failed, attempted = verify_gates(raw, work)
        else:
            failures, n_failed, attempted = verify_etl(raw, spec)
        for msg in failures[:20]:
            print(f"perfbench: FAILED {msg}", file=sys.stderr)
        print(f"perfbench: wall build={t_built - t_entry:.1f}s inputs={inputs_ms / 1000:.1f}s "
              f"jvm={t_jvm - t_built - inputs_ms / 1000:.1f}s verify={time.monotonic() - t_jvm:.1f}s "
              f"setup={(raw['setup']['build_ms'] + raw['setup']['warmup_ms']) / 1000:.1f}s "
              f"prime={raw['prime_ms'] / 1000:.1f}s "
              f"units={[round(u['ms'] / 1000, 1) for u in raw['units']]} "
              f"cpu={[round(u['program_cpu_ms'] / 1000, 2) for u in raw['units']]} "
              f"gc={[round(u['gc_cpu_ms'] / 1000, 2) for u in raw['units']]}",
              file=sys.stderr)

        summary = benchlib.workload_summary(raw, n_failed, attempted)
        if args.trace:
            update = ["wh." + t["table"] for t in spec["tables"] if t["op"] == "update"] if spec else []
            bpr = etl_inputs.source_bytes_per_row(spec) if spec else None
            values = benchlib.layers(raw, inputs_ms, cores, update, bpr)
            metrics = {k: (values[k], benchlib.LAYER_UNITS[k]) for k in benchlib.LAYER_UNITS}
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            trace_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.trace.json")
            jobs = [j for p in raw["probes"].values() for j in p["jobs"]]
            with open(trace_path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "overhead_pct": values["trace.overhead_pct"],
                           "metrics": values, "units": raw["units"],
                           "spans": raw["spans"] + benchlib.job_spans(jobs), "jobs": jobs}, f)
            print(f"perfbench: spans written to {os.path.relpath(trace_path, REPO)}")
        else:
            metrics = benchlib.end_to_end(raw)

        print("perfbench: " + args.workload + " " + " ".join(
            f"{k}={v:.6g}{u if u in ('s', 'ms') else ' ' + u}" for k, (v, u) in summary.items()))
        print("perfbench: " + " ".join(f"{k}={v:.6g} {u}" for k, (v, u) in metrics.items()))
        print(json.dumps({"correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        return 0 if n_failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
