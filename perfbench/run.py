#!/usr/bin/env python3
"""Benchmark of the CCSDS telemetry ETL, run from bytes as a user runs it.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (output under .bench_build/); later runs
reuse that build. Each run generates its inputs from --seed (gen.py),
starts one JVM on local[nproc], and checks every output the program wrote
against the generator's own model outside the timed region (check.py).
The traced run of ingest_framed_wide also runs the registry section: a
fixed subset of the query registry on the committed sf0.001 tables, in
seed order, its results checked against the DuckDB oracle by
scripts/check_correctness.py. The last line of standard output is one
JSON object: correct, attempted, failed and the metrics (end-to-end
untraced, per-layer traced), named as in BENCHMARK.json.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
ORACLE = os.path.join(ROOT, "scripts", "check_correctness.py")
# the workload whose traced run also runs the registry section
REGISTRY_HOST = "ingest_framed_wide"
# the repository's sf0.001 test tables, as committed under data/
REGISTRY_DATA = os.path.join(HERE, "data", "sf0.001")
# the cheapest query of every family at this size, fixed so every seed
# runs the same work; e3, j1 and t15 build staged artifacts (TempDirs)
REGISTRY_QUERIES = [
    "c2_length_histogram", "d1_exact_dedup", "e3_cluster_quality",
    "j1_jsonl_ingest", "m3_frame_sample", "p1_doc_pipeline", "q8_sort_limit",
    "s1_cosine_topk", "st1_stream_window", "t15_v2_pushdown",
    "u2_domain_stats", "x22_hash_split",
]

# layout, packets, passes, and the set-up's warm-up: packets in one pass,
# runs. Framed repetitions take seconds, so the JIT must be warm before
# them; tidy's one repetition is mostly single-threaded plan building.
WORKLOADS = {
    "ingest_files_tidy": ("files", 60_000, 24, 400, 1),
    "ingest_framed_wide": ("framed", 200_000, 1, 200_000, 4),
}
HEAP = "3g"
# what spark-submit passes on JDK 17; the same list as build.sbt's
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    (sbt's launcher script leaves a JVM child) and wait for it."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(f"perfbench: {cmd[0]} timed out after {timeout:.0f} s")
    return proc.returncode, out, err


def build():
    """Compile the program and harness once per checkout; True if it ran."""
    if os.path.exists(CLASSPATH):
        return False
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources at src/main/scala")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's scratch files (sockets, native libraries) go under .bench_build
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        "-Dsbt.boot.lock=false", f"-Djava.io.tmpdir={tmp}",
        f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData"]),
        # also for the JVMs the sbt launcher script starts on its own
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    rc, out, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        timeout=840, cwd=HERE, env=env, stderr=subprocess.STDOUT)
    cp = [ln for ln in out.splitlines() if ".bench_build" in ln
          and not ln.startswith("[")]
    if rc != 0 or not cp:
        log(out[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    return True


def harness(workload, work, seconds, trace, warm_runs, cpus, deadline):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the run writes nothing outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp] + opens +
           ["perfbench.Harness", workload, work, str(seconds), str(trace),
            str(warm_runs), str(cpus)])
    rc, out, err = run_group(cmd, timeout=max(10, deadline - time.time()),
                             stderr=subprocess.PIPE)
    for ln in err.splitlines():
        if ln.startswith("perfbench:"):
            log(ln)
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if rc != 0 or not lines:
        log(err[-4000:])
        raise SystemExit(f"perfbench: harness exited {rc}")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def metric_specs(trace):
    """Name and unit of every metric the run must print, from
    BENCHMARK.json; traced, with layers.json's method and target joined."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = bench["per_layer" if trace else "end_to_end"]
    if trace:
        with open(os.path.join(HERE, "layers.json")) as f:
            layers = json.load(f)
        info = layers["metrics"]
        names = {m["name"] for m in specs}
        if names != set(info):
            raise SystemExit("perfbench: per-layer metrics differ between "
                             f"BENCHMARK.json and layers.json: {sorted(names ^ set(info))}")
        specs = [dict(m, **info[m["name"]]) for m in specs]
        return specs, layers["workloads"]
    return specs, None


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    specs, loads = metric_specs(a.trace)
    # a run may take 180 s, the first one in a checkout 900 s (it builds)
    deadline = start + (880 if build() else 172)
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    try:
        layout, packets, passes, warm_packets, warm_runs = WORKLOADS[a.workload]
        model = gen.generate(layout, a.seed, work, packets, passes)
        # a small input of the same layout for the set-up's warm-up
        gen.generate(layout, a.seed + 1, os.path.join(work, "warmup"),
                     warm_packets, 1)
        if a.trace and a.workload == REGISTRY_HOST:
            order = REGISTRY_QUERIES[:]
            random.Random(a.seed).shuffle(order)
            with open(os.path.join(work, "registry.json"), "w") as f:
                json.dump({"data": REGISTRY_DATA, "queries": order}, f)
        res = harness(a.workload, work, a.seconds, a.trace, warm_runs, cpus,
                      deadline)
        values, attempted, failed = (
            traced(res, model, work) if a.trace else untraced(res, model))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = {}
    for m in specs:
        name = m["name"]
        if a.trace and layer_of(name) not in loads[a.workload]["loads"]:
            value = 0.0  # a layer this workload leaves idle
        elif name in values:
            value = values[name]
        elif layer_of(name) == "staging":
            value = 0.0  # an artifact this run did not stage
        else:
            raise SystemExit(f"perfbench: {a.workload} gave no {name}")
        metrics[name] = {"value": value, "unit": m["unit"]}
        if a.trace:
            log(f"{name:32s} {value:>13.6g} {m['unit']:6s} {m['method']:9s} {m['moves']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def layer_of(name):
    return name.split(".", 1)[0]


def untraced(res, model):
    """End-to-end metrics over the timed repetitions; every repetition's
    output is checked against the model."""
    failed = 0
    samples = nbytes = 0
    for i, rep in enumerate(res["reps"]):
        ok = rep["status"] == "success"
        if ok:
            out = check.check(model, rep["dir"], rep["rows"])
            ok = not out["errors"]
            for e in out["errors"][:5]:
                log(f"rep {i}: {e}")
            samples, nbytes = out["samples"], out["bytes"]
        failed += 0 if ok else 1
    reps = res["rep_s"]
    wall = median(reps)
    log(f"set-up {res['setup_s']:.3f} s; repetitions (s) {reps}")
    return {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "packets_per_s": model["packets"] / wall,
        "out_bytes_per_sample": nbytes / max(1, samples),
        "ops_ok_ratio": 1 - failed / len(reps),
    }, len(reps), failed


def traced(res, model, work):
    """Per-layer metrics of one traced run; its output is checked too, and
    so are the registry section's results."""
    out = check.check(model, res["dir"], res["rows"])
    for e in out["errors"][:5]:
        log(f"traced: {e}")
    failed = 0 if res["status"] == "success" and not out["errors"] else 1
    attempted = 1
    values = dict(res)
    values["sources.keep_ratio"] = res["sources.packets_out"] / model["packets"]
    values["decom.fanout"] = res["decom.samples_out"] / max(1, res["sources.packets_out"])
    values["sinks.files_written"] = out["files"]
    values["sinks.bytes_written"] = out["bytes"]
    if "registry" in res:
        a, f = registry(res["registry"], work)
        attempted += a
        failed += f
        staging = res["registry"]["staging"]
        for k, v in staging.items():
            values[f"staging.{k}_s"] = v
        values["staging.total_s"] = sum(staging.values())
    return values, attempted, failed


def registry(res, work):
    """Every query of every timed pass is one operation. The check pass's
    results go through scripts/check_correctness.py against the DuckDB
    oracle; a pass's query fails if it raised, if the oracle check of that
    query failed, or if its row count differs from the checked one."""
    report = os.path.join(work, "oracle.json")
    proc = subprocess.run([sys.executable, ORACLE, REGISTRY_DATA,
                           res["check_dir"], report],
                          capture_output=True, text=True, timeout=120)
    with open(report) as f:
        verdict = json.load(f)["queries"]
    for ln in proc.stdout.splitlines():
        if ln.strip() and not ln.startswith(("PASS", "wrote")):
            log(f"oracle: {ln}")
    attempted = failed = 0
    for i, p in enumerate(res["passes"]):
        for name in REGISTRY_QUERIES:
            v = verdict.get(name, {})
            ok = v.get("status") == "pass" and p.get(name) == v.get("rows")
            if not ok:
                log(f"registry pass {i}: {name} rows {p.get(name)}, oracle {v}")
            attempted += 1
            failed += 0 if ok else 1
    log(f"registry: {len(res['passes'])} passes; staging {res['staging']}")
    return attempted, failed


if __name__ == "__main__":
    main()
