#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the benchmark from the checkout's sources (sbt,
once per source digest), generates the input tables, runs one JVM at
local[nproc] per set-up, checks every output, and prints as its last
stdout line {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The line before it is the full report, also kept under
.bench_build/perfbench/results/. Workloads, metrics and bounds are in
BENCHMARK.json; perfbench/NOTES.md explains them.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import tables  # noqa: E402

TABLE_SF, TABLE_SEED = 0.001, 42
# A stream_open row later than this counts as failed.
LATE_MS = 5000
JVM_TIMEOUT_S = 170
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha1()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + benchmark; returns the runtime classpath."""
    sources = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    sources += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    src_digest = digest(sources)
    stamp = os.path.join(WORK, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            known = json.load(f)
        if known["digest"] == src_digest:
            return known["classpath"], src_digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=840).returncode
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (rc={rc}), see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": src_digest, "classpath": lines[-1]}, f)
    return lines[-1], src_digest


def table_dir():
    d = os.path.join(WORK, f"tables-sf{TABLE_SF}-seed{TABLE_SEED}")
    stamp = os.path.join(d, "digest")
    want = digest([os.path.join(HERE, "tables.py")])
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        shutil.rmtree(d, ignore_errors=True)
        tables.write(d, TABLE_SF, TABLE_SEED)
        with open(stamp, "w") as f:
            f.write(want)
    return d


def oracle_answers(classpath, data, src_digest):
    """The oracle's answer to every gate of every workload, computed once
    per source and table digest, before any benchmark JVM runs, so that a
    run's check only reads the run's own outputs."""
    path = os.path.join(WORK, "oracle-answers.json")
    with open(os.path.join(data, "digest")) as f:
        key = src_digest + f.read()
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
        if known["digest"] == key:
            return known["answers"]
    sql_path = os.path.join(WORK, "oracle_sql.json")
    r = subprocess.run(main_cmd(classpath, [], ["--oracles", sql_path]), stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=120)
    if r.returncode != 0:
        fail(f"writing the oracle SQL failed (rc={r.returncode}): {r.stderr[-500:]}")
    with open(sql_path) as f:
        answers = oracle.answers(data, json.load(f))
    with open(path, "w") as f:
        json.dump({"digest": key, "answers": answers}, f)
    return answers


def fs_probe_mb_s(dir_, mb=64):
    """Write-and-fsync throughput of the checkout's filesystem."""
    path = os.path.join(dir_, "fsprobe")
    buf = os.urandom(1 << 20)
    t0 = time.monotonic()
    with open(path, "wb") as f:
        for _ in range(mb):
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    secs = time.monotonic() - t0
    os.remove(path)
    return mb / secs


def fingerprint(nproc, src_digest):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"nproc": nproc, "mem_total_mb": mem_total_mb(), "master": f"local[{nproc}]",
            "tables": f"sf{TABLE_SF} seed {TABLE_SEED}", "commit": commit,
            "source_sha1": src_digest}


def main_cmd(classpath, jvm_opts, args):
    """The command line of perfbench.Main."""
    return (["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            jvm_opts + ["-cp", classpath, "perfbench.Main"] + args)


def jvm(classpath, run_dir, args):
    """Runs one benchmark JVM; returns (result dict, seconds until ready)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap, so peak RSS does not follow the collector's resizing
    heap = f"{min(2048, mem_total_mb() // 4)}m"
    cmd = main_cmd(classpath, [
        f"-Xms{heap}", f"-Xmx{heap}", "-Xmn512m", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'conf', 'log4j2.properties')}"],
        ["--out", run_dir] + args)
    t0 = time.monotonic()
    ready = None
    with open(os.path.join(run_dir, "stderr.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                             text=True)
        killer = threading.Timer(JVM_TIMEOUT_S, p.kill)
        killer.start()
        try:
            for line in p.stdout:
                if ready is None and line.strip() == "perfbench: ready":
                    ready = time.monotonic() - t0
            rc = p.wait()
        finally:
            killer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    res_path = os.path.join(run_dir, "result.json")
    if rc != 0 or ready is None or not os.path.exists(res_path):
        fail(f"benchmark JVM failed (rc={rc}), see {run_dir}/stderr.log")
    with open(res_path) as f:
        return json.load(f), ready


def mem_total_mb():
    with open("/proc/meminfo") as f:
        return next(int(l.split()[1]) for l in f if l.startswith("MemTotal:")) // 1024


def pctl(xs, q):
    """Percentile q (0-100) by linear interpolation."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summary(xs):
    """Median, sample count, and the highest percentile with ten samples beyond it."""
    n = len(xs)
    top = (100 * (n - 10) // n) if n > 10 else None
    return {"median": statistics.median(xs), "n": n,
            "top_pctl": top, "top_value": pctl(xs, top) if top else None}


def run_jvm(a, classpath, data, run_dir, nproc):
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--cpus", str(nproc),
            "--outputs", os.path.join(run_dir, "outputs")]
    res, ready = jvm(classpath, run_dir, args)
    res["setup_s"] = ready
    return res


def check_outputs(res, data, known, run_dir):
    """The number of gates whose output the run should have written, and
    the oracle's verdict on each that it wrote. A gate left out for time
    is one of the run's failures (res["failures"]), not checked here."""
    out_dir = os.path.join(run_dir, "outputs")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    attempted = len(oracles)
    for g in res.get("skipped", []):
        oracles.pop(g)
    verdict = oracle.check_gates(data, out_dir, oracles, known)
    return attempted, {g: v for g, v in verdict.items() if v}


def gate_report(a, res, data, known, run_dir):
    checked, wrong = check_outputs(res, data, known, run_dir)
    passes = res["passes"]
    errors = res["failures"]
    # a traced run adds the local[1] pass over the timed gates
    attempted = checked + sum(len(p["gates"]) for p in passes) + (
        len(passes[0]["gates"]) if a.trace else 0)
    report = {"attempted": attempted, "failed": len(errors) + len(wrong), "wrong": wrong,
              "errors": errors}
    untraced = [p for p in passes if not p["traced"]]
    walls = [p["wall_s"] for p in untraced]
    # a gate's latency is its median over the passes; the percentiles run
    # across gates, whose times differ by up to tenfold
    gate_ms = [statistics.median(p["gates"][g] for p in untraced) * 1e3
               for g in untraced[0]["gates"]]
    report["end_to_end"] = {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(walls),
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in untraced),
        "peak_rss_mb": res["peak_rss_mb"],
        "emit_lat_ms_p50": pctl(gate_ms, 50),
        "emit_lat_ms_p99": pctl(gate_ms, 99),
    }
    report["samples"] = {"pass_s": summary(walls), "emit_lat_ms": summary(gate_ms)}
    report["ext_cpu_s"] = sum(p["ext_cpu_s"] for p in untraced)
    report["window_s"] = sum(walls)
    report["setup"] = {k: res[k] for k in ("session_s", "warmup_s", "warmup_gates")}
    if a.trace:
        layers = {k: statistics.median(l[k] for l in res["layers"]) for k in res["layers"][0]}
        # each traced pass against the mean of its untraced neighbours,
        # which cancels the passes' warm-up trend
        w = [p["wall_s"] for p in passes]
        layers["trace.overhead_s"] = statistics.median(
            w[i] - (w[i - 1] + w[i + 1]) / 2 for i in range(1, len(w) - 1, 2))
        layers["baseline.local1_pass_s"] = res.get("local1_pass_s", 0.0)
        layers["baseline.parallel_efficiency"] = (
            layers["baseline.local1_pass_s"] / (res["cpus"] * statistics.median(walls)))
        trace_detail(report, res, layers)
    return report


def trace_detail(report, res, layers):
    """Fills the per-layer metrics that come from the traced gates."""
    layers["streaming.machinery_ms_per_trigger"] = machinery(layers)
    lanes = res["lanes"]
    lane_total = sum(sum(d.values()) for d in lanes.values())
    text = sum(d.get("graft-cs:text", 0.0) for d in lanes.values())
    layers["streaming.text_lane_share"] = text / lane_total if lane_total else 0.0
    per_gate = {}
    for g, ls in res["gate_layers"].items():
        d = {k: statistics.median(l[k] for l in ls) for k in ls[0]}
        d["streaming.machinery_ms_per_trigger"] = machinery(d)
        per_gate[g] = d
        layers[f"gate.{g}.wall_s"] = d["wall_s"]
    report["per_layer"] = layers
    report["per_gate"] = per_gate
    report["lanes_task_s"] = lanes
    report["skipped"] = res.get("skipped", [])


def machinery(layers):
    """Trigger time spent outside addBatch, per trigger (ms)."""
    n = layers["streaming.triggers"]
    return (layers["streaming.trigger_ms"] - layers["streaming.add_batch_ms"]) / n if n else 0.0


def open_report(a, res, data, known, run_dir):
    emits = res["emits"]
    wrong = oracle.check_open(emits, res["admitted"], a.seed)
    w = next(w for w in res["windows"] if not w["traced"])
    ms = [e[5] - e[3] for e in emits if w["start_ms"] <= e[5] <= w["end_ms"]]
    late = sum(1 for x in ms if x > LATE_MS)
    # a growing backlog: latency in the window's last tenth exceeds its
    # first tenth's by a whole rate-second
    tenth = (w["end_ms"] - w["start_ms"]) / 10
    head = [e[5] - e[3] for e in emits if w["start_ms"] <= e[5] <= w["start_ms"] + tenth]
    tail = [e[5] - e[3] for e in emits if w["end_ms"] - tenth <= e[5] <= w["end_ms"]]
    backlog = int(bool(head and tail) and statistics.median(tail) > statistics.median(head) + 1000)
    # a window in which no trigger with rows even started is a stalled loop
    trig_ms = w["trigger_ms"] or [w["wall_s"] * 1e3]
    backlog = max(backlog, int(not w["trigger_ms"]))
    report = {"attempted": len(emits) + 2, "failed": wrong + late + backlog, "wrong": wrong,
              "late": late, "backlog": backlog, "rate": res["rate"],
              "admitted": res["admitted"]}
    report["end_to_end"] = {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(trig_ms) / 1e3,
        "pass_cpu_s": w["cpu_s"] / len(trig_ms),
        "peak_rss_mb": res["peak_rss_mb"],
        "emit_lat_ms_p50": pctl(ms or [w["wall_s"] * 1e3], 50),
        "emit_lat_ms_p99": pctl(ms or [w["wall_s"] * 1e3], 99),
    }
    report["samples"] = {"pass_s": summary([t / 1e3 for t in trig_ms]),
                         "emit_lat_ms": summary(ms or [w["wall_s"] * 1e3])}
    report["ext_cpu_s"] = w["ext_cpu_s"]
    report["window_s"] = w["wall_s"]
    report["setup"] = {k: res[k] for k in ("session_s", "warmup_s")}
    if a.trace:
        checked, wrong_gates = check_outputs(res, data, known, run_dir)
        report["attempted"] += checked
        report["failed"] += len(wrong_gates) + len(res["failures"])
        report["wrong_gates"], report["errors"] = wrong_gates, res["failures"]
        on = [x for v in res["windows"] if v["traced"] for x in v["trigger_ms"]]
        off = [x for v in res["windows"] if not v["traced"] for x in v["trigger_ms"]]
        layers = dict(res["layers"][0])
        layers["trace.overhead_s"] = (statistics.median(on or off) -
                                      statistics.median(off or on or [0])) / 1e3
        trace_detail(report, res, layers)
    return report


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the program's sources are missing ({need}); run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    classpath, src_digest = build()
    data = table_dir()
    known = oracle_answers(classpath, data, src_digest)
    nproc = len(os.sched_getaffinity(0))
    host = fingerprint(nproc, src_digest)
    host["fs_write_mb_s"] = fs_probe_mb_s(WORK)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    res = run_jvm(a, classpath, data, run_dir, nproc)  # a failed JVM keeps its run_dir
    host["jdk"], host["spark"] = res["jdk"], res["spark"]
    report = (open_report if a.workload == "stream_open" else gate_report)(
        a, res, data, known, run_dir)
    shutil.rmtree(run_dir, ignore_errors=True)
    # another process busy for more than a quarter of one core on average
    # over the measured window makes the run contended
    report["contended"] = report["ext_cpu_s"] > 0.25 * report["window_s"]
    report.update({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "host": host, "failed_share":
                   report["failed"] / report["attempted"]})
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = report["per_layer"] if a.trace else report["end_to_end"]
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.json"), "w") as f:
        json.dump(report, f)
    print(json.dumps(report))
    print(json.dumps({"correct": report["failed"] == 0, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
