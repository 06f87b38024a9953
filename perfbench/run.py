#!/usr/bin/env python3
"""graft benchmark: two closed-loop workloads, one caller each, on
local[nproc], driven through the engine's public entry points.

    python3 perfbench/run.py --workload dag_ticks --seed 1 --seconds 26 --trace 0

  dag_ticks     op = one graft.Dag.run tick at a logical `now`
  stream_dedup  op = one StreamingEtl.runDedupGate micro-batch

Run from the repository root. The first run compiles the engine and the
harness (perfbench/build.py). Inputs are generated from --seed
(perfbench/gen.py). The harness starts and prepares the session five
times and reports the median as setup_s, warms up with one untimed pass,
then measures as many passes of the workload's fixed op sequence as fill
about --seconds. --trace 0 reports the end-to-end metrics. --trace 1
alternates plain and traced passes and reports per-layer metrics, with
spans written to .bench_build/out/spans-*.jsonl; a traced dag_ticks run
also times the catalog slice (op = one SparkEntry.queries(name) build
plus a noop write) for the catalog.* and spark.build_* metrics. A
per-layer metric of a layer the run does not reach reads 0.

Outputs are checked (perfbench/checks.py); an op that threw or whose
outputs are wrong counts as failed. The last stdout line is one JSON
object with correct, attempted, failed and metrics. A record of the run
(Spark conf, load average, CPU steal, raw timings) goes to
.bench_build/out/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build    # noqa: E402
import checks   # noqa: E402
import gen      # noqa: E402

ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
JVM_TIMEOUT_S = 165

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def position_medians(ops):
    """Latency of each op of the fixed sequence (tick_0 .. tick_3, batch_0,
    batch_1) in sequence order, the median over the run's passes. A rank
    taken over all of a run's ops falls between ops of different positions,
    and which side it lands on flips with the drift between passes; per
    position it does not.
    """
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["seconds"])
    return [statistics.median(v) for v in by_name.values()]


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


def run_jvm(classpath, args, log_path):
    # log4j2 reads its level from the properties file; Spark adds nothing
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={args['work']}/tmp",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false"] + JAVA_OPTS +
           ["-cp", classpath, "perfbench.Main"] +
           [x for k, v in args.items() for x in (f"--{k}", str(v))])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness JVM exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def end_to_end(raw, bad, ratios):
    plain_ops = [o for o in raw["ops"] if not o["traced"]]
    plain_passes = raw["pass_s"]["plain"]
    # a plain run measures three passes, 12 ticks or 6 batches, too few
    # ops for ten to lie beyond any percentile: the tail is the late half
    # of the sequence, the ops that read the most history
    lat = position_medians(plain_ops)
    rows_per_s = sum(o["rows"] for o in plain_ops) / sum(plain_passes)
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "pass_s": statistics.median(plain_passes),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": statistics.mean(lat[len(lat) // 2:]),
        "rows_per_s": rows_per_s,
        "ok_frac": 1.0 - len(bad) / len(raw["ops"]),
        "stored_bytes_per_input_byte": statistics.median(ratios) if ratios else 0.0,
    }


def per_layer(raw):
    layers = dict(raw["layers"])
    layers.update(raw.get("catalog", {}).get("layers", {}))
    # a traced run measures plain, traced, plain: the median of the two
    # plain passes is their mean, which cancels a steady warm-up drift
    u = statistics.median(raw["pass_s"]["plain"])
    layers["trace.overhead_frac"] = (statistics.median(raw["pass_s"]["traced"]) - u) / u
    # a layer the workload does not run did no work
    return {m["name"]: layers.get(m["name"], 0.0) for m in BENCH["per_layer"]}


def _terminate(signum, frame):
    raise SystemExit(f"stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(checks.CHECKS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build.build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out_dir = build.BUILD / "out"
    work = build.BUILD / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out_dir.mkdir(parents=True, exist_ok=True)
    try:
        inputs = gen.generate(a.workload, a.seed, str(work / "inputs"))
        jvm_args = {
            "workload": a.workload, "seconds": a.seconds,
            "trace": a.trace, "cores": cores(),
            "inputs": inputs, "work": str(work), "out": work / "raw.json",
            "spans": out_dir / f"spans-{tag}.jsonl"}
        if a.trace and a.workload == "dag_ticks":
            jvm_args["catalog"] = gen.generate("catalog_ops", a.seed, str(work / "inputs"))
        load0, (tot0, steal0) = loadavg(), cpu_times()
        raw_path = work / "raw.json"
        code = run_jvm(classpath, jvm_args, out_dir / f"jvm-{tag}.log")
        load1, (tot1, steal1) = loadavg(), cpu_times()
        if code != 0 or not raw_path.exists():
            raise SystemExit(f"harness JVM failed with code {code}; log: {out_dir}/jvm-{tag}.log")
        raw = json.loads(raw_path.read_text())
        bad, ratios = checks.CHECKS[a.workload](raw, inputs, str(work))
        e2e = end_to_end(raw, bad, ratios)
        attempted = len(raw["ops"])
        if "catalog" in raw:
            cat = raw["catalog"]
            attempted += len(cat["ops"])
            bad.update({f"catalog {k}": v for k, v in
                        checks.check_catalog(cat, jvm_args["catalog"], str(work)).items()})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        metrics, spec = per_layer(raw), BENCH["per_layer"]
    else:
        metrics, spec = e2e, BENCH["end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    env = {"cores": cores(), "loadavg_before": load0, "loadavg_after": load1,
           "cpu_steal_frac": (steal1 - steal0) / max(1, tot1 - tot0),
           "peak_rss_mb": raw["peak_rss_mb"], "spark_conf": raw["conf"]}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "env": env,
              "end_to_end": e2e, "layers": metrics, "setup_s": raw["setup_s"],
              "pass_s": raw["pass_s"],
              "failures": {str(k): v for k, v in bad.items()}}
    (out_dir / f"run-{tag}.json").write_text(json.dumps(record, indent=1))

    print(json.dumps({"env": env}))
    for k, v in bad.items():
        print(f"failed op {k}: {v}")
    print(json.dumps({
        "correct": not bad,
        "attempted": attempted,
        "failed": len(bad),
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
    }))


if __name__ == "__main__":
    main()
