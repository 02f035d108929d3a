#!/usr/bin/env python3
"""The repo benchmark: seeded workloads around the garden x tile vegetation
join, run closed-loop at local[nproc].

    python3 perfbench/run.py --workload rgb_sparse --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Builds the engine and the benchmark from
source on first use (perfbench/build.py), runs one JVM for the workload,
prints the host, every metric by name with its unit and, as the last line,
one JSON object {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end list; with --trace 1
its per_layer list, and the span file and layer table land in
perfbench/.out. Exits 1 when any output check fails, 2 when it cannot run.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("rgb_sparse", "dense_job")

# Spark 4 on JDK 17 outside spark-submit needs these (the launcher's
# JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# layer metric prefix -> (module, the end-to-end metric it should move)
LAYERS = [
    ("geojson.", "graft.pipeline.GeoJson", "op_s.p50 on dense_job"),
    ("index.", "VegPipeline.buildIndex (PrepareGarden, Osgb, ZIndex)",
     "setup_s on rgb_sparse; gardens_per_s on dense_job"),
    ("prune.", "VegPipeline.tileIdPredicate", "setup_s; tiles_per_s on rgb_sparse"),
    ("scan.", "parquet scan of the tile table", "tiles_per_s on rgb_sparse"),
    ("polyblob.", "graft.pipeline.PolyBlob.deserialize", "gardens_per_s on dense_job"),
    ("codec.decode", "graft.img.Codec.decodeBGR", "tiles_per_s on rgb_sparse; none on dense_job"),
    ("codec.tiles", "graft.img.Codec.decodeBGR", "tiles_per_s on rgb_sparse"),
    ("codec.fuse", "graft.img.Codec.fuseBGRIWindow / graft.img.Resize", "op_s.p50 on dense_job, little"),
    ("rasterize.", "graft.geom.Rasterize.maskWindow", "gardens_per_s on dense_job"),
    ("kernels.", "graft.kernel.Kernels via PolyBlob.scoreFragment",
     "op_s.p50 on dense_job, less on rgb_sparse"),
    ("score_s", "VegPipeline.fragmentSums (scan, RGB-CIR join, score, aggregate)", "op_s.p50 on both"),
    ("exchange.", "VegPipeline.fragmentSums aggregate + exchange", "op_s.p50 on dense_job"),
    ("finalize_s", "VegPipeline.fractionsFromSums", "op_s.p50 on dense_job"),
    ("reports.", "graft.pipeline.Reports.writeAll", "op_s.p50 on dense_job"),
    ("spark.", "Spark scheduler (per op)", "all"),
    ("replay.", "Spark-free replay of ScoreFragments", "(coverage of spark.task_s)"),
    ("pipeline.", "graft.pipeline.PipelineMetrics", "exact counts, not speeds"),
    ("trace.", "the traced run itself", "(none)"),
    ("ops_failed_ratio", "output checks", "(must stay 0)"),
]


def layer_of(name):
    for prefix, module, moves in LAYERS:
        if name.startswith(prefix):
            return module, moves
    return "", ""


def tail(times):
    """Highest whole percentile with at least ten samples beyond it
    (nearest rank); p50 when the run has fewer than 21 samples."""
    xs = sorted(times)
    n = len(xs)
    for p in range(99, 49, -1):
        k = math.ceil(p / 100 * n)
        if n - k >= 10:
            return xs[k - 1], p
    return statistics.median(xs), 50


def run_jvm(args, classpath, timeout):
    work = os.path.join(HERE, ".work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(HERE, ".out", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    # ParallelGC: the runs are batch jobs; it gave steadier op times and
    # peak RSS across JVMs than G1 on a 4-vCPU host
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--size", args.size, "--data", os.path.join(HERE, ".data"),
              "--work", work, "--out", out])
    # Spark keeps its scratch space under java.io.tmpdir unless SPARK_LOCAL_DIRS
    # points elsewhere, outside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        raise SystemExit(f"benchmark JVM exceeded {timeout:.0f} s")
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"benchmark JVM exited with {code}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    started = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath, built = build.build()
    # a run ends within 180 s; the first one in a checkout also builds
    budget = (900 if built else 180) - (time.time() - started) - 15
    res = run_jvm(args, classpath, budget)

    host = res["host"]
    print(f"host: nproc={host['nproc']} master={host['master']} spark={host['spark_version']} "
          f"jvm_max_heap_mb={host['jvm_max_heap_mb']} java={host['java_version']} "
          f"seed={host['seed']} size={host['size']} workload={args.workload}")
    print(f"inputs: generated in {res['inputs']['gen_s']:.2f} s, checked in "
          f"{res['inputs']['check_s']:.2f} s (not part of setup_s); "
          + " ".join(f"{k}={v[:12]}" for k, v in res["inputs"]["hashes"].items()))
    ref = res["reference"]
    print(f"reference: {ref['fingerprint']}")
    print(f"replay:    {ref['replay']} ({'matches' if ref['replay'] == ref['pipeline'] else 'DIFFERS from'}"
          f" pipeline {ref['pipeline']})")

    measured = [o for o in res["ops"] if o["phase"] in ("timed", "traced")]
    timed = [o["s"] for o in res["ops"] if o["phase"] == "timed"]
    attempted = len(measured)
    failed = sum(1 for o in measured if not o["ok"])
    if res["failures"] and failed == 0:
        failed = 1  # the reference itself failed its replay check
    for msg in res["failures"][:10]:
        print(f"FAILED: {msg}")
    correct = not res["failures"]

    work = res["work_per_op"]
    p50 = statistics.median(timed)
    t, pct = tail(timed)
    total = sum(timed)
    values = {
        "op_s.p50": p50,
        "op_s.tail": t,
        "tiles_per_s": work["tiles_decoded"] * len(timed) / total,
        "gardens_per_s": work["gardens"] * len(timed) / total,
        "setup_s": res["setup"]["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "ops_failed_ratio": failed / attempted,
    }
    print(f"ops: {len(timed)} timed, p50={p50:.4f} s, op_s.tail=p{pct} (n={len(timed)}), "
          f"per op {work['tiles_decoded']} tiles decoded, {work['gardens']} gardens, "
          f"{work['fragments']} fragments; set-up: session {res['setup']['session_s']:.3f} s + "
          f"index median of {['%.3f' % x for x in res['setup']['index_s']]}")

    if args.trace:
        values.update({k: v["value"] for k, v in res["layers"].items()})
        wanted = spec["per_layer"]
        print(f"largest replayed layer: {res['replay_largest_layer']}; spans: {res['spans_file']}")
    else:
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in values:
            raise SystemExit(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}

    rows = []
    for name, m in metrics.items():
        module, moves = layer_of(name) if args.trace else ("", "")
        rows.append((name, f"{m['value']:.6g}", m["unit"], module, moves))
    w = [max(len(r[i]) for r in rows) for i in range(5)]
    for r in rows:
        print("  ".join(c.ljust(w[i]) for i, c in enumerate(r)).rstrip())
    if args.trace:
        table = os.path.join(HERE, ".out", f"{args.workload}-s{args.seed}-layers.txt")
        with open(table, "w") as f:
            f.writelines("\t".join(r) + "\n" for r in rows)

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit as e:
        if isinstance(e.code, str):
            print(f"perfbench: {e.code}", file=sys.stderr)
            sys.exit(2)
        raise
