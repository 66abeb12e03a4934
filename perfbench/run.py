"""The repo benchmark: one workload, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), then runs the
workload's registry queries one after another in `local[nproc]` on the
corpus in perfbench/corpus: the set-up (JVM start to a ready session),
two warm-up passes, then timed passes that take about S seconds. The seed
sets the order of the queries in each pass.
Every result's checksum is compared with `expected.json`; a mismatch, a
checksum that changes between passes, or a query that throws is a failed
operation, makes `correct` false and the exit code 1.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 the same passes alternate between traced and untraced, and the
line carries the per-layer metrics. Everything a run measured, with its
provenance, is written to BUILD/perfbench/results/, and a traced run's
spans to BUILD/perfbench/traces/, where BUILD is $CARGO_TARGET_DIR or
.bench_build in the current directory.

`--record` rewrites expected.json from the checksums of the run instead of
checking them; use it only on a commit whose results are known good.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

# the repo's sf0.1 test corpus, copied byte for byte; read-only
CORPUS = os.path.join(HERE, "corpus")

# Each workload is chosen for the layers it stresses; see BENCHMARK.json.
# Each entry: (nominal seconds of one steady pass on a 4-core host, queries).
# A run makes WARMUP_PASSES untimed passes, then round(--seconds / nominal)
# timed ones, so that every run of a workload has the same shape and
# measures about --seconds.
WORKLOADS = {
    # the paper's two daily pipelines, a scan-filter, the top-k-per-key plan
    # rewrite and a stateful windowed dedup on a stream: scans, planning,
    # small exchanges and micro-batch overhead dominate; codegen hashing and
    # fixpoint rounds do nothing, so this is the control for dedup work
    "etl_batch": (4.5, [
        "q_daily_transactions", "q_top5_zones", "q6_filter_range",
        "q_topk_per_key", "q_stream_dedup_windowed"]),
    # LLM data curation: minhash LSH near-duplicate clusters with their
    # connected-components fixpoint rounds, and simhash near-duplicate pairs;
    # custom codegen expressions, exchanges and iterative rounds dominate
    "llm_dedup": (6.0, ["q_dedup_clusters", "q_dedup_simhash"]),
}
# the first execution of each query pays its code generation and most of
# the JIT compilation, and the second is still about a fifth slower than
# the later ones; passes keep getting a little faster for tens of seconds,
# so every run keeps the same shape rather than warming up for longer
WARMUP_PASSES = 2
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def run_jvm(classes, harness_args, work, log_file):
    """Run the harness in a fresh JVM, its scratch under `work`; return the
    raw JSON it wrote."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out_file = os.path.join(work, "raw.json")
    cp = os.pathsep.join([classes] + build.spark_jars())
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap, so that peak RSS does not follow heap-sizing decisions
    cmd = (["java"] + opens + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "graft.perfbench.Harness", "--work", work, "--out", out_file,
        "--root", build.ROOT] + harness_args)
    with open(log_file, "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its
        # shuffle and spill files inside the run's work directory
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        # set-up is timed from here, so that it includes the JVM's start
        cmd += ["--launched-ns", str(time.time_ns())]
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: harness exceeded {JVM_TIMEOUT_S} s; log {log_file}")
    if code != 0:
        with open(log_file) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: harness exited {code}; log {log_file}")
    with open(out_file) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)

    out_root = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    out_root = os.path.abspath(out_root)
    classes = build.build(out_root)
    expected_file = os.path.join(HERE, "expected.json")
    with open(expected_file) as f:
        expected = json.load(f)

    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(out_root, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    for d in ("results", "traces", "logs"):
        os.makedirs(os.path.join(out_root, d), exist_ok=True)
    log_file = os.path.join(out_root, "logs", tag + ".log")
    nominal, names = WORKLOADS[args.workload]
    timed = max(1 + args.trace, round(args.seconds / nominal))
    orders = metrics.pass_orders(args.seed, names, WARMUP_PASSES + timed)

    orders_file = os.path.join(work, "orders.txt")
    with open(orders_file, "w") as f:
        f.write("\n".join(",".join(o) for o in orders) + "\n")
    harness_args = ["--corpus", CORPUS, "--orders", orders_file,
                    "--warmup", str(WARMUP_PASSES), "--trace", str(args.trace),
                    "--cores", str(cores)]
    load_start, ticks_start, t_start = loadavg(), cpu_ticks(), time.time()
    try:
        raw = run_jvm(classes, harness_args, work, log_file)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end, ticks_end = loadavg(), cpu_ticks()
    steal = (ticks_end[0] - ticks_start[0]) / max(1, ticks_end[1] - ticks_start[1])

    if args.record:
        for op in raw["ops"]:
            if "error" in op:
                raise SystemExit(f"perfbench: {op['name']} threw; nothing recorded")
        judged = metrics.judge(raw["ops"], {})
        for op, _, reason in judged:
            if reason.startswith("checksum changed"):
                raise SystemExit(f"perfbench: {op['name']}: {reason}; nothing recorded")
            expected[op["name"]] = {"rows": op["rows"], "xor": op["xor"], "sum": op["sum"]}
        with open(expected_file, "w") as f:
            json.dump(dict(sorted(expected.items())), f, indent=1)
            f.write("\n")

    judged = metrics.judge(raw["ops"], expected)
    failures = [{"op": op["op"], "pass": op["pass"], "name": op["name"], "reason": why}
                for op, ok, why in judged if not ok]
    attempted = len(judged)
    e2e, reported, info = metrics.end_to_end(raw, judged)
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": cores, "heap": HEAP,
        "commit": raw["commit"], "source_digest": os.path.basename(classes),
        "load_avg_start": load_start, "load_avg_end": load_end, "cpu_steal_frac": steal,
        "wall_s": time.time() - t_start, "confs": raw["confs"],
        "attempted": attempted, "failed": len(failures), "failures": failures,
        "passes": raw["passes"],
        "ops": [{k: op.get(k) for k in ("pass", "name", "t_s")} for op in raw["ops"]],
        "batches": raw["batches"],
        "end_to_end": {k: v[0] for k, v in {**e2e, **reported}.items()},
        "tails": info,
    }
    if args.trace:
        layer, na = metrics.per_layer(raw)
        result["per_layer"] = {k: v[0] for k, v in layer.items()}
        result["n/a"] = na
        with open(os.path.join(out_root, "traces", tag + ".json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": raw["spans"], "layers": raw["layers"],
                       "functions": raw["functions"], "per_layer": result["per_layer"],
                       "n/a": na}, f)
    with open(os.path.join(out_root, "results", tag + ".json"), "w") as f:
        json.dump(result, f, indent=1)

    for fl in failures:
        print(f"FAILED pass {fl['pass']} {fl['name']}: {fl['reason']}")
    print(f"provenance: commit {result['commit']} sources {result['source_digest']} "
          f"seed {args.seed} cores {cores} heap {HEAP} "
          f"load {load_start[0]:.2f} -> {load_end[0]:.2f} cpu steal {steal:.3f}")
    tails = "; ".join(f"{k} is p{t['percentile']} of {t['samples']} samples"
                      for k, t in (("query tail", info["query_tail"]),
                                   ("batch tail", info["batch_tail"])) if t["samples"])
    print(f"timed passes {info['timed_passes']}; failed {len(failures)} of {attempted}; {tails}")
    print("reported, not bounded: " + ", ".join(
        f"{k} {v:.4g} {u}" if v is not None else f"{k} none"
        for k, (v, u) in reported.items()))
    if args.trace:
        print("n/a (layer does no work in this workload): " + (", ".join(na) or "none"))
        shown = layer
    else:
        shown = e2e
    missing = [k for k, (v, _) in shown.items() if v is None]
    correct = not failures and not missing
    if missing:
        print("no value for: " + ", ".join(missing))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v if v is not None else 0, "unit": u}
                    for k, (v, u) in shown.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
