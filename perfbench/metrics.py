"""Pure functions that turn the harness's raw outcomes into metrics.

Kept apart from `run.py` so that `test_metrics.py` can check them without
a JVM.
"""
import random
import statistics


def pass_orders(seed, names, n_passes):
    """Query order of each pass, warm-up passes included: each a shuffle."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n_passes):
        order = list(names)
        rng.shuffle(order)
        orders.append(order)
    return orders


def tail(values):
    """(value, percentile, n): the highest sample that has at least ten
    samples beyond it, and its whole percentile. Twenty samples or fewer
    put that sample at or below the median; the tail is then the maximum,
    reported as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, None, 0
    if n <= 20:
        return xs[-1], 100, n
    return xs[n - 11], (100 * (n - 10)) // n, n


def checksum_of(op):
    return (op["rows"], op["xor"], str(op["sum"]))


def judge(ops, expected):
    """Mark every operation ok or failed, with the reason.

    An operation fails when it threw, when its query has no stored
    checksum, when its checksum differs from the stored one, or when it
    differs from the first checksum the same query gave in this run."""
    first = {}
    out = []
    for op in ops:
        name = op["name"]
        if "error" in op or "t_s" not in op:
            out.append((op, False, "threw: " + op.get("error", "no result")))
            continue
        got = checksum_of(op)
        want = expected.get(name)
        if name in first and first[name] != got:
            out.append((op, False, f"checksum changed between passes: {first[name]} -> {got}"))
        elif want is None:
            out.append((op, False, "no stored checksum"))
        elif got != (want["rows"], want["xor"], str(want["sum"])):
            out.append((op, False, f"checksum mismatch: got {got}, stored {want}"))
        else:
            out.append((op, True, ""))
        first.setdefault(name, got)
    return out


def end_to_end(raw, judged):
    """End-to-end metrics of an untraced run: (gated, reported, info).

    `gated` are the metrics BENCHMARK.json bounds. `reported` are computed
    and recorded on every run but carry no bound: their run-to-run spread
    on a shared 4-core host is close to the largest bound allowed, and
    `failed_frac` is 0 on a correct run.

    `workload_s` is the wall time of every pass, warm-up passes included,
    and has no value when any operation failed. Otherwise a time counts
    only from a timed (not warm-up) pass and an operation that succeeded,
    and a pass time only from a pass in which every operation succeeded."""
    timed = {p["pass"] for p in raw["passes"] if p["timed"]}
    ok_ops = [op for op, ok, _ in judged if ok and op["pass"] in timed]
    bad_passes = {op["pass"] for op, ok, _ in judged if not ok}
    pass_s = [p["wall_s"] for p in raw["passes"]
              if p["pass"] in timed and p["pass"] not in bad_passes]
    op_pass = {op["op"]: op["pass"] for op, _, _ in judged}
    batches = [b["trigger_s"] for b in raw["batches"] if op_pass.get(b["op"]) in timed]
    q = [op["t_s"] for op in ok_ops]
    q_tail, q_p, q_n = tail(q)
    b_tail, b_p, b_n = tail(batches)
    gated = {
        "setup_s": (raw["setup_s"], "s"),
        "workload_s": (None if bad_passes else sum(p["wall_s"] for p in raw["passes"]), "s"),
        "rss_peak_mb": (raw["vm_hwm_kb"] / 1024.0, "MB"),
    }
    reported = {
        "pass_s": (statistics.median(pass_s) if pass_s else None, "s"),
        "query_p50_s": (statistics.median(q) if q else None, "s"),
        "query_tail_s": (q_tail, "s"),
        "batch_p50_s": (statistics.median(batches) if batches else None, "s"),
        "batch_tail_s": (b_tail, "s"),
        "failed_frac": (sum(1 for _, ok, _ in judged if not ok) / max(1, len(judged)), "ratio"),
    }
    info = {"query_tail": {"percentile": q_p, "samples": q_n},
            "batch_tail": {"percentile": b_p, "samples": b_n},
            "timed_passes": len(pass_s)}
    return gated, reported, info


PER_LAYER_UNITS = {
    "plans.plan_s": "s", "exec.driver_gap_s": "s",
    "sources.scan_bytes": "bytes", "sources.scan_rows": "count",
    "sources.scan_task_s": "s", "sources.write_bytes": "bytes",
    "sources.write_rows": "count", "operators.build_s": "s",
    "operators.build_jobs": "count", "exchange.count": "count",
    "exchange.shuffle_write_bytes": "bytes", "exchange.shuffle_read_bytes": "bytes",
    "exchange.fetch_wait_s": "s", "exchange.spill_bytes": "bytes",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s_sum": "s", "exec.task_s_max": "s", "exec.parallel_eff": "ratio",
    "streaming.batches": "count", "streaming.add_batch_s": "s",
    "streaming.commit_s": "s", "streaming.planning_s": "s",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "bytes",
    "dedup.pairs_emitted": "count", "jvm.gc_s": "s", "trace.overhead": "ratio",
}
FUNCTIONS = ["graft_minhashes", "graft_band_hashes", "graft_simhash64",
             "graft_cosine_sim", "graft_winnow64"]
for _f in FUNCTIONS:
    PER_LAYER_UNITS[f"functions.{_f}.ns_per_row"] = "ns"

# the layer counters that run.py divides by the number of traced passes;
# maxima and ratios are left as they are
_NOT_PER_PASS = {"exec.task_s_max", "exec.parallel_eff"}


def per_layer(raw):
    """Per-layer metrics of a traced run, per traced pass.

    Returns (metrics, n/a names). A metric is n/a when its layer did no
    work in this workload; it is printed as 0 and listed as n/a."""
    traced = [p for p in raw["passes"] if p["timed"] and p["traced"]]
    plain = [p for p in raw["passes"] if p["timed"] and not p["traced"]]
    k = max(1, len(traced))
    layers = raw["layers"]
    m = {}
    for name in PER_LAYER_UNITS:
        if name in layers:
            v = layers[name]
            m[name] = v if name in _NOT_PER_PASS else v / k
    traced_ops = {op["op"] for op in raw["ops"]
                  if op["pass"] in {p["pass"] for p in traced}}
    bs = [b for b in raw["batches"] if b["op"] in traced_ops]
    m["streaming.batches"] = len(bs) / k
    for key in ("add_batch_s", "commit_s", "planning_s"):
        m[f"streaming.{key}"] = sum(b[key] for b in bs) / k
    # state size is a level: take each stream's last batch
    last = {}
    for b in bs:
        last[b["op"]] = b
    m["streaming.state_rows"] = sum(b["state_rows"] for b in last.values()) / k
    m["streaming.state_mem_bytes"] = sum(b["state_mem_bytes"] for b in last.values()) / k
    timed = len(traced) + len(plain)
    m["jvm.gc_s"] = raw["driver_gc_s"] / max(1, timed)
    m["trace.overhead"] = (statistics.median(p["wall_s"] for p in traced) /
                           statistics.median(p["wall_s"] for p in plain))
    for f in FUNCTIONS:
        m[f"functions.{f}.ns_per_row"] = raw["functions"][f]
    na = sorted(n for n, v in m.items() if v == 0)
    return {n: (m[n], PER_LAYER_UNITS[n]) for n in PER_LAYER_UNITS}, na
