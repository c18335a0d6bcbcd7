"""graft benchmark: one seeded workload, timed, checked, summarised.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root; `--workload all` runs the three in turn.
Workloads:
  cypher_read   closed-loop client, eight read templates over Zipf-skewed keys
  cypher_mixed  the same client with 40% writes (CREATE, MERGE, SET, DELETE)
  analytics     one cold batch pass of nine graph / dedup calls

Builds graft plus the harness (graftbench/build.py), generates the inputs
from the seed (gen.py), runs them in one JVM on local[nproc], checks every
answer against an independent reference (oracle.py) and prints the
metrics. The last stdout line is one JSON object:
  {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
A traced run first repeats the untraced run on the same inputs, so the
tracing overhead is measured on the same seed. Exits non-zero when any
answer is wrong or the run leaked persisted RDDs, and writes the traced
run's spans and per-op counters to
.bench_build/graftbench/trace-<workload>-<seed>.json. See BENCHMARK.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

SETUP_REPS = 3
JVM_TIMEOUT_S = 150
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

WORKLOADS = ["cypher_read", "cypher_mixed", "analytics"]
READ_TEMPLATES = list(gen.READS)
WRITE_KINDS = sorted(set(gen.WRITE_ORDER))
CALLS = ["algorithms.louvainLevels", "algorithms.stronglyConnectedComponents",
         "algorithms.kCore", "algorithms.pageRankStable",
         "algorithms.bfsDistances", "algorithms.bidirWeightedDistance",
         "algorithms.connectedComponents", "algorithms.kTruss",
         "pipeline.nearDupClusters"]
# per-op means over the measured operations, from the traced run
LAYER_COUNTERS = [
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.query_executions", "codegen.compiles", "codegen.compile_ms",
    "codegen.bytecode_kb", "scheduler.jobs", "scheduler.stages",
    "scheduler.tasks", "scheduler.job_active_ms", "driver.gap_ms",
    "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "spill.disk_bytes", "store.rows_scanned"]


def per_layer_names():
    names = ["cypher.parse_ms", "cypher.plan_ms", "cypher.exec_ms",
             "cypher.rows_returned", "session.start_ms", "store.load_ms",
             "store.rows_scanned_per_row_returned", "store.compactions",
             "store.compact_ms", "storage.persisted_rdds_delta",
             "storage.memory_used_mb", "log.error_events",
             "trace.overhead_pct", "read_p50_ms", "read_p90_ms", "reads",
             "writes", "write_p50_ms", "write_p90_ms", "wall_s",
             "heap_retained_mb", "error_rate", "louvain_modularity",
             "host_steal_pct"] + LAYER_COUNTERS
    for op in READ_TEMPLATES + WRITE_KINDS:
        names += [f"op.{op}.ms", f"op.{op}.jobs", f"op.{op}.compiles"]
    for call in CALLS:
        names += [f"{call}.ms", f"{call}.jobs", f"{call}.compiles"]
    return names


def unit_of(name):
    for suffix, unit in (("_ms", "ms"), (".ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_kb", "KB"), ("_bytes", "bytes"), ("_pct", "%"),
                         ("_rate", "ratio"), ("_modularity", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def cores():
    return len(os.sched_getaffinity(0))


def cpu_times():
    """The host's aggregate CPU counters (/proc/stat), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_pct(before, after):
    """Share of CPU time the hypervisor gave to other guests: a busy host
    slows every layer at once, so runs with high steal are suspect."""
    if not before or not after or len(before) < 8:
        return 0.0
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d[:8]))


def run_jvm(classes, jars, scratch, workload, data_dirs, seconds, traced,
            out, extra):
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={scratch}/tmp",
            "-cp", classes + os.pathsep + os.path.join(jars, "*")]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["graftbench.Harness", "--workload", workload,
              "--data", ",".join(data_dirs), "--out", out,
              "--seconds", str(seconds), "--trace", "1" if traced else "0",
              "--cores", str(cores()), "--scratch", scratch] + extra)
    log_path = out + ".log"
    cpu0 = cpu_times()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM (see main): never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"graftbench: harness failed ({rc})")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    res["host_steal_pct"] = steal_pct(cpu0, cpu_times())
    return res


def setup_inputs(workload, seed, scratch):
    """Generate the inputs SETUP_REPS times (each repetition gets its own
    copy); return (dirs, generation seconds per rep, manifest)."""
    dirs, gen_s = [], []
    for rep in range(SETUP_REPS):
        d = os.path.join(scratch, f"data{rep}")
        t0 = time.perf_counter()
        manifest = gen.write_inputs(workload, seed, d)
        gen_s.append(time.perf_counter() - t0)
        dirs.append(d)
    return dirs, gen_s, manifest


def follow_pairs(data_dir):
    import pyarrow.parquet as pq
    users = pq.read_table(f"{data_dir}/vertices/User").to_pydict()
    uid = dict(zip(users["id"], users["uid"]))
    f = pq.read_table(f"{data_dir}/edges/FOLLOWS", columns=["src", "dst"]).to_pydict()
    return [(uid[s], uid[d]) for s, d in zip(f["src"], f["dst"])]


def measure(workload, seconds, traced, classes, jars, scratch, inputs):
    """One JVM run, checked. Returns (result, wrong op indices, attempted,
    failed, set-up seconds); the checkpoint-hygiene check counts as one
    more attempted operation, failed when the run leaked persisted RDDs."""
    dirs, gen_s, manifest, texts, sqls, warm, extra = inputs
    out = os.path.join(scratch, "traced" if traced else "plain")
    res = run_jvm(classes, jars, scratch, workload, dirs, seconds, traced, out, extra)
    res["warm"], res["out"] = warm, out
    if workload == "analytics":
        wrong, problems, res["louvain_modularity"] = oracle.check_analytics(
            dirs[-1], manifest, res["ops"])
        if problems:
            raise SystemExit("graftbench: bad inputs: " + "; ".join(problems))
        res["distinct_texts"] = len(res["ops"])
    else:
        wrong = oracle.check_cypher(dirs[-1], res["ops"], sqls)
        res["louvain_modularity"] = 0.0
        res["distinct_texts"] = len({texts[o["i"]] for o in res["ops"]})
    attempted = len(res["ops"]) + 1
    failed = len(wrong) + (1 if res["persisted_rdds_delta"] else 0)
    # one set-up = generate + load (median of the repetitions) + warm-up
    setup = statistics.median(g + r["load_ms"] / 1000.0
                              for g, r in zip(gen_s, res["setup"]))
    setup += res["warmup_ms"] / 1000.0
    return res, wrong, attempted, failed, setup


def measured(res):
    """Records of the timed operations (warm-up statements excluded)."""
    return [o for o in res["ops"] if "ms" in o and o["i"] >= res["warm"]]


def latencies(res):
    """(read, write) request latencies in ms. A read is a Cypher read
    statement; in analytics the one request is the batch pass of nine
    calls, which only read the graph (per-call times are per-layer)."""
    if res["ops"][0]["kind"] == "call":
        return [res["measured_ms"]], []
    ops = measured(res)
    return ([o["ms"] for o in ops if o["kind"] == "read"],
            [o["ms"] for o in ops if o["kind"] != "read"])


def end_to_end(res, setup):
    return {
        "setup_s": (setup, "s"),
        "ops_per_s": (res["measured_ops"] / (res["measured_ms"] / 1000.0), "ops/s"),
    }


def views(res, failed, attempted):
    """Untraced figures that are not gated: they are printed with every run
    and reported among the per-layer metrics of a traced run."""
    reads, writes = latencies(res)
    return {
        "read_p50_ms": (percentile(reads, 50), "ms"),
        "read_p90_ms": (percentile(reads, 90), "ms"),
        "reads": (len(reads), "count"),
        "writes": (len(writes), "count"),
        "write_p50_ms": (percentile(writes, 50), "ms"),
        "write_p90_ms": (percentile(writes, 90), "ms"),
        "wall_s": (res["measured_ms"] / 1000.0, "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
        "error_rate": (failed / attempted, "ratio"),
        "louvain_modularity": (res["louvain_modularity"], "ratio"),
        "host_steal_pct": (res["host_steal_pct"], "%"),
    }


def per_layer(workload, res, trace, plain, plain_views):
    """Per-op means of the layer counters over the measured operations of
    the traced run, per-op-type medians, and the untraced run's views."""
    recs = {o["op"]: o for o in trace["ops"]}
    traced = [recs[o["i"]] for o in measured(res) if o["i"] in recs]
    n = max(len(traced), 1)
    spans = {}
    for s in trace["spans"]:
        key = (s["op"], s["name"])
        spans[key] = spans.get(key, 0.0) + s["end_ms"] - s["start_ms"]
    span_mean = lambda name: sum(spans.get((r["op"], name), 0.0) for r in traced) / n
    rows = {o["i"]: o.get("n", 0) for o in res["ops"]}
    returned = sum(rows.get(r["op"], 0) for r in traced)
    compacting = [r for r in traced if r.get("store.compacted")]

    out = {k: 0.0 for k in per_layer_names()}
    out.update({k: sum(r.get(k, 0.0) for r in traced) / n for k in LAYER_COUNTERS})
    if workload != "analytics":
        out["cypher.parse_ms"] = span_mean("cypher.parse")
        out["cypher.plan_ms"] = span_mean("cypher.run") - span_mean("cypher.parse")
        out["cypher.exec_ms"] = span_mean("exec")
        out["cypher.rows_returned"] = returned / n
    out["store.rows_scanned_per_row_returned"] = (
        sum(r.get("store.rows_scanned", 0.0) for r in traced) / returned
        if returned else 0.0)
    out["store.load_ms"] = statistics.median(r["load_ms"] for r in res["setup"])
    out["session.start_ms"] = res["session_start_ms"]
    out["store.compactions"] = len(compacting)
    out["store.compact_ms"] = (statistics.fmean(r["ms"] for r in compacting)
                               if compacting else 0.0)
    out["storage.persisted_rdds_delta"] = res["persisted_rdds_delta"]
    out["storage.memory_used_mb"] = res["storage_memory_mb"]
    out["log.error_events"] = res["log_error_events"]
    by_name = {}
    for r in traced:
        by_name.setdefault(r["name"], []).append(r)
    for name, rs in by_name.items():
        key = name if workload == "analytics" else f"op.{name}"
        out[f"{key}.ms"] = statistics.median(r["ms"] for r in rs)
        out[f"{key}.jobs"] = statistics.median(r.get("scheduler.jobs", 0) for r in rs)
        out[f"{key}.compiles"] = statistics.median(
            r.get("codegen.compiles", 0) for r in rs)
    # both runs replay the same statement stream: compare the time of the
    # statements both completed, so the two windows' mixes cannot differ
    plain_ms = {o["i"]: o["ms"] for o in measured(plain)}
    common = [o for o in measured(res) if o["i"] in plain_ms]
    out["trace.overhead_pct"] = 100.0 * (
        sum(o["ms"] for o in common) / sum(plain_ms[o["i"]] for o in common) - 1.0)
    out.update({k: v for k, (v, _) in plain_views.items()})
    return out


def run_workload(workload, seed, seconds, traced, root):
    """Build, set up, run, check and summarise one workload. Prints the
    summary lines; returns (metrics, attempted, failed)."""
    bench_out = os.path.join(root, ".bench_build", "graftbench")
    classes, jars = build.build(root, bench_out)
    scratch = os.path.join(bench_out, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        dirs, gen_s, manifest = setup_inputs(workload, seed, scratch)
        if workload == "analytics":
            params = dict(louvain_levels=oracle.LOUVAIN_LEVELS,
                          louvain_sweeps=oracle.LOUVAIN_SWEEPS,
                          kcore_k=oracle.KCORE_K, ktruss_k=oracle.KTRUSS_K,
                          bfs_hops=oracle.BFS_HOPS, jaccard=oracle.JACCARD,
                          bfs_source=manifest["bfs_source"],
                          wsrc=manifest["wsrc"], wdst=manifest["wdst"])
            extra = [x for k, v in params.items() for x in ("--param", f"{k}={v}")]
            texts, sqls, warm = [], [], 0
        else:
            ops, warm = gen.op_stream(workload, seed, manifest, follow_pairs(dirs[0]))
            texts, sqls = [o[2] for o in ops], [o[3] for o in ops]
            ops_file = os.path.join(scratch, "ops.tsv")
            with open(ops_file, "w") as f:
                f.writelines(f"{k}\t{t}\t{c}\n" for k, t, c, _ in ops)
            extra = ["--ops", ops_file, "--warm", str(warm)]
        inputs = (dirs, gen_s, manifest, texts, sqls, warm, extra)
        res, wrong, attempted, failed, setup = measure(
            workload, seconds, False, classes, jars, scratch, inputs)
        e2e = end_to_end(res, setup)
        info = views(res, failed, attempted)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        if traced:
            tres, twrong, tatt, tfail, _ = measure(
                workload, seconds, True, classes, jars, scratch, inputs)
            with open(os.path.join(tres["out"], "trace.json")) as f:
                trace = json.load(f)
            layers = per_layer(workload, tres, trace, res, info)
            trace_file = os.path.join(bench_out, f"trace-{workload}-{seed}.json")
            with open(trace_file, "w") as f:
                json.dump(dict(workload=workload, seed=seed, per_layer=layers,
                               log_errors=tres["log_errors"], spans=trace["spans"],
                               ops=trace["ops"]), f)
            print(f"graftbench: trace written to {os.path.relpath(trace_file, root)}")
            for line in tres["log_errors"]:
                print(f"graftbench: ERROR logged: {line[:300]}")
            wrong, attempted, failed = wrong + twrong, attempted + tatt, failed + tfail
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        for k, (v, u) in list(e2e.items()) + list(info.items()):
            print(f"graftbench: {workload} {k} = {v:.4f} {u}")
        print(f"graftbench: {workload} setup parts = generate + load "
              + ", ".join(f"{g:.2f} + {r['load_ms'] / 1e3:.2f}"
                          for g, r in zip(inputs[1], res["setup"]))
              + f" s per rep, warm-up {res['warmup_ms'] / 1e3:.2f} s")
        # statement texts the run executed, set-up warm-up included: against
        # the 4096-entry Janino cache this says how much codegen can repeat
        print(f"graftbench: {workload} distinct_texts = {res['distinct_texts']} count")
        if failed:
            print(f"graftbench: {workload}: {failed} of {attempted} checks failed; "
                  f"wrong answers at ops {wrong[:20]}, leaked persisted RDDs "
                  f"{res['persisted_rdds_delta']}")
        return metrics, attempted, failed
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # turn SIGTERM into SystemExit so the finally blocks stop the JVM and
    # remove the run's scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    metrics, attempted, failed = {}, 0, 0
    for w in workloads:
        m, att, fail = run_workload(w, a.seed, a.seconds, a.trace == 1, os.getcwd())
        attempted, failed = attempted + att, failed + fail
        # one workload reports its metrics by name; "all" prefixes them
        metrics.update(m if len(workloads) == 1 else
                       {f"{w}.{k}": v for k, v in m.items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
