#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload <stream_votes|batch_queries|lakehouse_rw>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness (`perfbench/build.sbt`, offline sbt) and caches the classpath under
`perfbench/.work/`; every run then generates its inputs from the seed,
starts one benchmark JVM on `local[n]` (n = min(4, nproc)), checks the
outputs and prints, as its last stdout line,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics; with `--trace 1`
the same workload runs with listeners registered and the metrics are the
per-layer ones (a trace file with spans and layer self times is written to
`perfbench/.work/trace-<workload>-<seed>.json`). A detail line before the
result states the sizes, the load reading and the tail percentiles used.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import lakehouse  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170
TPCH = ["q1_pricing_summary", "q2_min_cost", "q3_shipping_priority", "q4_priority_exists",
        "q5_local_supplier", "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
        "q9_product_profit", "q10_returned_items", "q11_important_stock", "q12_priority_mix",
        "q13_cust_distribution", "q14_promo_share", "q15_top_supplier", "q16_supplier_cnt",
        "q17_small_qty", "q18_large_orders", "q19_disjunctive_pred", "q20_volume_suppliers",
        "q21_sole_blame", "q22_idle_rich"]
# The heaviest execution-bound operator of each LLM-data battery
LLM_OPS = ["gr_pagerank", "dd_ngram_capped", "sim_ivf_trained", "mm_embed_prune",
           "cur_multimodal_prune", "txt_rake"]
# Sizes (why each: perfbench/NOTES.md). `--seconds` sets the stream's paced
# phase and the lakehouse commit count (16 at the benchmark's 6 s).
STREAM = {"events_per_file": 100, "warmup_files": 120, "offered_rate": 700,
          "backlog_files": 240, "max_files_per_trigger": 20,
          "dup_share": 0.02, "ooo_share": 0.05}
BATCH = {"scale": 0.01, "data_seed": 42}
LAKE = {"scale": 0.01, "files": 16, "commits_per_s": 8 / 3, "reads_per_commit": 3,
        "batch_rows": 20, "warm_commits": 3}
HEAP = "1536m"
SETUP_REPEATS = 3
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


_children = []


def _stop_children(*_):
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    fail("stopped", 4)


def run_child(cmd, timeout, out_path, **kw):
    """Run `cmd` in its own process group, output to `out_path`. The group is
    killed when it outlives `timeout` (returns None) or when this script is
    stopped. Returns the exit code."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        _children.append(p)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            _children.remove(p)


# ---------------------------------------------------------------- build

def _source_stamp(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile the program and the harness once per source state; return
    the harness classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = _source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (sbt, offline)")
    t0 = time.time()
    build_log = os.path.join(WORK, "build.log")
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], 850, build_log, cwd=HERE, env=env)
    with open(build_log) as f:
        out = f.read()
    lines = [ln for ln in out.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# --------------------------------------------------------------- inputs

def median_time(fn, repeats=SETUP_REPEATS):
    """Run an input-building step several times; its median time goes
    into setup_s. Returns (last result, median seconds)."""
    times, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return out, statistics.median(times)


def make_inputs(workload, seed, seconds, run_dir):
    """The harness spec plus whatever the script needs to check it."""
    spec = {"workload": workload, "seed": seed, "work": run_dir}
    check = {}
    if workload == "stream_votes":
        spec.update(STREAM)
        spec["paced_files"] = int(seconds * STREAM["offered_rate"] / STREAM["events_per_file"])
        return spec, check, 0.0
    if workload == "batch_queries":
        data = os.path.join(run_dir, "data")
        _, gen_s = median_time(lambda: gen.tables(data, BATCH["scale"], BATCH["data_seed"]))
        # TPC-H twice, so that the body has enough ops for a p75 tail
        order = TPCH * 2 + LLM_OPS
        random.Random(seed).shuffle(order)
        spec.update({"data_dir": data, "queries": TPCH + LLM_OPS, "order": order})
        with open(os.path.join(HERE, "expected_batch.json")) as f:
            check["expected"] = json.load(f)
        return spec, check, gen_s

    def build_lake():
        import pyarrow as pa
        import pyarrow.parquet as pq
        o = gen.orders_table(LAKE["scale"], seed)
        rows = list(zip(o["o_orderkey"].to_pylist(), o["o_custkey"].to_pylist(),
                        [round(p * 100) for p in o["o_totalprice"].to_pylist()],
                        o["o_orderstatus"].to_pylist()))
        src = os.path.join(run_dir, "lakehouse_src.parquet")
        pq.write_table(pa.table({
            "k": pa.array([r[0] for r in rows], pa.int64()),
            "cust": pa.array([r[1] for r in rows], pa.int64()),
            "price": pa.array([r[2] for r in rows], pa.int64()),
            "status": pa.array([r[3] for r in rows], pa.string())}), src)
        base = {k: (c, p, s) for k, c, p, s in rows}
        return src, lakehouse.ops(base, seed, round(LAKE["commits_per_s"] * seconds),
                                  LAKE["reads_per_commit"], LAKE["batch_rows"],
                                  LAKE["warm_commits"])
    (src, (ops, model)), gen_s = median_time(build_lake)
    spec.update({"src_parquet": src, "files": LAKE["files"],
                 "ops": [{k: v for k, v in op.items() if k != "expect"} for op in ops]})
    check.update({"ops": ops, "head": model.head()})
    return spec, check, gen_s


# ------------------------------------------------------------ the JVM

def run_harness(cp, spec, run_dir, cores, started):
    spec_path = os.path.join(run_dir, "spec.json")
    spec["result"] = os.path.join(run_dir, "result.json")
    spec["cores"] = cores
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", "-cp", cp, "perfbench.Harness", spec_path]
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS")}
    log_path = os.path.join(run_dir, "jvm.log")
    code = run_child(cmd, max(10, DEADLINE_S - (time.time() - started)), log_path,
                     cwd=run_dir, env=env)
    if code is None:
        fail("benchmark JVM timed out", 3)
    if code != 0 or not os.path.exists(spec["result"]):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM failed (exit {code})", 3)
    with open(spec["result"]) as f:
        return json.load(f)


# ------------------------------------------------------------- checks

def evaluate(workload, res, check, spec):
    """(attempted, failed, latencies ms, wall s, extra detail)."""
    if workload == "stream_votes":
        paced = res["paced"]
        n_files = len(paced["due_ms"])
        per = paced["events_per_file"]
        emits = stats.emit_times(paced["first_event"], n_files * per, paced["emits"])
        # one sample per file: a file is read whole into one micro-batch, so
        # its events share one due time and one emit time
        lat = [e - (paced["t0_ms"] + paced["due_ms"][i // per])
               for i, e in enumerate(emits) if e is not None and i % per == per - 1]
        late = [w - d for w, d in zip(paced["wrote_ms"], paced["due_ms"])]
        bad = sum(v for k, v in res["checks"].items() if k != "hourly_windows_emitted")
        failed = bad + sum(1 for e in emits if e is None)
        detail = {"offered_rate_per_s": spec["offered_rate"], "paced_events": n_files * per,
                  "drain_events": res["drain_events"],
                  "rows_per_s": res["drain_events"] / res["drain_s"],
                  "feeder_late_ms_p50": statistics.median(late), "feeder_late_ms_max": max(late),
                  "sink_mismatches": res["checks"], "hourly_mismatch": res["hourly_mismatch"],
                  "warmup_s": res["warmup_s"]}
        return res["events"], failed, lat, res["drain_s"], detail
    if workload == "batch_queries":
        ops = res["ops"]
        want = check["expected"]
        bad = [o for o in ops if not o["ok"] or [o["rows"], o["hash"]] != want.get(o["name"])]
        wrong = {o["name"]: o.get("error") or [o["rows"], o["hash"]] for o in bad}
        failed = len(bad)
        lat = [o["ms"] for o in ops if o["ok"]]
        detail = {"executions": len(ops), "wrong_results": wrong, "scale": BATCH["scale"],
                  "warmup_failed": res["warmup_failed"],
                  "op_ms": {o["name"]: round(o.get("ms", 0)) for o in ops}}
        return len(ops), failed, lat, sum(lat) / 1000.0, detail
    # the harness runs the warm-up ops first, so its records line up with
    # the generated sequence
    got = res["warm"] + res["ops"]
    wrong = sum(1 for want, g in zip(check["ops"], got)
                if not g["ok"] or ("expect" in want and g["result"] != want["expect"]))
    head_ok = res["head"] == check["head"]
    reads = [g["ms"] for g in res["ops"] if g["kind"] in ("point", "range", "version") and g["ok"]]
    commits = [g["ms"] for g in res["ops"] if g["kind"] in ("insert", "merge", "delete")]
    detail = {"reads": len(reads), "commits": len(commits), "head_ok": head_ok,
              "commit_ms": stats.summarize(commits),
              "base_version": res["base_version"], "final_version": res["log"]["version"],
              "live_files": res["log"]["live_files"], "scale": LAKE["scale"]}
    wall = sum(g["ms"] for g in res["ops"]) / 1000.0
    return len(got) + 1, wrong + (0 if head_ok else 1), reads, wall, detail


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["stream_votes", "batch_queries", "lakehouse_rw"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("no program here: run from the root of a checkout (build.sbt, src/main/scala/graft)")

    # ambient load, read before anything of ours runs (the rule of the
    # program's own bench: load1 above 3.0 flags the run as contended)
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    cp = build(root)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    nproc = os.cpu_count() or 1
    cores = min(4, nproc)
    spec, check, gen_s = make_inputs(a.workload, a.seed, a.seconds, run_dir)
    spec["trace"] = a.trace
    t_jvm = time.time()
    res = run_harness(cp, spec, run_dir, cores, started)
    attempted, failed, lat, wall, detail = evaluate(a.workload, res, check, spec)
    setup_s = gen_s + (res["body_start_epoch_ms"] - t_jvm * 1000.0) / 1000.0
    s = stats.summarize(lat)
    e2e = {"setup_s": (setup_s, "s"), "wall_s": (wall, "s"), "p50_ms": (s["p50"], "ms"),
           "tail_ms": (s["tail"], "ms"), "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    detail.update({"workload": a.workload, "seed": a.seed, "nproc": nproc,
                   "master": f"local[{cores}]", "heap": HEAP, "loadavg_ambient": load,
                   "fail_frac": failed / attempted, "latency": s,
                   "traced": bool(a.trace)})
    if load[0] > 3.0:
        detail["load_warning"] = (f"box already contended at start: ambient load1 "
                                  f"{load[0]:.2f} > 3.0 - treat timings as suspect")
    last = os.path.join(WORK, f"last-{a.workload}-{a.seed}.json")
    if a.trace:
        extra = {}
        if a.workload == "stream_votes":
            one = dict(spec, drain_only=1)
            one.pop("result", None)
            one_dir = os.path.join(WORK, "run1")
            shutil.rmtree(one_dir, ignore_errors=True)
            os.makedirs(one_dir)
            one["work"] = one_dir
            r1 = run_harness(cp, one, one_dir, 1, started)
            extra["rows_per_s_1core"] = r1["drain_events"] / r1["drain_s"]
            shutil.rmtree(one_dir, ignore_errors=True)
        metrics, trace = layers.per_layer(a.workload, res, cores, detail, extra)
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            detail["trace_overhead"] = {k: (v[0] - base[k]) / base[k]
                                        for k, v in e2e.items() if base.get(k)}
        else:
            detail["trace_overhead"] = "no untraced run of this workload and seed recorded"
        detail["traced_end_to_end"] = {k: v[0] for k, v in e2e.items()}
        with open(os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(trace, f)
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        with open(last, "w") as f:
            json.dump({k: v[0] for k, v in e2e.items()}, f)
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
