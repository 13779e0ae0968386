"""Per-layer metrics of a traced run, named after the repository module
each layer measures (see NOTES.md for which end-to-end metric each one
should move). A layer a workload does not run reports 0.
"""
import datetime as dt
import statistics

import stats

NAMES = {
    "stream": ["batches", "trigger_ms", "latest_offset_ms", "get_batch_ms", "query_planning_ms",
               "add_batch_ms", "wal_commit_ms", "commit_offsets_ms", "backlog_files",
               "watermark_lag_s"],
    "state": ["rows_total", "memory_bytes", "commit_ms", "update_ms"],
    "driver": ["build_ms", "analysis_ms", "optimization_ms", "planning_ms", "gap_ms", "jobs",
               "stages", "tasks"],
    "exec": ["stage_ms", "task_ms", "cpu_ms", "gc_ms", "busy_frac", "skew", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "speedup_vs_1core"],
    "log": ["resolve_ms", "version", "live_files", "checkpoints"],
    "scan": ["files_read_frac", "bytes_read"],
    "commit": ["insert_ms", "merge_ms", "delete_ms", "files_added", "files_removed",
               "bytes_written_per_user_byte"],
    "jvm": ["gc_ms", "heap_peak_mb"],
}


def unit(name):
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("bytes", "bytes"), ("bytes_read", "bytes"),
                      ("_mb", "MB"), ("_frac", "ratio"), ("_byte", "ratio"),
                      ("_1core", "ratio"), ("skew", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _windows(workload, res):
    """The ops of the measured body as (start_ms, end_ms, jobs, op)."""
    jobs = res["trace"]["jobs"]
    if workload == "stream_votes":
        by_batch = {}
        for j in jobs:
            by_batch.setdefault((j["query_id"], str(j["batch_id"])), []).append(j)
        out = []
        for p in res["progress"]:
            if p["timestamp"] is None:
                continue
            start = _epoch_ms(p["timestamp"])
            if start < res["body_start_epoch_ms"]:
                continue
            end = start + p["duration_ms"].get("triggerExecution", 0)
            out.append((start, end, by_batch.get((p["id"], str(p["batch_id"])), []), p))
        return out
    return [(o["start_ms"], o["end_ms"],
             [j for j in jobs if o["start_ms"] <= j["submit_ms"] <= o["end_ms"]], o)
            for o in res["ops"]]


def _epoch_ms(iso):
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def per_layer(workload, res, cores, detail, extra):
    """Returns ({metric: (value, unit)}, trace file content)."""
    tr = res["trace"]
    stages = {s["id"]: s for s in tr["stages"]}
    wins = _windows(workload, res)
    m = {f"{layer}.{n}": 0.0 for layer, ns in NAMES.items() for n in ns}

    # driver and exec: per op, then median / mean over ops
    per_op = []
    for start, end, jobs, op in wins:
        st = [stages[i] for j in jobs for i in j["stages"] if i in stages and stages[i]["end_ms"]]
        qs = [q for q in tr["queries"] if start <= q["start_ms"] <= end]
        per_op.append({
            "op": op, "stages": st, "jobs": len(jobs), "queries": qs,
            "gap": stats.gap(start, end, [(s["submit_ms"], s["end_ms"]) for s in st]),
        })
    if per_op:
        m["driver.analysis_ms"] = _median([sum(q["analysis_ms"] for q in o["queries"]) for o in per_op])
        m["driver.optimization_ms"] = _median(
            [sum(q["optimization_ms"] for q in o["queries"]) for o in per_op])
        m["driver.planning_ms"] = _median([sum(q["planning_ms"] for q in o["queries"]) for o in per_op])
        m["driver.gap_ms"] = _median([o["gap"] for o in per_op])
        m["driver.jobs"] = _mean([o["jobs"] for o in per_op])
        m["driver.stages"] = _mean([len(o["stages"]) for o in per_op])
        m["driver.tasks"] = _mean([sum(len(s["tasks"]) for s in o["stages"]) for o in per_op])
        # a commit's spark.sql runs the whole DML: only reads and queries
        # have a build step of their own
        builds = [o["op"]["build_ms"] for o in per_op if "build_ms" in o["op"]
                  and o["op"].get("kind") not in ("insert", "merge", "delete")]
        m["driver.build_ms"] = _median(builds)
        all_st = [s for o in per_op for s in o["stages"]]
        n = len(per_op)
        stage_ms = sum(s["end_ms"] - s["submit_ms"] for s in all_st)
        task_ms = sum(s["task_ms"] for s in all_st)
        m["exec.stage_ms"] = stage_ms / n
        m["exec.task_ms"] = task_ms / n
        for k in ("cpu_ms", "gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes"):
            m[f"exec.{k}"] = sum(s[k] for s in all_st) / n
        m["exec.busy_frac"] = task_ms / (stage_ms * cores) if stage_ms else 0.0
        skews = [max(s["tasks"]) / max(1.0, statistics.median(s["tasks"]))
                 for s in all_st if len(s["tasks"]) >= cores]
        m["exec.skew"] = max(skews) if skews else 0.0

    if workload == "stream_votes":
        ps = [op for _, _, _, op in wins]
        dur = {"trigger_ms": "triggerExecution", "latest_offset_ms": "latestOffset",
               "get_batch_ms": "getBatch", "query_planning_ms": "queryPlanning",
               "add_batch_ms": "addBatch", "wal_commit_ms": "walCommit",
               "commit_offsets_ms": "commitOffsets"}
        m["stream.batches"] = len(ps)
        for k, key in dur.items():
            m[f"stream.{k}"] = _median([p["duration_ms"].get(key, 0) for p in ps])
        m["stream.backlog_files"] = res["backlog_files"]
        lags = [(_epoch_ms(p["event_time"]["max"]) - _epoch_ms(p["event_time"]["watermark"])) / 1000
                for p in ps if p["query"] == "hourly_votes" and "watermark" in p["event_time"]
                and "max" in p["event_time"]]
        m["stream.watermark_lag_s"] = _median(lags)
        last = {}
        for p in ps:
            last[p["query"]] = p
        m["state.rows_total"] = sum(s["rows_total"] for p in last.values() for s in p["state"])
        m["state.memory_bytes"] = sum(s["memory_bytes"] for p in last.values() for s in p["state"])
        m["state.commit_ms"] = _median([sum(s["commit_ms"] for s in p["state"]) for p in ps])
        m["state.update_ms"] = _median([sum(s["update_ms"] for s in p["state"]) for p in ps])
        if extra.get("rows_per_s_1core"):
            m["exec.speedup_vs_1core"] = detail["rows_per_s"] / extra["rows_per_s_1core"]
            detail["rows_per_s_1core"] = extra["rows_per_s_1core"]

    if workload == "lakehouse_rw":
        reads = [o for o in per_op if o["op"]["kind"] in ("point", "range", "version")]
        commits = [o["op"] for o in per_op if o["op"]["kind"] in ("insert", "merge", "delete")]
        m["log.resolve_ms"] = _median([o["op"]["resolve_ms"] for o in reads])
        m["log.version"] = res["log"]["version"]
        m["log.live_files"] = res["log"]["live_files"]
        every = res["log"]["checkpoint_interval"]
        m["log.checkpoints"] = res["log"]["version"] // every - res["base_version"] // every
        m["scan.files_read_frac"] = _median(
            [sum(q["files_read"] for q in o["queries"]) / o["op"]["live_files"]
             for o in reads if o["op"]["live_files"]])
        m["scan.bytes_read"] = _median([sum(s["input_bytes"] for s in o["stages"]) for o in reads])
        for kind in ("insert", "merge", "delete"):
            m[f"commit.{kind}_ms"] = _median([c["ms"] for c in commits if c["kind"] == kind])
        m["commit.files_added"] = _mean([c["files_added"] for c in commits])
        m["commit.files_removed"] = _mean([c["files_removed"] for c in commits])
        user = sum(c["user_bytes"] for c in commits)
        m["commit.bytes_written_per_user_byte"] = (
            sum(c["bytes_added"] for c in commits) / user if user else 0.0)

    m["jvm.gc_ms"] = res["jvm_gc_ms"]
    m["jvm.heap_peak_mb"] = res["jvm_heap_peak_mb"]

    # spans of the measured body: the harness's own layer calls (for the
    # stream, one per trigger), plus jobs and stages under the op that ran them
    spans = list(res.get("spans", []))
    trigger_of = {}
    if workload == "stream_votes":
        for start, end, jobs, p in wins:
            trigger_of.update({j["id"]: len(spans) for j in jobs})
            spans.append({"id": len(spans), "name": f"{p['query']} batch {p['batch_id']}",
                          "layer": "stream", "parent": -1, "start_ms": start, "end_ms": end})
    nid = len(spans)
    roots = [s for s in spans if s["parent"] == -1]
    for j in tr["jobs"]:
        if j["submit_ms"] < res["body_start_epoch_ms"]:
            continue
        parent = trigger_of.get(j["id"], next(
            (s["id"] for s in roots if s["start_ms"] <= j["submit_ms"] <= s["end_ms"]), -1))
        st = [stages[i] for i in j["stages"] if i in stages and stages[i]["end_ms"]]
        if not st:
            continue
        jid = nid
        spans.append({"id": jid, "name": f"job {j['id']}", "layer": "driver", "parent": parent,
                      "start_ms": j["submit_ms"], "end_ms": max(s["end_ms"] for s in st)})
        nid += 1
        for s in st:
            spans.append({"id": nid, "name": f"stage {s['id']}", "layer": "exec", "parent": jid,
                          "start_ms": s["submit_ms"], "end_ms": s["end_ms"]})
            nid += 1
    trace = {"workload": workload, "spans": spans, "self_ms": stats.self_times(spans),
             "metrics": m}
    return {k: (v, unit(k)) for k, v in m.items()}, trace
