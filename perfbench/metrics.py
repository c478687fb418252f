"""End-to-end and per-layer metrics from the measurements of one run.

End-to-end metrics come from timers around public calls, the serving
directory watcher (commit times) and Spark's StreamingQueryProgress. The
per-layer metrics of a traced run add SparkListener job counts per tag,
manifest and directory listings, and the spans of `perfbench.Main`.
"""
import glob
import json
import os
import statistics


def p50(xs):
    return float(statistics.median(xs)) if xs else 0.0


def size_of(paths):
    return sum(os.path.getsize(p) for p in paths)


def data_files(d):
    return [f for f in glob.glob(os.path.join(d, "**", "*"), recursive=True)
            if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))]


def progress(leg, key="progress"):
    """Progress reports of the triggers that ran a batch."""
    return [p for p in map(json.loads, leg[key]) if "addBatch" in p["durationMs"]]


def serving_state_bytes(serving):
    """Bytes of the newest manifest's serving state."""
    versions = sorted(int(v[2:]) for v in os.listdir(serving) if v.startswith("v="))
    with open(os.path.join(serving, f"v={versions[-1]}", "_MANIFEST")) as f:
        owners = [ln.split("=") for ln in f.read().split("\n")[1:] if ln]
    return sum(size_of(data_files(os.path.join(serving, f"v={v}", f"bucket={b}")))
               for b, v in owners)


def visibility(res, batch_of, gen):
    """Per trickle record of the paced files (the first file only warms the
    stream up): serving commit time of its batch minus the time its file
    was due."""
    sv = res["serve"]
    due = {d["file"]: d["due"] for d in sv["drops"]}
    out = []
    for i, recs in enumerate(gen["trickle"][1:], start=1):
        t = due[f"part-{i:05d}.jsonl"]
        for r in recs:
            b = batch_of.get((r.pk, r.txid))
            out.append(sv["commits"][str(b)] - t)
    return out


def catchup_rate(cu):
    """Lines per trigger over the median time between consecutive serving
    commits. Every trigger reads one log file; the first trigger starts
    the stream up and the second runs on code still being compiled, so the
    rate is taken over the gaps that the third and later triggers close."""
    data = [p["batchId"] for p in progress(cu) if p["numInputRows"] > 0]
    rows = [p["numInputRows"] for p in progress(cu) if p["numInputRows"] > 0]
    t = [cu["commits"][str(b)] for b in data]
    gaps = [b - a for a, b in zip(t, t[1:])]
    return p50(rows[2:]) / (p50(gaps[1:]) / 1000.0)


def end_to_end(cfg, res, gen, outcome):
    cu, sv = res["catchup"], res["serve"]
    vis = visibility(res, outcome["batch_of"], gen)
    reads = [r for r in sv["reads"] if "error" not in r]
    single = [r["total_ms"] for r in reads if r["kind"] == "single"]
    batch = [r["total_ms"] for r in reads if r["kind"] == "batch"]
    return {
        "setup_s": (p50([s["setup_ms"] for s in res["setup"]]) / 1000, "s"),
        "catchup_rec_per_s": (catchup_rate(cu), "rec/s"),
        "serving_state_mb": (serving_state_bytes(
            os.path.join(cfg["catchup"]["work"], "serving")) / 1e6, "MB"),
        "visibility_p50_ms": (p50(vis), "ms"),
        "lookup_p50_ms": (p50(single), "ms"),
        "lookup_batch_p50_ms": (p50(batch), "ms"),
        "scan_ms": (p50([s["ms"] for s in sv["scans"] if "error" not in s and not s["warm"]]),
                    "ms"),
    }


def stream_layer(prefix, leg, jobs, short=False):
    """Main-query figures over the triggers that read data; batches with
    no input (run to advance the watermark) are counted apart."""
    every = progress(leg)
    ps = [p for p in every if p["numInputRows"] > 0]
    d = lambda k: [p["durationMs"].get(k, 0) for p in ps]  # noqa: E731
    out = {f"{prefix}.stream.triggers": (len(ps), "count"),
           f"{prefix}.stream.empty_batches": (len(every) - len(ps), "count"),
           f"{prefix}.stream.rows_per_trigger_p50": (p50([p["numInputRows"] for p in ps]), "rows"),
           f"{prefix}.stream.trigger_ms_p50": (p50(d("triggerExecution")), "ms"),
           f"{prefix}.stream.add_batch_ms_p50": (p50(d("addBatch")), "ms")}
    if not short:
        out.update({
            f"{prefix}.stream.query_planning_ms_p50": (p50(d("queryPlanning")), "ms"),
            f"{prefix}.stream.latest_offset_ms_p50": (p50(d("latestOffset")), "ms"),
            f"{prefix}.stream.wal_commit_ms_p50": (p50(d("walCommit")), "ms"),
            f"{prefix}.stream.commit_offsets_ms_p50": (p50(d("commitOffsets")), "ms")})
    per = [jobs[t] for t in (f"stream:{p['id']}:{p['batchId']}" for p in ps) if t in jobs]
    out.update({
        f"{prefix}.spark.jobs_per_trigger": (p50([v["jobs"] for v in per]), "count"),
        f"{prefix}.spark.shuffle_mb_per_trigger":
            (p50([v["shuffle_write_bytes"] / 1e6 for v in per]), "MB"),
        f"{prefix}.spark.task_ms_per_trigger": (p50([v["task_ms"] for v in per]), "ms")})
    return out


def serving_layer(prefix, leg, input_bytes):
    """Serving versions of the triggers that read data (a batch with no
    input commits a version that rewrites nothing)."""
    data = {str(p["batchId"]) for p in progress(leg) if p["numInputRows"] > 0}
    vs = [v for b, v in leg["versions"].items() if b in data]
    written = sum(v["bytes"] for v in vs)
    return {
        f"{prefix}.serving.buckets_rewritten_p50": (p50([v["rewritten"] for v in vs]), "count"),
        f"{prefix}.serving.mb_written_per_trigger": (p50([v["bytes"] / 1e6 for v in vs]), "MB"),
        f"{prefix}.serving.files_per_version": (p50([v["files"] for v in vs]), "count"),
        f"{prefix}.serving.write_amp": (written / input_bytes, "ratio")}


def per_layer(cfg, res, gen, outcome):
    cu, sv, bd = res["catchup"], res["serve"], res["board"]
    jobs = res["jobs"]
    tag = lambda t: jobs.get(t, {"jobs": 0, "input_bytes": 0, "shuffle_write_bytes": 0,  # noqa: E731
                                 "task_ms": 0})
    cu_work = cfg["catchup"]["work"]
    cu_bytes = size_of(glob.glob(os.path.join(cu_work, "src", "*.jsonl")))
    sv_bytes = size_of(glob.glob(os.path.join(cfg["serve"]["work"], "src", "*.jsonl")))
    out = {"cdc.parse_ms": (cu["parse_ms"], "ms")}
    out.update(stream_layer("catchup", cu, jobs))
    last = progress(cu)[-1]["stateOperators"][0]
    cps = progress(cu)
    out.update({
        "catchup.stream.dedup_state_rows": (last["numRowsTotal"], "rows"),
        "catchup.stream.dedup_state_mb": (last["memoryUsedBytes"] / 1e6, "MB"),
        "catchup.stream.dedup_dropped_rows": (sum(
            p["stateOperators"][0].get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
            for p in cps), "rows"),
        "catchup.stream.late_dropped_rows": (sum(
            p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) for p in cps), "rows"),
        "catchup.dlq.rows": (sum(outcome["error_lines"].values()), "rows"),
        "catchup.dlq.add_batch_ms_p50": (p50([p["durationMs"]["addBatch"]
                                              for p in progress(cu, "dlq_progress")]), "ms"),
        "catchup.archive.mb_written": (size_of(data_files(os.path.join(cu_work, "archive"))) / 1e6,
                                       "MB"),
        "catchup.archive.files_written": (len(data_files(os.path.join(cu_work, "archive"))),
                                          "count")})
    out.update(serving_layer("catchup", cu, cu_bytes))
    out.update(stream_layer("serve", sv, jobs, short=True))
    out.update(serving_layer("serve", sv, sv_bytes))
    reads = [r for r in sv["reads"] if "error" not in r]
    live = [r for r in sv["live"] if "error" not in r]
    for kind, name in (("single", "lookup"), ("batch", "lookup_batch")):
        rs = [r for r in reads if r["kind"] == kind]
        out.update({
            # the same call while triggers hold the task slots
            f"{name}.live_ms_p50": (p50([r["total_ms"] for r in live if r["kind"] == kind]),
                                    "ms"),
            f"{name}.resolve_ms_p50": (p50([r["resolve_ms"] for r in rs]), "ms"),
            f"{name}.collect_ms_p50": (p50([r["collect_ms"] for r in rs]), "ms"),
            f"{name}.jobs": (tag(name)["jobs"] / max(len(rs), 1), "count"),
            f"{name}.files_read": (p50([r["files"] for r in rs]), "count"),
            f"{name}.input_mb": (tag(name)["input_bytes"] / max(len(rs), 1) / 1e6, "MB")})
    scans = [s for s in sv["scans"] if "error" not in s and not s["warm"]]
    out["scan.input_mb"] = (tag("scan")["input_bytes"] / max(len(scans), 1) / 1e6, "MB")
    out["seed.bootstrap_s"] = (p50([s["bootstrap_ms"] for s in res["setup"]]) / 1000, "s")
    out["gen.lag_ms_max"] = (max(d["at"] - d["due"] for d in sv["drops"]), "ms")
    out["source.backlog_files_max"] = (
        max(p["numInputRows"] for p in progress(sv)) / len(gen["trickle"][0]), "count")
    it_jobs = it_shuffle = it_task = 0
    for q in bd["iterative"]:
        n, t = q["query"], tag(f"q:{q['query']}")
        out[f"query.{n}.s"] = (q.get("ms", 0.0) / 1000, "s")
        out[f"query.{n}.build_s"] = (q.get("build_ms", 0.0) / 1000, "s")
        out[f"query.{n}.jobs"] = (t["jobs"], "count")
        it_jobs += t["jobs"]
        it_shuffle += t["shuffle_write_bytes"]
        it_task += t["task_ms"]
    op_jobs = op_shuffle = 0
    for q in bd["onepass"]:
        n, t = q["query"], tag(f"q:{q['query']}")
        out[f"query.{n}.s"] = (q.get("ms", 0.0) / 1000, "s")
        out[f"query.{n}.jobs"] = (t["jobs"], "count")
        op_jobs += t["jobs"]
        op_shuffle += t["shuffle_write_bytes"]
    out.update({"board.iterative_s": (sum(q.get("ms", 0.0) for q in bd["iterative"]) / 1000, "s"),
                "board.onepass_s": (sum(q.get("ms", 0.0) for q in bd["onepass"]) / 1000, "s"),
                "board.iterative_jobs": (it_jobs, "count"),
                "board.iterative_shuffle_mb": (it_shuffle / 1e6, "MB"),
                "board.iterative_task_s": (it_task / 1000, "s"),
                "board.onepass_jobs": (op_jobs, "count"),
                "board.onepass_shuffle_mb": (op_shuffle / 1e6, "MB")})
    doc = {"workload": cfg["workload"], "per_layer": {k: v for k, (v, _) in out.items()},
           "end_to_end_traced": {k: v for k, (v, _) in
                                 end_to_end(cfg, res, gen, outcome).items()},
           "jobs": jobs, "spans": res["spans"]}
    return out, doc
