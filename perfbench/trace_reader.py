"""Reads a traced run back into per-layer metrics.

Inputs: the run's result file (spans with their driver counters, pass
times, function ns/row) and the Spark event log of the traced session.
Every Spark job carries the job group of the (workload, pass, query,
phase) it ran under; a job without one (started from a thread the
benchmark did not tag) is placed by its submission time. Stages and tasks
hang under their job. Plan counters come from each SQL execution's final
(post-AQE) plan and its SQL metric values.

Spans form the tree run -> pass -> query -> construct/execute; Spark
jobs hang under the phase. A span's self time is its duration minus the
part of it its children cover, so a phase's self time is driver time with
no Spark job running.

`per_layer(result, work_dir, untraced_pass_s)` returns (metrics, per_query):
the workload's metrics, each a per-pass mean over the traced passes unless
it is a ratio, and the same figures for each query as the median over the
traced passes.

Layers carry the engine's module names: `queries` (plan construction in
`SparkEntry.queries`), `operators` (executing the built plan),
`operators.dedup` (pair candidates and yield), `core` (the MapReduce core:
typed `groupByKey` plans, checkpoint blocks), `functions` (graft's SQL
functions), `sources` (scans and sinks) and `driver` (the driver JVM over
the traced passes; `driver.setup` and `driver.cold` give it over set-up
and the untraced cold pass).
"""
import glob
import json
import os
import statistics

MB = 1048576.0
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
# the graft.core MapReduce shape: typed groupByKey (AppendColumns*) feeding
# mapGroups or reduceGroups
CORE_NODES = ("AppendColumns", "MapGroups")
FUNCTIONS = ("rolling_hash", "vector_dot", "minhash_agg", "char_entropy",
             "count_in", "nfc_normalize", "bloom_agg", "bloom_contains",
             "bloom_probe", "chunk_ids", "bfd_bin_ids", "char_ngram_features",
             "winnow_fps", "kgram_hashes", "pq_encode", "pq_adc_lut")


def union_len(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_log(work):
    files = sorted(glob.glob(os.path.join(work, "eventlog", "*", "events_*"))
                   + glob.glob(os.path.join(work, "eventlog", "local-*")))
    events = []
    for f in files:
        with open(f) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def walk(node, under_reuse=False):
    """Yields (node, under_reused_exchange) over a sparkPlanInfo tree."""
    yield node, under_reuse
    reuse = under_reuse or node["nodeName"] == "ReusedExchange"
    for c in node.get("children", []):
        yield from walk(c, reuse)


def plan_counters(info, desc, acc):
    """Counters of one executed plan; `acc` maps SQL metric id -> value."""
    def metric(node, name):
        for m in node.get("metrics", []):
            if m["name"] == name:
                return m["accumulatorId"], acc.get(m["accumulatorId"], 0)
        return None, 0

    c = {"exchanges": 0, "reused_exchanges": 0, "broadcasts": 0, "scans": 0,
         "join_rows_max": 0, "output_rows": 0, "files_written": 0,
         "core_plan": False, "mapped": 0, "shuffled": 0}
    seen = set()
    for node, reused in walk(info):
        name = node["nodeName"]
        if name == "ReusedExchange":
            c["reused_exchanges"] += 1
        if reused:
            continue
        if name.startswith(CORE_NODES):
            c["core_plan"] = True
        if name == "Exchange":
            mid, v = metric(node, "shuffle records written")
            if mid not in seen:
                seen.add(mid)
                c["exchanges"] += 1
                c["shuffled"] += v
        elif name == "BroadcastExchange":
            c["broadcasts"] += 1
        elif name.startswith("Scan ") or name.startswith("BatchScan"):
            c["scans"] += 1
        elif name == "ColumnarToRow":
            c["mapped"] += metric(node, "number of output rows")[1]
        elif name.startswith(JOIN_NODES):
            c["join_rows_max"] = max(c["join_rows_max"],
                                     metric(node, "number of output rows")[1])
        c["files_written"] += metric(node, "number of written files")[1]
    # rows out of the first node under the sink that counts them
    node = info
    while node is not None:
        mid, v = metric(node, "number of output rows")
        if mid is not None and node is not info:
            c["output_rows"] = v
            break
        kids = node.get("children", [])
        node = kids[0] if kids else None
    c["functions"] = sorted(f for f in FUNCTIONS if f + "(" in desc)
    return c


def per_layer(res, work, untraced_pass_s):
    events = read_log(work)
    spans = {s["id"]: s for s in res["spans"]}
    phases = [s for s in spans.values() if s["name"] in ("construct", "execute")]

    def group_at(t_us):
        for s in phases:
            if s["start_us"] <= t_us <= s["end_us"]:
                return s["group"]
        return None

    job_group, stage_job, exec_group = {}, {}, {}
    jobs = {}
    tasks = []          # (group, stage, start_s, end_s, metrics, failed)
    stages = {}         # stage -> (submitted_s, completed_s)
    acc = {}
    plans, descs = {}, {}
    blocks, block_trace = {}, []    # rdd block -> bytes; (t_us, total bytes)
    now_us = 0
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            now_us = e["Submission Time"] * 1000
            g = props.get("spark.jobGroup.id") or group_at(now_us)
            job_group[e["Job ID"]] = g
            jobs[e["Job ID"]] = [now_us / 1e6, None]
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
            xid = props.get("spark.sql.execution.id")
            if xid is not None and g is not None:
                exec_group.setdefault(int(xid), g)
        elif ev == "SparkListenerJobEnd":
            now_us = e["Completion Time"] * 1000
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]][1] = now_us / 1e6
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            now_us = info.get("Completion Time", now_us / 1000) * 1000
            stages[info["Stage ID"]] = (info.get("Submission Time", 0) / 1e3,
                                        info.get("Completion Time", 0) / 1e3)
        elif ev == "SparkListenerTaskEnd":
            ti = e["Task Info"]
            now_us = ti["Finish Time"] * 1000
            for a in ti.get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    try:
                        acc[a["ID"]] = max(acc.get(a["ID"], 0), int(a["Value"]))
                    except (TypeError, ValueError):
                        pass
            g = job_group.get(stage_job.get(e["Stage ID"]))
            failed = ti.get("Failed") or ti.get("Killed") or \
                e.get("Task End Reason", {}).get("Reason") != "Success"
            tasks.append((g, e["Stage ID"], ti["Launch Time"] / 1e3,
                          ti["Finish Time"] / 1e3, e.get("Task Metrics") or {},
                          bool(failed)))
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for mid, v in e["accumUpdates"]:
                acc[mid] = max(acc.get(mid, 0), int(v))
        elif ev.endswith("SparkListenerSQLExecutionStart") or \
                ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            plans[e["executionId"]] = e["sparkPlanInfo"]
            descs[e["executionId"]] = e.get("physicalPlanDescription", "")
            if "time" in e:
                now_us = e["time"] * 1000
        elif ev == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            bid = info["Block ID"]
            if bid.startswith("rdd_"):
                size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                if size:
                    blocks[bid] = size
                else:
                    blocks.pop(bid, None)
                block_trace.append((now_us, sum(blocks.values())))

    # ---- per phase ----
    ph = {g: {"jobs": 0, "stages": set(), "tasks": 0, "task_s": 0.0,
              "intervals": [], "shuffle_write": 0, "shuffle_read": 0,
              "spill": 0, "task_failures": 0, "task_gc_s": 0.0, "input": 0,
              "written": 0, "write_jobs": set(), "exchanges": 0,
              "reused_exchanges": 0, "broadcasts": 0, "scans": 0,
              "join_rows_max": 0, "output_rows": 0, "files_written": 0,
              "mapped": 0, "shuffled": 0, "functions": set(),
              "stage_tasks": {}} for g in {s["group"] for s in phases}}
    for j, g in job_group.items():
        if g in ph:
            ph[g]["jobs"] += 1
    for g, sid, t0, t1, m, failed in tasks:
        if g not in ph:
            continue
        p = ph[g]
        p["stages"].add(sid)
        p["tasks"] += 1
        p["task_s"] += t1 - t0
        p["intervals"].append((t0, t1))
        p["stage_tasks"].setdefault(sid, []).append(t1 - t0)
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        p["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        p["shuffle_read"] += sr.get("Remote Bytes Read", 0) + \
            sr.get("Local Bytes Read", 0)
        p["spill"] += m.get("Disk Bytes Spilled", 0)
        p["task_failures"] += int(failed)
        p["task_gc_s"] += m.get("JVM GC Time", 0) / 1e3
        p["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        written = m.get("Output Metrics", {}).get("Bytes Written", 0)
        p["written"] += written
        if written:
            p["write_jobs"].add(stage_job.get(sid))
    for xid, g in exec_group.items():
        if g not in ph or xid not in plans:
            continue
        c = plan_counters(plans[xid], descs[xid], acc)
        p = ph[g]
        for k in ("exchanges", "reused_exchanges", "broadcasts", "scans",
                  "output_rows", "files_written"):
            p[k] += c[k]
        p["join_rows_max"] = max(p["join_rows_max"], c["join_rows_max"])
        if c["core_plan"]:
            p["mapped"] += c["mapped"]
            p["shuffled"] += c["shuffled"]
        p["functions"].update(c["functions"])

    def self_s(span, children):
        return (span["end_us"] - span["start_us"]) / 1e6 - union_len(
            [(c["start_us"] / 1e6, c["end_us"] / 1e6) for c in children],
            span["start_us"] / 1e6, span["end_us"] / 1e6)

    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)

    def peak_blocks(t0, t1):
        before = [v for t, v in block_trace if t < t0]
        vals = [before[-1] if before else 0] + \
            [v for t, v in block_trace if t0 <= t <= t1]
        return max(vals) / MB, vals[-1] / MB

    # ---- per (pass, query) ----
    rows = {}   # query -> list of per-pass dicts
    for q_span in (s for s in spans.values()
                   if s["parent"] in spans and
                   spans[s["parent"]]["name"].startswith("pass")):
        q = q_span["name"]
        r = {}
        for phase_span in kids.get(q_span["id"], []):
            name, p = phase_span["name"], ph[phase_span["group"]]
            wall = (phase_span["end_us"] - phase_span["start_us"]) / 1e6
            job_iv = [tuple(jobs[j]) for j, g in job_group.items()
                      if g == phase_span["group"] and jobs[j][1] is not None]
            task_wall = union_len(p["intervals"], phase_span["start_us"] / 1e6,
                                  phase_span["end_us"] / 1e6)
            r[f"{name}_s"] = wall
            r[f"{name}_jobs"] = p["jobs"]
            r[f"{name}_self_s"] = wall - union_len(
                job_iv, phase_span["start_us"] / 1e6, phase_span["end_us"] / 1e6)
            r[f"{name}_task_s"] = p["task_s"]
            r[f"{name}_idle_s"] = wall - task_wall
            for k in ("tasks", "shuffle_write", "shuffle_read", "spill",
                      "task_failures", "task_gc_s", "input", "written",
                      "exchanges", "reused_exchanges", "broadcasts", "scans",
                      "output_rows", "files_written", "mapped", "shuffled"):
                r[f"{name}.{k}"] = p[k]
            r[f"{name}.stages"] = len(p["stages"])
            r[f"{name}.join_rows_max"] = p["join_rows_max"]
            r[f"{name}.write_s"] = union_len(
                [tuple(jobs[j]) for j in p["write_jobs"]
                 if j in jobs and jobs[j][1] is not None])
            r[f"{name}.functions"] = sorted(p["functions"])
            longest = max(p["stage_tasks"].items(),
                          key=lambda kv: stages.get(kv[0], (0, 0))[1]
                          - stages.get(kv[0], (0, 0))[0], default=None)
            r[f"{name}.task_skew"] = (
                max(longest[1]) / max(statistics.median(longest[1]), 1e-3)
                if longest else 1.0)
            for k, v in (phase_span.get("driver") or {}).items():
                r[f"{name}.driver.{k}"] = v
        r["checkpoint_peak_mb"], r["leftover_blocks_mb"] = peak_blocks(
            q_span["start_us"], q_span["end_us"])
        r["self_s"] = self_s(q_span, kids.get(q_span["id"], []))
        rows.setdefault(q, []).append(r)

    cores = res["cores"]

    def layer(rs, reduce_):
        """rs: per-pass dicts for one query or summed over queries."""
        def tot(k):
            return reduce_([r.get(k, 0) for r in rs])
        c_s, e_s = tot("construct_s"), tot("execute_s")
        mapped = tot("construct.mapped") + tot("execute.mapped")
        shuffled = tot("construct.shuffled") + tot("execute.shuffled")
        cand, outp = tot("execute.join_rows_max"), tot("execute.output_rows")
        both = lambda k: tot(f"construct.{k}") + tot(f"execute.{k}")  # noqa: E731
        return {
            "queries.construct_s": c_s,
            "queries.construct_jobs": tot("construct_jobs"),
            "queries.construct_self_s": tot("construct_self_s"),
            "operators.execute_s": e_s,
            "operators.execute_jobs": tot("execute_jobs"),
            "operators.execute_self_s": tot("execute_self_s"),
            "operators.stages": tot("execute.stages"),
            "operators.tasks": tot("execute.tasks"),
            "operators.exchanges": tot("execute.exchanges"),
            "operators.reused_exchanges": tot("execute.reused_exchanges"),
            "operators.broadcasts": tot("execute.broadcasts"),
            "operators.shuffle_write_mb": tot("execute.shuffle_write") / MB,
            "operators.shuffle_read_mb": tot("execute.shuffle_read") / MB,
            "operators.spill_mb": tot("execute.spill") / MB,
            "operators.task_busy_frac":
                tot("execute_task_s") / max(e_s * cores, 1e-9),
            "operators.driver_idle_s": tot("execute_idle_s"),
            "operators.task_skew": max((r.get("execute.task_skew", 1.0)
                                        for r in rs), default=1.0),
            "operators.task_failures": both("task_failures"),
            "operators.task_gc_s": both("task_gc_s"),
            "operators.dedup.candidate_pairs": cand,
            "operators.dedup.output_pairs": outp,
            "operators.dedup.pair_yield": outp / cand if cand else 0.0,
            "core.mapped_records": mapped,
            "core.shuffled_records": shuffled,
            "core.combine_ratio": shuffled / mapped if mapped else 0.0,
            "core.checkpoint_peak_mb": max((r.get("checkpoint_peak_mb", 0)
                                            for r in rs), default=0.0),
            "core.leftover_blocks_mb": max((r.get("leftover_blocks_mb", 0)
                                            for r in rs), default=0.0),
            "sources.scans": both("scans"),
            "sources.input_mb": both("input") / MB,
            "sources.sinks.write_s": both("write_s"),
            "sources.sinks.written_mb": both("written") / MB,
            "sources.sinks.files_written": both("files_written"),
            "driver.gc_s": both("driver.gc_s"),
            "driver.jit_s": both("driver.jit_s"),
            "driver.codegen_compile_s": both("driver.codegen_compile_s"),
            "driver.error_logs": both("driver.error_logs"),
            "trace.query_self_s": tot("self_s"),
        }

    per_query = {}
    for q, rs in rows.items():
        med = {k: statistics.median([layer([r], sum)[k] for r in rs])
               for k in layer(rs[:1], sum)}
        med["functions"] = sorted({f for r in rs for ph_ in ("construct", "execute")
                                   for f in r.get(f"{ph_}.functions", [])})
        per_query[q] = med

    # workload: per-pass sums over queries, averaged over the traced passes
    passes = {}
    for q, rs in rows.items():
        for i, r in enumerate(rs):
            passes.setdefault(i, []).append(r)
    summed = [layer(rs, sum) for _, rs in sorted(passes.items())]
    metrics = {k: statistics.mean(m[k] for m in summed) for k in summed[0]}
    for k in ("operators.task_busy_frac", "operators.dedup.pair_yield",
              "core.combine_ratio"):
        metrics[k] = statistics.median(m[k] for m in summed)

    pass_spans = [s for s in spans.values() if s["name"].startswith("pass")]
    run_span = next(s for s in spans.values() if s["name"] == "run")
    metrics["trace.pass_self_s"] = statistics.mean(
        self_s(s, kids.get(s["id"], [])) for s in pass_spans)
    metrics["trace.run_self_s"] = self_s(run_span, pass_spans)
    traced_pass_s = statistics.median(
        sum(r.get("construct_s", 0) + r.get("execute_s", 0) for r in p["queries"])
        for p in res["traced"])
    metrics["trace.overhead_s"] = traced_pass_s - untraced_pass_s
    metrics["trace.passes"] = len(res["traced"])
    # set-up (the median over the run's set-ups) and the untraced cold pass
    for k in ("gc_s", "jit_s"):
        metrics[f"driver.setup.{k}"] = statistics.median(
            d[k] for d in res["driver_setup"])
    for k in ("gc_s", "jit_s", "codegen_compile_s", "error_logs"):
        metrics[f"driver.cold.{k}"] = res["driver_cold"][k]
    for k, v in res["functions"].items():
        if "." in k:
            name, mode = k.split(".")
            suffix = "" if mode == "codegen" else "_interpreted"
            metrics[f"functions.{name}.ns_per_row{suffix}"] = v
    units = {k: unit(k) for k in metrics}
    return {k: (v, units[k]) for k, v in metrics.items()}, per_query


def unit(name):
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if "ns_per_row" in last:
        return "ns/row"
    if last.endswith(("_frac", "_ratio", "_yield", "_skew")):
        return "ratio"
    return "count"
