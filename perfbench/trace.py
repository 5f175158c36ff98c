"""Per-layer numbers from a traced pass.

The client records, per query, the build and write boundaries, and from
Spark's listener buses every job, stage, task and planning record. Here
they become spans (pass > query > build | plan | execute > job > stage),
each layer's self time (its span minus the part its child spans cover),
and the per-layer counters named in WHY.md, per query and summed per pass.
All times are epoch microseconds; Spark's millisecond stamps are scaled.
"""
import json
import statistics
from collections import defaultdict

UNITS = {
    "operators.build_s": "s", "operators.build_jobs": "count",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "engine.execute_s": "s", "engine.jobs": "count", "engine.stages": "count",
    "engine.stages_skipped": "count", "engine.tasks": "count", "engine.idle_s": "s",
    "engine.busy_ratio": "1", "engine.executor_run_s": "s", "engine.executor_cpu_s": "s",
    "engine.gc_s": "s", "engine.task_skew": "1", "engine.shuffle_write_mb": "MB",
    "engine.shuffle_read_mb": "MB", "engine.spill_mb": "MB", "engine.task_failures": "count",
    "sources.input_mb": "MB", "sources.input_rows": "count", "sources.rows_per_result_row": "1",
    "io.output_mb": "MB", "io.output_files": "count", "io.store_bytes_ratio": "1",
    "self.build_s": "s", "self.plan_s": "s",
    "self.execute_s": "s", "self.job_s": "s", "self.stage_s": "s",
    "trace.pass_s": "s", "trace.overhead_ratio": "1",
}
MB = 2 ** 20
MS = 1000  # Spark stamps events in whole milliseconds
# Metrics that exist only per pass or per run, not per query.
PASS_ONLY = {"engine.task_skew", "io.output_files", "io.store_bytes_ratio",
             "trace.pass_s", "trace.overhead_ratio"}


def covered(span, children):
    """Microseconds of `span` covered by the union of `children`."""
    lo, hi = span
    parts = sorted((max(lo, a), min(hi, b)) for a, b in children if min(hi, b) > max(lo, a))
    total, end = 0, lo
    for a, b in parts:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_s(span, children):
    return (span[1] - span[0] - covered(span, children)) / 1e6


def _events(path):
    ev = defaultdict(list)
    for line in open(path):
        e = json.loads(line)
        ev[e["ev"]].append(e)
    return ev


def analyse(events_path, passes, result_rows, cpus):
    ev = _events(events_path)
    job_end_ms = {e["job"]: e["t"] for e in ev["job_end"]}
    stages = {(s["stage"], s["attempt"]): s for s in ev["stage"]}
    tasks_by_stage = defaultdict(list)
    for t in ev["task"]:
        tasks_by_stage[t["stage"]].append(t)

    per_pass, per_query, spans = [], [], []
    for p in (p for p in passes if p["traced"]):
        qs = p["queries"]
        by_qid = {q["qid"]: q for q in qs}

        def owner(job):
            """(query, phase) of a job: its job group, else the query
            whose build or write window holds its submission time."""
            g = job["group"]
            if g.startswith("q") and ":" in g:
                qid, phase = g[1:].split(":", 1)
                if int(qid) in by_qid:
                    return by_qid[int(qid)], phase
            t = job["t"] * 1000
            for q in qs:
                if q["build0"] - MS <= t < q["build1"]:
                    return q, "build"
                if q["build1"] <= t <= q["exec1"]:
                    return q, "execute"
            return None, None

        jobs = defaultdict(list)
        for j in ev["job_start"]:
            q, phase = owner(j)
            if q is not None:
                jobs[q["qid"]].append((j, phase))
        qes = defaultdict(list)
        for e in ev["qe"]:
            for q in qs:
                if q["build1"] - MS <= e["t"] * 1000 <= q["exec1"]:
                    qes[q["qid"]].append(e)

        sums = defaultdict(float)
        skew = 1.0
        task_time_us = wall_us = 0
        for q in qs:
            m = {k: 0.0 for k in UNITS if k not in PASS_ONLY}
            plan_ms = {k: sum(e[k] for e in qes[q["qid"]]) for k in ("analysis", "optimization", "planning")}
            plan_us = min(sum(plan_ms.values()) * 1000, q["exec1"] - q["build1"])
            # the DataFrame was analyzed inside build; the write re-uses that
            plan_ms["analysis"] += q["analysis_ms"]
            qspan = (q["build0"], q["exec1"])
            build = (q["build0"], q["build1"])
            plan = (q["build1"], q["build1"] + plan_us)
            execute = (plan[1], q["exec1"])
            spans += [dict(name="query", id=q["qid"], query=q["name"], start=qspan[0], end=qspan[1]),
                      dict(name="build", id=q["qid"], start=build[0], end=build[1]),
                      dict(name="plan", id=q["qid"], start=plan[0], end=plan[1]),
                      dict(name="execute", id=q["qid"], start=execute[0], end=execute[1])]
            job_spans = {"build": [], "execute": []}
            qtasks = []
            for j, phase in jobs[q["qid"]]:
                end_ms = job_end_ms.get(j["job"], j["t"])
                js = (j["t"] * 1000, end_ms * 1000)
                job_spans.setdefault(phase, []).append(js)
                spans.append(dict(name="job", id=q["qid"], job=j["job"], parent=phase,
                                  start=js[0], end=js[1]))
                ran = [s for (sid, _), s in stages.items() if sid in j["stages"]
                       and j["t"] <= s["submit"] <= end_ms]
                m["engine.stages_skipped"] += len(set(j["stages"]) - {s["stage"] for s in ran})
                stage_spans = []
                for s in ran:
                    ss = (s["submit"] * 1000, s["end"] * 1000)
                    stage_spans.append(ss)
                    spans.append(dict(name="stage", id=q["qid"], job=j["job"], stage=s["stage"],
                                      start=ss[0], end=ss[1]))
                    ts = tasks_by_stage[s["stage"]]
                    qtasks += ts
                    durs = sorted(t["finish"] - t["launch"] for t in ts)
                    if len(durs) >= 2:
                        skew = max(skew, durs[-1] / max(1, statistics.median(durs)))
                    m["self.stage_s"] += self_s(ss, [(t["launch"] * 1000, t["finish"] * 1000) for t in ts])
                m["engine.stages"] += len(ran)
                m["self.job_s"] += self_s(js, stage_spans)
                if phase == "build":
                    m["operators.build_jobs"] += 1
            m["engine.jobs"] = len(jobs[q["qid"]])
            task_iv = [(t["launch"] * 1000, t["finish"] * 1000) for t in qtasks]
            q_wall = qspan[1] - qspan[0]
            q_task_us = sum(b - a for a, b in task_iv)
            m["operators.build_s"] = (build[1] - build[0]) / 1e6
            for k, v in plan_ms.items():
                m[f"plans.{k}_ms"] = v
            m["engine.execute_s"] = (execute[1] - execute[0]) / 1e6
            m["engine.tasks"] = len(qtasks)
            m["engine.idle_s"] = self_s(qspan, task_iv)
            m["engine.busy_ratio"] = q_task_us / max(1, q_wall * cpus)
            m["engine.executor_run_s"] = sum(t["run_ms"] for t in qtasks) / 1e3
            m["engine.executor_cpu_s"] = sum(t["cpu_ns"] for t in qtasks) / 1e9
            m["engine.gc_s"] = sum(t["gc_ms"] for t in qtasks) / 1e3
            m["engine.shuffle_write_mb"] = sum(t["shuffle_w"] for t in qtasks) / MB
            m["engine.shuffle_read_mb"] = sum(t["shuffle_r"] for t in qtasks) / MB
            m["engine.spill_mb"] = sum(t["spill"] for t in qtasks) / MB
            m["engine.task_failures"] = sum(1 for t in qtasks if not t["ok"])
            m["sources.input_mb"] = sum(t["in_bytes"] for t in qtasks) / MB
            m["sources.input_rows"] = sum(t["in_rows"] for t in qtasks)
            m["io.output_mb"] = sum(t["out_bytes"] for t in qtasks) / MB
            m["self.build_s"] = self_s(build, job_spans["build"])
            m["self.plan_s"] = (plan[1] - plan[0]) / 1e6
            m["self.execute_s"] = self_s(execute, job_spans["execute"])
            rows = max(1, result_rows.get(q["name"], 0))
            m["sources.rows_per_result_row"] = m["sources.input_rows"] / rows
            per_query.append(dict(pass_=p["pass"], query=q["name"], qid=q["qid"],
                                  error=q["error"], result_rows=rows, **m))
            for k, v in m.items():
                sums[k] += v
            sums["_result_rows"] += rows
            task_time_us += q_task_us
            wall_us += q_wall
        pspan = (p["t0"], p["t1"])
        spans.append(dict(name="pass", pass_=p["pass"], start=pspan[0], end=pspan[1]))
        sums["engine.busy_ratio"] = task_time_us / max(1, wall_us * cpus)
        sums["engine.task_skew"] = skew
        sums["sources.rows_per_result_row"] = sums["sources.input_rows"] / max(1, sums.pop("_result_rows"))
        sums["io.output_files"] = p["store_files"]
        per_pass.append(sums)

    spans.append(dict(name="run", start=min(p["t0"] for p in passes),
                      end=max(p["t1"] for p in passes)))
    report = {k: statistics.median(s[k] for s in per_pass)
              for k in UNITS if per_pass and k in per_pass[0]}
    report["per_query"] = per_query
    report["spans"] = spans
    return report
