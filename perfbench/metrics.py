"""Arithmetic of the benchmark: the percentile rule, span self time, and the
end-to-end and per-layer metrics computed from the harness records.

The harness writes one JSON record per line (see harness/Harness.scala):
  session    JVM start, session-ready time, effective conf, host
  op         one operation run: pass (0 = cold), build/execute times,
             task CPU, GC, error
  check      the untimed check pass: each operation's digest or error
  end        end of the cold pass, warm pass count, heap peak
  selfcheck  the digest's own order-independence check
and, in a traced run, per operation run:
  job_start/job_end, stage, qe (query execution), stream_start, trigger
"""
import math
import statistics

CORES = 4  # local[4]; idle core time is measured against it


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile_supported(n, q):
    """A percentile is reported only with at least ten samples beyond it."""
    return n - math.ceil(q * n) >= 10


def union_length(intervals, lo=None, hi=None):
    """Length covered by the intervals, each clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - union_length(children, lo, hi)


def layer_self_times(span, layers):
    """Self time of the span and of each nested layer below it.

    layers[i] holds the intervals of layer i (jobs, then stages); each
    layer's self time is its coverage of the span minus the coverage of
    the next layer. The results add up to the span's duration.
    """
    lo, hi = span
    cover = [hi - lo] + [union_length(iv, lo, hi) for iv in layers] + [0.0]
    return [cover[i] - cover[i + 1] for i in range(len(cover) - 1)]


def by_type(records):
    out = {}
    for r in records:
        out.setdefault(r["t"], []).append(r)
    return out


def end_to_end(recs):
    """Untraced metrics: set-up, warm pass wall and warm pass task CPU."""
    session, end = recs["session"][0], recs["end"][0]
    passes = {}
    for o in recs["op"]:
        if o["pass"] > 0:
            passes.setdefault(o["pass"], []).append(o)
    walls = [sum(o["end"] - o["start"] for o in ops) for ops in passes.values()]
    cpus = [sum(o["cpu_s"] for o in ops) for ops in passes.values()]
    return {
        "setup_s": (end["cold_end"] - session["jvm_start"], "s", 1),
        "pass_s": (median(walls), "s", len(walls)),
        "cpu_s": (median(cpus), "s", len(cpus)),
    }


def per_layer(recs, search_ops, maintain_ops):
    """Traced metrics, each a median over warm passes unless noted."""
    session, end = recs["session"][0], recs["end"][0]
    ops = recs["op"]
    by_run = {}
    for t in ("job_start", "job_end", "stage", "qe", "stream_start", "trigger"):
        for r in recs.get(t, []):
            by_run.setdefault(r["run"], {}).setdefault(t, []).append(r)

    def ev(run, t):
        return by_run.get(run, {}).get(t, [])

    def jobs(run):
        ends = {j["job"]: j["end"] for j in ev(run, "job_end")}
        return [(j["start"], ends.get(j["job"], j["start"])) for j in ev(run, "job_start")]

    def stages(run):
        return [(s["start"], s["end"]) for s in ev(run, "stage")
                if s["start"] is not None and s["end"] is not None]

    def op_metrics(o):
        run, wall = o["run"], o["end"] - o["start"]
        st, qe, trig = ev(run, "stage"), ev(run, "qe"), ev(run, "trigger")
        op_self, job_self, stage_cover = layer_self_times(
            (o["start"], o["end"]), [jobs(run), stages(run)])
        task_run = sum(s["run_s"] for s in st)
        last = {}
        for t in trig:
            if t["stream"] not in last or t["batch"] > last[t["stream"]]["batch"]:
                last[t["stream"]] = t

        def dur(k):
            return sum(t["duration"].get(k, 0.0) for t in trig)

        m = {
            "operators.build_s": o["build_end"] - o["start"],
            "operators.execute_s": o["end"] - o["build_end"],
            "operators.self_s": op_self,
            "operators.search_s": wall if o["op"] in search_ops else 0.0,
            "operators.maintain_s": wall if o["op"] in maintain_ops else 0.0,
            "catalyst.analysis_s": sum(q["analysis_s"] for q in qe),
            "catalyst.optimization_s": sum(q["optimization_s"] for q in qe),
            "catalyst.planning_s": sum(q["planning_s"] for q in qe),
            "catalyst.executions": len(qe),
            "scheduler.jobs": len(ev(run, "job_start")),
            "scheduler.stages": len(st),
            "scheduler.tasks": sum(s["tasks"] for s in st),
            "scheduler.failed_tasks": sum(s["failed_tasks"] for s in st),
            "scheduler.task_run_s": task_run,
            "scheduler.task_cpu_s": sum(s["cpu_s"] for s in st),
            "scheduler.idle_core_s": CORES * wall - task_run,
            "scheduler.job_self_s": job_self,
            "scheduler.stage_s": stage_cover,
            "shuffle.exchanges": sum(q["exchanges"] for q in qe),
            "shuffle.write_bytes": sum(s["shuffle_write"] for s in st),
            "shuffle.read_bytes": sum(s["shuffle_read"] for s in st),
            "shuffle.spill_bytes": sum(s["spill"] for s in st),
            "shuffle.fetch_wait_s": sum(s["fetch_wait_s"] for s in st),
            "sources.read_bytes": sum(s["read_bytes"] for s in st),
            "sources.write_bytes": sum(s["write_bytes"] for s in st),
            "sources.write_records": sum(s["write_records"] for s in st),
            "streaming.triggers": len(trig),
            "streaming.empty_triggers": sum(1 for t in trig if t["input_rows"] == 0),
            "streaming.input_rows": sum(t["input_rows"] for t in trig),
            "streaming.state_commit_s": sum(t["state_commit_s"] for t in trig),
            "streaming.state_rows": sum(t["state_rows"] for t in last.values()),
            "streaming.state_memory_bytes": sum(t["state_memory_bytes"] for t in last.values()),
            "jvm.gc_s": o["gc_s"],
        }
        for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                  "latestOffset", "getBatch"):
            m[f"streaming.{k}_s"] = dur(k)
        return m

    passes = {}
    for o in ops:
        if o["pass"] > 0:
            passes.setdefault(o["pass"], []).append(op_metrics(o))
    sums = [{k: sum(m[k] for m in ms) for k in ms[0]} for ms in passes.values()]
    out = {k: median([s[k] for s in sums]) for k in sums[0]}
    warm_walls = [sum(o["end"] - o["start"] for o in ops if o["pass"] == p) for p in passes]
    out["operators.pass_s"] = median(warm_walls)
    out["operators.cold_s"] = sum(o["end"] - o["start"] for o in ops if o["pass"] == 0)
    out["session.start_s"] = session["ready"] - session["jvm_start"]
    out["jvm.heap_peak_mb"] = end["heap_peak_mb"]
    out["streaming.trigger_mean_s"] = mean_trigger_s(recs)
    return out


def mean_trigger_s(recs):
    """Mean durationMs.triggerExecution over every trigger of the warm
    passes (0 without triggers). A mean needs no percentile rule, and a
    warm pass has too few triggers for even a median."""
    warm = {o["run"] for o in recs["op"] if o["pass"] > 0}
    xs = [t["duration"].get("triggerExecution", 0.0) for t in recs.get("trigger", [])
          if t["run"] in warm]
    return sum(xs) / len(xs) if xs else 0.0


def warm_triggers(recs):
    """Trigger count of the warm passes and the highest tail percentile
    that count supports (None below 20 triggers)."""
    warm = {o["run"] for o in recs["op"] if o["pass"] > 0}
    n = sum(1 for t in recs.get("trigger", []) if t["run"] in warm)
    return n, max((q for q in (0.5, 0.75, 0.9, 0.99) if percentile_supported(n, q)), default=None)


def spans(recs):
    """The traced run's span tree: operation runs with build and execute
    children; jobs under the build or execute span that holds their
    start; stages under their job; triggers under the operation run that
    started their stream, grouped by the stream's run id. Each span
    carries its self time."""
    out = []
    job_ends = {}
    for r in recs.get("job_end", []):
        job_ends[(r["run"], r["job"])] = r["end"]
    by_run = {}
    for t in ("job_start", "stage", "trigger"):
        for r in recs.get(t, []):
            by_run.setdefault(r["run"], {}).setdefault(t, []).append(r)
    for o in recs["op"]:
        run = o["run"]
        ev = by_run.get(run, {})
        op_id = run
        parts = {"build": (o["start"], o["build_end"]), "execute": (o["build_end"], o["end"])}
        jobs = []
        for j in ev.get("job_start", []):
            end = job_ends.get((run, j["job"]), j["start"])
            part = "build" if j["start"] < o["build_end"] else "execute"
            jobs.append(dict(id=f"{run}/job{j['job']}", parent=f"{run}/{part}", kind="job",
                             name=f"job {j['job']}", group=j["group"], start=j["start"], end=end))
        stage_spans = [dict(id=f"{run}/stage{s['stage']}", parent=f"{run}/job{s['job']}",
                            kind="stage", name=f"stage {s['stage']}", start=s["start"],
                            end=s["end"], tasks=s["tasks"])
                       for s in ev.get("stage", []) if s["start"] is not None and s["end"]]
        trig = [dict(id=f"{run}/stream/{t['stream']}/{t['batch']}",
                     parent=f"{run}/stream/{t['stream']}", kind="trigger",
                     name=f"trigger {t['batch']}", start=t["start"],
                     end=t["start"] + t["duration"].get("triggerExecution", 0.0),
                     duration=t["duration"])
                for t in ev.get("trigger", [])]
        streams = {}
        for t in trig:
            a, b = streams.get(t["parent"], (t["start"], t["end"]))
            streams[t["parent"]] = (min(a, t["start"]), max(b, t["end"]))
        trig += [dict(id=k, parent=f"{run}/build", kind="stream", name=k.rsplit("/", 1)[1],
                      start=a, end=b) for k, (a, b) in streams.items()]
        children = {}
        for s in jobs + stage_spans + trig:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        op_span = dict(id=op_id, parent=None, kind="operation", name=o["op"], pass_=o["pass"],
                       start=o["start"], end=o["end"], error=o["error"])
        part_spans = [dict(id=f"{run}/{k}", parent=op_id, kind=k, name=k, start=a, end=b)
                      for k, (a, b) in parts.items()]
        children[op_id] = [(p["start"], p["end"]) for p in part_spans]
        for s in [op_span] + part_spans + jobs + stage_spans + trig:
            s["self"] = self_time((s["start"], s["end"]), children.get(s["id"], []))
            out.append(s)
    return out
