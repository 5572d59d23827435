"""Benchmark entry point.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness (build.py), runs one workload in a
fresh JVM whose java.io.tmpdir, spark.local.dir and working directory
are an empty directory under .bench_build that is removed afterwards,
checks every operation's digest from the untimed check pass against
reference.json, and prints the metrics. The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. A traced
run also writes its span tree to .bench_out/. Every run first runs the
self-tests of selftest.py and fails if any of them fails.
reference.json is written only by confirm_oracle.py, from output the
DuckDB oracle has checked.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import metrics  # noqa: E402
import selftest  # noqa: E402

ROOT = HERE.parent
OUT = ROOT / ".bench_out"
# The committed fixtures the ingestion and parsing operations read, taken
# from the tree being measured rather than the program's built-in path.
FIXTURES = ROOT / "fixtures"
JVM_TIMEOUT_S = 170

# Operations of each workload, by catalog name. In ann_index, "search"
# ops only read the persisted index and "maintain" ops write it; the
# per-layer operators.search_s and operators.maintain_s split on these.
WORKLOADS = {
    "dashboard": {
        "ops": ["q_margin_by_sku", "q_target_prices", "q_bot_flags", "q_daily_demand",
                "q_parse_sellers", "q_ingest_orders", "q_excel_orders"],
    },
    "ann_index": {
        "ops": ["q_ann_index_search", "q_ann_index_add_batch"],
        "search": ["q_ann_index_search"],
        "maintain": ["q_ann_index_add_batch"],
    },
    "stream_drains": {
        "ops": ["q_cms_stream", "q_dedup_stream_late"],
    },
}

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# The JVM flags build.sbt gives every forked main, with a heap sized for
# this benchmark's corpus instead of the full-catalog sweep.
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx3g",
    "-XX:+UseG1GC"]


def corpus():
    """The corpus graft.Bench times by default: the fixed seed-42 sf0.1
    corpus, read only."""
    src = (ROOT / "src/main/scala/graft/Bench.scala").read_text()
    return re.search(r'sys\.env\.getOrElse\("SPARK_GRAFT_SF_DIR", "([^"]+)"\)', src).group(1)


def session_conf():
    return json.loads((HERE / "session_conf.json").read_text())


def unit(name):
    for suffix, u in (("_s", "s"), ("_bytes", "bytes"), ("_mb", "MB")):
        if name.endswith(suffix):
            return u
    return "count"


def java(classes, run_dir, main, args, env=None, timeout=JVM_TIMEOUT_S):
    """Run a main class with run_dir as its working directory, tmpdir and
    spark.local.dir; fail with the log tail if it fails."""
    (run_dir / "tmp").mkdir(parents=True)
    (run_dir / "local").mkdir()
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp",
                                   f"{classes}:{build.SPARK_JARS}/*", main] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"), **(env or {}))
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=timeout)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"{main} exited with {proc.returncode}\n{tail}")
    return (run_dir / "jvm.log").read_text(errors="replace")


def fresh_run_dir(tag):
    runs = build.BUILD / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    return runs / f"{tag}-{os.getpid()}-{time.time_ns()}"


def conf_args():
    return [a for k, v in session_conf().items() for a in ("--conf", f"{k}={v}")]


def run_harness(classes, workload, seed, seconds, trace):
    """Run the harness in a fresh directory that is removed afterwards;
    return its records."""
    run_dir = fresh_run_dir(workload)
    try:
        java(classes, run_dir, "perfbench.Harness",
             ["--ops", ",".join(WORKLOADS[workload]["ops"]), "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--data", corpus(),
              "--fixtures", str(FIXTURES),
              "--out", str(run_dir / "records.jsonl")] + conf_args())
        lines = (run_dir / "records.jsonl").read_text().splitlines()
        return [json.loads(line) for line in lines if line.strip()]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def check(recs, conf):
    """The failed operation runs (errors in any pass, digest mismatches in
    the check pass), and every reason the run is not correct."""
    ref = json.loads((HERE / "reference.json").read_text())["digests"]
    failed, problems = 0, {}
    for o in recs["op"] + recs["check"]:
        if o["error"]:
            problem = o["error"]
        elif o["t"] == "check" and ref.get(o["op"]) != o["digest"]:
            problem = f"digest {o['digest']} != reference {ref.get(o['op'])}"
        else:
            continue
        failed += 1
        where = f"pass {o['pass']}" if o["t"] == "op" else "check pass"
        problems[f"{o['op']} {where}"] = problem
    session = recs["session"][0]
    if session["conf"] != conf:
        problems["session conf"] = f"effective {session['conf']} != declared {conf}"
    if not all(r["digest"] for r in recs["selfcheck"]):
        problems["digest self-check"] = "order-independence check failed"
    return failed, problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bad = selftest.run_all()
    if bad:
        raise SystemExit("self-tests failed: " + "; ".join(bad))
    if not Path(corpus()).is_dir():
        raise SystemExit(f"corpus not found: {corpus()}")
    if not FIXTURES.is_dir():
        raise SystemExit(f"fixtures not found: {FIXTURES}")
    classes = build.build()
    conf = session_conf()
    recs = metrics.by_type(run_harness(classes, a.workload, a.seed, a.seconds, a.trace))

    failed_ops, failures = check(recs, conf)
    attempted = len(recs["op"]) + len(recs["check"])
    session = recs["session"][0]
    if a.trace:
        w = WORKLOADS[a.workload]
        layer = metrics.per_layer(recs, set(w.get("search", [])), set(w.get("maintain", [])))
        shown = {k: {"value": v, "unit": unit(k)} for k, v in sorted(layer.items())}
        n, q = metrics.warm_triggers(recs)
        samples = {"passes": recs["end"][0]["passes"], "triggers": n,
                   "highest_supported_percentile": q}
    else:
        e2e = metrics.end_to_end(recs)
        shown = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
        samples = {k: n for k, (_, _, n) in e2e.items()}
    result = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": session["host"], "conf": session["conf"], "data": corpus(),
        "samples": samples, "failures": failures,
        "ops": [{k: o[k] for k in ("pass", "op", "start", "build_end", "end", "cpu_s", "error")}
                for o in recs["op"]],
        "metrics": shown,
    }
    OUT.mkdir(exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    (OUT / f"result-{stem}.json").write_text(json.dumps(result, indent=1) + "\n")
    if a.trace:
        (OUT / f"spans-{stem}.json").write_text(json.dumps(metrics.spans(recs)) + "\n")

    print(f"host: {json.dumps(session['host'])}")
    print(f"session conf: {json.dumps(session['conf'])}")
    print(f"samples: {json.dumps(samples)}  attempted: {attempted}  failed: {failed_ops}")
    for k, f in failures.items():
        print(f"FAILED {k}: {f}")
    for k, v in shown.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed_ops, "metrics": shown}))


if __name__ == "__main__":
    main()
