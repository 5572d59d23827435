"""Self-tests of the benchmark's own arithmetic and session parity.

run.py runs these before every benchmark run and refuses to measure if
one fails. The digest's order-independence is checked inside the JVM on
every run (Digest.selfCheck in harness/Harness.scala), because the digest
is computed by Spark.

Usage: python3 perfbench/selftest.py
"""
import json
import re
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

ROOT = HERE.parent


def test_percentile_rule():
    # p90 needs at least ten samples beyond it: 100 samples, not 99
    assert metrics.percentile_supported(100, 0.9)
    assert not metrics.percentile_supported(99, 0.9)
    assert metrics.percentile_supported(20, 0.5)
    assert not metrics.percentile_supported(19, 0.5)
    recs = metrics.by_type([{"t": "op", "run": "w", "pass": 1}, {"t": "op", "run": "c", "pass": 0}]
                           + [{"t": "trigger", "run": "w"}] * 40 + [{"t": "trigger", "run": "c"}] * 60)
    assert metrics.warm_triggers(recs) == (40, 0.75)  # cold-pass triggers do not count


def test_mean_trigger():
    def trig(run, s):
        return {"t": "trigger", "run": run, "duration": {"triggerExecution": s}}
    recs = metrics.by_type([{"t": "op", "run": "w", "pass": 1}, {"t": "op", "run": "c", "pass": 0},
                            trig("w", 1.0), trig("w", 2.0), trig("w", 6.0), trig("c", 30.0)])
    assert metrics.mean_trigger_s(recs) == 3.0  # the cold-pass trigger does not count
    assert metrics.mean_trigger_s(metrics.by_type(recs["op"])) == 0.0


def test_self_time():
    # overlapping children count once; parts outside the span do not count
    assert metrics.self_time((0.0, 10.0), []) == 10.0
    assert metrics.self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0)]) == 7.0
    assert metrics.self_time((0.0, 10.0), [(-5.0, 1.0), (9.0, 12.0), (4.0, 4.0)]) == 8.0
    assert metrics.self_time((0.0, 10.0), [(0.0, 10.0), (3.0, 5.0)]) == 0.0


def test_layer_self_times_add_up():
    span = (10.0, 20.0)
    jobs = [(11.0, 14.0), (13.0, 16.0), (18.0, 21.0)]
    stages = [(11.5, 12.0), (12.5, 15.5), (18.0, 19.0)]
    op_self, job_self, stage = metrics.layer_self_times(span, [jobs, stages])
    assert abs(op_self - 3.0) < 1e-9, op_self  # 10 - (5 + 2) covered by jobs
    assert abs(stage - 4.5) < 1e-9, stage
    assert abs(op_self + job_self + stage - 10.0) < 1e-9


def test_end_to_end_medians():
    recs = metrics.by_type([
        {"t": "session", "jvm_start": 0.0, "ready": 2.0},
        {"t": "end", "cold_end": 5.0},
        {"t": "op", "pass": 0, "start": 2.0, "end": 5.0, "cpu_s": 9.0},
        {"t": "op", "pass": 1, "start": 5.0, "end": 6.0, "cpu_s": 1.0},
        {"t": "op", "pass": 1, "start": 6.0, "end": 8.0, "cpu_s": 2.0},
        {"t": "op", "pass": 2, "start": 8.0, "end": 9.0, "cpu_s": 4.0},
        {"t": "op", "pass": 3, "start": 9.0, "end": 14.0, "cpu_s": 8.0},
    ])
    e = metrics.end_to_end(recs)
    assert e["setup_s"] == (5.0, "s", 1)
    assert e["pass_s"] == (3.0, "s", 3)  # passes of 3, 1 and 5 s
    assert e["cpu_s"] == (4.0, "s", 3)


def bench_session_conf():
    """The session conf graft.Bench builds, with every env dial at its
    default, read from its source."""
    src = (ROOT / "src/main/scala/graft/Bench.scala").read_text()
    cpus = re.search(r'val cpus = sys\.env\.getOrElse\("SPARK_GRAFT_CPUS", "([^"]+)"\)', src)
    conf = {"master": f"local[{cpus.group(1)}]"}
    assert re.search(r'\.master\(s"local\[\$cpus\]"\)', src), "Bench master changed"
    pat = re.compile(r'\.config\(\s*"([^"]+)",\s*(?:sys\.env\.getOrElse\(\s*"[^"]+",\s*'
                     r'"([^"]*)"\s*\)|"([^"]*)"|(\w+))\s*\)')
    for m in pat.finditer(src):
        key, env_default, literal, ident = m.groups()
        if ident is not None:
            assert ident == "cpus", f"unparsed Bench conf value {ident}"
            conf[key] = cpus.group(1)
        else:
            conf[key] = env_default if env_default is not None else literal
    for key, value in re.findall(r'spark\.conf\.set\("([^"]+)", "([^"]*)"\)', src):
        conf[key] = value
    # env-only dials (sys.env.get(...).foreach(spark.conf.set(...))) are
    # unset by default and so not part of the compared conf
    n_calls = (len(re.findall(r'\.config\(', src))
               + len(re.findall(r'(?<!foreach\()spark\.conf\.set\("', src)))
    assert len(conf) - 1 == n_calls, "a Bench conf call was not parsed"
    return conf


def test_session_parity():
    declared = json.loads((HERE / "session_conf.json").read_text())
    bench = bench_session_conf()
    assert declared == bench, f"session conf drifted from graft.Bench: {declared} != {bench}"
    import run
    sbt = (ROOT / "build.sbt").read_text()
    for prop in re.findall(r'"(-Dspark\.[^"]+)"', sbt):
        assert prop in run.JVM_FLAGS, f"build.sbt JVM flag {prop} missing from the harness"


TESTS = [test_percentile_rule, test_mean_trigger, test_self_time, test_layer_self_times_add_up,
         test_end_to_end_medians, test_session_parity]


def run_all():
    failed = []
    for t in TESTS:
        try:
            t()
        except Exception as e:  # a missing source file fails parity too
            failed.append(f"{t.__name__}: {type(e).__name__}: {e}")
    return failed


if __name__ == "__main__":
    bad = run_all()
    for b in bad:
        print("FAIL", b)
    print(f"{len(TESTS) - len(bad)} passed, {len(bad)} failed")
    sys.exit(1 if bad else 0)
