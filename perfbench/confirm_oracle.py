"""Write reference.json from output the DuckDB oracle has checked, at the
benchmark's scale factor. This is the only way reference.json is made.

Usage: python3 perfbench/confirm_oracle.py

Runs graft.Verify for every benchmark operation over the corpus, checks
its output with tools/oracle_check.py and digests the same output with
the harness's digest. Only if the oracle passes every operation are the
digests written to reference.json. The whole transcript, with each
digest beside the one reference.json held before, goes to
oracle_sf0.1.txt beside this file. Exits non-zero, leaving
reference.json as it was, if the oracle fails any operation.
"""
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402


def main():
    ops = [o for w in run.WORKLOADS.values() for o in w["ops"]]
    classes = build.build()
    run_dir, digest_dir = run.fresh_run_dir("verify"), run.fresh_run_dir("digest")
    out = run_dir / "verify"
    try:
        run.java(classes, run_dir, "graft.Verify", [run.corpus(), str(out)],
                 env={"SPARK_GRAFT_ONLY": ",".join(ops)}, timeout=1800)
        oracle = subprocess.run(
            ["python3", str(run.ROOT / "tools/oracle_check.py"), run.corpus(), str(out),
             ",".join(ops)], capture_output=True, text=True)
        log = run.java(classes, digest_dir, "perfbench.DigestDirs",
                       [str(out)] + ops + run.conf_args())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(digest_dir, ignore_errors=True)
    checked = set(re.findall(r"^OK\s+(\S+)", oracle.stdout, re.M))
    got = dict(line.split(" ", 1) for line in log.splitlines() if line.split(" ", 1)[0] in ops)
    ok = oracle.returncode == 0 and checked == set(ops) and set(got) == set(ops)
    path = HERE / "reference.json"
    old = json.loads(path.read_text())["digests"] if path.exists() else {}
    lines = ["graft.Verify + tools/oracle_check.py over the sf0.1 corpus graft.Bench times:",
             oracle.stdout.strip(), "",
             "digest of the oracle-checked output (beside the previous reference):"]
    for o in ops:
        lines.append(f"{'SAME' if got.get(o) == old.get(o) else 'NEW '} {o} {got.get(o)}"
                     + ("" if got.get(o) == old.get(o) else f" (was {old.get(o)})"))
    if ok:
        path.write_text(json.dumps({"digests": dict(sorted(got.items()))}, indent=2) + "\n")
        lines.append(f"oracle passed all {len(ops)} operations: reference.json written")
    else:
        lines.append("oracle did not pass every operation: reference.json left as it was")
    (HERE / "oracle_sf0.1.txt").write_text("\n".join(lines) + "\n")
    print("\n".join(lines))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
