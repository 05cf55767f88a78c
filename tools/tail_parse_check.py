#!/usr/bin/env python3
"""Check that graft.Bench's stdout tail parses the way a tail consumer
reads it.

Runs the real `sbt --batch runMain graft.Bench` with
SPARK_GRAFT_BENCH_ONLY set to a few keys, keeps only the LAST `TAIL`
(2000) characters of stdout (all a tail-keeping consumer retains), finds the
compact JSON line in that tail and `json.loads` it, then checks it
against the full artifact the line names in `full_json`:

  - the compact line is whole inside the tail and parses;
  - every selected key is in it, with a non-negative time;
  - its `run_id` equals the full artifact's `run_id`;
  - each compact time equals the full artifact's time to the
    millisecond the compact line rounds to.

Usage:
  [SPARK_GRAFT_SF_DIR=DIR] python3 tools/tail_parse_check.py [--keys k1,k2]

sbt runs with the caller's environment (SPARK_GRAFT_SF_DIR, SBT_OPTS,
COURSIER_MODE, ...). Prints the parsed per-key times and exits non-zero
on any failed check.
"""
import argparse
import json
import os
import subprocess
import sys

DEFAULT_KEYS = "ann_ivfpq_topk,ann_pq_rerank"
TAIL = 2000  # the stdout characters a tail-keeping consumer retains


def last_json_line(tail, whole):
    """The last line of `tail` that parses as a JSON object. The first
    line is skipped unless the tail is the whole output: it may start
    mid-line."""
    lines = tail.splitlines()
    if not whole:
        lines = lines[1:]
    for line in reversed(lines):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--keys", default=DEFAULT_KEYS)
    args = ap.parse_args()
    keys = [k.strip() for k in args.keys.split(",") if k.strip()]

    env = dict(os.environ, SPARK_GRAFT_BENCH_ONLY=",".join(keys))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "runMain graft.Bench"],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    out = proc.stdout
    tail = out[-TAIL:]

    failures = []

    def check(ok, msg):
        if not ok:
            failures.append(msg)
        return ok

    check(proc.returncode == 0, f"sbt exited {proc.returncode}")
    compact = last_json_line(tail, whole=len(out) <= TAIL)
    if check(compact is not None,
             f"no parseable JSON line in the last {TAIL} chars"):
        qs = compact.get("queries", {})
        for k in keys:
            # a lifecycle split reports as its __build/__read pair
            present = [n for n in (k, f"{k}__build", f"{k}__read") if n in qs]
            check(present, f"{k} missing from the compact line")
            for n in present:
                check(qs[n] >= 0, f"{n} failed ({qs[n]})")
        full_path = compact.get("full_json")
        if check(full_path and os.path.exists(full_path),
                 f"full artifact {full_path!r} not found"):
            with open(full_path) as f:
                full = json.loads(f.readline())
            check(compact.get("run_id") == full.get("run_id"),
                  f"run_id {compact.get('run_id')!r} != full "
                  f"{full.get('run_id')!r}")
            for n, v in qs.items():
                fv = full.get("queries", {}).get(n)
                check(fv is not None and abs(fv - v) <= 0.0005 + 1e-9,
                      f"{n}: compact {v} != full {fv}")
        print(json.dumps({"run_id": compact.get("run_id"),
                          "queries": qs,
                          "full_json": full_path}, sort_keys=True))

    for msg in failures:
        print(f"FAIL: {msg}", file=sys.stderr)
    print("TAIL-PARSE-OK" if not failures else "TAIL-PARSE-FAILED")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
