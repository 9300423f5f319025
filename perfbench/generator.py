"""Open-loop envelope publisher for ``cdc_steady``: one process, one thread.

File ``k`` of each topic is due at ``start_ms + k * interval``. Its
envelopes carry that due time as ``ts_ms``. The publisher writes each
file to a staging directory and renames it into the topic directory at
its due time, never waiting on the pipeline, so a stall there shows up as
latency of later events instead of slowing the offered load. At exit it
writes a JSON log of every file's due and actual publish time.

    python3 perfbench/generator.py --seed 1 --employees-dir E --activities-dir A \
        --staging-dir S --start-ms <epoch ms> --seconds 10 --interval-s 0.25 \
        --employees-per-file 20 --activities-per-file 60 --log gen.json
"""

from __future__ import annotations

import argparse
import json
import os
import time

import envelopes


def publish(args: argparse.Namespace) -> list[dict]:
    src = envelopes.EnvelopeSource(args.seed)
    interval_ms = int(args.interval_s * 1000)
    n_files = int(args.seconds * 1000 // interval_ms)
    log = []
    for k in range(n_files):
        due = args.start_ms + k * interval_ms
        emp = src.employees(args.employees_per_file, due)
        act = src.activities(args.activities_per_file, due)
        staged = []
        for topic_dir, lines, tag in ((args.employees_dir, emp, "e"), (args.activities_dir, act, "a")):
            tmp = os.path.join(args.staging_dir, f"{tag}-{k:06d}.json")
            envelopes.write_lines(tmp, lines)
            staged.append((tmp, os.path.join(topic_dir, f"part-{k:06d}.json")))
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        for tmp, final in staged:
            os.rename(tmp, final)
        log.append(
            {
                "file": k,
                "due_ms": due,
                "published_ms": int(time.time() * 1000),
                "employees": len(emp),
                "activities": len(act),
            }
        )
    return log


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--employees-dir", required=True)
    ap.add_argument("--activities-dir", required=True)
    ap.add_argument("--staging-dir", required=True)
    ap.add_argument("--start-ms", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--interval-s", type=float, required=True)
    ap.add_argument("--employees-per-file", type=int, required=True)
    ap.add_argument("--activities-per-file", type=int, required=True)
    ap.add_argument("--log", required=True)
    args = ap.parse_args()
    files = publish(args)
    with open(args.log, "w") as fh:
        json.dump({"files": files}, fh)


if __name__ == "__main__":
    main()
