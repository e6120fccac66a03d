#!/usr/bin/env python3
"""Record the output digests that run.py checks every key against.

    python3 perfbench/record_expected.py

Runs every workload twice (a cold pass and its warm passes each) and
writes perfbench/expected.json: each key's row count and digest. A key
whose digest differs between any two of its runs is listed as unstable
and checked on its row count only. Rerun it only when a change to the
engine is meant to change query results.
"""

import argparse
import json
import os
import sys

import run


def main():
    run.build()
    run.check_fixture()
    cores = len(os.sched_getaffinity(0))
    seen = {}
    for name, w in sorted(run.WORKLOADS.items()):
        for seed in (1, 2):
            args = argparse.Namespace(seed=seed, seconds=0, trace=0)
            for s in run.run_harness(args, w, cores):
                if s["kind"] == "span":
                    if s["error"] is not None:
                        sys.exit(f"{s['key']} failed: {s['error']}")
                    seen.setdefault(s["key"], set()).add((s["rows"], s["digest"]))
        print(f"recorded {name}", file=sys.stderr)
    keys, unstable = {}, {}
    for key, outs in sorted(seen.items()):
        rows = {r for r, _ in outs}
        if len(rows) != 1:
            sys.exit(f"{key}: row count differs between runs: {sorted(rows)}")
        keys[key] = {"rows": rows.pop(), "digest": sorted(outs)[0][1]}
        if len(outs) > 1:
            unstable[key] = f"digest differed across {len(outs)} values in 2 runs"
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump({"keys": keys, "unstable": unstable}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
