#!/usr/bin/env python3
"""Per-key Spark counter diff between two bench captures.

Usage: python3 dev/board_counters.py OLD_details.json NEW_details.json

Reads the `queries_counters` map that graft.Bench writes to each
*_details.json and prints every key whose jobs, stages or tasks changed,
with its task-seconds and shuffle MB deltas and the job labels whose
job counts moved. Job, stage and task counts do not depend on host
steal, so the diff holds for captures stamped `invalid` too; their
walls do not, and this script does not read them.
"""
import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    return d, d.get("queries_counters", {})


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    (old_d, old), (new_d, new) = load(argv[1]), load(argv[2])
    for name, d in ((argv[1], old_d), (argv[2], new_d)):
        if "queries_counters" not in d:
            sys.exit(f"{name}: no queries_counters map (captured before the counters existed)")
        if d.get("invalid"):
            print(f"# {name}: invalid ({d.get('invalid_reason')}); counters still compare")
    changed = one_side = 0
    for key in sorted(old.keys() | new.keys()):
        if key not in old or key not in new:
            print(f"{key}: only in {'new' if key in new else 'old'}")
            one_side += 1
            continue
        a, b = old[key], new[key]
        if all(a[f] == b[f] for f in ("jobs", "stages", "tasks")):
            continue
        changed += 1
        counts = "  ".join(f"{f} {a[f]}->{b[f]}" for f in ("jobs", "stages", "tasks"))
        deltas = "  ".join(f"{f} {b[f] - a[f]:+.3f}"
                           for f in ("task_s", "shuffle_read_mb", "shuffle_write_mb"))
        print(f"{key}: {counts}  {deltas}")
        la, lb = a.get("labels", {}), b.get("labels", {})
        for label in sorted(la.keys() | lb.keys()):
            ja = la.get(label, {}).get("jobs", 0)
            jb = lb.get(label, {}).get("jobs", 0)
            if ja != jb:
                print(f"    {label}: jobs {ja}->{jb}")
    print(f"{changed} of {len(old.keys() & new.keys())} shared keys changed jobs, stages or tasks;"
          f" {one_side} keys in one capture only")


if __name__ == "__main__":
    main(sys.argv)
