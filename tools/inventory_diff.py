#!/usr/bin/env python3
"""Compare two `perfbench/run.py --inventory` outputs query by query.

Usage: python3 tools/inventory_diff.py PARENT.json CHANGE.json

The equality check for a refactor: run the inventory on the parent tree
and on the change (same host, same regime: both natural or both
--forced), then diff them. Per query it compares

  - the output: error, schema, row count and digest. The digest is
    compared for every query, including the rows-only ones whose goldens
    carry no digest (perfbench/no_oracle.txt), since both runs are the
    same engine on the same data;
  - the job counts: jobs and build_jobs.

It prints one line per difference and a summary. Exit status: 1 when any
query's output differs or a query is missing from either side, 0 otherwise
(job-count differences are reported, not failed: a refactor may remove a
job on purpose).
"""
import json
import sys

OUTPUT = ("error", "schema", "rows", "digest")
JOBS = ("jobs", "build_jobs")


def load(path):
    with open(path) as f:
        return {r["name"]: r for r in json.load(f)}


def main(argv):
    if len(argv) != 3:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    parent, change = load(argv[1]), load(argv[2])
    out_diffs, job_diffs = [], []
    for name in sorted(parent.keys() | change.keys()):
        if name not in change or name not in parent:
            out_diffs.append(f"{name}: only in {'parent' if name in parent else 'change'}")
            continue
        p, c = parent[name], change[name]
        for k in OUTPUT:
            if p.get(k) != c.get(k):
                out_diffs.append(f"{name}: {k} {p.get(k)!r} -> {c.get(k)!r}")
        for k in JOBS:
            if p.get(k) != c.get(k):
                job_diffs.append(f"{name}: {k} {p.get(k)} -> {c.get(k)}")
    for line in out_diffs:
        print("OUTPUT " + line)
    for line in job_diffs:
        print("JOBS   " + line)
    both = len(parent.keys() & change.keys())
    print(f"{both} queries in both; {len(out_diffs)} output differences; "
          f"{len(job_diffs)} job-count differences")
    return 1 if out_diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
