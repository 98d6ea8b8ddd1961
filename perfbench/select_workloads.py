#!/usr/bin/env python3
"""Writes the fixed query list of the corpus_shuffle workload from two
inventories.

    python3 perfbench/run.py --inventory nat.json
    python3 perfbench/run.py --inventory forced.json --forced
    python3 perfbench/select_workloads.py nat.json forced.json

A corpus query reads documents or embeddings, or is in the graph family
(scratch tables a query stages for itself are ignored). It reaches a size
gate when its job count changes with every gate forced to its distributed
side: a regime switch adds or removes eager jobs, and a broadcast join
turned into a shuffle join drops its broadcast job.

The gated corpus queries take minutes per pass, far beyond one run, so
the workload runs a fixed subset: the queries in a seeded order, taking
every one under the per-query cap until the forced inventory time reaches
the budget. The cap keeps enough operations in one run for a steady
median. The list is written once, here, and read by run.py; nothing is
chosen at run time.
"""
import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
GRAPH = {"q72", "q132", "q137", "q163", "q168", "q180", "q184", "q192", "q199"}
SELECTION_SEED = 20261017
# forced-inventory seconds of the list, and of its longest query
BUDGET = 20.0
CAP = 2.5


def is_corpus(r):
    tables = {t for t in r["tables"] if not t.startswith(("graft", "zshard=", "part-"))}
    return r["name"].split("_")[0] in GRAPH or bool(tables & {"documents", "embeddings"})


def secs(r):
    return r["build_s"] + r["action_s"]


def pick(rows):
    order = sorted(rows, key=lambda r: r["name"])
    random.Random(SELECTION_SEED).shuffle(order)
    chosen, total = [], 0.0
    for r in order:
        if secs(r) <= CAP and total + secs(r) <= BUDGET:
            chosen.append(r)
            total += secs(r)
    return chosen, total


def main():
    nat = {r["name"]: r for r in json.load(open(sys.argv[1]))}
    forced = {r["name"]: r for r in json.load(open(sys.argv[2]))}
    gated = [forced[r["name"]] for r in nat.values()
             if is_corpus(r) and forced[r["name"]]["jobs"] != r["jobs"]]
    chosen, total = pick(gated)
    with open(os.path.join(HERE, "workloads", "corpus_shuffle.txt"), "w") as f:
        f.write(f"# corpus_shuffle: {len(chosen)} of {len(gated)} corpus queries that reach a size gate\n")
        f.write(f"# written by select_workloads.py (seed {SELECTION_SEED}); "
                f"{total:.1f} s in the forced inventory pass\n")
        for r in chosen:
            f.write(f"{r['name']}  # {secs(r):.2f} s\n")
    print(f"corpus_shuffle {len(gated)} -> {len(chosen)}, {total:.1f} s")


if __name__ == "__main__":
    main()
