#!/usr/bin/env python3
"""Write perfbench/pool.json: the candidate queries of the `query_mix`
workload, each with its module, family and measured time. Run from the
repository root:

    python3 perfbench/make_pool.py [--seed 1]

A candidate is a registry query with DuckDB oracle SQL whose registry
entry calls into `graft.operators.*` (family `operators`),
`graft.streaming.*` (`streaming`) or `graft.sources.lake.*` (`lake`);
its module is the object the entry calls. Every candidate is then run
once as a benchmark op (`run.measure`), one session for the operators
and one for streaming and lake, in seeded order; `ms` is that op's time
and is what the sampler stratifies and weights by. Candidates whose op
failed are listed on stderr and kept: a failure is the engine's, and
the benchmark reports it. The pool is fixed in the repository so every
commit is measured on the same candidates.
"""
import argparse
import glob
import json
import random
import re
import sys

import run


def candidates():
    """(name, module, family) of every candidate, in registry order."""
    src = open("src/main/scala/graft/Registry.scala").read()
    body = src[src.index("val queries"):src.index("val oracleSql")]
    parts = re.split(r'\n\s*"(q\d+[a-z0-9_]*)"\s*->', body)
    oracle = set()
    for f in glob.glob("src/main/scala/graft/oracles/*.scala"):
        oracle |= set(re.findall(r'"(q\d+[a-z0-9_]*)"\s*->', open(f).read()))
    out = []
    for name, entry in zip(parts[1::2], parts[2::2]):
        entry = re.sub(r"//[^\n]*", "", entry)
        module = re.search(
            r"=>\s*\{?\s*((?:graft\.)?(?:[a-z]+\.)*[A-Z]\w*)\.\w+",
            entry).group(1)
        if name not in oracle:
            continue
        if module.startswith("graft.streaming."):
            out.append((name, module.split(".")[-1], "streaming"))
        elif module.startswith("graft.sources.lake."):
            out.append((name, module.split(".")[-1], "lake"))
        elif "." not in module:  # Registry imports graft.operators._
            out.append((name, module, "operators"))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    cands = candidates()
    ms = {}
    for families in (("operators",), ("streaming", "lake")):
        names = [n for n, _, f in cands if f in families]
        random.Random(a.seed).shuffle(names)
        for op in run.measure("query_mix", a.seed, len(names), 0, names,
                              limit=3600)["ops"]:
            ms[op["name"]] = op["ms"]
            if not op["ok"]:
                print(f"{op['name']} failed: {op['error']}", file=sys.stderr)
    pool = [{"name": n, "module": m, "family": f, "ms": round(ms[n], 1)}
            for n, m, f in sorted(cands)]
    with open("perfbench/pool.json", "w") as f:
        f.write('{"query_mix": [\n' + ",\n".join(
            " " + json.dumps(q) for q in pool) + "\n]}\n")


if __name__ == "__main__":
    sys.path.insert(0, run.HERE)
    main()
