#!/usr/bin/env python3
"""Regenerate perfbench/queries.json and perfbench/expected.json.

    python3 perfbench/freeze.py

Run from the root of a checkout whose queries are all green under
`graft.Verify` + `tools/compare.py` on the benchmark's board tables
(`.bench_build/board-*`, made by the first board run). Splits the
queries by the committed r16 record in BENCH_FULL.json (under 1 s:
light, else heavy), times each query once warm on the board tables for
the cost strata (`ref_s`), and freezes each query's row count and
content hash.
"""
import json
import os
import sys
import tempfile

import run


def main():
    r16 = run.load_json(os.path.join(run.ROOT, "BENCH_FULL.json"))["queries"]
    names = sorted(r16)
    cp = run.build()
    os.makedirs(run.RUNS, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=run.RUNS) as d:
        plan = {"kind": "freeze", "batches": 1, "trace": 0,
                "cores": run.CORES, "setups": 1,
                "work": os.path.join(d, "work"), "data": run.board_tables(),
                "queries": names}
        res = run.run_jvm(cp, plan, d, limit_s=3600)
    bad = [o for o in res["ops"] if "error" in o]
    if bad:
        sys.exit("queries failed on the board tables: " +
                 ", ".join(sorted({o["name"] for o in bad})))
    ref = {o["name"]: o["s"] for o in res["ops"] if o["kind"] == "query"}
    hashes = {o["name"]: o for o in res["ops"] if o["kind"] == "hash"}
    pools = {"light": [], "heavy": []}
    for q in names:
        pools["light" if r16[q] < 1.0 else "heavy"].append({
            "name": q, "module": hashes[q]["module"],
            "r16_s": r16[q], "ref_s": round(ref[q], 3)})
    with open(os.path.join(run.HERE, "queries.json"), "w") as f:
        json.dump(pools, f, indent=1)
        f.write("\n")
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump({"queries": {q: {"rows": hashes[q]["rows"],
                                   "hash": hashes[q]["hash"]}
                               for q in names}}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
