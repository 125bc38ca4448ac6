#!/usr/bin/env python3
"""Rebuild perfbench/costs.json, the cost ranking the `queries` workload
samples from.

    python3 perfbench/calibrate.py

Runs every stateless registered query twice in one harness session, checks
each result against its DuckDB oracle and records the warm (second) call's
time. A query whose result does not match, or whose oracle takes longer
than ORACLE_MAX_S, is left out of the table and so never sampled. The
table only ranks queries into cost bands; no metric reads its times.
Takes about 15 minutes on 4 cores.
"""
import json
import os
import shutil
import types

import run

ORACLE_MAX_S = 20.0


def calibrate():
    r = run.Run(types.SimpleNamespace(workload="queries", seed=0, seconds=0, trace=0))
    r.cp, r.opts = run.jvm.build(r.root, r.state)
    shutil.rmtree(r.work, ignore_errors=True)
    for d in (r.tmp, r.local):
        os.makedirs(d)
    try:
        r.reg = r.registry()
        probe, _, _ = r.harness({"mode": "setup", "modules": ",".join(r.modules)}, False)
        stores = set(probe["stores"])
        names = [n for n, m in sorted(r.reg.items()) if m != "StreamQueries" and n not in stores]
        sf = os.path.join(r.testdata, run.SF["queries"])
        res, _, _ = r.harness({
            "mode": "queries", "sf": sf, "seconds": 0, "min_passes": 2,
            "names": ",".join(names), "modules": ",".join(r.modules)}, False, timeout=7200)
        dumps = {s["name"]: (s["dump"], res["oracle"][s["name"]])
                 for s in res["steps"] if s["dump"] and s["name"] in res["oracle"]}
        oracles = run.oracle.Oracles(os.path.join(r.state, "oracle"), timeout=ORACLE_MAX_S)
        checked = oracles.check(sf, dumps)
        oracles.close()
        costs = {}
        for s in res["steps"]:
            n = s["name"]
            ok, why, _, _ = checked.get(n, (False, "no oracle", 0, 0.0))
            if s["phase"] != "repeat":
                continue
            if s["error"] or not ok:
                print(f"  left out {n}: {s['error'] or why}")
                continue
            costs[n] = round((s["t1"] - s["t0"]) / 1e3, 3)
        return costs
    finally:
        shutil.rmtree(r.work, ignore_errors=True)


def main():
    costs = calibrate()
    print(f"queries: {len(costs)} candidates")
    with open(run.COSTS, "w") as f:
        json.dump({"queries": costs}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
