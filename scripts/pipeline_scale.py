#!/usr/bin/env python3
"""One traced pass of the paper's path at a multiple of the benchmark corpus.

    python3 scripts/pipeline_scale.py [--multiple 1 10 ...] [--seed N] [--keep DIR]

Run from the root of a checkout. For each multiple M it generates the
`pipeline` workload's seeded corpus (perfbench/corpus.py) with M times its
transcripts (the junk documents stay as they are), then runs the three mains
of a pass (ingest, clustering, re-ingest of the corpus plus M times the new
batch) in one JVM with the benchmark's listeners (perfbench/jvm.py builds the
program and the harness from source), and prints one row per multiple:
per-main seconds and the pass's jobs, tasks, actions, driver-only time and
output files, from the same span derivation as `perfbench/run.py --trace 1`.
With --keep, each pass's outputs are copied to DIR/x<M> for comparison.
"""
import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import corpus  # noqa: E402
import jvm  # noqa: E402
import layers  # noqa: E402
from run import BASE_CASES, BASE_JUNK, NEW_CASES, NEW_JUNK, PIPE_MAINS, SHAPE  # noqa: E402

COLUMNS = ["multiple", "cases", "wall_s", "ingest_s", "cluster_s", "reingest_s",
           "exec.jobs", "exec.tasks", "plan.actions", "driver.self_s", "out.files"]


def traced_pass(cp, opts, work, multiple, seed, keep):
    raw, new, out, clusters = (os.path.join(work, x) for x in ("raw", "new", "out", "clusters"))
    truth = corpus.generate(raw, seed, BASE_CASES * multiple, BASE_JUNK, SHAPE)
    corpus.generate(new, seed, NEW_CASES * multiple, NEW_JUNK, SHAPE, batch="new")
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    props = {"java.io.tmpdir": tmp, "spark.local.dir": local,
             "spark.extraListeners": "perfbench.JobListener", "perfbench.trace": "1",
             "spark.sql.queryExecutionListeners": "perfbench.PlanListener"}
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=local)
    env.pop("SPARK_MASTER", None)
    result = os.path.join(work, "mains.json")
    cmd = jvm.java_cmd(cp, opts, "perfbench.Mains", [
        result,
        PIPE_MAINS["ingest"], os.path.join(raw, "*.json"), out, "--",
        PIPE_MAINS["cluster"], os.path.join(out, "document_chunk_embeddings"), clusters,
        "--", PIPE_MAINS["ingest"], os.path.join(work, "{raw,new}", "*.json"), out], props)
    log = os.path.join(work, "jvm.log")
    code, stdout, wall, _, _ = jvm.run_jvm(cmd, work, env, log, 3600)
    if code != 0:
        raise jvm.BenchError(f"pass at {multiple}x exited {code}; see {log}")
    with open(result) as f:
        res = json.load(f)
    steps = [(i, m["t0"], m["t1"]) for i, m in enumerate(res["mains"], start=1)]
    files = sum(len(fs) for d in (out, clusters) for _, _, fs in os.walk(d))
    m = layers.derive(res["spans"], steps, wall, nproc, {"out.files": files})
    secs = [(b - a) / 1e3 for _, a, b in steps]
    if keep:
        dest = os.path.join(keep, f"x{multiple}")
        shutil.rmtree(dest, ignore_errors=True)
        for d in (out, clusters):
            shutil.copytree(d, os.path.join(dest, os.path.basename(d)))
        with open(os.path.join(dest, "stdout.txt"), "w") as f:
            f.write(stdout)
    return [multiple, truth["cases"], wall] + secs + [
        int(m["exec.jobs"]), int(m["exec.tasks"]), int(m["plan.actions"]),
        m["driver.self_s"], files]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--multiple", type=int, nargs="+", default=[1])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--keep", help="copy each pass's outputs to KEEP/x<multiple>")
    a = ap.parse_args()
    cp, opts = jvm.build(ROOT, os.path.join(ROOT, ".bench_build", "pipeline_scale"))
    print("| " + " | ".join(COLUMNS) + " |")
    print("|" + "---|" * len(COLUMNS))
    for multiple in a.multiple:
        work = tempfile.mkdtemp(prefix=f"pipeline_scale_x{multiple}_",
                                dir=os.path.join(ROOT, ".bench_build"))
        try:
            t0 = time.monotonic()
            row = traced_pass(cp, opts, work, multiple, a.seed, a.keep)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print("| " + " | ".join(f"{v:.2f}" if isinstance(v, float) else str(v)
                                for v in row) + " |", flush=True)
        print(f"  ({time.monotonic() - t0:.0f} s incl. corpus generation)", file=sys.stderr)


if __name__ == "__main__":
    main()
