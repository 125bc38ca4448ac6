#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload {pipeline,queries,incremental}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the program and the
harness from source. One client runs steps one after another (a closed
loop) on a local Spark with one core per CPU of this machine, pass after
pass until S seconds are spent, then checks every output and prints each
metric with its unit. The last line of stdout is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import json
import os
import random
import re
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import jvm  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

# the workloads BENCHMARK.json lists; `queries` runs on request only, as
# its runs do not fit the benchmark's time budget beside these two
BENCHMARKED = ("pipeline", "incremental")
SF = {"queries": "sf0.1", "incremental": "sf0.01"}
COSTS = os.path.join(HERE, "costs.json")
STEP_TIMEOUT_S = 170

# pipeline corpus: 4 planted topics; new transcripts join on re-ingest
BASE_CASES, BASE_JUNK, NEW_CASES, NEW_JUNK = 24, 3, 8, 1
SHAPE = {"turns": (6, 10), "words": (12, 40)}
# queries: one query from each of QUERY_BANDS cost bands of the candidates
# costing at most COST_CAP_S (costs.json).
QUERY_BANDS = 10
COST_CAP_S = 2.0
# incremental: a fixed panel in a fixed order: a sketch store, a takedown
# store and a stream. Seeded samples of the 50 faces, and even
# seeded orders of the panel, spread 13-80% between seeds at the sample
# sizes a run's budget allows; st24-st26 cost 15-18 s each cold, more than
# the budget has room for. Every store face is called cold and then MERGES
# times.
PANEL = ["q23_hll_register_store", "del2_takedown_pairlog", "st5_stream_minhash"]
MERGES = 1
# incremental: the passes of a run, a fixed number of them (a pass runs
# ~10 s, so --seconds 10 adds none): a session keeps speeding up pass after
# pass, and a run that made more passes would read faster. Each step's time
# is its median over them, so the first pass, which still pays class
# loading and JIT for most of the panel, and a pass the host slowed weigh
# little.
INC_PASSES = 4
# untimed first calls of a harness session (never sampled, on a dir of
# their own): the JVM's first Spark jobs pay class loading, code generation
# and JIT once per session
WARMUP = {"queries": ["q1_pricing_summary"], "incremental": PANEL[:1]}
PIPE_MAINS = {"ingest": "graft.etl.TranscriptPipeline",
              "cluster": "graft.clustering.ClusteringPipeline"}

END_TO_END = {"setup_s": "s", "wall_s": "s", "step_p50_s": "s", "step_tail_s": "s",
              "cold_p50_s": "s", "merge_p50_s": "s", "space_amp": "ratio",
              "peak_rss_mb": "MB"}


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args):
        self.args = args
        self.root = os.getcwd()
        self.nproc = len(os.sched_getaffinity(0))
        self.state = os.path.join(self.root, ".bench_build", "perfbench")
        self.work = os.path.join(self.state, f"run-{args.workload}-{args.seed}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.local = os.path.join(self.work, "local")
        self.log = os.path.join(self.work, "jvm.log")
        self.env = dict(os.environ)
        self.env.pop("SPARK_MASTER", None)
        self.env["SPARK_GRAFT_CPUS"] = str(self.nproc)
        self.env["SPARK_LOCAL_DIRS"] = self.local
        self.failures = []   # (step, reason)
        self.notes = []      # lines for the human-readable report

    # -- JVMs --------------------------------------------------------------
    def props(self, traced):
        p = {"java.io.tmpdir": self.tmp, "spark.local.dir": self.local,
             "spark.extraListeners": "perfbench.JobListener"}
        if traced:
            p.update({"perfbench.trace": "1",
                      "spark.sql.queryExecutionListeners": "perfbench.PlanListener",
                      "spark.sql.streaming.streamingQueryListeners": "perfbench.StreamListener"})
        return p

    def check_parallelism(self, master, cpus_env=None):
        want = f"local[{self.nproc}]"
        if master != want or (cpus_env is not None and cpus_env != str(self.nproc)):
            raise jvm.BenchError(f"session runs at {master} (SPARK_GRAFT_CPUS={cpus_env}), "
                                 f"not {want}: refusing a parallelism fallback")

    def harness(self, plan, traced, timeout=STEP_TIMEOUT_S):
        """Run perfbench.Main on a plan; return (result, wall, rss MB)."""
        launch = time.time() * 1000.0
        plan = dict(plan, work=self.work, out=os.path.join(self.work, f"{plan['mode']}.json"),
                    launch_ms=f"{launch:.3f}")
        path = os.path.join(self.work, "plan.txt")
        with open(path, "w") as f:
            f.writelines(f"{k}={v}\n" for k, v in plan.items())
        cmd = jvm.java_cmd(self.cp, self.opts, "perfbench.Main", [path], self.props(traced))
        code, _, wall, rss, launch = jvm.run_jvm(cmd, self.work, self.env, self.log, timeout)
        if code != 0:
            raise jvm.BenchError(f"harness exited {code}; see {self.log}")
        with open(plan["out"]) as f:
            res = json.load(f)
        self.check_parallelism(res["master"], res["cpus_env"])
        return res, wall, rss

    def prepare(self):
        """Once per build: probe the program for its store registry and its
        oracles' SQL, and compute the oracle answers the harness workloads
        check against (both BENCHMARK.json workloads', and this run's), so
        no timed run waits for one. Returns the memoized store queries."""
        path = os.path.join(self.state, "probe.json")
        with open(os.path.join(self.state, "build.key")) as f:
            key = f.read()
        want = sorted({w for w in SF if w in BENCHMARKED or w == self.args.workload})
        if os.path.exists(path):
            with open(path) as f:
                probe = json.load(f)
            if probe["key"] == key and set(want) <= set(probe["warm"]):
                return set(probe["stores"])
        res, _, _ = self.harness({"mode": "setup", "modules": ",".join(self.modules)}, False)
        stores, sqls = set(res["stores"]), res["oracle"]
        for w in want:
            names = PANEL if w == "incremental" else self.query_pool(stores)
            spent = self.oracles.warm(os.path.join(self.testdata, SF[w]),
                                      [sqls[n] for n in sorted(names) if n in sqls])
            self.notes.append(f"oracle answers for {w} computed in {spent:.0f} s")
        with open(path, "w") as f:
            json.dump({"key": key, "stores": sorted(stores), "warm": want}, f)
        return stores

    def query_pool(self, stores):
        """The stateless queries (neither a memoized store face nor a
        StreamQueries face) that costs.json ranks, by cost."""
        with open(COSTS) as f:
            costs = json.load(f)["queries"]
        return {n: c for n, c in costs.items()
                if self.reg.get(n, "StreamQueries") != "StreamQueries" and n not in stores
                and c <= COST_CAP_S and n not in WARMUP["queries"]}

    def untraced_wall(self, wall=None):
        """Median pass wall time of this checkout's untraced runs of the
        workload; a traced run's overhead is read against it. With `wall`,
        record one more untraced run first."""
        path = os.path.join(self.state, "untraced_walls.json")
        walls = {}
        if os.path.exists(path):
            with open(path) as f:
                walls = json.load(f)
        mine = walls.setdefault(self.args.workload, [])
        if wall is not None:
            mine[:] = (mine + [wall])[-20:]
            with open(path, "w") as f:
                json.dump(walls, f)
        return statistics.median(mine) if mine else None

    def keep_spans(self, spans):
        """The traced pass's spans outlive the run for inspection."""
        path = os.path.join(self.state, f"spans-{self.args.workload}.json")
        with open(path, "w") as f:
            json.dump(spans, f)
        self.notes.append(f"spans: {path}")

    # -- registry ------------------------------------------------------------
    def registry(self):
        """Registered query name -> the analytics module it lives in. Also
        sets `testdata`: $PERFBENCH_TESTDATA, else the directory of the
        scale factors the program's own `SparkEntry.entry` reads."""
        src = open(os.path.join(self.root, "src/main/scala/graft/SparkEntry.scala")).read()
        self.testdata = os.environ.get("PERFBENCH_TESTDATA") or re.search(
            r'"([^"]+)/sf[0-9.]+"', src[src.index("def entry"):]).group(1)
        body = src[src.index("def queries"):src.index("def oracleSql")]
        reg = dict(re.findall(r'"(\w+)"\s*->\s*\((\w+)\.\w+ _\)', body))
        self.modules = sorted(set(reg.values()))
        return reg

    def sample(self, costs, bands, rng):
        """Stratified sample: `bands` equal-count cost bands, one name from
        each, preferring modules not yet drawn; the order is seeded."""
        ranked = sorted(costs, key=lambda n: (costs[n], n))
        picked, used = [], set()
        for b in range(bands):
            band = ranked[b * len(ranked) // bands:(b + 1) * len(ranked) // bands]
            rng.shuffle(band)
            band.sort(key=lambda n: self.reg[n] in used)
            picked.append(band[0])
            used.add(self.reg[band[0]])
        rng.shuffle(picked)
        return picked

    # -- workloads -----------------------------------------------------------
    def run_harness_workload(self):
        """`queries` and `incremental`: one long-lived harness session."""
        a = self.args
        names = (self.sample(self.query_pool(self.stores), QUERY_BANDS, random.Random(a.seed))
                 if a.workload == "queries" else PANEL)
        # A queries session's first pass is its cold pass; an incremental
        # session's first pass still pays class loading and JIT for most of
        # the panel. A traced run traces the second pass and reads its
        # overhead against this checkout's untraced runs, or against an
        # untraced later pass of its own when there are none yet.
        first = 2 if a.workload == "queries" or a.trace else 1
        reference = self.untraced_wall() if a.trace else None
        traced = [2] if a.trace else []
        if a.trace:
            min_passes = 2 + (1 if reference is None else 0)
        else:
            min_passes = 2 if a.workload == "queries" else INC_PASSES
        sf = os.path.join(self.testdata, SF[a.workload])
        res, _, rss = self.harness({
            "mode": a.workload, "sf": sf, "seconds": a.seconds, "seed": a.seed,
            "merges": MERGES, "names": ",".join(names), "min_passes": min_passes,
            "warmup": ",".join(WARMUP[a.workload]),
            "traced_passes": ",".join(map(str, traced)),
            "modules": ",".join(self.modules)}, a.trace == 1)

        for s in res["steps"]:
            if s["error"]:
                self.failures.append((s["name"], s["error"]))
        attempted = len(res["steps"])
        steps = [s for s in res["steps"] if s["pass"] > 0]
        dumps = {s["name"]: (s["dump"], res["oracle"][s["name"]])
                 for s in steps if s["dump"] and s["name"] in res["oracle"]}
        missing = sorted({s["name"] for s in steps} - {s["name"] for s in steps if s["error"]}
                         - set(dumps))
        for n in missing:
            self.failures.append((n, "no oracle check"))
        checked = self.oracles.check(sf, dumps)
        for n, (ok, why, _, _) in checked.items():
            if not ok:
                self.failures.append((n, f"oracle mismatch: {why}"))
        self.notes += [f"sample ({len(names)}): {','.join(names)}",
                       "steps (s): " + " ".join(
                           f"{s['pass']}:{s['name'].split('_')[0]}:{s['phase']}="
                           f"{(s['t1'] - s['t0']) / 1e3:.2f}" for s in res["steps"]),
                       f"passes: {len(res['passes'])}; steps: {len(steps)}",
                       f"checked: {len(checked)} results against their DuckDB oracles"]

        def wall(p):
            return (p["t1"] - p["t0"] - p["untimed_ms"]) / 1e3

        def durs(phases, ps):
            """Step times of these phases in passes `ps`. The incremental
            panel and its order are fixed: there a step is the k-th call of
            a face in a pass, and its time the median over the passes."""
            ids = {p["pass"] for p in ps}
            mine = [s for s in steps
                    if s["pass"] in ids and s["phase"] in phases and not s["error"]]
            if a.workload == "queries":
                return [(s["t1"] - s["t0"]) / 1e3 for s in mine]
            calls, k = {}, {}
            for s in mine:
                i = k[s["pass"], s["name"]] = k.get((s["pass"], s["name"]), 0) + 1
                calls.setdefault((s["name"], i), []).append((s["t1"] - s["t0"]) / 1e3)
            return [statistics.median(ts) for ts in calls.values()]
        plain = [p for p in res["passes"] if not p["traced"]]
        # wall_s is a warm pass; the step distribution comes from a fixed
        # number of passes, so its tail percentile has the same count in
        # every run
        warm = [p for p in plain if p["pass"] >= first]
        cold, merge = ("cold", "merge") if a.workload == "incremental" else ("first", "repeat")
        if a.trace:
            tp = next(p for p in res["passes"] if p["traced"])
            ref = reference if reference is not None else statistics.median(wall(p) for p in warm)
            mine = [s for s in steps if s["pass"] == tp["pass"]]
            rows = {n: r for n, (_, _, r, _) in checked.items()}
            extra = {"pin.count": sum(s["pins"] for s in mine),
                     "pin.bytes": sum(s["pin_bytes"] for s in mine),
                     "out_rows": sum(rows.get(s["name"], 0) for s in mine),
                     "trace.wall_s": wall(tp), "trace.untraced_wall_s": ref,
                     "trace.overhead_s": wall(tp) - ref}
            if a.workload == "incremental":
                live = tp["live_bytes"]
                extra.update({
                    "store.bytes_written": tp["written_bytes"],
                    "store.files_written": tp["written_files"],
                    "store.files_live": tp["live_files"],
                    "store.write_amp": tp["written_bytes"] / live if live else 0.0,
                    "stream.state_bytes": tp["checkpoint_bytes"],
                    "out.bytes": live, "out.files": tp["live_files"]})
            self.keep_spans(res["spans"])
            return attempted, layers.derive(
                res["spans"], [(s["id"], s["t0"], s["t1"]) for s in mine], wall(tp),
                self.nproc, extra)
        all_steps = durs({cold, merge}, plain if a.workload == "incremental"
                         else [p for p in plain if p["pass"] <= first])
        tail_p, tail = _tail(all_steps)
        self.notes.append(f"step_tail_s is p{tail_p} of {len(all_steps)} steps")
        space = (max(p["live_bytes"] for p in plain) if a.workload == "incremental"
                 else sum(_tree_bytes(d)[0] for d, _ in dumps.values()))
        e2e = {
            "setup_s": res["setup_ms"] / 1e3,
            "wall_s": statistics.median(wall(p) for p in warm),
            "step_p50_s": statistics.median(all_steps),
            "step_tail_s": tail,
            "cold_p50_s": statistics.median(durs({cold}, plain)),
            "merge_p50_s": statistics.median(durs({merge}, plain)),
            "space_amp": space / _tree_bytes(sf)[0],
            "peak_rss_mb": rss,
        }
        self.untraced_wall(e2e["wall_s"])
        return attempted, e2e

    def run_pipeline(self):
        """Passes of the paper's path: one fresh JVM per pass runs the
        program's mains in order (perfbench.Mains), on a new corpus dir."""
        a = self.args
        reference = self.untraced_wall() if a.trace else None
        traced_pass = 0 if not a.trace else 1 if reference is not None else 2
        passes, checks = [], 0
        start = time.monotonic()
        k = 0
        while k < max(1, traced_pass) or time.monotonic() - start < a.seconds:
            k += 1
            traced = k == traced_pass
            d = os.path.join(self.work, f"p{k}")
            raw, new, out, clusters = (os.path.join(d, x) for x in ("raw", "new", "out", "clusters"))
            truth = corpus.generate(raw, a.seed, BASE_CASES, BASE_JUNK, SHAPE)
            fresh = corpus.generate(new, a.seed, NEW_CASES, NEW_JUNK, SHAPE, batch="new")
            result = os.path.join(d, "mains.json")
            # the re-ingest reads the corpus plus the new batch beside it
            cmd = jvm.java_cmd(self.cp, self.opts, "perfbench.Mains", [
                result,
                PIPE_MAINS["ingest"], os.path.join(raw, "*.json"), out, "--",
                PIPE_MAINS["cluster"], os.path.join(out, "document_chunk_embeddings"), clusters,
                "--", PIPE_MAINS["ingest"], os.path.join(d, "{raw,new}", "*.json"), out],
                self.props(traced))
            code, stdout, wall, rss, launch = jvm.run_jvm(cmd, self.work, self.env, self.log,
                                                        STEP_TIMEOUT_S)
            if code != 0:
                raise jvm.BenchError(f"pipeline pass {k} exited {code}; see {self.log}")
            with open(result) as f:
                res = json.load(f)
            self.check_parallelism(res["master"])
            checks += self.check_pipeline(stdout, truth, fresh, out, clusters)
            ob, of = _tree_bytes(out)
            cb, cf = _tree_bytes(clusters)
            mains, apps = res["mains"], res["apps"]
            # every main builds its own session: the first from the JVM's
            # launch, the others from their main's start
            setup = (apps[0][0] - launch + sum(ap[0] - m["t0"] for m, ap in
                                                 zip(mains[1:], apps[1:]))) / 1e3
            passes.append({"traced": traced, "wall": wall, "rss": rss, "res": res,
                           "setup": setup,
                           "steps": [(m["t1"] - m["t0"]) / 1e3 for m in mains],
                           "space": (ob + cb) / (truth["bytes"] + fresh["bytes"]),
                           "out": (ob + cb, of + cf)})
            shutil.rmtree(d)
        plain = [p for p in passes if not p["traced"]]
        self.notes += [f"corpus: {BASE_CASES} transcripts + {BASE_JUNK} junk, "
                       f"re-ingest adds {NEW_CASES} + {NEW_JUNK} junk",
                       f"passes: {len(passes)}; checks: {checks}"]
        if a.trace:
            tp = next(p for p in passes if p["traced"])
            ref = reference if reference is not None else statistics.median(
                p["wall"] for p in plain)
            spans = tp["res"]["spans"]
            ingest, cluster, reingest = tp["steps"]
            extra = {"out_rows": sum(s["a"].get("out_rows", 0) for s in spans
                                     if s["kind"] == "stage"),
                     "pipeline.ingest_s": ingest, "pipeline.cluster_s": cluster,
                     "pipeline.reingest_s": reingest,
                     "out.bytes": tp["out"][0], "out.files": tp["out"][1],
                     "trace.wall_s": tp["wall"], "trace.untraced_wall_s": ref,
                     "trace.overhead_s": tp["wall"] - ref}
            tsteps = [(i, m["t0"], m["t1"]) for i, m in enumerate(tp["res"]["mains"], start=1)]
            self.keep_spans(spans)
            return 3 * len(passes), layers.derive(spans, tsteps, tp["wall"], self.nproc, extra)
        steps = [x for p in plain for x in p["steps"]]
        tail_p, tail = _tail(steps)
        self.notes.append(f"step_tail_s is p{tail_p} of {len(steps)} steps")
        e2e = {
            "setup_s": statistics.median(p["setup"] for p in plain),
            "wall_s": statistics.median(p["wall"] for p in plain),
            "step_p50_s": statistics.median(steps),
            "step_tail_s": tail,
            "cold_p50_s": statistics.median(p["steps"][0] for p in plain),
            "merge_p50_s": statistics.median(p["steps"][2] for p in plain),
            "space_amp": statistics.median(p["space"] for p in plain),
            "peak_rss_mb": max(p["rss"] for p in plain),
        }
        self.untraced_wall(e2e["wall_s"])
        return 3 * len(passes), e2e

    def check_pipeline(self, stdout, truth, fresh, out, clusters):
        """Compare the mains' reports with the generator's ground truth."""
        lines = [l for l in stdout.splitlines() if l.startswith(("[pipeline]", "[clustering]"))]
        lines += [""] * (3 - len(lines))

        def report(i, tag):
            line = lines[i] if lines[i].startswith(tag) else ""
            return {k: int(v) for k, v in re.findall(r"(\w+)=\+?(\d+)", line)}, line

        def expect(step, got, want):
            if got != want:
                self.failures.append((step, f"expected {want}, got {got}"))
            return 1
        n = 0
        ing, line = report(0, "[pipeline]")
        n += expect("ingest", ing, {
            "raw": truth["cases"] + truth["junk"], "valid": truth["cases"],
            "junk": truth["junk"], "utterances": truth["utterances"],
            "chunks": truth["chunks"]})
        inserted = re.search(r"\(\+(\d+)\)", line)
        n += expect("ingest.inserted", int(inserted.group(1)) if inserted else None,
                    truth["utterances"])
        cl, _ = report(1, "[clustering]")
        n += expect("cluster.cases", cl.get("cases"), truth["cases"])
        n += expect("cluster.found", cl.get("clusters", 0) > 0 and
                    cl.get("reps") == cl.get("clusters") and cl.get("neighbors", 0) > 0, True)
        with open(os.path.join(clusters, "metadata.json")) as f:
            n += expect("cluster.metadata", json.load(f)["n_clusters"], cl.get("clusters"))
        re_, line = report(2, "[pipeline]")
        total_cases = truth["cases"] + fresh["cases"]
        n += expect("reingest", re_, {
            "raw": total_cases + truth["junk"] + fresh["junk"], "valid": total_cases,
            "junk": truth["junk"] + fresh["junk"],
            "utterances": truth["utterances"] + fresh["utterances"],
            "chunks": fresh["chunks"]})
        inserted = re.search(r"\(\+(\d+)\)", line)
        n += expect("reingest.inserted", int(inserted.group(1)) if inserted else None,
                    fresh["utterances"])
        with open(os.path.join(out, "ingestion_summary", "summary.json")) as f:
            summary = json.load(f)
        n += expect("reingest.summary",
                    (summary["utterances_inserted"], summary["chunks_inserted"]),
                    (fresh["utterances"], fresh["chunks"]))
        return n


def _tree_bytes(path):
    total = files = 0
    for d, _, names in os.walk(path, followlinks=True):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def _tail(values):
    """The highest percentile (in steps of 5) with at least ten samples
    beyond it, and its value."""
    xs = sorted(values)
    n = len(xs)
    p = 50
    while p + 5 <= 95 and n * (100 - p - 5) / 100 >= 10:
        p += 5
    if n * (100 - p) / 100 < 10:
        return 100, xs[-1]
    return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipeline", "queries", "incremental"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if os.environ.get("SPARK_GRAFT_EXTRA_CONF"):
        sys.exit("perfbench: SPARK_GRAFT_EXTRA_CONF is set; it overrides the program's "
                 "configuration, so the run is refused")
    r = Run(a)
    try:
        r.cp, r.opts = jvm.build(r.root, r.state)
        r.reg = r.registry()
        for sf in SF.values():
            if not os.path.isdir(os.path.join(r.testdata, sf)):
                raise jvm.BenchError(f"no test data at {r.testdata}/{sf}")
        shutil.rmtree(r.work, ignore_errors=True)
        for d in (r.tmp, r.local):
            os.makedirs(d)
        r.oracles = oracle.Oracles(os.path.join(r.state, "oracle"))
        r.stores = r.prepare()
        if a.workload == "pipeline":
            attempted, metrics = r.run_pipeline()
        else:
            attempted, metrics = r.run_harness_workload()
    except jvm.BenchError as e:
        sys.exit(f"perfbench: {e}")
    finally:
        shutil.rmtree(r.work, ignore_errors=True)

    units = layers.UNITS if a.trace else END_TO_END
    failed = len(r.failures)
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace}")
    print(f"  nproc={r.nproc} master=local[{r.nproc}] SPARK_GRAFT_CPUS={r.nproc} "
          f"(closed loop, 1 client)")
    for n in r.notes:
        print(f"  {n}")
    for step, why in r.failures:
        print(f"  FAILED {step}: {why}")
    print(f"  {'error_rate':<24} {failed / max(attempted, 1):.4f} ratio "
          f"({failed} of {attempted} steps)")
    for k, u in units.items():
        print(f"  {k:<24} {metrics[k]:.6g} {u}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}))


if __name__ == "__main__":
    main()
