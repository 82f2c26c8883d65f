#!/usr/bin/env python3
"""Benchmark of the graft link-graph engine (see perfbench/README.md).

Run from the repository root:

    python3 perfbench/run.py --workload cooc-analytics --seed 1 --seconds 30 --trace 0

It builds the program once (perfbench/build.sh), generates the workload's
inputs from the seed (cached per seed under .bench_data/), runs the workload,
checks every output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones, from a traced run.
The line before it records the platform, the generator parameters, the input
counts and every raw sample.
"""
import argparse
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
WORK = os.path.join(ROOT, ".bench_work")


def spark_jars():
    """The Spark jar directory: $SPARK_JARS, else the one build.sbt names."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'^unmanagedBase := file\("([^"]+)"\)', f.read(), re.M)
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()

# Workload sizes (see README.md for why each is this size); --smoke
# shrinks both to check the whole path in a minute.
COOC = {"sf": 0.005, "min_jobs": 3}
CLI = {"clusters": 1500, "singletons": 500, "min_ani": 0.95}
SMOKE = {"cooc-analytics": {"sf": 0.001}, "clusty-cli": {"clusters": 300, "singletons": 100}}

WORKLOADS = ("cooc-analytics", "clusty-cli")
END_TO_END = {"setup_s": "s", "job_s": "s"}

WARM_COUNTERS = ("s", "jobs", "shuffle_mb", "spill_mb", "skew", "driver_s", "busy_frac", "pinned_mb")
CLI_COUNTERS = ("s", "jobs", "shuffle_mb", "spill_mb", "skew", "busy_frac")
PAGERANK_COUNTERS = ("supersteps", "first_step_s", "step_s", "setup_s", "edges_per_s")
COOC_SPANS = ("ingest.partCooccurrence", "graph.ConnectedComponents.run",
              "graph.LabelPropagation.run", "graph.TriangleCount.globalCount",
              "graph.PageRank.runUndirected")
CLI_LAYERS = ("sources.EdgeTableSource", "ingest.Dictionary", "graph.ConnectedComponents",
              "cluster.Shaping", "sources.AssignmentsSink")


def per_layer_units():
    """Every per-layer metric name with its unit, for every workload."""
    unit = {"s": "s", "jobs": "count", "shuffle_mb": "MB", "spill_mb": "MB", "skew": "ratio",
            "driver_s": "s", "busy_frac": "fraction", "pinned_mb": "MB", "supersteps": "count",
            "first_step_s": "s", "step_s": "s", "setup_s": "s", "edges_per_s": "1/s"}
    out = {f"{span}.{c}": unit[c] for span in COOC_SPANS for c in WARM_COUNTERS}
    for c in PAGERANK_COUNTERS:
        out[f"graph.PageRank.runUndirected.{c}"] = unit[c]
    out["ingest.partCooccurrence.pairs"] = "count"
    out["ingest.partCooccurrence.useful_frac"] = "fraction"
    out["graph.TriangleCount.globalCount.wedges"] = "count"
    for layer in CLI_LAYERS:
        for c in CLI_COUNTERS:
            out[f"cli.{layer}.{c}"] = unit[c]
    out["cli.Main.s"] = "s"
    out["cli.Main.driver_s"] = "s"
    out["cli.Main.jobs"] = "count"
    out["process.peak_rss_mb"] = "MB"
    out["trace.overhead_frac"] = "fraction"
    return out


# ---------------------------------------------------------------- platform

def nproc():
    return len(os.sched_getaffinity(0))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def heap_gb():
    """A quarter of the machine's memory, between 1 and 4 GB."""
    return max(1, min(4, mem_total_kb() // (4 * 1048576)))


# ---------------------------------------------------------------- processes

def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("run.py: no program sources here (src/main/scala/graft); run from the repository root")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_process(["bash", os.path.join(BENCH, "build.sh"), BUILD], out, timeout=900)[0]
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit(f"run.py: build failed (exit {rc})")


def run_process(cmd, out, timeout, env=None):
    """Runs cmd to completion; returns (exit code, wall s, peak RSS MB).
    Peak RSS is the child's ru_maxrss (its VmHWM). A child that outlives
    the timeout is killed, and always reaped before returning."""
    t0 = time.monotonic()
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT, env=env,
                         start_new_session=True)
    try:
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid == p.pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, time.monotonic() - t0, usage.ru_maxrss / 1024.0
            if time.monotonic() - t0 > timeout:
                raise TimeoutError(" ".join(cmd[:3]))
            time.sleep(0.01)
    finally:
        if p.returncode is None:
            os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)
            p.returncode = -9


def java(main, args, log, timeout, props=()):
    cores = nproc()
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = ":".join([os.path.join(BUILD, "classes"), os.path.join(BUILD, "bench"),
                   os.path.join(SPARK_JARS, "*")])
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] +
           [f"-Xmx{heap_gb()}g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           list(props) + ["-cp", cp, main] + list(args))
    env = dict(os.environ, SPARK_GRAFT_MASTER=f"local[{cores}]", SPARK_GRAFT_CPUS=str(cores))
    with open(log, "a") as out:
        return run_process(cmd, out, timeout, env)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- warm workloads

def warm_workload(name, seed, seconds, trace, deadline):
    """One harness JVM: set-up, warm pass, timed jobs (perfbench.Harness)."""
    data = os.path.join(DATA, f"{name}-sf{COOC['sf']}-{seed}")
    out = os.path.join(WORK, f"{name}-{seed}.json")
    args = ["--workload", name, "--data", data, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--min-jobs", str(COOC["min_jobs"]), "--cores", str(nproc()), "--out", out,
            "--sf", str(COOC["sf"]),
            "--expected", os.path.join(BENCH, "expected", f"cooc-sf{COOC['sf']}.json")]
    if os.path.exists(out):
        os.remove(out)
    launch_ms = str(int(time.time() * 1000))
    rc, wall, rss = java("perfbench.Harness", args + ["--launch-ms", launch_ms],
                         os.path.join(WORK, f"{name}.log"), timeout=deadline - time.monotonic())
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"run.py: {name} harness failed (exit {rc}); see .bench_work/{name}.log")
    r = json.load(open(out))
    samples = {"job_s": r["job_s"], "untraced_job_s": r["untraced_job_s"],
               "ready_s": r["ready_s"], "prepare_s": r["prepare_s"], "warm_s": r["warm_s"],
               "harness_end_s": r["end_s"], "process_s": wall, "peak_rss_mb": rss,
               "spans": r["spans"]}
    metrics = {"setup_s": r["setup_s"], "job_s": median(r["job_s"])}
    layers = dict(r["layers"], **{"process.peak_rss_mb": rss})
    if trace:
        layers["trace.overhead_frac"] = median(r["job_s"]) / median(r["untraced_job_s"]) - 1
    return metrics, layers, r["attempted"], r["failed"], r["failures"], r["meta"], samples


# ---------------------------------------------------------------- clusty CLI

def cli_inputs(seed):
    """Planted-cluster similarity table plus objects file, cached per seed.

    Clusters of 2-40 objects get a random spanning tree of edges at ani >=
    min_ani plus extra edges on either side of the threshold; cross-cluster
    noise sits below it, except a random tree of high-ani links that merges
    a fifth of the clusters into a giant component. Objects that appear in
    no edge are singletons of the universe."""
    d = os.path.join(DATA, f"clusty-cli-{CLI['clusters']}-{seed}")
    meta_path = os.path.join(d, "_meta.json")
    if os.path.exists(meta_path):
        return d, json.load(open(meta_path))
    os.makedirs(d, exist_ok=True)
    rnd = random.Random(seed)
    lo = CLI["min_ani"]
    clusters = []
    n = 0
    for _ in range(CLI["clusters"]):
        k = min(40, 2 + int(rnd.paretovariate(1.6)))
        clusters.append(list(range(n, n + k)))
        n += k
    total = n + CLI["singletons"]
    names = [f"seq_{rnd.getrandbits(40):010x}_{i}" for i in range(total)]
    edges = []

    def edge(a, b, ani):
        if rnd.random() < 0.5:
            a, b = b, a
        edges.append((names[a], names[b], round(ani, 4), round(rnd.uniform(0.3, 1.0), 4)))

    for members in clusters:
        for i in range(1, len(members)):
            edge(members[i], members[rnd.randrange(i)], rnd.uniform(lo, 1.0))
        for _ in range(len(members) // 2):
            a, b = rnd.sample(members, 2)
            edge(a, b, rnd.uniform(lo - 0.1, 1.0))
    for _ in range(n // 2):
        a, b = rnd.randrange(n), rnd.randrange(n)
        edge(a, b, rnd.uniform(0.7, lo - 0.001))
    giant = rnd.sample(range(len(clusters)), len(clusters) // 5)
    for j in range(1, len(giant)):
        x, y = giant[j], giant[rnd.randrange(j)]
        edge(rnd.choice(clusters[x]), rnd.choice(clusters[y]), rnd.uniform(lo, 1.0))
    for _ in range(20):
        a = rnd.randrange(n)
        edge(a, a, 1.0)
    rnd.shuffle(edges)
    order = list(range(total))
    rnd.shuffle(order)
    with open(os.path.join(d, "edges.tsv"), "w") as f:
        f.write("query\ttarget\tani\tcov\n")
        f.writelines(f"{a}\t{b}\t{s}\t{c}\n" for a, b, s, c in edges)
    with open(os.path.join(d, "objects.tsv"), "w") as f:
        f.write("object\n")
        f.writelines(names[i] + "\n" for i in order)
    expected = expected_assignments([names[i] for i in order], edges, lo)
    with open(os.path.join(d, "expected.tsv"), "w") as f:
        f.writelines(f"{o}\t{c}\n" for o, c in expected)
    meta = {"generator": "planted-clusters", "seed": seed, "min_ani": lo,
            "planted_clusters": len(clusters), "objects": total, "edges": len(edges),
            "kept_edges": sum(1 for a, b, s, _ in edges if s >= lo and a != b),
            "giant_merged_clusters": len(giant),
            "output_clusters": len({c for _, c in expected})}
    json.dump(meta, open(meta_path, "w"))
    return d, meta


def expected_assignments(universe, edges, lo):
    """clusty's single linkage with an objects file: union-find over the
    kept edges; components numbered by decreasing size, ties by the
    smallest objects-file rank; objects in no kept edge appended as
    singletons in rank order; rows ordered by (cluster, rank)."""
    rank = {o: i for i, o in enumerate(universe)}
    parent = list(range(len(universe)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen = set()
    for a, b, s, _ in edges:
        if s >= lo and a != b:
            ra, rb = find(rank[a]), find(rank[b])
            parent[max(ra, rb)] = min(ra, rb)
            seen.update((rank[a], rank[b]))
    comps = {}
    for v in sorted(seen):
        comps.setdefault(find(v), []).append(v)
    ordered = sorted(comps.values(), key=lambda m: (-len(m), m[0]))
    ordered += [[v] for v in range(len(universe)) if v not in seen]
    return [(universe[v], cid) for cid, members in enumerate(ordered) for v in members]


def read_assignments(out_dir):
    parts = sorted(p for p in os.listdir(out_dir) if p.startswith("part-"))
    rows = []
    for p in parts:
        with open(os.path.join(out_dir, p)) as f:
            header = f.readline().rstrip("\n")
            if header != "object\tcluster":
                return None
            rows += [tuple(line.rstrip("\n").split("\t")) for line in f if line.strip()]
    return [(o, int(c)) for o, c in rows]


def cli_stage_layers(trace_file, cores, wall):
    """Per-layer counters of one traced CLI process from its stage facts."""
    stages = [json.loads(line) for line in open(trace_file) if line.strip()]
    out = {}

    def covered(iv):
        total, cur_s, cur_e = 0, None, None
        for s, e in sorted(iv):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        return (total + (cur_e - cur_s if cur_e is not None else 0)) / 1000.0

    for layer in CLI_LAYERS:
        st = [s for s in stages if s["layer"] == layer]
        s_wall = covered([(s["submit_ms"], s["end_ms"]) for s in st])
        tasks = [t for s in st for t in s["task_ms"]]
        skews = [max(s["task_ms"]) / max(statistics.median(s["task_ms"]), 1.0)
                 for s in st if len(s["task_ms"]) >= 2]
        out.update({
            f"cli.{layer}.s": s_wall,
            f"cli.{layer}.jobs": float(len({s["job"] for s in st})),
            f"cli.{layer}.shuffle_mb": sum(s["shuffle_write_bytes"] for s in st) / 1048576.0,
            f"cli.{layer}.spill_mb": sum(s["spill_bytes"] for s in st) / 1048576.0,
            f"cli.{layer}.skew": max(skews) if skews else 1.0,
            f"cli.{layer}.busy_frac": sum(tasks) / 1000.0 / (s_wall * cores) if s_wall > 0 else 0.0,
        })
    out["cli.Main.s"] = wall
    out["cli.Main.driver_s"] = wall - covered([(s["submit_ms"], s["end_ms"]) for s in stages])
    out["cli.Main.jobs"] = float(len({s["job"] for s in stages}))
    return out


def cli_workload(seed, seconds, trace, deadline):
    """Cold graft.Main processes on the planted-cluster table, one at a time,
    for `seconds`. Set-up is each call's launch to session ready."""
    d, meta = cli_inputs(seed)
    expected = [(o, int(c)) for o, c in
                (line.rstrip("\n").split("\t") for line in open(os.path.join(d, "expected.tsv")))]
    log = os.path.join(WORK, "clusty-cli.log")
    out_dir = os.path.join(WORK, "cli-out")
    trace_file = os.path.join(WORK, "cli-trace.jsonl")
    ready_file = os.path.join(WORK, "cli-ready")

    def call(traced):
        """One cold call: (wall s, launch to session ready s, peak RSS MB)."""
        shutil.rmtree(out_dir, ignore_errors=True)
        for f in (trace_file, ready_file):
            if os.path.exists(f):
                os.remove(f)
        listeners = "perfbench.ReadyListener" + (",perfbench.SpanListener" if traced else "")
        props = [f"-Dspark.extraListeners={listeners}", f"-Dperfbench.ready.out={ready_file}"]
        if traced:
            props.append(f"-Dperfbench.trace.out={trace_file}")
        args = ["--algo", "single", "--similarity", "--min", "ani", str(CLI["min_ani"]),
                "--objects-file", os.path.join(d, "objects.tsv"), os.path.join(d, "edges.tsv"),
                out_dir]
        launch_ms = time.time() * 1000
        rc, wall, rss = java("graft.Main", args, log, timeout=deadline - time.monotonic(),
                             props=props)
        if rc != 0 or not os.path.exists(ready_file):
            sys.exit(f"run.py: graft.Main failed (exit {rc}); see .bench_work/clusty-cli.log")
        return wall, (int(open(ready_file).read()) - launch_ms) / 1000.0, rss

    walls, readies, rsses, untraced, layer_runs = [], [], [], [], []
    attempted = failed = 0
    failures = []
    # a call starts only if it is expected to end within `seconds` (the
    # first always runs); a traced run alternates traced and untraced calls
    t0 = time.monotonic()
    i, last = 0, 0.0
    while i < (2 if trace else 1) or time.monotonic() - t0 + last <= seconds:
        traced = trace and i % 2 == 0
        wall, ready, rss = call(traced)
        last = wall
        readies.append(ready)
        if traced:
            layer_runs.append(cli_stage_layers(trace_file, nproc(), wall))
        (walls if traced or not trace else untraced).append(wall)
        rsses.append(rss)
        attempted += 1
        if read_assignments(out_dir) != expected:
            failed += 1
            failures.append(f"assignments (call {i})")
        i += 1
    metrics = {"setup_s": median(readies), "job_s": median(walls)}
    layers = {}
    if trace:
        layers = {k: median([r[k] for r in layer_runs]) for k in layer_runs[0]}
        layers["process.peak_rss_mb"] = median(rsses)
        layers["trace.overhead_frac"] = median(walls) / median(untraced) - 1
    samples = {"job_s": walls, "untraced_job_s": untraced, "setup_s": readies, "peak_rss_mb": rsses,
               "layers_per_traced_call": layer_runs}
    return metrics, layers, attempted, failed, failures, meta, samples


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (sf 0.001, ~1k objects)")
    a = ap.parse_args()
    # a terminated run still kills and reaps its child (run_process's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.smoke:
        COOC.update(SMOKE["cooc-analytics"])
        CLI.update(SMOKE["clusty-cli"])

    os.makedirs(WORK, exist_ok=True)
    os.makedirs(DATA, exist_ok=True)
    build()
    # every measured process is killed if the run outlives this
    deadline = time.monotonic() + 170
    load_before = loadavg()
    if a.workload == "clusty-cli":
        res = cli_workload(a.seed, a.seconds, a.trace == 1, deadline)
    else:
        res = warm_workload(a.workload, a.seed, a.seconds, a.trace == 1, deadline)
    metrics, layers, attempted, failed, failures, meta, samples = res

    if a.trace:
        units = per_layer_units()
        values = {k: layers.get(k, 0.0) for k in units}
        out = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "smoke": a.smoke,
        "platform": {"nproc": nproc(), "mem_total_kb": mem_total_kb(), "heap_gb": heap_gb(),
                     "master": f"local[{nproc()}]", "loadavg_before": load_before,
                     "loadavg_after": loadavg()},
        "params": COOC if a.workload == "cooc-analytics" else CLI,
        "inputs": meta, "samples": samples, "failures": failures,
        "failed_frac": failed / max(attempted, 1)}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
