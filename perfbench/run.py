#!/usr/bin/env python3
"""graft end-to-end benchmark.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload etl_closure --seed 1 --seconds 20 --trace 0

Workloads: etl_closure, query_mix, corpus_prep (see perfbench/README.md);
etl_closure_mixed is etl_closure with each delta's deletes and adds in
one run, the shape that reproduces a known graft defect.
The first run in a checkout builds graft and the harness with sbt; later
runs reuse the build while no source changed. Inputs are generated from
the seed and cached under .bench_build/inputs. The harness JVM runs on
local[4] and all timing is taken around calls into graft's public entry
points; checks run outside the timed region.

stdout: a human-readable report (inputs, every metric with its unit,
a PASS/FAIL line per check), then one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end set of BENCHMARK.json, with --trace 1 the
per-layer set (a traced run of one unit, after an untraced run of the
same inputs that gives the tracing overhead).

--size smoke shrinks every input to a few seconds of work (the
benchmark's own test uses it).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

BUILD = ".bench_build"
BUILD_TIMEOUT_S = 840    # the first run in a checkout also builds
# a whole run (both harness JVMs of a traced run) ends within 180 s;
# query_mix is run by hand only and takes longer
RUN_LIMIT_S = {"etl_closure": 170, "etl_closure_mixed": 170, "corpus_prep": 170,
               "query_mix": 900}
# set-ups per run, reported as their median; query_mix's set-up builds
# all seventeen stored artifacts, so it sets up once
SETUPS = {"etl_closure": 3, "etl_closure_mixed": 3, "corpus_prep": 3, "query_mix": 1}

SIZES = {
    "full": {"etl_closure": dict(bugs=2000, deltas=1, delta_frac=0.04, layers=24),
             "etl_closure_mixed": dict(bugs=2000, deltas=2, delta_frac=0.04, mixed=True),
             "corpus_prep": dict(docs=2000, vecs=1500),
             "query_mix": dict(sf=0.001)},
    "smoke": {"etl_closure": dict(bugs=300, deltas=1, delta_frac=0.05, layers=12),
              "etl_closure_mixed": dict(bugs=300, deltas=2, delta_frac=0.05, mixed=True),
              "corpus_prep": dict(docs=300, vecs=200),
              "query_mix": dict(sf=0.001)},
}

# the metric names and units the JSON line carries, per --trace
with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
    SPEC = json.load(f)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

# the workload-specific metrics of the report, with units
REPORT = {
    "etl_closure": [("etl_base_s", "s"), ("etl_delta_p50_s", "s"), ("etl_delta_p90_s", "s"),
                    ("etl_wall_s", "s"), ("etl_rows_per_s", "rows/s")],
    "etl_closure_mixed": [("etl_base_s", "s"), ("etl_delta_p50_s", "s"),
                          ("etl_delta_p90_s", "s"), ("etl_wall_s", "s"),
                          ("etl_rows_per_s", "rows/s")],
    "query_mix": [("query_pass_s", "s"), ("query_p50_ms", "ms"), ("query_p90_ms", "ms")],
    "corpus_prep": [("corpus_prep_s", "s"), ("embed_audit_s", "s")],
}

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main", "perfbench/build.sbt",
             "perfbench/project/build.properties", "perfbench/src"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness once per source state; return the
    runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "export perfbench/Runtime/fullClasspath"],
                    cwd="perfbench", env=env, timeout=BUILD_TIMEOUT_S, capture=True)
    if out is None or out[0] != 0:
        tail = "" if out is None else out[1][-3000:]
        fail(f"build failed\n{tail}")
    lines = [l for l in out[1].splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    print(f"build: {time.time() - t0:.1f}s")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def run_child(cmd, cwd=None, env=None, timeout=None, capture=False):
    """Run a child in its own process group; on timeout kill the whole
    group and wait for it. Returns (code, output) or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=subprocess.STDOUT if capture else None, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out or ""
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None


def gen_version():
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def inputs(workload, size, seed):
    cfg = SIZES[size][workload]
    root = os.path.join(BUILD, "inputs", gen_version())
    # the key names the generator's arguments, so a changed size
    # never reuses inputs cached for another
    args = "-".join(f"{k}{v}" for k, v in sorted(cfg.items()))
    if workload.startswith("etl_closure"):
        key = f"{workload}-{args}-{seed}"
        make = lambda d: gen.bug_dag(d, seed, **cfg)
    elif workload == "corpus_prep":
        key = f"corpus_prep-{args}-{seed}"
        make = lambda d: gen.corpus(d, seed, **cfg)
    else:
        key = f"query_mix-sf{cfg['sf']}"  # fixed tables; the seed orders the queries
        make = lambda d: gen.tables(d, **cfg)
    path, _ = gen.cached(root, key, make)
    for name, (rows, size_b) in gen.describe(path).items():
        print(f"input {name}: {rows} rows, {size_b} bytes")
    return os.path.abspath(path)


def harness(classpath, args, work, trace):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, f"result-{trace}.json")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *JDK_OPENS,
           "-cp", classpath, "perfbench.Harness",
           "--workload", args.workload, "--inputs", args.inputs, "--work", work,
           "--seconds", str(args.seconds), "--trace", str(trace), "--seed", str(args.seed),
           "--setups", str(SETUPS[args.workload]), "--out", out]
    if args.workload == "query_mix":
        if args.record:
            cmd += ["--record", os.path.abspath(args.record)]
        else:
            cmd += ["--expected", os.path.join(HERE, "expected", "query_mix.json")]
    # Spark's local directories stay inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    left = RUN_LIMIT_S[args.workload] - (time.time() - args.started)
    res = run_child(cmd, env=env, timeout=max(1.0, left))
    if res is None:
        fail(f"harness stopped: the run exceeded {RUN_LIMIT_S[args.workload]}s")
    if res[0] != 0 or not os.path.exists(out):
        fail(f"harness exited with code {res[0]}")
    with open(out) as f:
        return json.load(f)


def contract_metrics(workload, rec):
    m = rec["metrics"]
    if workload.startswith("etl_closure"):
        op = m["etl_delta_p50_s"] * 1000
    elif workload == "corpus_prep":
        op = m["corpus_prep_s"] * 1000
    else:
        op = m["query_p50_ms"]
    return {"setup_s": statistics.median(rec["setup_s"]),
            "wall_s": statistics.median(rec["units"]),
            "op_p50_ms": op, "heap_retained_mb": m["heap_retained_mb"]}


def verdict(recs):
    """(attempted, failed, checks) over the harness records."""
    attempted = sum(len(r["ops"]) for r in recs)
    bad_ops = sum(1 for r in recs for o in r["ops"] if not o["ok"])
    cs = [c for r in recs for c in r["checks"]]
    failed = min(attempted, bad_ops + sum(1 for c in cs if not c["ok"]))
    return max(1, attempted), failed, cs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(REPORT))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--record", help="query_mix: write observed fingerprints here")
    args = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isfile("src/main/scala/graft/Main.scala")):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft missing)")
    classpath = build()
    args.started = time.time()  # the build has its own, longer limit
    args.inputs = inputs(args.workload, args.size, args.seed)
    work = os.path.abspath(os.path.join(BUILD, "work", args.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    def measured(trace):
        rec = harness(classpath, args, work, trace)
        if args.workload == "corpus_prep":
            rec["checks"] += checks.corpus(args.inputs, rec, work)
        return rec

    # a traced run follows an untraced run of the same inputs, right
    # before it, so the overhead compares runs on an equally busy machine
    recs = [measured(0)]
    plain = contract_metrics(args.workload, recs[0])
    if args.trace:
        recs.append(measured(1))
        for c in recs[1]["checks"]:
            c["name"] = "traced." + c["name"]
        layers = dict(recs[1]["layers"])
        # the first unit of each run: both follow the same set-ups
        layers["trace.overhead_s"] = recs[1]["units"][0] - recs[0]["units"][0]
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit in PER_LAYER.items()}
    else:
        metrics = {name: {"value": plain[name], "unit": unit} for name, unit in END_TO_END.items()}

    attempted, failed, cs = verdict(recs)
    rec = recs[0]
    print(f"workload {args.workload} seed {args.seed} size {args.size}: "
          f"{rec['info']['units']} unit(s) in {rec['info']['measure_s']:.1f}s, after "
          f"{len(rec['cold_units'])} cold unit(s) of {sum(rec['cold_units']):.1f}s")
    for name, unit in REPORT[args.workload]:
        print(f"metric {name} = {rec['metrics'][name]:.4f} {unit}")
    for name, unit in END_TO_END.items():
        print(f"metric {name} = {plain[name]:.4f} {unit}")
    print(f"metric failed_frac = {failed / attempted:.4f} ratio")
    for k, v in sorted(rec["info"].items()):
        print(f"info {k} = {v}")
    if args.trace:
        for name, unit in PER_LAYER.items():
            print(f"layer {name} = {metrics[name]['value']:.4f} {unit}")
        print(f"info module_stage_s = {recs[1]['info'].get('module_stage_s')}")
    for c in cs:
        print(f"check {'PASS' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    shutil.rmtree(os.path.join(work, "etl"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "corpus"), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
