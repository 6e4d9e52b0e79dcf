#!/usr/bin/env python3
"""graft benchmark: one command runs one workload at one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (membership and rationale in perfbench/workloads.json):
  wh-build     one fresh Warehouse.ensureMaterialized (36 artifacts)
  queries      8 registry queries, a class-stratified sample, over a landed warehouse
  daily-batch  ProcessOrders.runDay folded over seeded days

Steps: build the repo and the harness (once per source state), generate the
seeded inputs, run the workload in a fresh JVM, check every output
(DuckDB oracle, landed markers, SCD2 invariants), print the metrics by name
and, as the last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`. `--trace 0` reports the end-to-end metrics, `--trace
1` the per-layer ones from a traced run. Everything is written under the
checkout: `.bench_build/` (classpath), `.bench_work/` (per-run directory,
removed afterwards) and `.bench_results/` (per-op records of every run).
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

SF = 0.01            # corpus scale: see README.md, "Scale"
DAYS = 3             # daily-batch days per pass
PASS_SECONDS = 10    # one timed pass of the op list per 10 s of --seconds
HEAP = "3g"          # fixed heap, well inside a 15 GB host
JVM_TIMEOUT_S = 150  # a run must end within 180 s
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads: the repo's build and main sources
    and the harness. Keys the classpath, so a changed source rebuilds."""
    files = [os.path.join(ROOT, "build.sbt")]
    for pat in ("project/*.sbt", "project/*.scala", "project/build.properties",
                "src/main/**/*", "perfbench/harness/build.sbt",
                "perfbench/harness/project/build.properties",
                "perfbench/harness/src/**/*"):
        files += glob.glob(os.path.join(ROOT, pat), recursive=True)
    h = hashlib.sha256()
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile graft (through its own build.sbt) and the harness; return the
    runtime classpath. Skipped when the sources are unchanged."""
    bdir = os.path.join(ROOT, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    cp_file = os.path.join(bdir, f"classpath-{source_stamp()}.txt")
    with open(os.path.join(bdir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isfile(cp_file):
            env = dict(os.environ)
            env.setdefault("COURSIER_MODE", "offline")
            repos = os.path.expanduser("~/.sbt/repositories")
            if "SBT_OPTS" not in env and os.path.isfile(repos):
                env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
                 "export Runtime/fullClasspath"],
                cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
                capture_output=True, text=True, timeout=850)
            lines = [l for l in r.stdout.splitlines() if l.startswith("/") and ".jar" in l]
            if r.returncode != 0 or not lines:
                print(r.stdout[-4000:], file=sys.stderr)
                print(r.stderr[-2000:], file=sys.stderr)
                fail("build failed")
            with open(cp_file + ".tmp", "w") as fh:
                fh.write(lines[-1].strip())
            os.replace(cp_file + ".tmp", cp_file)
    with open(cp_file) as fh:
        return fh.read().strip()


TAIL_MIN_OPS = 21    # from here on, ten samples beyond the tail leave it at or above the median


def quantile_tail(xs):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples beyond). Below TAIL_MIN_OPS samples, the
    max."""
    s = sorted(xs)
    n = len(s)
    if n < TAIL_MIN_OPS:
        return s[-1], 100, 0
    return s[n - 11], math.floor(100 * (n - 10) / n), 10


def run_jvm(cp, work, args):
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
              "-XX:-UsePerfData",  # no hsperfdata file outside the run directory
              "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graftbench.Harness"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/tmp")
    with open(f"{work}/jvm.out", "w") as out, open(f"{work}/jvm.err", "w") as err:
        launched = time.time()
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=err,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    return rc, launched


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("throw", "wrong", "stale"),
                    help="add a throwing op, a wrong-output op or one wrong after its "
                         "first call (the benchmark's own tests)")
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}; one of {sorted(spec['workloads'])}")
    w = spec["workloads"][a.workload]
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources beside the benchmark (build.sbt, src/main/scala/graft)")

    cp = build()
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    os.makedirs(f"{work}/tmp")
    try:
        result = run(a, w, spec, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rdir = os.path.join(ROOT, ".bench_results")
    os.makedirs(rdir, exist_ok=True)
    path = os.path.join(rdir, run_id + ".json")
    with open(path, "w") as fh:
        json.dump(result["record"], fh, indent=1)
    print(f"per-op record: {os.path.relpath(path, ROOT)}")
    print(json.dumps(result["line"]))


def run(a, w, spec, cp, work):
    data = f"{work}/data"
    t0 = time.time()
    gen.generate(data, a.seed, SF, DAYS)
    gen_s = time.time() - t0

    # a whole number of passes, so op counts do not depend on host speed
    passes = max(1, int(a.seconds // PASS_SECONDS))
    args = ["--workload", a.workload, "--data", data, "--passes", str(passes),
            "--trace", str(a.trace), "--out", f"{work}/record.json",
            "--cores", str(len(os.sched_getaffinity(0)))]
    if w.get("queries"):
        args += ["--queries", ",".join(w["queries"])]
        args += ["--wh-skip", ",".join(n for n in spec["artifacts"] if n not in w["artifacts"])]
    if a.workload == "daily-batch":
        args += ["--days", str(DAYS)]
    if a.plant:
        args += ["--plant", a.plant]
    rc, launched = run_jvm(cp, work, args)
    jvm_s = time.time() - launched
    if rc != 0 or not os.path.isfile(f"{work}/record.json"):
        with open(f"{work}/jvm.err") as fh:
            print(fh.read()[-3000:], file=sys.stderr)
        n = max(1, len(w.get("queries", [])))
        return {"record": {"error": f"harness exit {rc}"},
                "line": {"correct": False, "attempted": n, "failed": n, "metrics": {}}}
    with open(f"{work}/record.json") as fh:
        rec = json.load(fh)

    # ---- correctness, outside every timed region ----
    if a.workload == "wh-build":
        bad = {}  # the harness failed every artifact that did not land
    elif a.workload == "daily-batch":
        bad = checks.daily_state(rec["state_dir"], data, rec["days"])
    else:
        bad = checks.oracle(data, work, rec["oracle_sql"], rec["dump_errors"])
    check_s = time.time() - launched - jvm_s
    for o in rec["ops"]:
        reason = o["error"] or bad.get(o["name"]) or bad.get("*")
        o["failed"] = reason
    ops = rec["ops"]
    failed = [o for o in ops if o["failed"]]
    ok = [o["seconds"] for o in ops if not o["failed"]] or [float("nan")]

    wall = statistics.median(rec["pass_wall_s"])
    tail, pct, beyond = quantile_tail(ok)
    setup_s = gen_s + rec["first_op_epoch_ms"] / 1e3 - launched - rec["prep_s"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "op_p50_s": (statistics.median(ok), "s"),
        "op_tail_s": (tail, "s"),
        "op_geomean_s": (math.exp(statistics.fmean(math.log(max(x, 1e-6)) for x in ok)), "s"),
        "heap_live_mb": (rec["heap_live_mb"], "MB"),
    }
    passes = len(rec["pass_wall_s"])
    print(f"workload {a.workload} seed {a.seed}: {len(ops)} ops in {passes} pass(es), "
          f"{len(set(o['name'] for o in ops))} distinct; generate {gen_s:.1f} s, "
          f"JVM {jvm_s:.1f} s, checks {check_s:.1f} s")
    for k, (v, u) in e2e.items():
        note = f"  (p{pct}, {beyond} samples beyond, n={len(ok)})" if k == "op_tail_s" else ""
        print(f"  {k:14s} {v:12.4f} {u}{note}")
    print(f"  {'failed_ratio':14s} {len(failed) / len(ops):12.4f} 1  ({len(failed)}/{len(ops)} ops)")
    for o in failed[:10]:
        print(f"  FAILED {o['name']} (pass {o['pass']}): {str(o['failed'])[:200]}")

    if a.trace:
        metrics = per_layer(rec, ops, passes, wall)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    rec["metrics"] = metrics
    rec["phases_s"] = {"gen": gen_s, "jvm": jvm_s, "check": check_s}
    rec["seed"] = a.seed
    return {"record": rec,
            "line": {"correct": not failed, "attempted": len(ops), "failed": len(failed),
                     "metrics": metrics}}


def per_layer(rec, ops, passes, wall):
    """Per-layer metrics of a traced run, summed over the timed ops and
    divided by the number of passes (one pass = the workload's op list)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    vals = dict.fromkeys(units, 0.0)
    cores = rec["cores"]
    layer_ops = ops if rec["workload"] != "wh-build" else [
        {"seconds": rec["build_s"], "layers": rec["build_layers"]}]
    for o in layer_ops:
        L = o["layers"]
        for k, v in L.items():
            if k in vals and k != "exec.peak_mem_mb":
                vals[k] += v / passes
        vals["exec.peak_mem_mb"] = max(vals["exec.peak_mem_mb"], L.get("exec.peak_mem_mb", 0.0))
        exec_wall = L.get("exec.wall_s", o["seconds"])
        vals["sched.idle_core_s"] += (exec_wall * cores - L.get("exec.run_s", 0.0)) / passes
    # GC time over the whole timed region: the teardown's collections are
    # the workload's too, and ops alone rarely fill the young generation
    vals["jvm.gc_s"] = rec["region"]["jvm.gc_s"] / passes
    vals["graft.leases"] = rec["graft.leases"] / passes
    vals["storage.cached_mb"] = rec["storage.cached_mb"] / passes
    vals["trace.wall_s"] = wall
    for k, v in rec.get("host", {}).items():
        vals[k] = v
    if rec["workload"] == "wh-build":
        for o in ops:
            key = f"warehouse.artifact_s.{o['name']}"
            if key in vals:
                vals[key] = o["seconds"]
    for k in ("warehouse.landed_mb", "warehouse.touch_s", "pipeline.state_rows"):
        if k in rec:
            vals[k] = rec[k]
    for k, v in vals.items():
        print(f"  {k:44s} {v:14.4f} {units[k]}")
    return {k: {"value": v, "unit": units[k]} for k, v in vals.items()}


if __name__ == "__main__":
    main()
