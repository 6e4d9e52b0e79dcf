#!/usr/bin/env python3
"""Local stand-in for the driver's t2 gate: run graft.Verify, then run each
oracle SQL in DuckDB over the same parquet tables and value-compare.

Usage: python3 tools/verify_local.py [sfdir] [--skip-spark] [--only q01,q02]
"""
import json, math, subprocess, sys, os, glob
from pathlib import Path
import duckdb

# the checkout this script sits in: it builds and verifies that tree
ROOT = Path(__file__).resolve().parents[1]

SFDIR = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.01"
# distinct dump dir per sfdir: concurrent verifies at different scales
# must not race on one directory
OUT = os.environ.get("GRAFT_VERIFY_OUT",
                     "/tmp/graft_verify_" + os.path.basename(SFDIR.rstrip("/")))
ONLY = None
for a in sys.argv:
    if a.startswith("--only"):
        ONLY = set(a.split("=", 1)[1].split(","))

if ONLY and os.path.isfile(f"{OUT}/oracle_sql.json"):
    # pre-flight: a typo'd --only name should fail BEFORE the Spark run
    # (hours at sf10), not after it. A prior dump's registry is close
    # enough to catch typos; the post-run check below stays authoritative
    # (the registry may have gained/lost names since that dump).
    prior = set(json.load(open(f"{OUT}/oracle_sql.json")))
    unknown = ONLY - prior
    if unknown:
        print(f"FAIL --only names not in the last dump's oracle registry: "
              f"{sorted(unknown)} (delete {OUT}/oracle_sql.json to override)")
        sys.exit(1)

if "--skip-spark" not in sys.argv:
    # rebuild when any source is newer than the jar — a stale jar makes
    # the compare silently vacuous for queries it doesn't contain (their
    # oracle keys are missing too, so the loop never sees them)
    # exclude -tests.jar: a Test/runMain can leave one beside the library
    # jar, and picking it up breaks the classpath (no graft.Verify inside)
    jars = [j for j in glob.glob(f"{ROOT}/target/scala-2.13/*.jar")
            if not j.endswith("-tests.jar")]
    srcs = (glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True)
            + glob.glob(f"{ROOT}/build.sbt")
            + glob.glob(f"{ROOT}/project/*.sbt")
            + glob.glob(f"{ROOT}/project/*.scala")
            + glob.glob(f"{ROOT}/src/main/resources/**/*", recursive=True))
    # compare against the NEWEST jar: with several jars in target/ the
    # first glob hit is arbitrary and could be a stale leftover
    stale = (not jars) or (srcs and max(map(os.path.getmtime, srcs))
                           > max(map(os.path.getmtime, jars)))
    if stale:
        cp = subprocess.run(["sbt", "-batch", "package"], cwd=ROOT,
            capture_output=True, text=True)
        if cp.returncode != 0:
            print(cp.stdout[-3000:]); print(cp.stderr[-2000:]); sys.exit(1)
    jar = [j for j in glob.glob(f"{ROOT}/target/scala-2.13/*.jar")
           if not j.endswith("-tests.jar")][0]
    opens = " ".join(f"--add-opens {p}=ALL-UNNAMED" for p in [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar"])
    only_arg = (" " + ",".join(sorted(ONLY))) if ONLY else ""
    xmx = os.environ.get("GRAFT_VERIFY_XMX", "24g")
    cmd = (f"java {opens} -Xmx{xmx} -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC "
           f"-cp {jar}:/opt/spark/jars/* graft.Verify {SFDIR} {OUT}{only_arg}")
    # default 8 cpus (the driver-gate shape) but honor an explicit
    # override — big-corpus warehouse builds (sf10) want the full host
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "8")
    r = subprocess.run(["bash", "-c", cmd], capture_output=True, text=True, env=env)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-5000:]); sys.exit(1)
    for line in r.stderr.splitlines() + r.stdout.splitlines():
        if "[verify]" in line: print(line)

con = duckdb.connect()
# big-corpus oracles (sf1): cap memory and spill to disk instead of
# getting OOM-killed; opt-in via env so the driver's gate is untouched
if os.environ.get("GRAFT_DUCKDB_MEM"):
    con.execute(f"SET memory_limit='{os.environ['GRAFT_DUCKDB_MEM']}'")
    con.execute("SET temp_directory='/tmp/graft_duck_spill'")
for p in glob.glob(f"{SFDIR}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return repr(v)
    return str(v)

fails = 0
if ONLY:
    # a typo'd --only name silently matches nothing and the loop prints a
    # vacuous ALL OK — fail loudly instead (full registry names required)
    unknown = ONLY - set(oracle)
    if unknown:
        print(f"FAIL --only names not in oracle registry: {sorted(unknown)}")
        sys.exit(1)
for name in sorted(oracle):
    if ONLY and name not in ONLY: continue
    res_dir = f"{OUT}/{name}"
    if not os.path.isdir(res_dir):
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    try:
        got = con.execute(f"SELECT * FROM '{res_dir}/*.parquet'").fetchall()
        gcols = [d[0] for d in con.description]
        # type discipline: an oracle column that DuckDB types as HUGEINT
        # (sum over BIGINT promotes) or DECIMAL hashes differently on the
        # driver even when values match — this class of bug has bitten
        # twice (q110 shard_id, q105/q112 pagerank); fail it loudly here
        # before the value compare can green-wash it
        bad = [(r[0], r[1]) for r in con.execute(
                   f"DESCRIBE ({oracle[name]})").fetchall()
               if r[1] == "HUGEINT" or r[1].startswith("DECIMAL")]
        if bad:
            print(f"FAIL {name}: oracle type leak {bad} — CAST to BIGINT/DOUBLE")
            fails += 1; continue
        exp = con.execute(oracle[name]).fetchall()
        ecols = [d[0] for d in con.description]
    except Exception as e:
        print(f"FAIL {name}: {str(e)[:300]}"); fails += 1; continue
    if sorted(gcols) != sorted(ecols):
        print(f"FAIL {name}: cols spark={sorted(gcols)} oracle={sorted(ecols)}"); fails += 1; continue
    # driver sorts columns by name before hashing values
    gi = [gcols.index(c) for c in sorted(gcols)]
    ei = [ecols.index(c) for c in sorted(ecols)]
    g = [tuple(norm(row[i]) for i in gi) for row in got]
    e = [tuple(norm(row[i]) for i in ei) for row in exp]
    if len(g) != len(e):
        print(f"FAIL {name}: rows spark={len(g)} oracle={len(e)}"); fails += 1; continue
    if g != e:
        # also try sorted compare to distinguish order-only mismatch
        tag = "VALUES" if sorted(g) != sorted(e) else "ORDER-ONLY"
        diffs = [(i, a, b) for i, (a, b) in enumerate(zip(g, e)) if a != b][:5]
        print(f"FAIL {name} ({tag}): first diffs: {diffs}")
        fails += 1; continue
    print(f"OK   {name}: {len(g)} rows")
print("ALL OK" if fails == 0 else f"{fails} FAILURES")
sys.exit(1 if fails else 0)
