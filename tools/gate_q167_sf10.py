#!/usr/bin/env python3
"""sf10 gate for q167_containment_salted — exact test-in-train
decontamination, salted multi-pass (q40's bounded at-scale form; the
containment twin of tools/gate_q166_sf10.py, same two-halves protocol).

Why not the ordinary verify_local hash gate: q40's DuckDB oracle is the
brute-force any-shared-shingle join — sum over tokens of
df_test(tok)·df_train(tok) candidate rows before the DISTINCT, ~2.4e9
at sf10 on this corpus (printed below), whose grouped shuffle exceeded
local disk in the r14 attempt even though the ENGINE side completed.
The gate splits into the two independently-checkable halves:

  PRECISION (FULL): every (test_id, train_id, containment) row the
    engine emitted is recomputed in DuckDB from documents.parquet via
    the oracle's own shingle/hash chain — value-exact and >= threshold.

  RECALL (EXACT, deterministic sample): for every sampled TEST doc the
    TRUE contaminated-train set over the ENTIRE train split is computed
    brute-force (token join restricted to the sampled tests on one
    side), and the engine's rows for those tests must equal it
    row-for-row, containment values included.

Split rule is q40's: test = doc_id % 10 == 0, train = the rest.
Together with ContainmentSaltedSpec (pass-count invariance) and the
sf0.01 full-registry hash gate (q167 vs q40's brute-force oracle), this
is the at-scale evidence for the decomposition.

Usage: python3 tools/gate_q167_sf10.py [sfdir] [--skip-spark]
"""
import glob
import os
import subprocess
import sys
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parents[1]  # the checkout whose jar is gated

SFDIR = (sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--")
         else "target/sf10")
OUT = "/tmp/graft_q167_" + os.path.basename(SFDIR.rstrip("/"))
SAMPLE_MOD = 50  # of TEST docs (already 1/10 of the corpus) -> 1,000 at sf10
THRESHOLD = 0.5

# q167 reads doc_hashsets only — skip every other warehouse artifact
SKIP = ("dim_orders,dim_products,dim_orders_2b,fact_orders,ivf_codebook,"
        "ivf_supercells,ivf_super_map,ivf_assign,margin_denoms,"
        "label_centroid_sums_base,knn_exact,knn_global_sampled,"
        "ann_lsh_topk,ann_ivf_topk,pq_codebooks,pq_codes,bpe_merges,"
        "exact_reps,exact_reps_base,band_signatures,band_signatures_base,"
        "neardup_pairs,neardup_clusters,gram_occurrences,gram_index_base,"
        "gram_bloom_base,bm25_postings,dsir_counts,token_positions,"
        "bm25_doclens,cooccur_edges,token_unigrams,doc_quality,"
        "release_survivors,events_by_day")

if "--skip-spark" not in sys.argv:
    jar = [j for j in glob.glob(f"{ROOT}/target/scala-2.13/*.jar")
           if not j.endswith("-tests.jar")][0]
    opens = " ".join(f"--add-opens {p}=ALL-UNNAMED" for p in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar"])
    xmx = os.environ.get("GRAFT_VERIFY_XMX", "64g")
    cmd = (f"java {opens} -Xmx{xmx} -Dspark.ui.enabled=false "
           f"-Dspark.sql.session.timeZone=UTC -cp {jar}:/opt/spark/jars/* "
           f"graft.Verify {SFDIR} {OUT} q167_containment_salted")
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    env["SPARK_GRAFT_WH_SKIP"] = SKIP
    print(f"[q167-gate] engine run → {OUT}", flush=True)
    r = subprocess.run(["bash", "-c", cmd], capture_output=True, text=True,
                       env=env)
    if r.returncode != 0:
        print(r.stdout[-3000:])
        print(r.stderr[-5000:])
        sys.exit(1)
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)
            sys.exit(1)

con = duckdb.connect()
con.execute(f"SET memory_limit='{os.environ.get('GRAFT_DUCKDB_MEM', '55GB')}'")
con.execute("SET temp_directory='/tmp/graft_duck_spill'")
con.execute(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SFDIR}/documents.parquet'")
con.execute(f"CREATE VIEW engine AS SELECT * FROM "
            f"'{OUT}/q167_containment_salted/*.parquet'")

# the oracle's own shingle → 60-bit-hash chain (kept textually in sync
# with the registered q40/q167 oracle — the q166 gate's HSQ)
HSQ = """
sh AS (
  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3 THEN
    list_transform(generate_series(1, len(w) - 2),
                   i -> array_to_string(w[i:i+2], ' '))
    ELSE []::VARCHAR[] END) AS shingles
  FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents)),
hsq AS (SELECT doc_id, list_sort(list_distinct(list_transform(shingles,
    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))) AS hs
  FROM sh)
"""

n_pairs = con.execute("SELECT count(*) FROM engine").fetchone()[0]
print(f"[q167-gate] engine pairs at {SFDIR}: {n_pairs}")

# ---- the candidate-mass number that justifies this gate's shape ----
mass = con.execute(f"""
  WITH {HSQ},
  tok AS (SELECT doc_id, unnest(hs) AS tok FROM hsq),
  d AS (SELECT tok,
          count(*) FILTER (WHERE doc_id % 10 = 0) AS dft,
          count(*) FILTER (WHERE doc_id % 10 <> 0) AS dfr
        FROM tok GROUP BY tok)
  SELECT sum(dft * dfr) FROM d""").fetchone()[0]
print(f"[q167-gate] oracle candidate mass sum(df_test*df_train) = "
      f"{mass:.3e} pair rows — the brute-force replay's pre-DISTINCT "
      f"join output; at ~16 B/row that is {mass * 16 / 1e9:.0f} GB of "
      f"grouped shuffle on one host")

# ---- PRECISION: every emitted pair recomputed ----
bad_val, bad_thr = con.execute(f"""
  WITH {HSQ},
  need AS (SELECT test_id AS doc_id FROM engine
           UNION SELECT train_id FROM engine),
  h AS (SELECT * FROM hsq SEMI JOIN need USING (doc_id)),
  j AS (SELECT e.test_id, e.train_id, e.containment,
          len(list_intersect(t.hs, r.hs)) AS inter,
          len(t.hs) AS nt
        FROM engine e
        JOIN h t ON t.doc_id = e.test_id
        JOIN h r ON r.doc_id = e.train_id)
  SELECT
    count(*) FILTER (WHERE containment <> CAST(inter AS DOUBLE) /
                     nullif(CAST(nt AS DOUBLE), 0.0)),
    count(*) FILTER (WHERE containment < {THRESHOLD})
  FROM j""").fetchone()
if bad_val or bad_thr:
    print(f"FAIL precision: {bad_val} value mismatches, "
          f"{bad_thr} sub-threshold pairs")
    sys.exit(1)
print(f"[q167-gate] PRECISION OK: all {n_pairs} emitted pairs recompute "
      f"to the same containment and clear {THRESHOLD}")

# ---- RECALL: exact truth for the deterministic TEST sample ----
truth = con.execute(f"""
  WITH {HSQ},
  s AS (SELECT doc_id, unnest(hs) AS tok FROM hsq
        WHERE doc_id % 10 = 0 AND (doc_id // 10) % {SAMPLE_MOD} = 0),
  t AS (SELECT doc_id, unnest(hs) AS tok FROM hsq WHERE doc_id % 10 <> 0),
  ints AS (SELECT s.doc_id AS test_id, t.doc_id AS train_id,
             count(*) AS n_shared
           FROM s JOIN t USING (tok) GROUP BY s.doc_id, t.doc_id),
  sz AS (SELECT doc_id, len(hs) AS n FROM hsq),
  c AS (SELECT test_id, train_id,
          CAST(n_shared AS DOUBLE) /
          nullif(CAST(z.n AS DOUBLE), 0.0) AS containment
        FROM ints JOIN sz z ON z.doc_id = test_id)
  SELECT test_id, train_id, containment FROM c
  WHERE containment >= {THRESHOLD} ORDER BY test_id, train_id""").fetchall()
got = con.execute(f"""
  SELECT test_id, train_id, containment FROM engine
  WHERE (test_id // 10) % {SAMPLE_MOD} = 0
  ORDER BY test_id, train_id""").fetchall()
n_sample = con.execute(f"""SELECT count(*) FROM documents
  WHERE doc_id % 10 = 0 AND (doc_id // 10) % {SAMPLE_MOD} = 0""").fetchone()[0]
if truth != got:
    only_t = set(truth) - set(got)
    only_g = set(got) - set(truth)
    print(f"FAIL recall: truth={len(truth)} engine={len(got)}; "
          f"missed={sorted(only_t)[:5]} extra={sorted(only_g)[:5]}")
    sys.exit(1)
print(f"[q167-gate] RECALL OK: {n_sample} sampled test docs, {len(truth)} "
      f"true contaminated pairs vs the full train split, engine matches "
      f"row-for-row")
print("Q167 SF10 GATE OK")
