#!/usr/bin/env python3
"""sf10 gate for q166_jaccard_salted — exact all-pairs n-gram Jaccard,
salted multi-pass (the r14 verdict's bounded at-scale form of q32).

Why not the ordinary verify_local hash gate: the brute-force oracle's
candidate join shuffles sum(df^2) pair rows over the shared-token space,
and at 500k docs on this 31-token-vocabulary corpus that is O(10^10)
rows — past one host's disk no matter how the SQL is shaped (this script
PRINTS the measured masses so the claim stays a number, not an
adjective). The gate therefore splits into the two halves that are
independently DuckDB-checkable at this scale:

  PRECISION (FULL, every emitted row): each (doc_a, doc_b) pair the
    engine emitted has its jaccard recomputed in DuckDB from
    documents.parquet via the oracle's own shingle/hash chain — the
    value must match exactly (same IEEE division of the same ints) and
    clear the threshold. A single fabricated or mis-scored pair fails.

  RECALL (EXACT, deterministic 1/500 sample): for every sampled doc the
    TRUE pair set against the ENTIRE corpus is computed brute-force
    (token join restricted to sampled docs on one side — ~1e8 join
    rows, affordable), and the engine's output restricted to the sample
    must equal it row-for-row, jaccard included. A pair the salted
    decomposition dropped (the failure mode slicing could introduce —
    a broken prefix lemma) fails here.

Together with SaltedJaccardSpec (pass-count invariance) and the sf0.01
full-registry hash gate (q166 vs the brute-force oracle), this is the
at-scale evidence for the decomposition. Usage:

  python3 tools/gate_q166_sf10.py [sfdir] [--skip-spark] [--passes=N]
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
OUT = "/tmp/graft_q166_" + os.path.basename(SFDIR.rstrip("/"))
SAMPLE_MOD = 500  # doc_id % 500 == 0 → 1,000 sampled docs at sf10
THRESHOLD = 0.5

# q166 reads doc_hashsets only — skip every other warehouse artifact so
# the engine run is the operator under test, not a warehouse build
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
           f"graft.Verify {SFDIR} {OUT} q166_jaccard_salted")
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    env["SPARK_GRAFT_WH_SKIP"] = SKIP
    print(f"[q166-gate] engine run → {OUT}")
    r = subprocess.run(["bash", "-c", cmd], capture_output=True, text=True,
                       env=env)
    if r.returncode != 0:
        print(r.stdout[-3000:])
        print(r.stderr[-5000:])
        sys.exit(1)
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)

con = duckdb.connect()
con.execute(f"SET memory_limit='{os.environ.get('GRAFT_DUCKDB_MEM', '55GB')}'")
con.execute("SET temp_directory='/tmp/graft_duck_spill'")
con.execute(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SFDIR}/documents.parquet'")
con.execute(f"CREATE VIEW engine AS SELECT * FROM "
            f"'{OUT}/q166_jaccard_salted/*.parquet'")

# the oracle's own shingle → 60-bit-hash chain (SparkEntry.ShinglesCte +
# the hsq hashing rule — kept textually in sync with the registered
# q32/q166 oracle)
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
print(f"[q166-gate] engine pairs at {SFDIR}: {n_pairs}")

# ---- the candidate-mass numbers that justify this gate's shape ----
df2, ntok = con.execute(f"""
  WITH {HSQ},
  tok AS (SELECT doc_id, unnest(hs) AS tok FROM hsq),
  d AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok)
  SELECT sum(df * df), sum(df) FROM d""").fetchone()
print(f"[q166-gate] oracle candidate mass sum(df^2) = {df2:.3e} pair rows "
      f"({ntok:.3e} (doc,tok) rows) — the full brute-force replay's "
      f"pre-aggregation join output; at ~16 B/row that is "
      f"{df2 * 16 / 1e9:.0f} GB of grouped shuffle, past one host")

# ---- PRECISION: every emitted pair recomputed ----
bad_val, bad_thr = con.execute(f"""
  WITH {HSQ},
  need AS (SELECT doc_a AS doc_id FROM engine
           UNION SELECT doc_b FROM engine),
  h AS (SELECT * FROM hsq SEMI JOIN need USING (doc_id)),
  j AS (SELECT e.doc_a, e.doc_b, e.jaccard,
          len(list_intersect(a.hs, b.hs)) AS inter,
          len(a.hs) AS na, len(b.hs) AS nb
        FROM engine e
        JOIN h a ON a.doc_id = e.doc_a
        JOIN h b ON b.doc_id = e.doc_b)
  SELECT
    count(*) FILTER (WHERE jaccard <> CAST(inter AS DOUBLE) /
                     nullif(CAST(na + nb - inter AS DOUBLE), 0.0)),
    count(*) FILTER (WHERE jaccard < {THRESHOLD})
  FROM j""").fetchone()
if bad_val or bad_thr:
    print(f"FAIL precision: {bad_val} value mismatches, "
          f"{bad_thr} sub-threshold pairs")
    sys.exit(1)
print(f"[q166-gate] PRECISION OK: all {n_pairs} emitted pairs recompute "
      f"to the same jaccard and clear {THRESHOLD}")

# ---- RECALL: exact truth for the deterministic sample ----
truth = con.execute(f"""
  WITH {HSQ},
  s AS (SELECT doc_id, unnest(hs) AS tok FROM hsq
        WHERE doc_id % {SAMPLE_MOD} = 0),
  t AS (SELECT doc_id, unnest(hs) AS tok FROM hsq),
  ints AS (SELECT s.doc_id AS sid, t.doc_id AS oid, count(*) AS n_shared
           FROM s JOIN t USING (tok) WHERE s.doc_id <> t.doc_id
           GROUP BY s.doc_id, t.doc_id),
  sz AS (SELECT doc_id, len(hs) AS n FROM hsq),
  jac AS (SELECT least(sid, oid) AS doc_a, greatest(sid, oid) AS doc_b,
            CAST(n_shared AS DOUBLE) /
            nullif(CAST(sa.n + sb.n - n_shared AS DOUBLE), 0.0) AS jaccard
          FROM ints JOIN sz sa ON sa.doc_id = sid
                    JOIN sz sb ON sb.doc_id = oid)
  SELECT DISTINCT doc_a, doc_b, jaccard FROM jac
  WHERE jaccard >= {THRESHOLD} ORDER BY doc_a, doc_b""").fetchall()
got = con.execute(f"""
  SELECT doc_a, doc_b, jaccard FROM engine
  WHERE doc_a % {SAMPLE_MOD} = 0 OR doc_b % {SAMPLE_MOD} = 0
  ORDER BY doc_a, doc_b""").fetchall()
n_sample = con.execute(f"""SELECT count(*) FROM documents
  WHERE doc_id % {SAMPLE_MOD} = 0""").fetchone()[0]
if truth != got:
    only_t = set(truth) - set(got)
    only_g = set(got) - set(truth)
    print(f"FAIL recall: truth={len(truth)} engine={len(got)}; "
          f"missed={sorted(only_t)[:5]} extra={sorted(only_g)[:5]}")
    sys.exit(1)
print(f"[q166-gate] RECALL OK: {n_sample} sampled docs, {len(truth)} true "
      f"pairs vs the full corpus, engine matches row-for-row")
print("Q166 SF10 GATE OK")
