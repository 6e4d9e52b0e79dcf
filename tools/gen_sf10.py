#!/usr/bin/env python3
"""Generate a deterministic sf10-scale corpus (100x the bench sf0.1:
500,000 docs / 200,000 x 64 vecs, plus events replicated at 100x — the
r15 addition that lets the sessionize/attribution family gate here)
under target/sf10. This feeds graft.gates.ScaleStress, run with
`sbt "Test/runMain graft.gates.ScaleStress target/sf10"` (the linear text/vector
family measured across sf0.1 -> sf1 -> sf10) and the sf10 oracle gates;
the quadratic eval-truth artifacts (knn_exact etc.) are deliberately not
built at this scale, so no star schema and no full warehouse.

Same shape rules as gen_sf1.py (31-token vocabulary, 10-100 tokens/doc,
20 sources, 5 langs, ~6% boilerplate splices; label-paired embedding
centers). Seed fixed; regeneration is byte-stable.
"""
import os, random
import pyarrow as pa
import pyarrow.parquet as pq
import duckdb

OUT = os.path.join(os.path.dirname(__file__), "..", "target", "sf10")
os.makedirs(OUT, exist_ok=True)

vocab = [r[0] for r in duckdb.sql(
    "SELECT DISTINCT tok FROM (SELECT unnest(str_split(text,' ')) tok "
    "FROM read_parquet('/root/testdata/sf0.1/documents.parquet')) ORDER BY tok"
).fetchall()]
langs = [r[0] for r in duckdb.sql(
    "SELECT DISTINCT lang FROM read_parquet('/root/testdata/sf0.1/documents.parquet') ORDER BY lang"
).fetchall()]

rng = random.Random(10042)
N_DOCS, N_VECS, DIM = 500_000, 200_000, 64

boiler = [" ".join(rng.choice(vocab) for _ in range(rng.randint(8, 14)))
          for _ in range(40)]

ids, texts, lg, src, nch = [], [], [], [], []
for i in range(N_DOCS):
    n = rng.randint(10, 100)
    toks = [rng.choice(vocab) for _ in range(n)]
    if rng.random() < 0.06:
        b = rng.choice(boiler).split(" ")
        off = rng.randint(0, max(0, len(toks) - len(b)))
        toks[off:off + len(b)] = b
    t = " ".join(toks)
    ids.append(i); texts.append(t)
    lg.append(rng.choice(langs)); src.append(f"src{rng.randint(0, 19)}")
    nch.append(len(t))
pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts,
                         "lang": lg, "source": src,
                         "n_chars": pa.array(nch, pa.int64())}),
               os.path.join(OUT, "documents.parquet"))

base = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(5)]
centers = [[base[l // 2][d] + rng.gauss(0, 0.05) for d in range(DIM)]
           for l in range(10)]
vid, emb, lab = [], [], []
for i in range(N_VECS):
    l = rng.randint(0, 9)
    v = [centers[l][d] + rng.gauss(0, 0.6) for d in range(DIM)]
    vid.append(i); emb.append([float(f"{x:.6g}") for x in v]); lab.append(l)
pq.write_table(pa.table({"vec_id": pa.array(vid, pa.int64()),
                         "embedding": pa.array(emb, pa.list_(pa.float32())),
                         "label": pa.array(lab, pa.int32())}),
               os.path.join(OUT, "embeddings.parquet"))

# ---- events at 100x sf0.1 (key-offset replication, gen_sf1's rule) ----
# r14 verdict task 3: the sessionize/attribution family had no sf10
# gate because this table didn't exist here. Each of the 100 copies
# preserves sf0.1's per-user event orderings exactly (user_id stride
# 1e6 > max sf0.1 user_id), so window/session semantics are
# self-consistent per copy and the union only meets in global
# aggregates — the same argument as gen_sf1.py's star replication.
SRC = "/root/testdata/sf0.1"
duckdb.sql(f"""COPY (SELECT event_id + k*10000000 AS event_id, ts,
    user_id + k*1000000 AS user_id, event_type, value, props
  FROM read_parquet('{SRC}/events.parquet'),
       (SELECT unnest(range(100)) AS k) ks
  ORDER BY event_id)
  TO '{os.path.join(OUT, "events.parquet")}' (FORMAT PARQUET)""")
print(f"wrote {N_DOCS} docs / {N_VECS} vecs / 100x events to {OUT}")
