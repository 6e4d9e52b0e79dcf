"""Output checks, run after the timed region. Each returns a map from op
name (or "*" for every op) to the reason that op failed; empty when all
outputs are correct."""
import glob
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
SENTINEL = "2999-12-31 23:59:59"


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def oracle(data, work, oracle_sql, dump_errors):
    """Compare each query's dumped outputs with its `SparkEntry.oracleSql`
    replayed in DuckDB over the same parquet, normalised as the repo's
    verify tool does: columns sorted by name, floats by repr, rows in
    order, and no HUGEINT or DECIMAL oracle columns. `dump_errors` maps
    each dump (`before` and `after` the timed region, in
    `<work>/dump-<label>/<query>/`) to the queries that threw there."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        if sql is None:
            bad[name] = "no oracle SQL"
            continue
        try:
            leak = [r[:2] for r in con.execute(f"DESCRIBE ({sql})").fetchall()
                    if r[1] == "HUGEINT" or r[1].startswith("DECIMAL")]
            if leak:
                bad[name] = f"oracle type leak {leak}"
                continue
            exp = con.execute(sql).fetchall()
            ecols = [d[0] for d in con.description]
        except Exception as e:  # a broken oracle is a failed op
            bad[name] = f"oracle error: {str(e)[:200]}"
            continue
        e = [tuple(_norm(r[i]) for i in sorted(range(len(ecols)), key=ecols.__getitem__))
             for r in exp]
        for label, errors in sorted(dump_errors.items()):
            reason = (f"threw: {errors[name]}" if name in errors
                      else _compare(con, glob.glob(f"{work}/dump-{label}/{name}/*.parquet"),
                                    sorted(ecols), e))
            if reason:
                bad[name] = f"{label} the timed region: {reason}"
                break
    return bad


def _compare(con, files, ecols, e):
    """Why the dumped `files` differ from the normalised oracle rows `e`
    with sorted columns `ecols`; None when they agree."""
    try:
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
    except Exception as ex:  # a missing or broken dump is a failed op
        return f"compare error: {str(ex)[:200]}"
    gcols = [d[0] for d in con.description]
    if sorted(gcols) != ecols:
        return f"columns {sorted(gcols)} vs oracle {ecols}"
    g = [tuple(_norm(r[i]) for i in sorted(range(len(gcols)), key=gcols.__getitem__))
         for r in got]
    if g != e:
        kind = "rows" if len(g) != len(e) else (
            "order" if sorted(g) == sorted(e) else "values")
        return f"oracle mismatch ({kind}): {len(g)} rows vs {len(e)}"
    return None


def daily_state(state_dir, data, days):
    """The landed state after the last day against the SCD2 invariants
    ProcessOrdersSpec asserts, plus the key sets the inputs imply:
    every order has exactly one open version and one fact row, and every
    product of the last snapshot has exactly one open version."""
    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchall()
    dim_p = f"read_parquet('{state_dir}/dim_products/*.parquet')"
    dim_o = f"read_parquet('{state_dir}/dim_orders/*.parquet')"
    fact = f"read_parquet('{state_dir}/fact_orders/*.parquet')"
    orders = f"read_parquet({[f'{data}/days/{d}/orders.parquet' for d in range(days)]!r})"
    last = f"read_parquet('{data}/days/{days - 1}/products.parquet')"
    problems = []
    for dim, key in ((dim_p, "id"), (dim_o, "order_id")):
        n = q(f"SELECT count(*) FROM (SELECT {key} FROM {dim} "
              f"WHERE end_time = TIMESTAMP '{SENTINEL}' GROUP BY 1 HAVING count(*) <> 1)")[0][0]
        if n:
            problems.append(f"{n} keys of {key} without exactly one open version")
        n = q(f"SELECT count(*) FROM {dim} WHERE start_time >= end_time")[0][0]
        if n:
            problems.append(f"{n} inverted {key} intervals")
    checks = {
        "open orders": (f"SELECT count(DISTINCT order_id) FROM {dim_o} "
                        f"WHERE end_time = TIMESTAMP '{SENTINEL}'",
                        f"SELECT count(DISTINCT id) FROM {orders}"),
        "fact rows": (f"SELECT count(*) FROM {fact}",
                      f"SELECT count(DISTINCT id) FROM {orders}"),
        "fact keys": (f"SELECT count(DISTINCT order_id) FROM {fact}",
                      f"SELECT count(DISTINCT id) FROM {orders}"),
        "open products": (f"SELECT count(*) FROM {last} p JOIN {dim_p} d ON p.id = d.id "
                          f"AND d.end_time = TIMESTAMP '{SENTINEL}' AND p.category = d.category "
                          f"AND p.price = d.price",
                          f"SELECT count(*) FROM {last}"),
    }
    for what, (got, want) in checks.items():
        g, w = q(got)[0][0], q(want)[0][0]
        if g != w:
            problems.append(f"{what}: {g} vs {w} expected")
    return {"*": "; ".join(problems)} if problems else {}
