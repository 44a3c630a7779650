"""Output checks: a digest of each checked table against the digest of the
engine's DuckDB oracle (`SparkEntry.oracleSql`) over the same generated input.

The digest is order-free and type-tolerant: columns sorted by name, every
numeric value as a double in its shortest form, NULL as a marker, rows sorted,
then MD5. Oracle digests are cached per (workload, seed, size, oracle SQL), so
the oracle runs once per input, outside the timed runs.
"""
import hashlib
import json
import os
import re
import time

import duckdb

TABLES = ["events", "documents"]
NUMERIC = re.compile(r"^(U?(TINYINT|SMALLINT|INTEGER|BIGINT|HUGEINT)|FLOAT|DOUBLE|DECIMAL.*)$")


def digest(con, sql):
    desc = con.sql(f"DESCRIBE {sql}").fetchall()
    cols = sorted((r[0], r[1].upper()) for r in desc)
    exprs = []
    for name, typ in cols:
        c = '"' + name.replace('"', '""') + '"'
        v = f"CAST(CAST({c} AS DOUBLE) AS VARCHAR)" if NUMERIC.match(typ) \
            else f"CAST({c} AS VARCHAR)"
        exprs.append(f"coalesce({v}, '<null>')")
    n, md5 = con.sql(
        f"SELECT count(*), md5(coalesce(string_agg(r, chr(10) ORDER BY r), '')) "
        f"FROM (SELECT concat_ws(chr(31), {', '.join(exprs)}) AS r FROM ({sql}) q)"
    ).fetchone()
    return {"cols": [c for c, _ in cols], "rows": int(n), "md5": md5}


def replace_cte(sql, name, body):
    """Replace the body of CTE `name AS (...)` in `sql`."""
    m = re.search(rf"\b{name} AS \(", sql)
    if not m:
        raise ValueError(f"no CTE {name}")
    depth, i = 1, m.end()
    while depth:
        depth += {"(": 1, ")": -1}.get(sql[i], 0)
        i += 1
    return sql[:m.start()] + f"{name} AS ({body})" + sql[i:]


def oracle_sql(spec, name, sql, truth):
    """The oracle to run at this size. The corpus workload's all-pairs
    near-duplicate join cannot finish at its size, so its near-dup losers come
    from the ground truth the generator planted (one-word edits of a longer
    original, Jaccard > 0.92, original always the lower doc_id)."""
    if spec.name == "corpus_release" and name == "llm_corpus_release":
        return replace_cte(sql, "losers", "SELECT doc_id FROM planted_losers"), \
            "oracle SQL, near-dup pairs from planted truth"
    return sql, "oracle SQL"


def connect(data, truth, work):
    con = duckdb.connect()
    con.sql(f"SET threads TO {os.cpu_count()}")
    con.sql(f"SET temp_directory = '{os.path.join(work, 'duckdb-tmp')}'")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.isfile(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    if "near_dup_losers" in truth:
        ids = truth["near_dup_losers"] or [-1]
        con.sql("CREATE TABLE planted_losers AS SELECT UNNEST(?) AS doc_id", params=[ids])
    return con


def check(spec, res, data, truth, seed, work):
    """Digest every checked table of the run and compare with the oracle."""
    cache_dir = os.path.join(work, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    con = connect(data, truth, work)
    d = res["check_dir"]
    out = []
    for c in spec.checks:
        sql, how = oracle_sql(spec, c.oracle, res["oracle_sql"][c.oracle], truth)
        key = hashlib.sha256(json.dumps(
            [spec.name, seed, os.path.basename(data), sql]).encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{key}.json")
        t0 = time.time()
        if os.path.isfile(path):
            with open(path) as f:
                want = json.load(f)
        else:
            want = digest(con, sql)
            with open(path + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(path + ".tmp", path)
        t1 = time.time()
        try:
            got = digest(con, c.sql.format(d=d))
        except duckdb.Error as e:
            got = {"cols": [], "rows": -1, "md5": f"error: {e}"}
            con.close()
            con = connect(data, truth, work)
        out.append({"name": c.name, "oracle": f"{c.oracle}: {how}",
                    "ok": got == want, "rows": got["rows"],
                    "oracle_rows": want["rows"],
                    "oracle_s": round(t1 - t0, 2), "check_s": round(time.time() - t1, 2)})
    con.close()
    return out
