"""Seeded input generator.

Writes `<dir>/<table>.parquet` replicas of the sf0.1 tables. Each replica is
re-keyed with a seeded bijection so replicas stay disjoint and joins between
tables still match, and rows are written in a seeded order. The seed also
sets the share of verbatim-duplicate documents, the share of PII-carrying
documents, and the share of events moved into one hot hour.
"""
import json
import os
import random

import duckdb

# the sf0.1 seed tables (TESTDATA.md); the same override graft.Bench reads
BASE_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# replica count per table, per workload
WORKLOAD_TABLES = {
    "load_maponly": {"lineitem": 2},
    "load_hourly": {"events": 2},
    "curate_docs": {"documents": 4},
    "query_mix": {t: 1 for t in (
        "region", "nation", "supplier", "customer", "orders", "lineitem",
        "documents")},
}

# key columns re-keyed by the bijection; columns naming the same entity share
# one key space (and so one modulus) so joins survive the re-keying
KEY_SPACES = {
    "orderkey": ("orders", "o_orderkey"),
    "custkey": ("customer", "c_custkey"),
    "event": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}
TABLE_KEYS = {
    "lineitem": {"l_orderkey": "orderkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "customer": {"c_custkey": "custkey"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
# Spark splits a parquet file at row-group boundaries; documents are wide,
# so small row groups let their text kernels spread over every core
ROW_GROUP_ROWS = {"documents": 1000}
PRIMES = (1000003, 1000033, 1000037, 1000039, 1000081, 1000099, 1000117,
          1000121, 1000133, 1000151, 1000159, 1000171, 1000183, 1000187)
HOUR_MS = 3600 * 1000
# events are folded into this many hours, so a pass writes this many
# partition directories
HOURLY_SPAN_HOURS = 168


def knobs(seed):
    """The seeded generation parameters (pure)."""
    rng = random.Random(seed)
    return {
        "prime": rng.choice(PRIMES),
        "shift": rng.randrange(1 << 30),
        # narrow ranges: a seed changes which rows are picked more than how
        # many, so the work per pass hardly depends on the seed
        "dup_share": round(0.095 + 0.01 * rng.random(), 4),
        "pii_share": round(0.195 + 0.01 * rng.random(), 4),
        "hot_share": round(0.195 + 0.01 * rng.random(), 4),
        "hot_hour": rng.randrange(720),
    }


def connect(threads=4):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET preserve_insertion_order = true")
    return con


def _key_moduli(con, base):
    """Per key space: max key + 1 over the base table (the bijection's modulus)."""
    out = {}
    for space, (table, column) in KEY_SPACES.items():
        out[space] = con.execute(
            f"SELECT max({column}) + 1 FROM '{base}/{table}.parquet'"
        ).fetchone()[0]
    return out


def _rekey(column, modulus, k):
    # r·M + ((key·p + s) mod M): a bijection on [0, M) per replica r, with
    # replicas in disjoint blocks; p is a prime that does not divide M
    return (f"(rep.r * {modulus} + (({column} * {k['prime']} + {k['shift']})"
            f" % {modulus}))::BIGINT")


def _select(con, base, table, copies, k, moduli):
    cols = [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM '{base}/{table}.parquet'").fetchall()]
    keys = TABLE_KEYS.get(table, {})
    exprs = []
    for c in cols:
        if c in keys:
            m = moduli[keys[c]]
            exprs.append(f"{_rekey(c, m, k)} AS {c}")
        elif table == "events" and c == "ts":
            exprs.append("ts::TIMESTAMP AS ts")
        else:
            exprs.append(c)
    return (f"SELECT {', '.join(exprs)}, rep.r AS r "
            f"FROM '{base}/{table}.parquet' "
            f"CROSS JOIN range({copies}) rep(r)")


def _documents(inner, seed, k, n):
    """Per-replica distinct text, a seeded duplicate share and PII share.

    Doc ids are dense in [0, n) after re-keying, so a duplicate copies the
    text of the doc a fixed stride away.
    """
    dup = int(k["dup_share"] * 10000)
    pii = int(k["pii_share"] * 10000)
    return f"""
      WITH raw0 AS ({inner}),
      raw AS (
        SELECT doc_id, text || ' rx' || r AS text, lang, source FROM raw0),
      dupped AS (
        SELECT a.doc_id, a.lang, a.source,
          CASE WHEN b.text IS NOT NULL
                AND hash(a.doc_id, {seed}, 'dup') % 10000 < {dup}
               THEN b.text ELSE a.text END AS text
        FROM raw a LEFT JOIN raw b ON b.doc_id = (a.doc_id + 7919) % {n})
      SELECT doc_id,
        CASE WHEN hash(doc_id, {seed}, 'pii') % 10000 < {pii}
             THEN text || ' contact user' || doc_id || '@example.com call +1 555-012-'
                  || lpad((doc_id % 10000)::VARCHAR, 4, '0')
             ELSE text END AS text,
        lang, source
      FROM dupped"""


def _events_hourly(inner, seed, k):
    """Events with a long epoch-millis column folded into one week of hours,
    and a seeded share of them moved into one hot hour."""
    hot = int(k["hot_share"] * 10000)
    span = HOURLY_SPAN_HOURS * HOUR_MS
    hot_hour = k["hot_hour"] % HOURLY_SPAN_HOURS
    return f"""
      WITH raw AS ({inner}),
      ms AS (SELECT * EXCLUDE (ts, r), epoch_ms(ts) AS ts_ms FROM raw),
      first AS (SELECT min(ts_ms) // {HOUR_MS} * {HOUR_MS} AS h0 FROM ms)
      SELECT event_id,
        CASE WHEN hash(event_id, {seed}, 'hot') % 10000 < {hot}
             THEN h0 + {hot_hour}::BIGINT * {HOUR_MS} + ts_ms % {HOUR_MS}
             ELSE h0 + (ts_ms - h0) % {span} END AS ts_ms,
        user_id, event_type, value, props
      FROM ms, first"""


def generate(workload, seed, out_dir, base=BASE_DIR, threads=4):
    """Write the workload's tables under `out_dir`; return the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    k = knobs(seed)
    con = connect(threads)
    moduli = _key_moduli(con, base)
    tables = {}
    for table, copies in WORKLOAD_TABLES[workload].items():
        sql = _select(con, base, table, copies, k, moduli)
        if table == "documents" and workload == "curate_docs":
            sql = _documents(sql, seed, k, copies * moduli["doc"])
        elif table == "events" and workload == "load_hourly":
            sql = _events_hourly(sql, seed, k)
        else:
            sql = f"SELECT * EXCLUDE (r) FROM ({sql})"
        path = os.path.join(out_dir, f"{table}.parquet")
        con.execute(
            f"COPY ({sql}) TO '{path}' "
            f"(FORMAT parquet, ROW_GROUP_SIZE {ROW_GROUP_ROWS.get(table, 65536)})")
        tables[table] = {"rows": rows_of(con, path),
                         "bytes": os.path.getsize(path)}
    con.close()
    manifest = {"workload": workload, "seed": seed, "knobs": k,
                "tables": tables}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def rows_of(con, path):
    return con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]


def checksum(data_dir, tables, con=None):
    """Order-independent content checksum of the generated tables."""
    con = con or connect()
    parts = []
    for t in sorted(tables):
        n, h = con.execute(
            f"SELECT count(*), sum(hash(x))::VARCHAR FROM "
            f"'{data_dir}/{t}.parquet' x").fetchone()
        parts.append(f"{t}:{n}:{h}")
    return "|".join(parts)

