"""Output checks. Every expectation is computed by DuckDB from the generated
inputs, independently of graft's pipeline and operator code, and compared
with the output DuckDB reads back from each pass."""
import glob
import os

import duckdb

from . import workloads

# DuckDB twins of graft's language id, quality score and PII patterns
LANG_MARKERS = (("en", ("the", "of", "and", "is")),
                ("de", ("der", "und", "die", "ist")),
                ("fr", ("le", "et", "les", "est")),
                ("es", ("el", "y", "los", "es")))
STOP_WORDS = ("the", "a", "of", "and", "to", "in", "is")
PII_PATTERNS = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IPV4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("PHONE", r"\+?[0-9]{1,3}[- .]\(?[0-9]{3}\)?[- .][0-9]{3}[- .][0-9]{4}\b"))


def _count_in(markers):
    words = ", ".join(f"'{w}'" for w in markers)
    return f"len(list_filter(ws, x -> x IN ({words})))"


def text_features_ctes(name, source):
    """Two CTE definitions ending in `name`: the rows of CTE `source` plus
    `lang_pred` and `score`, DuckDB twins of graft's `TextAnalysis.langId`
    and `TextAnalysis.qualityScore` over `text`. The counts are
    materialized once per row; inlined, DuckDB re-evaluates them at every
    reference."""
    counts = ", ".join(f"{_count_in(ms)} AS _s_{lang}"
                       for lang, ms in LANG_MARKERS)
    best = "greatest(" + ", ".join(f"_s_{l}" for l, _ in LANG_MARKERS) + ")"
    arms = " ".join(f"WHEN _s_{l} = {best} AND {best} > 0 THEN '{l}'"
                    for l, _ in LANG_MARKERS)
    wd = "CAST(_nw AS DOUBLE)"
    length = (f"CASE WHEN {wd} >= 20 AND {wd} <= 1000 THEN 1.0 "
              f"WHEN {wd} < 20 THEN {wd} / 20.0 ELSE 1000.0 / {wd} END")
    punct = ("CASE WHEN length(text) = 0 THEN 0.0 ELSE "
             "CAST(_np AS DOUBLE) / CAST(length(text) AS DOUBLE) END")
    stop = (f"CASE WHEN _nw = 0 THEN 0.0 ELSE "
            f"CAST(_nstop AS DOUBLE) / {wd} END")
    score = (f"({length}) * (1.0 - ({punct})) * "
             f"(CASE WHEN ({stop}) > 0.01 THEN 1.0 ELSE 0.5 END)")
    return f"""{name}_counts AS MATERIALIZED (
        SELECT *, {counts}, len(ws) AS _nw,
          {_count_in(STOP_WORDS)} AS _nstop,
          len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS _np
        FROM (SELECT *, string_split_regex(text, '\s+') AS ws
              FROM {source})),
      {name} AS (
        SELECT * EXCLUDE (ws, _nw, _np, _nstop,
          {", ".join(f"_s_{l}" for l, _ in LANG_MARKERS)}),
          CASE {arms} ELSE 'und' END AS lang_pred, {score} AS score
        FROM {name}_counts)"""


def redact_sql(column="text"):
    out = column
    for tag, pat in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '[{tag}]', 'g')"
    return out


def expected_sql(workload, data_dir):
    """The rows the workload's load must write, as a DuckDB query."""
    if workload == "load_maponly":
        return f"""SELECT l_orderkey, l_linenumber, l_partkey,
            {workloads.REVENUE} AS revenue, l_returnflag AS flag,
            l_linestatus, strftime(l_shipdate, '%Y-%m-%d') AS ship_day
          FROM '{data_dir}/lineitem.parquet'
          WHERE {workloads.MAPONLY_WHERE}"""
    if workload == "load_hourly":
        return f"SELECT * FROM '{data_dir}/events.parquet'"
    if workload == "curate_docs":
        steps = {f["type"]: f for f in
                 workloads.CONFIGS["curate_docs"]["filters"]}
        keep_lang = ", ".join(f"'{x}'" for x in steps["lang_filter"]["keep"])
        quota = steps["source_quota"]
        bands = steps["quality_bands"]
        keep_bands = ", ".join(str(b) for b in bands["keep"])
        return f"""WITH d AS (SELECT * FROM '{data_dir}/documents.parquet'),
          kept AS (SELECT min(doc_id) AS k FROM d GROUP BY md5(text)),
          dedup AS (SELECT doc_id, text, lang, source FROM d
                    WHERE doc_id IN (SELECT k FROM kept)),
          {text_features_ctes("feat", "dedup")},
          qual AS (SELECT * FROM feat WHERE lang_pred IN ({keep_lang})
                   AND score >= {steps['quality_filter']['min_score']}),
          red AS (SELECT doc_id, {redact_sql()} AS text, lang, source
                  FROM qual),
          {text_features_ctes("scored", "red")},
          quota AS (SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY score DESC, doc_id) AS rn FROM scored)
            WHERE rn <= {quota['k']}),
          banded AS (SELECT *, ntile({bands['buckets']}) OVER (
            PARTITION BY lang ORDER BY score, doc_id) AS band FROM quota)
          SELECT doc_id, text, lang, source FROM banded
          WHERE band IN ({keep_bands})"""
    raise ValueError(f"no expected rows for {workload}")


def digest(con, relation, columns):
    """(rows, order-independent hash sum) of `relation` over `columns`."""
    cols = ", ".join(f"CAST({c} AS {t})" for c, t in columns)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols})), 0)::VARCHAR "
        f"FROM ({relation})").fetchone()
    return n, h


def output_relation(out_dir):
    files = [f for f in glob.glob(os.path.join(out_dir, "**", "*.parquet"),
                                  recursive=True)]
    if not files:
        return None
    listing = ", ".join(f"'{f}'" for f in sorted(files))
    return f"SELECT * FROM read_parquet([{listing}], hive_partitioning = true)"


def check_load(con, workload, out_dir, expected):
    """Problems with one pass's output (empty list when it is correct)."""
    rel = output_relation(out_dir)
    if rel is None:
        return ["no output files"]
    problems = []
    got = digest(con, rel, workloads.OUTPUT_COLUMNS[workload])
    if got != expected:
        problems.append(f"digest {got} != expected {expected}")
    if workload == "load_hourly":
        bad = con.execute(f"SELECT count(*) FROM ({rel}) "
                          f"WHERE bucket::BIGINT <> ts_ms // 3600000"
                          ).fetchone()[0]
        if bad:
            problems.append(f"{bad} rows outside their hour directory")
    if workload == "curate_docs":
        split = con.execute(f"SELECT count(*) FROM (SELECT source FROM ({rel}) "
                            f"GROUP BY source HAVING count(DISTINCT bucket) > 1)"
                            ).fetchone()[0]
        if split:
            problems.append(f"{split} sources spread over several buckets")
    return problems


def expected_digest(con, workload, data_dir):
    return digest(con, expected_sql(workload, data_dir),
                  workloads.OUTPUT_COLUMNS[workload])


def register_tables(con, data_dir):
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{path}'")


def _canon(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def compare_frames(got, want):
    """Problems comparing a query result with its oracle: column names, row
    count and exact values (rows sorted by every column)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if a != b and not (a != a and b != b):
                return [f"value {c}[{i}]: {a!r} != {b!r}"]
    return []


def check_query(con, result_dir, oracle_sql):
    """Problems comparing a dumped query result with DuckDB's oracle."""
    rel = output_relation(result_dir)
    if rel is None:
        return ["no result files"]
    got = con.execute(rel).df()
    want = con.execute(oracle_sql).df()
    return compare_frames(got, want)


def connect():
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    return con
