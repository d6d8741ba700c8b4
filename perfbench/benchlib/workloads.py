"""Workload definitions: the load configs handed to `Pipeline.run`, the
query names of `query_mix`, and the canonical column lists the output
checks hash."""
import json

# the pure queries of the flagship set that `query_mix` runs, listed here
# rather than imported so the benchmark does not depend on a study harness:
# a six-table join, and the near-duplicate clustering loop (MinHash edges,
# then `Dedup.clusters`)
QUERY_MIX = ("q5_region_revenue", "dedup_clusters")
# the queries whose result is also replayed by DuckDB running the query's
# oracle SQL; the clustering oracle is an all-pairs Jaccard join that takes
# DuckDB minutes, so `dedup_clusters` is held to a stable hash across passes
ORACLE_CHECKED = ("q5_region_revenue",)

REVENUE = ("CAST(l_extendedprice AS DECIMAL(18,2)) * "
           "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))")
MAPONLY_WHERE = ("l_quantity > 5 AND "
                 "l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'")

CONFIGS = {
    "load_maponly": {
        "in": {"path": "{data}/lineitem.parquet"},
        # ~2 MB input splits: a dozen scan tasks per pass instead of one per
        # core, so one slow task does not set the pass time
        "config": {"spark.sql.files.maxPartitionBytes": "2m"},
        "filters": [
            {"type": "where", "predicate": MAPONLY_WHERE},
            {"type": "derive", "name": "revenue", "expression": REVENUE},
            {"type": "derive", "name": "ship_day",
             "expression": "date_format(l_shipdate, 'yyyy-MM-dd')"},
            {"type": "cast", "col": "l_linenumber", "to": "bigint"},
            {"type": "cast", "col": "l_partkey", "to": "string"},
            {"type": "rename", "from": "l_returnflag", "to": "flag"},
            {"type": "select", "cols": [
                "l_orderkey", "l_linenumber", "l_partkey", "revenue",
                "flag", "l_linestatus", "ship_day"]},
        ],
    },
    "load_hourly": {
        "in": {"path": "{data}/events.parquet"},
        # a fixed reducer count, which adaptive execution leaves as it is:
        # the write runs several tasks per core instead of one, so one slow
        # task does not set the pass time
        "reducers": 12,
        "partitioning": {"type": "timestamp", "column": "ts_ms",
                         "unit": "hour", "unix_timestamp_unit": "milli",
                         "map_side_partition_split": 2},
    },
    "curate_docs": {
        "in": {"path": "{data}/documents.parquet"},
        # ~1 MB input splits over the generator's small row groups: the text
        # kernels run in several tasks instead of one
        "config": {"spark.sql.files.maxPartitionBytes": "1m"},
        "filters": [
            {"type": "dedup", "id": "doc_id", "column": "text"},
            {"type": "lang_filter", "column": "text", "keep": ["en", "de"]},
            {"type": "quality_filter", "column": "text", "min_score": 0.8},
            {"type": "pii_redact", "column": "text"},
            {"type": "source_quota", "key": "source", "column": "text",
             "id": "doc_id", "k": 200},
            {"type": "quality_bands", "stratum": "lang", "column": "text",
             "id": "doc_id", "buckets": 4, "keep": [3, 4]},
        ],
        "partitioning": {"type": "column_hash", "column": "source",
                         "buckets": 8},
    },
}

# (column, canonical DuckDB type) of each load's output, hashed by the checks
OUTPUT_COLUMNS = {
    "load_maponly": [("l_orderkey", "BIGINT"), ("l_linenumber", "BIGINT"),
                     ("l_partkey", "VARCHAR"), ("revenue", "DECIMAL(38,4)"),
                     ("flag", "VARCHAR"), ("l_linestatus", "VARCHAR"),
                     ("ship_day", "VARCHAR")],
    "load_hourly": [("event_id", "BIGINT"), ("ts_ms", "BIGINT"),
                    ("user_id", "BIGINT"), ("event_type", "VARCHAR"),
                    ("value", "DOUBLE"), ("props", "VARCHAR")],
    "curate_docs": [("doc_id", "BIGINT"), ("text", "VARCHAR"),
                    ("lang", "VARCHAR"), ("source", "VARCHAR")],
}

# the generated table each workload's rows-per-second counts
INPUT_TABLE = {"load_maponly": "lineitem", "load_hourly": "events",
               "curate_docs": "documents", "query_mix": None}


def config_json(workload, data_dir):
    """The workload's Pipeline config as JSON, with its input path filled in."""
    cfg = json.loads(json.dumps(CONFIGS[workload]))
    cfg["in"]["path"] = cfg["in"]["path"].format(data=data_dir)
    return json.dumps(cfg, indent=1)
