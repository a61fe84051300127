"""Seeded input generator for the graft benchmark.

Every input is derived from the read-only synthetic tables under
~/testdata (sf0.1 for the measured inputs; lake_etl warms up on sf0.001,
ais_queries on a disjoint sf0.1 sample of the measured input's size) and
written below the run's work directory; the source directory is only read.
The same seed always yields byte-identical inputs.
"""
import json
import os
import shutil
import time

import duckdb

TESTDATA = os.path.expanduser("~/testdata")
MAIN_SF = "sf0.1"
WARM_SF = "sf0.001"

# Samples take a fixed number of keys (the seeded-hash smallest), so every
# seed yields inputs of nearly the same size.
# ais_queries: a tenth of the entities and customers and a fifth of the
# documents, so the query mix stays dominated by fixed per-query cost
# (planning, codegen, job launch) and a whole pass fits in one timed run.
QUERY_KEEP = 0.1
DOC_KEEP = 0.2
# lake_etl: a sixteenth of the entities of the AIS-shaped feed.
ETL_KEEP = 0.0625
ETL_FILES = 4
# lake_etl's live feed: rows per micro-batch; a late row is delivered
# LATE_BATCHES batches after its own, hours behind the watermark.
STREAM_BATCH_ROWS = 200
LATE_BATCHES = 3


def _h(seed, key, salt):
    """Seeded 0..999 bucket of `key` (DuckDB's hash is stable across runs)."""
    return f"(hash({key}, {seed}, {salt}) % 1000)"


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def _keys(con, table, key, share, seed, block=0):
    """SQL predicate keeping `share` of `table`'s distinct `key`s, chosen by
    seeded hash. Blocks 0, 1, ... are disjoint samples of the same size."""
    n = con.execute(f"SELECT count(DISTINCT {key}) FROM {table}").fetchone()[0]
    k = max(1, round(n * share))
    return (f"{key} IN (SELECT DISTINCT {key} FROM {table} "
            f"ORDER BY hash({key}, {seed}), {key} LIMIT {k} OFFSET {block * k})")


def _tables(con, src, dst, seed, block):
    os.makedirs(dst, exist_ok=True)
    ev, cu, do = (f"read_parquet('{src}/{t}.parquet')" for t in ("events", "customer", "documents"))
    _copy(con, f"SELECT * FROM {ev} WHERE {_keys(con, ev, 'user_id', QUERY_KEEP, seed, block)}"
               " ORDER BY event_id", f"{dst}/events.parquet")
    _copy(con, f"SELECT * FROM {cu} WHERE {_keys(con, cu, 'c_custkey', QUERY_KEEP, seed, block)}"
               " ORDER BY c_custkey", f"{dst}/customer.parquet")
    # q_bm25 takes its queries from doc_id < 5, so those documents always stay
    _copy(con, f"SELECT * FROM {do} WHERE doc_id < 5 OR "
               f"{_keys(con, do, 'doc_id', DOC_KEEP, seed, block)} ORDER BY doc_id",
          f"{dst}/documents.parquet")
    for t in ("nation", "region", "embeddings"):
        _copy(con, f"SELECT * FROM read_parquet('{src}/{t}.parquet')", f"{dst}/{t}.parquet")


def _raw_csv(con, src, dst, seed):
    """AIS-shaped raw CSV drop with counted defects.

    Base rows are unique on the staging dedup key, and every injected row
    carries exactly one defect, so the pipeline's outputs reconcile exactly:
    staged = base, quarantined = empty + out-of-range, dropped by the
    timestamp parse = bad_ts, removed by dedup = dup.
    """
    os.makedirs(dst, exist_ok=True)
    # replica stride on the entity key, as in graft.ScaleData
    stride = 1_000_000_000 * (1 + seed % 7)
    ev = f"read_parquet('{src}/events.parquet')"
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE base AS
      SELECT * FROM (
        SELECT user_id + {stride} AS mmsi,
               strftime(ts, '%Y-%m-%dT%H:%M:%S') AS base_datetime,
               round(fmod(value, 180) - 90, 5) AS lat,
               round(fmod(value * 7, 360) - 180, 5) AS lon,
               value AS sog, event_id,
               row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%dT%H:%M:%S'),
                                  round(fmod(value, 180) - 90, 5),
                                  round(fmod(value * 7, 360) - 180, 5)
                                  ORDER BY event_id) AS rn
        FROM {ev}
        WHERE {_keys(con, ev, 'user_id', ETL_KEEP, seed)})
      WHERE rn = 1""")
    b = _h(seed, "event_id", 1)
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE raw AS
      SELECT mmsi, base_datetime, CAST(lat AS VARCHAR) AS lat, CAST(lon AS VARCHAR) AS lon,
             sog, event_id, 'base' AS kind FROM base
      UNION ALL SELECT mmsi, base_datetime, CAST(lat AS VARCHAR), CAST(lon AS VARCHAR),
             sog, event_id, 'dup' FROM base WHERE {b} < 20
      UNION ALL SELECT mmsi, base_datetime, '', '', sog, event_id, 'empty'
             FROM base WHERE {b} BETWEEN 20 AND 29
      UNION ALL SELECT mmsi, base_datetime, CAST(91 + event_id % 8 AS VARCHAR),
             CAST(lon AS VARCHAR), sog, event_id, 'oor' FROM base WHERE {b} BETWEEN 30 AND 39
      UNION ALL SELECT mmsi, '2024-13-' || CAST(event_id % 97 AS VARCHAR) || 'T99:99:99',
             CAST(lat AS VARCHAR), CAST(lon AS VARCHAR), sog, event_id, 'bad_ts'
             FROM base WHERE {b} BETWEEN 40 AND 49""")
    counts = dict(con.execute("SELECT kind, count(*) FROM raw GROUP BY kind").fetchall())
    for i in range(ETL_FILES):
        con.execute(f"""COPY (SELECT mmsi, base_datetime, lat AS "LAT", lon AS "LON", sog
                              FROM raw WHERE hash(event_id, kind, {seed}) % {ETL_FILES} = {i}
                              ORDER BY hash(event_id, kind, {seed}, 2))
                        TO '{dst}/part-{i}.csv' (FORMAT CSV, HEADER)""")
    days = con.execute("SELECT count(DISTINCT substr(base_datetime, 1, 10)) FROM base").fetchone()[0]
    return {"base": counts.get("base", 0), "dup": counts.get("dup", 0),
            "empty": counts.get("empty", 0), "oor": counts.get("oor", 0),
            "bad_ts": counts.get("bad_ts", 0), "days": days,
            "lines": sum(counts.values())}


def _feed(con, src, dst, seed):
    """Live AIS feed for lake_etl, as rows tagged with their delivery batch.

    Rows take their natural batch from event-time order and are shuffled
    inside it (out-of-order delivery). About 1% are delivered LATE_BATCHES
    batches late, hours behind the watermark, so the stream drops them
    (kind 'late'); 2% are delivered twice in their batch (kind 'dup' marks
    the copy). Everything else is kind 'ok'.
    """
    os.makedirs(dst, exist_ok=True)
    b = _h(seed, "event_id", 3)
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE nat AS
      SELECT user_id, ts, value, event_id,
             CAST((row_number() OVER (ORDER BY ts, event_id) - 1) / {STREAM_BATCH_ROWS} AS BIGINT) AS nb
      FROM read_parquet('{src}/events.parquet')""")
    _copy(con, f"""
      SELECT user_id, ts, value, batch, kind FROM (
        SELECT user_id, ts, value, event_id,
               CASE WHEN {b} < 10 THEN nb + {LATE_BATCHES} ELSE nb END AS batch,
               CASE WHEN {b} < 10 THEN 'late' ELSE 'ok' END AS kind FROM nat
        UNION ALL
        SELECT user_id, ts, value, event_id, nb, 'dup' FROM nat WHERE {b} BETWEEN 10 AND 29)
      ORDER BY batch, hash(event_id, kind, {seed}, 4)""", f"{dst}/feed.parquet")
    return {"rows": con.execute(f"SELECT count(*) FROM read_parquet('{dst}/feed.parquet')").fetchone()[0],
            "batch_rows": STREAM_BATCH_ROWS, "bytes": os.path.getsize(f"{dst}/feed.parquet")}


def generate(workload, seed, inputs):
    """Write `workload`'s measured and warm-up inputs below `inputs`; returns
    the manifest (row counts, bytes, injected defects)."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    manifest = {}
    for role, sf in (("main", MAIN_SF), ("warm", WARM_SF)):
        # ais_queries warms up on a disjoint sample of the main input's size:
        # AQE plans by data size, so a smaller warm input leaves the measured
        # plans' code generation to the timed phase
        if workload == "ais_queries":
            sf = MAIN_SF
        src, dst = f"{TESTDATA}/{sf}", f"{inputs}/{role}"
        if not os.path.isdir(src):
            raise FileNotFoundError(f"source tables missing: {src}")
        if workload == "ais_queries":
            _tables(con, src, dst, seed, block=0 if role == "main" else 1)
        elif workload == "lake_etl":
            manifest[role] = _raw_csv(con, src, dst, seed)
            # the live feed warms up on its own first batches
            if role == "main":
                manifest["feed"] = _feed(con, src, f"{inputs}/feed", seed)
        else:
            raise ValueError(f"unknown workload {workload}")
        files = [os.path.join(r, f) for r, _, fs in os.walk(dst) for f in fs]
        manifest.setdefault(role, {})["bytes"] = sum(os.path.getsize(f) for f in files)
        if workload == "ais_queries":
            manifest[role]["rows"] = {
                os.path.basename(f).split(".")[0]:
                    con.execute(f"SELECT count(*) FROM read_parquet('{f}')").fetchone()[0]
                for f in files}
    con.close()
    return manifest


def generate_timed(workload, seed, inputs, reps=3):
    """Generate `reps` times into fresh directories (the generator is
    deterministic) and keep the last; returns (manifest, median seconds)."""
    times = []
    for r in range(reps):
        path = inputs if r == reps - 1 else f"{inputs}.rep{r}"
        t0 = time.perf_counter()
        manifest = generate(workload, seed, path)
        times.append(time.perf_counter() - t0)
        if path != inputs:
            shutil.rmtree(path, ignore_errors=True)
    return manifest, sorted(times)[len(times) // 2]


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), indent=1))
