"""Benchmark inputs and their independent references (DuckDB only, no Spark).

Flagship input: the generated transcript table of `ilogtail_spark.gen`,
re-expressed in DuckDB so the seed can shift the conversation-id range.
The shift is a multiple of 97 * 7 * 53, the periods of the hot-conversation
rule (id % 97), the turn-count rule (20 + id % 7) and the corrupt-row rule
(event_id % 53), so every seed yields the same row count, format mix and
hot share; only ids, IPs, user agents and bodies differ. The rows are
materialized once per (seed, size, generator SQL) as parquet under the
checkout's cache directory, outside every timed metric; the engine only
ever reads them.

Registry input: the fixed sf0.01 `documents`, `events` and `embeddings`
tables under `data/sf0.01`, copies of the test tables on which every
registry oracle is checked. The seed only orders the queries within a pass.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
REGISTRY_DIR = os.path.join(HERE, "data", "sf0.01")
REGISTRY_TABLES = ("documents", "events", "embeddings")

# periods of the generator's id-dependent rules (see module docstring)
_SEED_STRIDE = 97 * 7 * 53
# keeps user_id * 3600 s of the generator's ts inside Spark's timestamp range
_SEED_SLOTS = 256
FILES = 16

# gen.gen_transcripts' `events` intermediate, with the conv-id range
# starting at `off` instead of 0. Constants mirror ilogtail_spark/gen.py.
_EVENTS_SQL = """
SELECT user_id * 10000 + turn AS event_id,
       user_id,
       ['click', 'view', 'purchase', 'error', 'signup'][
           CAST((user_id * 13 + turn) % 5 + 1 AS INTEGER)] AS event_type,
       CAST(to_timestamp(1704067200 + user_id * 3600 + turn * 7) AS TIMESTAMP) AS ts
FROM (
  SELECT id AS user_id,
         unnest(range(CASE WHEN id % 97 = 0 THEN 1000 ELSE 20 + id % 7 END)) AS turn
  FROM range({off}, {off} + {n}) t(id)
)
"""


def seed_offset(seed: int) -> int:
    return (seed % _SEED_SLOTS) * _SEED_STRIDE


def connect() -> duckdb.DuckDBPyConnection:
    # inputs and references are built outside the timed region; two threads
    # keep DuckDB's memory small beside the Spark JVM
    return duckdb.connect(config={"threads": 2})


def transcripts_dir(seed: int, n_convs: int, transcripts_sql: str) -> str:
    """Cache directory of one generated table. The generator SQL is part of
    the key, so a changed generator never reuses rows (or a reference)
    built by the old one."""
    sql = hashlib.sha256((_EVENTS_SQL + transcripts_sql).encode()).hexdigest()[:12]
    return os.path.join(CACHE, f"transcripts_{n_convs}_{seed_offset(seed)}_{sql}")


def transcripts(seed: int, n_convs: int) -> str:
    """Path of the parquet transcript table for this seed and size."""
    from ilogtail_spark.sources.transcripts import TRANSCRIPTS_SQL_BODY

    path = transcripts_dir(seed, n_convs, TRANSCRIPTS_SQL_BODY)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    con = connect()
    try:
        con.sql(f"CREATE TEMP TABLE events AS {_EVENTS_SQL.format(off=seed_offset(seed), n=n_convs)}")
        con.sql(f"CREATE TEMP TABLE t AS {TRANSCRIPTS_SQL_BODY}")
        for k in range(FILES):
            con.sql(
                f"COPY (SELECT * FROM t WHERE hash(conv_id) % {FILES} = {k}) "
                f"TO '{path}/part-{k:05d}.parquet' (FORMAT parquet)"
            )
    finally:
        con.close()
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def pipeline_reference(path: str) -> list[tuple]:
    """`queries.O_PIPELINE_E2E` evaluated by DuckDB over the generated rows:
    sorted (route, role_group, log_count, sum_bytes)."""
    from ilogtail_spark.queries import O_PIPELINE_E2E, _CTE

    # the oracle derives `transcripts` from `events` in a CTE; the rows are
    # already materialized, so bind the name to them instead
    if not O_PIPELINE_E2E.startswith(_CTE):
        raise ValueError("O_PIPELINE_E2E no longer starts with the transcripts CTE")
    con = connect()
    try:
        con.sql(f"CREATE VIEW transcripts AS SELECT * FROM '{path}/*.parquet'")
        rows = con.sql(O_PIPELINE_E2E[len(_CTE):]).fetchall()
    finally:
        con.close()
    return sorted(tuple(r) for r in rows)


def registry_references(names: list[str]) -> dict[str, tuple]:
    """Each query's `queries.ORACLES[name]` over the registry tables, as
    (sorted column names, canonical type per column, sorted normalized rows)."""
    from ilogtail_spark.queries import ORACLES

    from tools.check_oracles import canon_duck_type, norm

    con = connect()
    out = {}
    try:
        for t in REGISTRY_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{REGISTRY_DIR}/{t}.parquet'")
        for name in names:
            rel = con.sql(ORACLES[name])
            cols = sorted(rel.columns)
            idx = [rel.columns.index(c) for c in cols]
            types = {c: canon_duck_type(t) for c, t in zip(rel.columns, rel.types)}
            rows = sorted(tuple(norm(r[i]) for i in idx) for r in rel.fetchall())
            out[name] = (cols, types, rows)
    finally:
        con.close()
    return out


def rows_per_route(routed_dir: str) -> dict[str, int]:
    """Rows under each `route=` partition of a written sink directory."""
    con = connect()
    try:
        rows = con.sql(
            f"SELECT route, count(*) FROM read_parquet('{routed_dir}/*/*.parquet', "
            "hive_partitioning = true) GROUP BY route").fetchall()
    finally:
        con.close()
    return {r: n for r, n in rows}
