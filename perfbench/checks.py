"""Output checks. Each returns a list of failure messages (empty = pass).

* registry queries: row count plus an order-insensitive value hash against
  the entry's DuckDB oracle over the same parquet files (the strict,
  sign-aware normalization of ``tools/verify_oracle.py``);
* daily pipeline: the gold fact rows and keys, the dim row counts and the
  five gold tables, against a DuckDB replay of the pipeline over the
  generated payloads;
* stream increments: the gold table and the closed rollup windows against
  a batch recompute over the landed slices.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GOLD_TABLES = ["dim_city", "dim_update_date", "dim_forecast_date",
               "dim_weather_condition", "fact_weather"]


# The strict, sign-aware row normalization of tools/verify_oracle.py, which
# is a script with import-time side effects rather than a module.
def _norm(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "-0" if math.copysign(1.0, v) < 0 else "0"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def duckdb_over(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def registry_output(name: str, rows, cols, oracle: str, con) -> list[str]:
    rel = con.sql(oracle)
    drows, dcols = rel.fetchall(), [d[0] for d in rel.description]
    if len(rows) != len(drows):
        return [f"{name}: rows {len(rows)} vs oracle {len(drows)}"]
    if sorted(cols) != sorted(dcols):
        return [f"{name}: columns {sorted(cols)} vs oracle {sorted(dcols)}"]
    if value_hash(rows, cols) != value_hash(drows, dcols):
        return [f"{name}: value hash differs from oracle"]
    return []


# --- daily pipeline -------------------------------------------------------------

_WEATHER = """
SELECT DISTINCT trim(nome) AS cidade, trim(estado) AS estado,
       trim(atualizado_em) AS atualizado_em, trim(data) AS data,
       trim(condicao) AS condicao, trim(condicao_desc) AS condicao_desc,
       min, max, ingestion_date
FROM bronze_weather
WHERE nome IS NOT NULL AND estado IS NOT NULL AND atualizado_em IS NOT NULL
  AND data IS NOT NULL AND condicao IS NOT NULL AND condicao_desc IS NOT NULL
  AND min IS NOT NULL AND max IS NOT NULL
"""
_IBGE = """
SELECT DISTINCT id, trim(nome) AS nome, micro_id, trim(micro_nome) AS micro_nome,
       trim(uf_sigla) AS uf_sigla, trim(regiao_nome) AS regiao_nome,
       imediata_id, trim(imediata_nome) AS imediata_nome, ingestion_date
FROM bronze_cities
"""
_CPTEC = """
SELECT DISTINCT codigo AS id, trim(nome) AS nome, trim(estado) AS estado, ingestion_date
FROM bronze_weather
WHERE codigo IS NOT NULL AND nome IS NOT NULL AND estado IS NOT NULL
"""
_DIM_CITY = """
SELECT i.id AS id_ibge, c.id AS id_cptec, i.nome AS nome,
       sha256(concat_ws(':', CAST(i.id AS VARCHAR), CAST(c.id AS VARCHAR))) AS id_city
FROM ibge i JOIN cptec c ON i.nome = c.nome
"""
_FACT_INCREMENT = """
SELECT sha256(concat_ws('_', d.id_city, sha256(CAST(CAST(w.data AS DATE) AS VARCHAR)),
                        sha256(w.condicao))) AS id_fact,
       w.ingestion_date
FROM weather w JOIN dim_city d ON w.cidade = d.nome
"""


def _columns(rows: list[tuple], names: list[str]) -> pa.Table:
    return pa.table(dict(zip(names, map(list, zip(*rows)))))


def _bronze(run_date: str, city_rows: list[dict], forecasts: list[dict]):
    """One day's landed payloads flattened the way silver reads them: one
    row per (forecast record, forecast day) and one per IBGE record."""
    weather, cities = [], []
    for r in forecasts:
        for d in r["clima"]:
            weather.append((r["codigo"], r["nome"], r["estado"], r["atualizado_em"],
                            d["data"], d["condicao"], d["condicao_desc"], d["min"],
                            d["max"], run_date))
    for c in city_rows:
        micro, uf = c["microrregiao"], c["microrregiao"]["mesorregiao"]["UF"]
        cities.append((c["id"], c["nome"], micro["id"], micro["nome"], uf["sigla"],
                       uf["regiao"]["nome"], c["regiao-imediata"]["id"],
                       c["regiao-imediata"]["nome"], run_date))
    return (
        _columns(weather, ["codigo", "nome", "estado", "atualizado_em", "data", "condicao",
                           "condicao_desc", "min", "max", "ingestion_date"]),
        _columns(cities, ["id", "nome", "micro_id", "micro_nome", "uf_sigla", "regiao_nome",
                          "imediata_id", "imediata_nome", "ingestion_date"]),
    )


def replay_gold(days: list[tuple[str, list[dict], list[dict]]]) -> dict:
    """Replay bronze → silver → gold day by day in DuckDB with the engine's
    semantics: silver re-reads all of bronze (trim, NULL drop, exact dedup
    per ingestion date), dim_city joins every IBGE row to every CPTEC row
    of the same name, and each day appends the fact rows whose key is not
    already loaded for the increment's ingestion dates."""
    con = duckdb.connect()
    con.execute("CREATE TABLE fact (id_fact VARCHAR, ingestion_date VARCHAR)")
    landed = [_bronze(*day) for day in days]
    for k in range(1, len(days) + 1):
        # read by the SQL below
        bronze_weather = pa.concat_tables(w for w, _ in landed[:k])  # noqa: F841
        bronze_cities = pa.concat_tables(c for _, c in landed[:k])  # noqa: F841
        con.execute(f"CREATE OR REPLACE TABLE weather AS {_WEATHER}")
        con.execute(f"CREATE OR REPLACE TABLE ibge AS {_IBGE}")
        con.execute(f"CREATE OR REPLACE TABLE cptec AS {_CPTEC}")
        con.execute(f"CREATE OR REPLACE TABLE dim_city AS {_DIM_CITY}")
        con.execute(f"CREATE OR REPLACE TABLE inc AS {_FACT_INCREMENT}")
        con.execute(
            "INSERT INTO fact SELECT * FROM inc WHERE id_fact NOT IN ("
            "SELECT id_fact FROM fact WHERE ingestion_date IN "
            "(SELECT DISTINCT ingestion_date FROM inc))"
        )
    out = {
        "fact_rows": con.sql("SELECT count(*) FROM fact").fetchone()[0],
        "fact_keys": _key_hash(con.sql("SELECT id_fact FROM fact").fetchall()),
        "dim_city_rows": con.sql("SELECT count(*) FROM dim_city").fetchone()[0],
        "dim_forecast_date_rows": con.sql(
            "SELECT count(DISTINCT CAST(data AS DATE)) FROM weather").fetchone()[0],
    }
    con.close()
    return out


def _key_hash(rows) -> str:
    return hashlib.sha256("\n".join(sorted(r[0] for r in rows)).encode()).hexdigest()[:16]


def gold_snapshot(warehouse: str) -> dict:
    """Fact rows and key hash plus dim row counts as loaded in the
    warehouse, read with DuckDB from the parquet files."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    gold = os.path.join(warehouse, "gold")
    snap = {"tables": sorted(t for t in GOLD_TABLES
                             if glob.glob(os.path.join(gold, t, "**", "*.parquet"),
                                          recursive=True))}
    fact = f"read_parquet('{gold}/fact_weather/**/*.parquet', hive_partitioning=true)"
    snap["fact_rows"] = con.sql(f"SELECT count(*) FROM {fact}").fetchone()[0]
    snap["fact_keys"] = _key_hash(con.sql(f"SELECT id_fact FROM {fact}").fetchall())
    for t in ("dim_city", "dim_forecast_date"):
        snap[f"{t}_rows"] = con.sql(
            f"SELECT count(*) FROM read_parquet('{gold}/{t}/**/*.parquet')"
        ).fetchone()[0]
    con.close()
    return snap


def gold_against_replay(snap: dict, expected: dict) -> list[str]:
    fails = []
    if snap["tables"] != sorted(GOLD_TABLES):
        fails.append(f"gold tables present: {snap['tables']}")
    for k in ("fact_rows", "fact_keys", "dim_city_rows", "dim_forecast_date_rows"):
        if snap[k] != expected[k]:
            fails.append(f"gold {k}: {snap[k]} vs replay {expected[k]}")
    return fails


# --- stream increments -----------------------------------------------------------


def _us(col: pa.ChunkedArray) -> np.ndarray:
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
    return col.to_numpy()


def stream_outputs(
    landed: list[pa.Table], gold_dir: str, rollup_dir: str
) -> list[str]:
    """Gold = per user the newest (ts, event_type) over every landed
    event; every emitted rollup window = the batch aggregate of its hour;
    every hour that closed before the last increment arrived is emitted
    exactly once."""
    fails = []
    events = pa.concat_tables(landed)
    ts = _us(events.column("ts"))
    users = events.column("user_id").to_numpy()
    types = events.column("event_type").to_numpy(zero_copy_only=False)
    order = np.lexsort((types, ts, users))
    last = np.r_[users[order][1:] != users[order][:-1], True]
    expect = {
        int(u): (str(e), int(t))
        for u, e, t in zip(users[order][last], types[order][last], ts[order][last])
    }
    gold = pq.read_table(gold_dir)
    got = {
        int(u): (str(e), int(t))
        for u, e, t in zip(gold.column("user_id").to_numpy(),
                           gold.column("last_event_type").to_numpy(zero_copy_only=False),
                           _us(gold.column("last_ts")))
    }
    if got != expect:
        diff = sum(1 for u in set(got) | set(expect) if got.get(u) != expect.get(u))
        fails.append(f"stream gold: {diff} users differ from the batch recompute")

    hour = 3_600_000_000
    cents = np.rint(events.column("value").to_numpy() * 100).astype("int64")
    buckets = ts // hour
    uniq, inv = np.unique(buckets, return_inverse=True)
    n_ev = np.bincount(inv)
    sums = np.bincount(inv, weights=cents)
    expected = {int(b) * hour: (int(n), int(s)) for b, n, s in zip(uniq, n_ev, sums)}
    out = pq.read_table(rollup_dir) if glob.glob(os.path.join(rollup_dir, "*.parquet")) else None
    emitted = {}
    if out is not None:
        for start, n, total in zip(_us(out.column("hour_start")),
                                   out.column("n_events").to_numpy(),
                                   out.column("total_value").to_numpy()):
            if int(start) in emitted:
                fails.append(f"rollup window {int(start)} emitted twice")
            emitted[int(start)] = (int(n), int(round(total * 100)))
    for start, got_w in emitted.items():
        if expected.get(start) != got_w:
            fails.append(f"rollup window {start}: {got_w} vs batch {expected.get(start)}")
    if len(landed) >= 3:
        # a restarted query resumes with the watermark of its last batch, so
        # only the hours that closed two increments ago are surely emitted
        closed = int(_us(pa.concat_tables(landed[:-2]).column("ts")).max()) - hour
        missing = [s for s in expected if s + hour <= closed and s not in emitted]
        if missing:
            fails.append(f"rollup: {len(missing)} closed windows never emitted")
    return fails[:10]

