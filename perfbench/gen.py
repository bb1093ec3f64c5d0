"""Seeded input generators for the benchmark.

Everything the engine reads in a run is made here from the run's seed:

* ``star_tables``: the TPC-H-shaped star tables plus ``events`` and
  ``documents``, with the column domains of the engine's sf0.1 test
  fixtures (2-decimal money, 0.00-0.10 discounts, date-valued timestamps,
  strictly increasing microsecond event times).
* ``city_payloads`` / ``forecast_payloads``: IBGE municipality and CPTEC
  forecast records for one run date, with the reference's dirty data
  (mixed date formats, stray whitespace, NULLs, exact duplicates, one
  name mapped to two ids).
* ``event_slices``: the events table cut into event-time slices whose
  arrival jitter stays inside the streaming watermark delay.

No engine code is used, so the engine only ever sees generated inputs.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "pt", "es", "de", "zh"]
WORDS = (
    "a the data spark table query join group sort hash scan filter value "
    "key row line part order customer stream window batch vector column "
    "fast slow big small agg merge"
).split()


def _days_to_us(days: np.ndarray) -> np.ndarray:
    return days.astype("int64") * 86_400_000_000


def _day_number(iso: str) -> int:
    return (dt.date.fromisoformat(iso) - dt.date(1970, 1, 1)).days


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Money as exact cents / 100, so every value is the double nearest a
    2-decimal number."""
    return rng.integers(lo, hi, n) / 100.0


def star_tables(seed: int, scale: float = 0.1) -> dict[str, pa.Table]:
    """The star-schema query inputs at ``scale`` (0.1 gives 600k lineitems,
    150k orders, 15k customers, 100k events, 5k documents)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    i32 = pa.int32()

    region = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _cents(rng, -99_999, 1_000_000, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    day0 = _day_number("1995-01-01")
    # ~5% of customers never order (the EXCEPT query's answer)
    ordering = rng.permutation(n_cust)[: int(n_cust * 0.95)]
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": ordering[rng.integers(0, len(ordering), n_ord)].astype("int64"),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
        "o_orderdate": _ts(_days_to_us(day0 + rng.integers(0, 2404, n_ord))),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, int(200_000 * scale), n_li),
        "l_suppkey": rng.integers(0, int(10_000 * scale), n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days_to_us(day0 + 1 + rng.integers(0, 2499, n_li))),
    })
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events_table(rng, n_ev),
        "documents": documents_table(rng, n_doc),
    }


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events over 30 days from 2024-01-01, strictly increasing
    microsecond timestamps (unique per event, so as-of joins have no ties)."""
    span_us = 30 * 86_400_000_000
    gaps = rng.integers(1, 2 * span_us // n, n)
    ts = _days_to_us(np.array(_day_number("2024-01-01"))) + np.cumsum(gaps)
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(1, n // 66), n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _cents(rng, 0, 56_000, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(8, 100))])
        for _ in range(n)
    ]
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """One ``<name>.parquet`` file per table; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total


# --- IBGE / CPTEC payloads ---------------------------------------------------

UFS = [
    # (sigla, nome, regiao id, regiao sigla, regiao nome)
    ("AC", "Acre", 1, "N", "Norte"), ("AM", "Amazonas", 1, "N", "Norte"),
    ("PA", "Pará", 1, "N", "Norte"), ("TO", "Tocantins", 1, "N", "Norte"),
    ("BA", "Bahia", 2, "NE", "Nordeste"), ("CE", "Ceará", 2, "NE", "Nordeste"),
    ("PE", "Pernambuco", 2, "NE", "Nordeste"), ("PI", "Piauí", 2, "NE", "Nordeste"),
    ("MG", "Minas Gerais", 3, "SE", "Sudeste"), ("SP", "São Paulo", 3, "SE", "Sudeste"),
    ("RJ", "Rio de Janeiro", 3, "SE", "Sudeste"), ("PR", "Paraná", 4, "S", "Sul"),
    ("RS", "Rio Grande do Sul", 4, "S", "Sul"), ("SC", "Santa Catarina", 4, "S", "Sul"),
    ("GO", "Goiás", 5, "CO", "Centro-Oeste"), ("MT", "Mato Grosso", 5, "CO", "Centro-Oeste"),
]
_PREFIXES = ["São", "Santa", "Bom", "Nova", "Porto", "Campo", "Rio", "Serra",
             "Vila", "Alto", "Barra", "Lagoa", "Monte", "Pedra", "Água"]
_STEMS = ["Alegre", "Verde", "Jesus", "Branco", "Bonito", "Grande", "Claro",
          "Azul", "Fundo", "Seco", "Novo", "Preto", "Dourado", "Belo", "Largo",
          "Lindo", "Velho", "Redondo", "Formoso", "Quente"]
_SUFFIXES = ["", " do Sul", " do Norte", " da Serra", " de Minas", " do Oeste",
             " das Flores", " dos Campos", " do Leste", " da Mata"]
CONDITIONS = [
    ("ps", "Predomínio de Sol"), ("c", "Chuva"), ("pn", "Parcialmente Nublado"),
    ("n", "Nublado"), ("ci", "Chuvas Isoladas"), ("pc", "Pancadas de Chuva"),
]
DATE_FORMATS = ("%Y-%m-%d", "%d/%m/%Y", "%m-%d-%Y")


def municipalities(seed: int, n: int) -> list[dict]:
    """``n`` municipalities (static across run dates): IBGE id, unique name
    (plus ~1% names repeated in another state, as IBGE has), UF and the
    CPTEC id. ~3% have no CPTEC forecast."""
    rng = random.Random(seed * 7919 + 11)
    combos = [f"{p} {s}{x}" for p in _PREFIXES for s in _STEMS for x in _SUFFIXES]
    extra = [f"{c} {k}" for k in ("I", "II", "III", "IV") for c in combos]
    pool = combos + extra
    names = rng.sample(pool, n)
    for i in rng.sample(range(1, n), max(1, n // 100)):
        names[i] = names[i - 1]  # same name, other id (and usually other UF)
    out = []
    for i, name in enumerate(names):
        uf = UFS[rng.randrange(len(UFS))]
        out.append({
            "ibge_id": 1_100_000 + i * 7,
            "cptec_id": 200 + i if rng.random() > 0.03 else None,
            "nome": name,
            "uf": uf,
            "micro": 11_000 + i // 9,
            "imediata": 110_000 + i // 14,
        })
    return out


def city_payloads(cities: list[dict]) -> list[dict]:
    """IBGE ``municipios`` records (nested struct-in-struct, with the
    hyphenated ``regiao-imediata`` key)."""
    rows = []
    for c in cities:
        sigla, uf_nome, rid, rsig, rnome = c["uf"]
        rows.append({
            "id": c["ibge_id"],
            "nome": c["nome"],
            "microrregiao": {
                "id": c["micro"],
                "nome": f"Micro {c['micro']}",
                "mesorregiao": {
                    "id": c["micro"] // 4,
                    "nome": f"Meso {c['micro'] // 4}",
                    "UF": {
                        "id": 10 + UFS.index(c["uf"]),
                        "sigla": sigla,
                        "nome": uf_nome,
                        "regiao": {"id": rid, "sigla": rsig, "nome": rnome},
                    },
                },
            },
            "regiao-imediata": {"id": c["imediata"], "nome": f"Imediata {c['imediata']}"},
        })
    return rows


def forecast_payloads(
    seed: int, cities: list[dict], run_date: str, days: int = 6
) -> list[dict]:
    """CPTEC 6-day forecasts issued on ``run_date``, one record per city
    with a CPTEC id, plus ~1% CPTEC-only cities and ~3% exact duplicate
    records. ``atualizado_em`` rotates through the three reference date
    formats; ~15% of names and descriptions carry stray whitespace; ~4% of
    minimum temperatures are NULL."""
    rng = random.Random(f"{seed}:{run_date}")
    issued = dt.date.fromisoformat(run_date)
    targets = [(c["cptec_id"], c["nome"], c["uf"][0]) for c in cities if c["cptec_id"]]
    n_only = max(1, len(cities) // 100)
    targets += [(900_000 + k, f"Localidade {k}", "SP") for k in range(n_only)]
    rows = []
    for i, (cid, name, uf) in enumerate(targets):
        clima = []
        for d in range(days):
            code, desc = CONDITIONS[rng.randrange(len(CONDITIONS))]
            lo = rng.randrange(8, 22)
            clima.append({
                "data": (issued + dt.timedelta(days=d)).isoformat(),
                "condicao": code,
                "condicao_desc": f" {desc} " if rng.random() < 0.15 else desc,
                "min": lo if rng.random() > 0.04 else None,
                "max": lo + rng.randrange(3, 15),
                "indice_uv": rng.randrange(1, 13),
            })
        rows.append({
            "codigo": cid,
            "nome": f"  {name} " if rng.random() < 0.15 else name,
            "estado": uf,
            "atualizado_em": issued.strftime(DATE_FORMATS[i % 3]),
            "clima": clima,
        })
        if rng.random() < 0.03:
            rows.append(dict(rows[-1]))
    return rows


def run_dates(seed: int, n: int) -> list[str]:
    """``n`` consecutive run dates from a seeded start in 2024."""
    start = dt.date(2024, 1, 1) + dt.timedelta(days=random.Random(seed).randrange(300))
    return [(start + dt.timedelta(days=k)).isoformat() for k in range(n)]


# --- streaming slices ----------------------------------------------------------


def event_slices(
    seed: int, n_events: int, n_slices: int, max_jitter_s: int = 1800
) -> list[pa.Table]:
    """The events table cut into ``n_slices`` arrival slices in event-time
    order. Each event arrives up to ``max_jitter_s`` after its own time, so
    an event may land one slice late, but never behind the 1 h watermark:
    every event in slice k is newer than (newest event of slices < k) - 1 h."""
    rng = np.random.default_rng([seed, 3])
    events = events_table(rng, n_events)
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    arrival = ts + rng.integers(0, max_jitter_s * 1_000_000, len(ts))
    edges = np.linspace(ts[0], ts[-1] + max_jitter_s * 1_000_000 + 1, n_slices + 1)
    slice_of = np.searchsorted(edges, arrival, side="right") - 1
    return [events.filter(pa.array(slice_of == k)) for k in range(n_slices)]
