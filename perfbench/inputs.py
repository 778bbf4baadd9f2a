"""Benchmark inputs, each a pure function of (seed, n).

* Season zips: rows from ``sources.observations.observation_rows_2023/2024``
  written with ``sources.shapefile.write_shapefile_zip`` — the shape of the
  game exports the two season pipelines read.
* Stream drop files: one 2023 season generated once and split into parquet
  files, so ``documentId``s stay unique across files (the fixture generator
  numbers rows from ``OBS23-00000`` for every seed, and the push ledger would
  silently skip repeated ids).
* Query tables: a TPC-H-like star schema plus ``events`` and ``documents``
  with the column names, types and value domains the registry queries read.

Nothing here starts Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from crowdsorsa_etl_spark.functions.geo import _parse_wkb
from crowdsorsa_etl_spark.sources.observations import (
    observation_rows_2023,
    observation_rows_2024,
)
from crowdsorsa_etl_spark.sources.shapefile import write_shapefile_zip

#: .dbf layouts of the two season exports (field name, type, width, decimals)
SEASON_FIELDS = {
    2023: [
        ("id", "C", 16, 0),
        ("kuntakoodi", "C", 4, 0),
        ("havaittu", "C", 19, 0),
        ("laji", "C", 40, 0),
        ("torjunta", "C", 10, 0),
    ],
    2024: [
        ("tunniste", "C", 16, 0),
        ("kunta", "C", 40, 0),
        ("havaittu", "C", 10, 0),
        ("torjuttu", "C", 10, 0),
        ("laji", "C", 40, 0),
        ("tiheys", "N", 8, 2),
    ],
}

_OBS_2023_ARROW = pa.schema(
    [
        ("id", pa.string()),
        ("kuntakoodi", pa.string()),
        ("havaittu", pa.string()),
        ("laji", pa.string()),
        ("torjunta", pa.string()),
        ("geometry_wkb", pa.binary()),
        ("area_m2", pa.float64()),
    ]
)


def season_rows(season: int, n: int, seed: int) -> list[tuple]:
    if season == 2023:
        return observation_rows_2023(n, seed=seed)
    return observation_rows_2024(n, seed=seed + 1)


def write_season_zip(path: str, season: int, n: int, seed: int) -> list[str]:
    """Write one season export zip; return its observation ids in row order."""
    rows = season_rows(season, n, seed)
    n_fields = len(SEASON_FIELDS[season])
    # the attribute columns precede geometry_wkb and the derived area_m2
    geom_col = n_fields
    write_shapefile_zip(
        path,
        field_specs=SEASON_FIELDS[season],
        rows=[list(r[:n_fields]) for r in rows],
        geometries=[_parse_wkb(r[geom_col]) for r in rows],
    )
    return [r[0] for r in rows]


def write_drop_files(
    directory: str, n_files: int, per_file: int, seed: int
) -> list[tuple[str, list[str]]]:
    """Split one 2023 season into ``n_files`` parquet drop files.

    Returns ``(file name, observation ids)`` per file, in arrival order.
    """
    os.makedirs(directory, exist_ok=True)
    rows = season_rows(2023, n_files * per_file, seed)
    out = []
    for i in range(n_files):
        chunk = rows[i * per_file : (i + 1) * per_file]
        name = f"drop_{i:04d}.parquet"
        table = pa.Table.from_pylist(
            [dict(zip(_OBS_2023_ARROW.names, r)) for r in chunk],
            schema=_OBS_2023_ARROW,
        )
        pq.write_table(table, os.path.join(directory, name))
        out.append((name, [r[0] for r in chunk]))
    return out


# ---------------------------------------------------------------------------
# Query tables
# ---------------------------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]


def _money(rng: np.random.RandomState, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: str, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def query_tables(scale: int, seed: int) -> dict[str, pa.Table]:
    """The star schema at ``scale`` orders ×1000 (lineitem ≈ 4 × orders)."""
    rng = np.random.RandomState(seed)
    n_orders = 1000 * scale
    n_cust, n_part, n_supp = n_orders // 10, (n_orders * 2) // 15, max(10, n_orders // 150)
    n_events, n_docs = (n_orders * 2) // 3, max(100, n_orders // 30)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.randint(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.randint(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.randint(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
            "p_type": [_PART_TYPES[i] for i in rng.randint(0, 6, n_part)],
            "p_size": pa.array(rng.randint(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    order_days = rng.randint(0, 2400, n_orders)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.randint(0, n_cust, n_orders).astype(np.int64)),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _days("1995-01-01", order_days),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.randint(0, 5, n_orders)],
        }
    )
    lines_per_order = rng.randint(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    n_lines = len(l_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    quantity = rng.randint(1, 51, n_lines).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(rng.randint(0, n_part, n_lines).astype(np.int64)),
            "l_suppkey": pa.array(rng.randint(0, n_supp, n_lines).astype(np.int64)),
            "l_linenumber": pa.array(l_number.astype(np.int32)),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * _money(rng, 900.0, 2100.0, n_lines), 2),
            "l_discount": np.round(rng.randint(0, 11, n_lines) * 0.01, 2),
            "l_tax": np.round(rng.randint(0, 9, n_lines) * 0.01, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_lines)],
            "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, n_lines)],
            "l_shipdate": _days(
                "1995-01-01", order_days[l_order] + rng.randint(1, 122, n_lines)
            ),
        }
    )
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.randint(0, 30 * 86400 * 10**6, n_events)
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.randint(0, 150, n_events).astype(np.int64)),
            "event_type": [_EVENT_TYPES[i] for i in rng.randint(0, 5, n_events)],
            "value": _money(rng, 0.01, 490.0, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i % 10 == 9:
            # near-duplicate of an earlier document: one word replaced
            words = texts[rng.randint(0, i)].split()
            words[rng.randint(0, len(words))] = "dup"
        else:
            words = [_WORDS[w] for w in rng.randint(0, len(_WORDS), rng.randint(10, 100))]
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.randint(0, len(_LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    return t


def write_query_tables(directory: str, scale: int, seed: int) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in query_tables(scale, seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
