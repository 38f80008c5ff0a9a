"""Deterministic benchmark inputs, written driver-side with numpy + pyarrow
(no Spark jobs), so a run can repeat its set-up.

``generate_bronze`` writes the same rows as
``tools/scale_stress.generate_bronze_scaled`` (the distributed generator:
same formulas, one parquet file per ``year=/grand_prix=/session_type=``
partition): reconciliation-clean points, a position bijection per session,
~2% NULL lap durations, and driver 7 changing teams at ``gp >= n_gp // 2``.
``lakebench/selfcheck.py`` checks the two row for row.

``documents_table``, ``embeddings_table`` and ``generate_star`` stand in
for the shared sf0.1/sf0.01 test-data tables, which lie outside the
repository. Their shapes, value domains and duplicate rates were measured
on those tables; the figures are next to each generator and in
``lakebench/README.md``.

The content is fixed (seed 0); ``--seed`` only picks per-run choices (the
decontamination slice, the incremental Grand Prix, the query order).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TEAMS = [
    "Oracle Red Bull Racing", "Mercedes AMG Petronas", "Scuderia Ferrari",
    "McLaren", "Aston Martin", "Alpine", "Williams", "Visa Cash App RB",
    "Kick Sauber", "MoneyGram Haas F1 Team",
]
POINTS = (25, 18, 15, 12, 10, 8, 6, 4, 2, 1)
YEAR = 2025
SEGMENTS = pa.list_(pa.int32())
BRONZE_SCHEMAS = {
    "session_result": [
        ("session_key", pa.int64()), ("meeting_key", pa.int64()),
        ("meeting_name", pa.string()), ("date_start", pa.timestamp("us")),
        ("date_end", pa.timestamp("us")), ("driver_number", pa.int32()),
        ("position", pa.int32()), ("dnf", pa.bool_()), ("dns", pa.bool_()),
        ("dsq", pa.bool_()), ("gap_to_leader", pa.float64()), ("points", pa.int32()),
    ],
    "drivers": [
        ("session_key", pa.int64()), ("driver_number", pa.int32()),
        ("broadcast_name", pa.string()), ("full_name", pa.string()),
        ("team_name", pa.string()), ("country_code", pa.string()),
        ("team_colour", pa.string()), ("name_acronym", pa.string()),
    ],
    "laps": [
        ("session_key", pa.int64()), ("driver_number", pa.int32()),
        ("lap_number", pa.int32()), ("lap_duration", pa.float64()),
        ("duration_sector_1", pa.float64()), ("duration_sector_2", pa.float64()),
        ("duration_sector_3", pa.float64()), ("segments_sector_1", SEGMENTS),
        ("segments_sector_2", SEGMENTS), ("segments_sector_3", SEGMENTS),
    ],
    "pit": [
        ("session_key", pa.int64()), ("driver_number", pa.int32()),
        ("lap_number", pa.int32()), ("pit_duration", pa.float64()),
    ],
}


def _write_partition(root, endpoint, slug, session_type, cols: dict, extra=()) -> None:
    d = os.path.join(root, endpoint, f"year={YEAR}", f"grand_prix={slug}", f"session_type={session_type}")
    os.makedirs(d, exist_ok=True)
    schema = pa.schema([*BRONZE_SCHEMAS[endpoint], *extra])
    pq.write_table(pa.table(cols, schema=schema), os.path.join(d, "part-000.parquet"))


def generate_bronze(root: str, n_gp: int, n_drivers: int, n_laps: int) -> None:
    """Hive-partitioned bronze parquet for one season, ``n_gp`` Grand Prix
    × (qualifying, race) × ``n_drivers``, ``n_laps`` laps per race driver."""
    drv = np.arange(1, n_drivers + 1)
    lap = np.arange(1, n_laps + 1)
    base = np.datetime64(f"{YEAR}-03-01T14:00:00", "us")
    for gp in range(n_gp):
        slug = f"gp{gp:03d}"
        team_idx = np.where((drv == 7) & (gp >= n_gp // 2), (drv - 1) // 2 + 2, (drv - 1) // 2 + 1)
        for is_race in (0, 1):
            st = "race" if is_race else "qualifying"
            key = 9000 + gp * 2 + is_race
            start = base + np.timedelta64((gp * 2 + is_race) * 86400, "s")
            pos = (drv * 7 + gp + is_race * 3) % n_drivers + 1
            n = len(drv)
            common = {
                "session_key": np.full(n, key), "meeting_key": np.full(n, 1000 + gp),
                "meeting_name": [f"Gp{gp:03d} Grand Prix"] * n,
                "date_start": np.full(n, start),
                "date_end": np.full(n, start + np.timedelta64(2, "h")),
                "driver_number": drv.astype(np.int32), "position": pos.astype(np.int32),
                "dnf": np.zeros(n, bool), "dns": np.zeros(n, bool), "dsq": np.zeros(n, bool),
            }
            if is_race:
                sr = {
                    **common,
                    "gap_to_leader": [p * 9.5 if p > 1 else None for p in pos],
                    "points": np.array([POINTS[p - 1] if p <= 10 else 0 for p in pos], np.int32),
                    "duration": 5400.0 + pos * 9.5,
                }
                dur = pa.float64()
            else:
                q1 = np.round(78.0 + pos * 0.35, 3)
                sr = {
                    **common,
                    "gap_to_leader": [None] * n,
                    "points": np.zeros(n, np.int32),
                    "duration": [
                        [q] + ([q - 0.4] if p <= 15 else []) + ([q - 0.8] if p <= 10 else [])
                        for q, p in zip(q1, pos)
                    ],
                }
                dur = pa.list_(pa.float64())
            _write_partition(root, "session_result", slug, st, sr, [("duration", dur)])
            _write_partition(root, "drivers", slug, st, {
                "session_key": np.full(n, key), "driver_number": drv.astype(np.int32),
                "broadcast_name": [f"D DRIVER{d}" for d in drv],
                "full_name": [f"Driver Number{d}" for d in drv],
                "team_name": [TEAMS[(t - 1) % len(TEAMS)] for t in team_idx],
                "country_code": ["NED" if d % 2 else "GBR" for d in drv],
                "team_colour": [f"{d:06X}" for d in drv],
                "name_acronym": [f"D{d:02d}" for d in drv],
            })
            if not is_race:
                continue
            d_l, l_l = np.repeat(drv, n_laps), np.tile(lap, n_drivers)
            t = 80.0 + np.repeat(pos, n_laps) * 0.3 + ((l_l * 7 + d_l * 13) % 50) / 25.0
            m = len(d_l)
            _write_partition(root, "laps", slug, st, {
                "session_key": np.full(m, key), "driver_number": d_l.astype(np.int32),
                "lap_number": l_l.astype(np.int32),
                "lap_duration": pa.array(np.round(t, 3), mask=(l_l + d_l) % 53 == 0),
                "duration_sector_1": np.round(t * 0.3, 3),
                "duration_sector_2": np.round(t * 0.33, 3),
                "duration_sector_3": np.round(t * 0.37, 3),
                "segments_sector_1": [[2048, 2049]] * m,
                "segments_sector_2": [[2051]] * m,
                "segments_sector_3": [[2064, 2068]] * m,
            })
            d_p, stop = np.repeat(drv, 2), np.tile(np.arange(2), n_drivers)
            _write_partition(root, "pit", slug, st, {
                "session_key": np.full(len(d_p), key), "driver_number": d_p.astype(np.int32),
                "lap_number": (10 + stop * 12 + d_p % 5).astype(np.int32),
                "pit_duration": 21000.0 + (d_p * 997 + stop * 4001) % 14000,
            })




# The shared sf0.1 ``documents`` table (5,000 docs), measured: texts of 10–99
# words drawn uniformly from a flat 30-word vocabulary; 250 docs (5%) are an
# earlier doc with " dup" appended (one-word insert: the near duplicates);
# 8 docs (0.16%) are exact copies; no doc is a prefix or containment of
# another; lang en 41%, es/fr/zh 15% each, de 14%; source ``src{i % 20}``.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
NEAR_SHARE = 0.05
EXACT_SHARE = 0.0016
LANGS = ("en", "es", "fr", "zh", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def corpus_texts(n_docs: int, seed: int = 0) -> tuple[list[str], int]:
    """Doc texts with the measured duplication; returns (texts, number of
    planted near duplicates)."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    bases: list[int] = []
    n_near = 0
    for i in range(n_docs):
        u = rng.random()
        if bases and u < NEAR_SHARE:
            texts.append(texts[bases[int(rng.integers(0, len(bases)))]] + " dup")
            n_near += 1
        elif bases and u < NEAR_SHARE + EXACT_SHARE:
            texts.append(texts[bases[int(rng.integers(0, len(bases)))]])
        else:
            texts.append(" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100)))))
            bases.append(i)
    return texts, n_near


def documents_table(n_docs: int, seed: int = 0) -> tuple[pa.Table, int]:
    """The ``documents`` table (``doc_id, text, lang, source, n_chars``);
    returns (table, planted near duplicates)."""
    texts, n_near = corpus_texts(n_docs, seed)
    rng = np.random.default_rng(seed + 1)
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return table, n_near


# The shared ``embeddings`` table, measured: one 64-d float32 unit vector per
# doc id (``vec_id`` = ``doc_id``), isotropic (0.73% of pairs at cosine
# >= 0.3, the same within and across labels), 10 labels.
EMB_DIM = 64


def embeddings_table(n: int, seed: int = 0) -> pa.Table:
    rng = np.random.default_rng(seed + 2)
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


# The shared TPC-H-ish star schema (sf0.01 measured): uniform random keys and
# values, not TPC-H's correlated ones. Rows per unit of scale factor:
STAR_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS_MKT = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
PART_WORDS = (["small", "red", "blue", "green", "large", "steel", "brass", "black"],
              ["ring", "widget", "bolt", "gear", "valve", "spring", "panel", "hinge"])
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int):
    return np.datetime64(start, "us") + rng.integers(0, n_days, n) * np.timedelta64(86400, "s")


def generate_star(root: str, sf: float, seed: int = 0) -> dict[str, int]:
    """Write the ten tables the registry reads (``<root>/<table>.parquet``)
    at scale factor ``sf``; returns rows per table."""
    rng = np.random.default_rng(seed + 4)
    n = {t: max(1, int(r * sf)) for t, r in STAR_ROWS.items()}
    n_users = max(1, int(15_000 * sf))
    docs, _ = documents_table(n["documents"], seed)
    tables = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS_MKT, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_WORDS[0], n["part"]),
                                                  rng.choice(PART_WORDS[1], n["part"]))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n["orders"]),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["O", "F"], n["lineitem"]),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n["lineitem"]),
        }),
        "events": pa.table({
            "event_id": np.arange(n["events"], dtype=np.int64),
            # sorted arrival times over January 2024, microsecond resolution
            "ts": np.sort(np.datetime64("2024-01-01", "us")
                          + rng.integers(0, 30 * 86400 * 10**6, n["events"]).astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_users, n["events"]),
            "event_type": rng.choice(EVENT_TYPES, n["events"]),
            "value": _money(rng, 0.01, 490.0, n["events"]),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        }),
        "documents": docs,
        "embeddings": embeddings_table(n["embeddings"], seed),
    }
    os.makedirs(root, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
