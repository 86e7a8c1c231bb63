"""Seeded input generation for the benchmark workloads.

Everything here is numpy/pandas/pyarrow only: inputs are written as parquet
before the timed region and never cost a Spark job.  The shapes and value
domains follow the package's TPC-H-ish star schema, document corpus and
embedding table (``bigdata_rags_spark.schemas.TESTDATA``), and the football
source tables follow ``bigdata_rags_spark.schemas.FOOTBALL``.  The same seed
always yields byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "hot", "green", "cold", "big", "dark"]
NOUN = ["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "valve"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64

_DAY = np.timedelta64(1, "D")


def _dates(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi_d - lo_d) / _DAY) + 1, n)
    return (lo_d + days * _DAY).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def star_schema(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """region/nation/customer/supplier/part/orders/lineitem/events at ``sf``
    (sf0.01 = 60k lineitems), TPC-H cardinality ratios."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    t = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [
                    f"{ADJ[a]} {NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
                "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
                "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li),
            }
        ),
    }
    start = np.datetime64("2024-01-01T00:00:00", "us")
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": start
            + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n_ev).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return t


def documents(seed: int, n: int) -> pd.DataFrame:
    """``n`` docs of 10-99 words over a 30-word vocabulary; 5% are planted
    near-copies (another doc's text plus `` dup``)."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[words[pos : pos + ln]]))
        pos += ln
    copies = rng.choice(n, n // 20, replace=False)
    for i, src in zip(copies, rng.integers(0, n, len(copies))):
        if src != i:
            texts[i] = texts[src] + " dup"
    ids = np.arange(n, dtype="int64")
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def unit_vectors(rng, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")


def cluster_centers(seed: int, n_labels: int = 10) -> np.ndarray:
    return unit_vectors(np.random.default_rng([seed, 3]), n_labels)


def clustered_vectors(rng, centers: np.ndarray, labels: np.ndarray) -> np.ndarray:
    """Unit vectors scattered around their label's center, so each vector's
    nearest neighbours share its label."""
    v = centers[labels] + 0.09 * rng.standard_normal((len(labels), DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")


def embeddings(seed: int, n: int) -> pd.DataFrame:
    """``n`` 64-dim unit vectors in 10 labelled clusters."""
    rng = np.random.default_rng([seed, 5])
    centers = cluster_centers(seed)
    labels = rng.integers(0, len(centers), n)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": list(clustered_vectors(rng, centers, labels)),
            "label": labels.astype("int32"),
        }
    )


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    if "embedding" in df.columns:
        table = table.set_column(
            table.schema.get_field_index("embedding"),
            "embedding",
            pa.array(list(df["embedding"]), type=pa.list_(pa.float32())),
        )
    pq.write_table(table, path)


def write_tables(out_dir: str, tables: dict[str, pd.DataFrame]) -> str:
    """One ``{name}.parquet`` file per table, the layout registry queries read."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def football(seed: int, n_teams: int = 40, players_per_team: int = 10) -> dict[str, pd.DataFrame]:
    """The 18 football source tables at the reference grain.

    Edge cases kept from the package's fixtures: one team is missing from
    ``clean_sheet_team`` (inner-join drop), one has ``Big Chances = 0`` and
    one ``Red Cards = 0`` (NULLIF-guarded divisions)."""
    rng = np.random.default_rng([seed, 4])
    teams = [f"Team{i:03d}" for i in range(n_teams)]
    n = n_teams
    matches = np.full(n, 38, dtype="int32")

    def ints(lo, hi):
        return rng.integers(lo, hi, n).astype("int32")

    def per_match(lo, hi):
        return np.round(rng.uniform(lo, hi, n), 1)

    big_chances = ints(10, 60)
    big_chances[1] = 0
    goals_pm = per_match(0.8, 2.6)
    red = ints(0, 6)
    red[2] = 0
    n_players = n_teams * players_per_team
    t = {
        "big_chance_team": {"Big Chances": big_chances},
        "clean_sheet_team": {"Clean Sheets": ints(2, 20)},
        "effective_clearance_team": {
            "Clearances per Match": per_match(15, 28),
            "Total Clearances": ints(550, 1050),
        },
        "expected_goals_team": {"Expected Goals": per_match(25, 80)},
        "ontarget_scoring_att_team": {
            "Shots on Target per Match": per_match(2, 7),
            "Shot Conversion Rate (%)": per_match(6, 18),
        },
        "penalty_won_team": {
            "Penalties Won": ints(0, 12),
            "Conversion Rate (%)": per_match(50, 100),
        },
        "possession_won_att": {
            "Possession Won Final 3rd per Match": per_match(2, 8),
            "Total Possessions Won": ints(80, 300),
        },
        "team_goals_per_match": {
            "Goals per Match": goals_pm,
            "Total Goals Scored": np.round(goals_pm * 38).astype("int32"),
            "Matches": matches,
        },
        "touches_in_opp_box_team": {"Touches in Opposition Box": ints(400, 1300)},
        "expected_goals_conceded_team": {
            "Matches": matches,
            "Expected Goals Conceded": per_match(25, 75),
        },
        "goals_conceded_team_match": {
            "Goals Conceded per Match": per_match(0.6, 2.2),
            "Total Goals Conceded": ints(20, 85),
        },
        "interception_team": {
            "Interceptions per Match": per_match(7, 14),
            "Total Interceptions": ints(260, 540),
        },
        "penalty_conceded_team": {
            "Penalties Conceded": ints(1, 11),
            "Penalty Goals Conceded": ints(0, 9),
        },
        "saves_team": {"Saves per Match": per_match(2, 5), "Total Saves": ints(80, 190)},
        "won_tackle_team": {
            "Successful Tackles per Match": per_match(10, 20),
            "Tackle Success (%)": per_match(50, 75),
        },
        "fk_foul_lost_team": {"Matches": matches, "Fouls per Match": per_match(8, 14)},
        "total_yel_card_team": {"Yellow Cards": ints(30, 90), "Red Cards": red},
    }
    out = {}
    for name, cols in t.items():
        df = pd.DataFrame({"Team": teams, **cols})
        out[name] = df.iloc[1:].reset_index(drop=True) if name == "clean_sheet_team" else df
    out["player_expected_assists"] = pd.DataFrame(
        {
            "Player": [f"P{i:04d}" for i in range(n_players)],
            "Team": [teams[i % n_teams] for i in range(n_players)],
            "Actual Assists": rng.integers(0, 15, n_players).astype("int32"),
            "Expected Assists (xA)": np.round(rng.uniform(0, 12, n_players), 1),
        }
    )
    return out
