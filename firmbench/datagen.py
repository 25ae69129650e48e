"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed yields
byte-identical files, a different seed yields different keys. The program
under test only ever sees the files written here.

- ``firmographic_batches`` builds the RAW landings of the firmographics DAG
  (Wikipedia S&P rows and Fortune items as JSON documents) with the
  FIXTURES.md edge cases, plus a second full re-landing in which a share of
  the companies moved HQ and changed rank.
- ``relational_tables`` builds the TPC-H-shaped tables and the ``events``
  stream that the relational query set reads.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

T0 = datetime(2025, 1, 1)
T1 = datetime(2025, 2, 1)

CITIES = [
    ("Bentonville", "AR"), ("Saint Paul", "MN"), ("Mountain View", "CA"),
    ("Austin", "TX"), ("Dallas", "TX"), ("Houston", "TX"), ("Seattle", "WA"),
    ("Denver", "CO"), ("Chicago", "IL"), ("Boston", "MA"), ("Atlanta", "GA"),
    ("Charlotte", "NC"), ("Columbus", "OH"), ("Detroit", "MI"), ("Miami", "FL"),
    ("Phoenix", "AZ"), ("Portland", "OR"), ("Nashville", "TN"), ("Omaha", "NE"),
    ("Pittsburgh", "PA"), ("Richmond", "VA"), ("Newark", "NJ"), ("Boise", "ID"),
    ("San Jose", "CA"), ("New York", "NY"), ("Minneapolis", "MN"),
]
SECTORS = [
    ("Industrials", "Industrial Conglomerates"), ("Information Technology", "Software"),
    ("Health Care", "Pharmaceuticals"), ("Financials", "Banks"),
    ("Consumer Staples", "Retail"), ("Energy", "Oil & Gas"),
    ("Communication Services", "Interactive Media"), ("Utilities", "Electric Utilities"),
]
INDUSTRIES = [
    ("General Merchandisers", "Retailing"), ("Pharmaceuticals", "Health Care"),
    ("Commercial Banks", "Financials"), ("Petroleum Refining", "Energy"),
    ("Computer Software", "Technology"), ("Airlines", "Transportation"),
]
FLAGS = [
    "Best Companies", "Change the World", "Dropped in Rank", "Future 50",
    "Global 500", "Profitable", "Newcomer to the Fortune 500", "Female CEO",
    "Founder is CEO", "Fastest Growing Companies", "World's Most Admired Companies",
]
WORDS = ["Holdings", "Industries", "Systems", "Group", "Labs", "Partners", "Works"]


def _money(v: int) -> str:
    return f"${v:,}" if v >= 0 else f"$-{-v:,}"


@dataclass
class Firmographics:
    """RAW landings for one DAG cycle and the counts the DAG must produce."""

    wiki_docs: list[list[dict]]  # refresh batch, one JSON array per document
    fortune_docs: list[dict]  # refresh batch, one {"items": [...]} per document
    wiki_docs_t1: list[list[dict]]  # full re-landing
    fortune_docs_t1: list[dict]
    #: company_name -> (city, state) of every company whose HQ moved at T1
    moved: dict[str, tuple[str, str]] = field(default_factory=dict)
    n_wiki_ciks: int = 0
    n_fortune: int = 0
    n_core: int = 0

    def expected_rows(self, phase: str) -> dict[str, int]:
        """Row count of every table after ``phase`` ('refresh' or
        'incremental'). The incremental run re-lands every company with a
        newer timestamp, so each SCD2 snapshot gains one version per core
        company (timestamp strategy is content-blind) and closes the old one."""
        raw = len(self.wiki_docs) * (1 if phase == "refresh" else 2)
        versions = 1 if phase == "refresh" else 2
        return {
            "raw.wiki_sp500": raw,
            "raw.fortune_500": raw,
            "staging.stg_wiki_sp500": self.n_wiki_ciks,
            "staging.stg_fortune500": self.n_fortune,
            "core.cr_company_complete": self.n_core,
            "snapshots.company_location_snapshot": self.n_core * versions,
            "snapshots.fortune_metrics_snapshot": self.n_core * versions,
            "analytics.dim_company": self.n_core,
            "analytics.dim_location": self.n_core,
            "analytics.dim_fortune_metrics": self.n_core,
            "analytics.fact_company_performance": self.n_core,
        }


def _chunks(rows: list, n: int) -> list[list]:
    return [rows[i::n] for i in range(n)]


def firmographic_batches(
    seed: int, n_companies: int, n_docs: int, moved_share: float = 0.05
) -> Firmographics:
    """Generate ``n_companies`` companies per source, split over ``n_docs``
    JSON documents per source per batch.

    Edge cases (FIXTURES.md §1-§3): parenthetical security names, empty
    ``Date added``, ``none`` HQ, trailing text after the founding year,
    duplicate CIKs (a later-added share class the staging dedup drops),
    negative and empty money/employee/percent strings, missing flag keys,
    and Fortune-only companies the core inner join drops."""
    rng = random.Random(seed)
    base = rng.randrange(1, 10**5) * 100
    keys = [base + i for i in range(n_companies)]
    rng.shuffle(keys)

    wiki_rows: list[dict] = []
    fortune_items: list[dict] = []
    hq: dict[str, tuple[str, str]] = {}
    joined: list[str] = []
    for pos, k in enumerate(keys):
        name = f"Firm {k:07d} {WORDS[k % len(WORDS)]}"
        sector, sub = SECTORS[rng.randrange(len(SECTORS))]
        city, state = CITIES[rng.randrange(len(CITIES))]
        added = T0 - timedelta(days=rng.randrange(365 * 60))
        row = {
            "Symbol": f"S{k:07d}",
            "Security": name + (" (Class A)" if rng.random() < 0.3 else ""),
            "GICS Sector": sector,
            "GICS Sub-Industry": sub,
            "Headquarters Location": "none" if rng.random() < 0.02 else f"{city}, {state}",
            "Date added": "" if rng.random() < 0.05 else added.strftime("%Y-%m-%d"),
            "CIK": 10**6 + k,
            "Founded": str(1800 + rng.randrange(220))
            + (" (as a partnership)" if rng.random() < 0.3 else ""),
        }
        wiki_rows.append(row)
        if row["Date added"] and rng.random() < 0.01:
            # second share class under the same CIK, added later: dropped
            wiki_rows.append(
                dict(row, Symbol=row["Symbol"] + "C", Security=name + " (Class C)",
                     **{"Date added": (added + timedelta(days=30)).strftime("%Y-%m-%d")})
            )
        if rng.random() < 0.9:
            joined.append(name)
            hq[name] = (city, state)
            fortune_items.append(_fortune_item(rng, name, k, pos + 1, city, state))
    n_fortune_only = max(1, n_companies // 20)
    for j in range(n_fortune_only):
        k = base + n_companies + j
        city, state = CITIES[rng.randrange(len(CITIES))]
        fortune_items.append(
            _fortune_item(rng, f"Fortune Only {k:07d}", k, n_companies + j + 1, city, state)
        )

    moved = {}
    items_t1 = []
    for it in fortune_items:
        if it["name"] in hq and rng.random() < moved_share:
            old = hq[it["name"]]
            city, state = CITIES[(CITIES.index(old) + 1 + rng.randrange(len(CITIES) - 1)) % len(CITIES)]
            moved[it["name"]] = (city, state)
            data = dict(it["data"], **{"Headquarters City": city, "State": state})
            rank = max(1, it["rank"] + rng.randrange(-50, 51))
            it = dict(it, rank=rank, order=rank, data=data)
        items_t1.append(it)

    def wiki_docs(rows):
        rows = rows[:]
        rng.shuffle(rows)
        return _chunks(rows, n_docs)

    def fortune_docs(items):
        items = items[:]
        rng.shuffle(items)
        return [{"items": c} for c in _chunks(items, n_docs)]

    return Firmographics(
        wiki_docs=wiki_docs(wiki_rows),
        fortune_docs=fortune_docs(fortune_items),
        wiki_docs_t1=wiki_docs(wiki_rows),
        fortune_docs_t1=fortune_docs(items_t1),
        moved=moved,
        n_wiki_ciks=n_companies,
        n_fortune=len(fortune_items),
        n_core=len(joined),
    )


def _fortune_item(rng: random.Random, name: str, k: int, rank: int, city: str, state: str) -> dict:
    revenues = rng.randrange(1_000, 600_000)
    # negative profits must stay >= -1e9 and never exceed revenues
    profits = -rng.randrange(1, 5_000) if rng.random() < 0.05 else rng.randrange(0, revenues)
    data = {
        "Assets ($M)": _money(rng.randrange(1_000, 900_000)),
        "Revenues ($M)": _money(revenues),
        "Profits ($M)": _money(profits),
        "Market Value ($M)": "" if rng.random() < 0.03 else _money(rng.randrange(0, 900_000)),
        "Employees": "" if rng.random() < 0.03 else f"{rng.randrange(10, 2_000_000):,}",
        "Revenue Percent Change": "" if rng.random() < 0.05 else f"{rng.randrange(-300, 300) / 10}%",
        "Profits Percent Change": f"{rng.randrange(-900, 900) / 10}%",
        "Headquarters City": city,
        "State": state,
    }
    data["Industry"], data["Sector"] = INDUSTRIES[rng.randrange(len(INDUSTRIES))]
    for flag in FLAGS:
        r = rng.random()
        if r < 0.8:  # the rest leave the key out: missing flags read as false
            data[flag] = "yes" if r < 0.3 else "no"
    data["Change in Rank (500 only)"] = "" if rng.random() < 0.3 else str(rng.randrange(-500, 501))
    data["Change in Rank (Full 1000)"] = "" if rng.random() < 0.3 else str(rng.randrange(-1000, 1001))
    return {"name": name, "order": rank, "rank": rank, "slug": f"firm-{k}", "data": data}


def write_json_docs(directory: str, prefix: str, docs: list) -> None:
    """One JSON document per file, as the reference lands them."""
    os.makedirs(directory, exist_ok=True)
    for i, doc in enumerate(docs):
        with open(os.path.join(directory, f"{prefix}_{i:03d}.json"), "w", encoding="utf-8") as fh:
            json.dump(doc, fh, separators=(",", ":"))


# --------------------------------------------------------------------------
# Relational tables (TPC-H shape + events stream)
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def relational_tables(seed: int, sf: float) -> dict:
    """The seven TPC-H-shaped tables plus ``events`` at scale ``sf``
    (row counts as in the repository's sf0.1 test data, TESTDATA.md, times
    ``sf/0.1``), as pyarrow tables with that data's column types.

    The seed moves every key range by a seed-derived offset, draws every
    value, and shuffles row order; row counts depend on ``sf`` only, so the
    work per query is the same across seeds."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    off = {k: int(rng.integers(1, 10**6)) * 10**7 for k in ("c", "s", "p", "o", "e", "u")}

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist(), pa.string())

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        d = np.datetime64(start, "us") + rng.integers(0, span, n).astype("timedelta64[D]")
        return pa.array(d.astype("datetime64[us]"))

    def shuffled(cols: dict) -> pa.Table:
        t = pa.table(cols)
        return t.take(pa.array(rng.permutation(t.num_rows)))

    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731

    cust_keys = off["c"] + np.arange(n_cust)
    supp_keys = off["s"] + np.arange(n_supp)
    part_keys = off["p"] + np.arange(n_part)
    ord_keys = off["o"] + np.arange(n_ord)
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": shuffled({
            "c_custkey": i64(cust_keys),
            "c_name": pa.array([f"Customer#{k:012d}" for k in cust_keys.tolist()]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        }),
        "supplier": shuffled({
            "s_suppkey": i64(supp_keys),
            "s_name": pa.array([f"Supplier#{k:012d}" for k in supp_keys.tolist()]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": shuffled({
            "p_partkey": i64(part_keys),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, n_part).tolist(), rng.choice(PART_NOUN, n_part).tolist())]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()]),
            "p_type": pick(PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": shuffled({
            "o_orderkey": i64(ord_keys),
            "o_custkey": i64(rng.choice(cust_keys, n_ord)),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": days("1995-01-01", 2400, n_ord),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        }),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = shuffled({
        "l_orderkey": i64(rng.choice(ord_keys, n_line)),
        "l_partkey": i64(rng.choice(part_keys, n_line)),
        "l_suppkey": i64(rng.choice(supp_keys, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": days("1995-01-02", 2500, n_line),
    })
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev)).astype(
        "timedelta64[us]"
    )
    tables["events"] = shuffled({
        "event_id": i64(off["e"] + np.arange(n_ev)),
        "ts": pa.array(ts),
        "user_id": i64(off["u"] + rng.integers(0, n_users, n_ev)),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()]),
    })
    return tables


def write_parquet_tables(directory: str, tables: dict) -> None:
    """One single-row-group parquet file per table, as in the sf0.1 test data."""
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
