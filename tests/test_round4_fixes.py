"""Round-4 regression tests for the round-3 advisor findings.

The sf fixtures never contain documents shorter than 3 tokens or 1-char
vocabulary tokens, so the ``sequence(1, 0) == [1, 0]`` (descending, not
empty) Spark pitfall in trigram_novelty_by_source / dedup_detector_pr /
bpe_first_merge was invisible to the parity suite. This file re-runs those
queries against a DEGENERATE documents table (empty doc, 1-token doc,
2-token doc, frequent 1-char token) and still requires bit-exact DuckDB
parity, plus unit guards for the catalog fmt dispatch and the empty
Expectation report.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod
from tests.test_oracle_parity import TABLES, assert_bit_exact, duck_con

# heavy property sweep / e2e tier (see pytest.ini): excluded from the
# default driver-window run, executed by the full tier at close-out
pytestmark = pytest.mark.slow


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

DEGENERATE_DOCS = [
    # (doc_id, text, lang, source, n_chars)
    (1, "a", "en", "src0", 1),                      # 1 token, 1 char
    (2, "ab cd", "en", "src0", 5),                  # 2 tokens -> no trigram
    (3, "", "en", "src1", 0),                       # empty text
    (4, "a a a a a a a a", "en", "src1", 15),       # frequent 1-char token
    (5, "the quick brown fox jumps over the lazy dog again and again ok", "en", "src0", 63),
    (6, "the quick brown fox jumps over the lazy dog again and again ok", "en", "src1", 63),
    (7, "one two", "fr", "src2", 7),                # 2 tokens, distinct source
    (8, "   ", "en", "src2", 3),                    # whitespace-only text
]


def _sf_with_documents(d, rows) -> str:
    """sf0.001 in directory ``d`` with documents.parquet swapped for ``rows``."""
    import duckdb

    base = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    src = os.path.join(base, "sf0.001")
    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.join(src, f"{t}.parquet"), d / f"{t}.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO docs VALUES (?, ?, ?, ?, ?)", rows)
    con.execute(f"COPY docs TO '{d / 'documents.parquet'}' (FORMAT PARQUET)")
    return str(d)


@pytest.fixture(scope="module")
def degenerate_sf(tmp_path_factory) -> str:
    """sf0.001 with documents.parquet swapped for the degenerate table."""
    return _sf_with_documents(tmp_path_factory.mktemp("sf_degenerate"), DEGENERATE_DOCS)


@pytest.mark.parametrize(
    "name", ["trigram_novelty_by_source", "dedup_detector_pr", "bpe_first_merge"]
)
def test_sequence_guard_on_short_docs(name: str, spark, degenerate_sf: str):
    """sequence(1, 0) guard: <3-token docs must not throw INVALID_PARAMETER_
    VALUE.START, and 1-char tokens must emit zero BPE pairs — bit-exact with
    the DuckDB oracle whose generate_series(1, 0) is empty."""
    spark_pdf = QUERIES[name](spark, degenerate_sf).toPandas()
    duck_pdf = duck_con(degenerate_sf).execute(ORACLES[name]).fetchdf()
    assert_bit_exact(name, spark_pdf, duck_pdf)


def test_dedup_detector_null_text_docs(spark, tmp_path):
    """NULL text has a NULL 16-token prefix, which equals nothing (the
    oracle's ``a.p = b.p``): three NULL-text docs add no truth pair. Grouping
    the prefixes without dropping NULLs counted C(3, 2) = 3 phantom pairs."""
    sentence = "the quick brown fox jumps over the lazy dog again and again ok"
    docs = [
        (1, None, "en", "src0", 0),
        (2, None, "en", "src1", 0),
        (3, None, "fr", "src2", 0),
        (4, sentence, "en", "src0", 63),
        (5, sentence, "en", "src1", 63),
        (6, "one two three four five", "en", "src2", 23),
    ]
    sf = _sf_with_documents(tmp_path, docs)
    name = "dedup_detector_pr"
    spark_pdf = QUERIES[name](spark, sf).toPandas()
    duck_pdf = duck_con(sf).execute(ORACLES[name]).fetchdf()
    assert_bit_exact(name, spark_pdf, duck_pdf)
    assert spark_pdf["n_truth"].tolist() == [1]


def test_degenerate_docs_full_sweep(spark, degenerate_sf: str):
    """EVERY oracle-backed query that touches `documents` stays bit-exact
    on the degenerate corpus (empty / whitespace-only / 1-token / 2-token
    docs, frequent 1-char token). This sweep found the round-4 empty-text
    token-count divergence (DuckDB string_split('') is [''] with len 1 vs
    token_count's 0) in text_stats / pack_sequences_256 /
    tokenizer_fertility_by_lang — the class of data-dependent drift the
    sf fixtures can't see."""
    con = duck_con(degenerate_sf)
    targets = [n for n, sql in ORACLES.items() if "documents" in sql]
    assert len(targets) >= 60  # the sweep must keep covering the family
    failures = []
    for name in targets:
        try:
            spark_pdf = QUERIES[name](spark, degenerate_sf).toPandas()
            duck_pdf = con.execute(ORACLES[name]).fetchdf()
            assert_bit_exact(name, spark_pdf, duck_pdf)
        except Exception as e:  # collect all, report once
            failures.append(f"{name}: {e!r}"[:300])
    assert not failures, "\n".join(failures)


def test_bpe_no_single_char_pairs(spark, degenerate_sf: str):
    """A 1-char token ('a' x9 here) contributes NO pair rows (Sennrich BPE
    pairs need length >= 2) — previously it emitted two spurious pairs."""
    out = QUERIES["bpe_first_merge"](spark, degenerate_sf).toPandas()
    assert all(len(p) == 2 for p in out["pair"]), out["pair"].tolist()


def test_catalog_overwrite_partitions_respects_fmt(spark, tmp_path):
    """overwrite_partitions must write the catalog's own format (it
    hard-coded .parquet() before) and refresh the sidecar for json/csv so
    read() round-trips typed."""
    from unified_firmographic_data_pipeline_spark.sources.catalog import Catalog

    df = spark.createDataFrame(
        [(1, "x", "d1"), (2, "y", "d2")], "id long, v string, day string"
    )
    for fmt in ("orc", "json", "csv", "xml"):
        cat = Catalog(spark, str(tmp_path / fmt), fmt=fmt)
        cat.overwrite_partitions(df, "core", "t", ["day"])
        got = cat.read("core", "t")
        assert got.schema["id"].dataType.typeName() == "long"
        assert sorted(r.id for r in got.collect()) == [1, 2]
        # dynamic overwrite of one partition leaves the other intact
        upd = spark.createDataFrame([(3, "z", "d2")], "id long, v string, day string")
        cat.overwrite_partitions(upd, "core", "t", ["day"])
        assert sorted(r.id for r in cat.read("core", "t").collect()) == [1, 3]


def test_expectation_report_empty(spark):
    """report() on an Expectation with no registered checks returns an
    empty typed report instead of IndexError."""
    from unified_firmographic_data_pipeline_spark.quality.expect import expect

    df = spark.createDataFrame([(1,)], "id long")
    rep = expect(df).report("t")
    assert rep.columns == ["table", "test", "n_violations", "passed"]
    assert rep.count() == 0


def _degenerate_events_rows():
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ts(d, h=0, mi=0):
        return t0 + dt.timedelta(days=d, hours=h, minutes=mi)

    rows, eid = [], 0

    def add(t, uid, et, val, props='{"k": 1}'):
        nonlocal eid
        rows.append((eid, t, uid, et, val, props))
        eid += 1

    types = ["view", "purchase", "signup", "error", "click"]
    for u in (1, 2, 3):  # a small normal population
        for d in range(3):
            for i, et in enumerate(types):
                add(ts(d, h=u, mi=i * 7), u, et, 10.0 * (i + 1) + u, '{"k": %d}' % (u * 10 + i))
    add(ts(0, h=5), 9001, "purchase", 42.0)  # single-event user
    for _ in range(5):
        add(ts(1, h=6), 9002, "view", 7.0)  # 5 events, IDENTICAL ts + type
    for i in range(8):
        add(ts(2, h=7, mi=i), 9003, "error", 0.0)  # one active day, one type
    add(ts(0, h=8), 9004, "click", -5.5, "{}")  # negative value, empty props
    add(ts(0, h=9), 9004, "click", 0.0, '{"k": null}')
    return rows


@pytest.fixture(scope="module")
def degenerate_events_sf(tmp_path_factory) -> str:
    """sf0.001 with events.parquet swapped for degenerate shapes:
    single-event users (lag/lead NULL), identical-timestamp bursts
    (all-zero gaps), one-active-day one-type users, zero/negative
    values, empty/null props."""
    import duckdb

    base = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    src = os.path.join(base, "sf0.001")
    d = tmp_path_factory.mktemp("sf_degenerate_events")
    for t in TABLES:
        if t != "events":
            os.symlink(os.path.join(src, f"{t}.parquet"), d / f"{t}.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO ev VALUES (?, ?, ?, ?, ?, ?)", _degenerate_events_rows())
    con.execute(f"COPY ev TO '{d / 'events.parquet'}' (FORMAT PARQUET)")
    return str(d)


def test_degenerate_events_full_sweep(spark, degenerate_events_sf: str):
    """EVERY oracle-backed query that touches `events` stays bit-exact on
    the degenerate events table. This sweep found the round-4
    all-zero-gap crash in interevent_burstiness_buckets (sigma = mu = 0
    -> NaN -> ANSI int cast throws) that the sf fixtures' sub-second
    timestamps could not trigger."""
    con = duck_con(degenerate_events_sf)
    targets = [n for n, sql in ORACLES.items() if "events" in sql]
    assert len(targets) >= 80
    failures = []
    for name in targets:
        try:
            spark_pdf = QUERIES[name](spark, degenerate_events_sf).toPandas()
            duck_pdf = con.execute(ORACLES[name]).fetchdf()
            assert_bit_exact(name, spark_pdf, duck_pdf)
        except Exception as e:
            failures.append(f"{name}: {e!r}"[:300])
    assert not failures, "\n".join(failures)


def _degenerate_tpch_rows():
    import datetime as dt

    D = dt.datetime
    orders, li = [], []

    def o(ok, ck, st, tp, date, prio):
        orders.append((ok, ck, st, tp, date, prio))

    def l(ok, pk, sk, ln, qty, price, disc, tax, rf, ls, ship):
        li.append((ok, pk, sk, ln, qty, price, disc, tax, rf, ls, ship))

    for i in range(10):  # customer 1: 10 identical orders (zero variance)
        o(100 + i, 1, "F", 1000.0, D(1995, 3, 1), "3-MEDIUM")
        l(100 + i, 5, 1, 1, 1.0, 500.0, 0.0, 0.0, "A", "F", D(1995, 3, 5))
    o(200, 2, "O", 42.0, D(1996, 1, 10), "1-URGENT")  # single order+lineitem
    l(200, 7, 2, 1, 3.0, 42.0, 0.05, 0.02, "N", "O", D(1996, 1, 12))
    o(300, 3, "F", 700.0, D(1994, 6, 1), "5-LOW")  # 7 lineitems, ONE part
    for i in range(7):
        l(300, 11, 3, i + 1, 2.0, 100.0, 0.1, 0.04, "R", "F", D(1994, 6, 3))
    for i, ok in enumerate((400, 401, 402)):  # part 20: constant unit price
        o(ok, 4 + i, "P", 250.0, D(1993, 2, 1 + i), "2-HIGH")
        l(ok, 20, 4, 1, float(i + 1), 99.99, 0.0, 0.0, "A", "F", D(1993, 2, 10))
    o(500, 10, "O", 0.0, D(1997, 7, 7), "4-NOT SPECIFIED")  # zero totalprice
    l(500, 30, 5, 1, 1.0, 0.0, 0.0, 0.0, "N", "O", D(1997, 7, 7))  # zero price
    for i in range(12):  # background mass
        ok = 600 + i
        o(ok, 20 + i, "OFP"[i % 3], 100.0 + 37.5 * i, D(1995, 1 + (i % 6), 2 + i), f"{1 + i % 5}-X")
        for j in range(1 + i % 3):
            l(ok, 40 + (i * 3 + j) % 50, 1 + i % 10, j + 1, 1.0 + (i + j) % 5,
              50.0 + 13.3 * ((i + j) % 7), 0.01 * (i % 8), 0.01 * (j % 6),
              "ANR"[(i + j) % 3], "OF"[i % 2], D(1995, 1 + (i % 6), 5 + i))
    return orders, li


@pytest.fixture(scope="module")
def degenerate_tpch_sf(tmp_path_factory) -> str:
    """sf0.001 with orders+lineitem swapped for degenerate shapes:
    zero-variance customers, single-order customers, one-part baskets,
    constant-price parts, zero prices/totals — the variance-denominator
    and ln-domain failure class."""
    import duckdb

    base = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    src = os.path.join(base, "sf0.001")
    d = tmp_path_factory.mktemp("sf_degenerate_tpch")
    for t in TABLES:
        if t not in ("orders", "lineitem"):
            os.symlink(os.path.join(src, f"{t}.parquet"), d / f"{t}.parquet")
    orders, li = _degenerate_tpch_rows()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE o2 (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR,"
        " o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR)"
    )
    con.executemany("INSERT INTO o2 VALUES (?, ?, ?, ?, ?, ?)", orders)
    con.execute(f"COPY o2 TO '{d / 'orders.parquet'}' (FORMAT PARQUET)")
    con.execute(
        "CREATE TABLE l2 (l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,"
        " l_linenumber INTEGER, l_quantity DOUBLE, l_extendedprice DOUBLE,"
        " l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR,"
        " l_linestatus VARCHAR, l_shipdate TIMESTAMP)"
    )
    con.executemany("INSERT INTO l2 VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)", li)
    con.execute(f"COPY l2 TO '{d / 'lineitem.parquet'}' (FORMAT PARQUET)")
    return str(d)


def test_degenerate_tpch_full_sweep(spark, degenerate_tpch_sf: str):
    """EVERY oracle-backed query touching orders/lineitem stays bit-exact
    on the degenerate tables. This sweep found four round-4 defects: ANSI
    DIVIDE_BY_ZERO in q14 (zero window revenue), elasticity (zero price
    variance) and local_bridges (empty graph), and DuckDB ln(0) erroring
    where Spark yields NULL (theil, elasticity) — all now guarded with
    agreed NULL/exclusion semantics in BOTH engines."""
    con = duck_con(degenerate_tpch_sf)
    targets = [n for n, sql in ORACLES.items() if "lineitem" in sql or "orders" in sql]
    assert len(targets) >= 85
    failures = []
    for name in targets:
        try:
            spark_pdf = QUERIES[name](spark, degenerate_tpch_sf).toPandas()
            duck_pdf = con.execute(ORACLES[name]).fetchdf()
            assert_bit_exact(name, spark_pdf, duck_pdf)
        except Exception as e:
            failures.append(f"{name}: {e!r}"[:300])
    assert not failures, "\n".join(failures)


@pytest.fixture(scope="module")
def degenerate_emb_sf(tmp_path_factory) -> str:
    """sf0.001 with embeddings.parquet swapped for degenerate vectors:
    two zero vectors (NULL-cosine contract), an exact duplicate, a
    near-zero vector, five identical vectors (rank ties)."""
    import duckdb
    import random

    base = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    src = os.path.join(base, "sf0.001")
    d = tmp_path_factory.mktemp("sf_degenerate_emb")
    for t in TABLES:
        if t != "embeddings":
            os.symlink(os.path.join(src, f"{t}.parquet"), d / f"{t}.parquet")
    rnd = random.Random(7)
    rows = []
    for i in range(40):
        lab = i % 4
        rows.append((i, [round(lab + rnd.gauss(0, 0.1), 3) for _ in range(64)], lab))
    rows.append((100, [0.0] * 64, 1))
    rows.append((101, [0.0] * 64, 2))
    rows.append((102, rows[0][1][:], 0))
    rows.append((110, [1e-6] * 64, 3))
    for i in range(5):
        rows.append((120 + i, [2.5] * 64, 2))
    con = duckdb.connect()
    con.execute("CREATE TABLE e2 (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    con.executemany("INSERT INTO e2 VALUES (?, ?, ?)", rows)
    con.execute(f"COPY e2 TO '{d / 'embeddings.parquet'}' (FORMAT PARQUET)")
    return str(d)


def test_degenerate_embeddings_full_sweep(spark, degenerate_emb_sf: str):
    """Every oracle-backed embeddings query stays bit-exact on zero
    vectors (the NULL-on-zero-norm cosine contract, cross-engine),
    duplicates and rank ties."""
    con = duck_con(degenerate_emb_sf)
    targets = [n for n, sql in ORACLES.items() if "embeddings" in sql]
    assert len(targets) >= 7
    failures = []
    for name in targets:
        try:
            spark_pdf = QUERIES[name](spark, degenerate_emb_sf).toPandas()
            duck_pdf = con.execute(ORACLES[name]).fetchdf()
            assert_bit_exact(name, spark_pdf, duck_pdf)
        except Exception as e:
            failures.append(f"{name}: {e!r}"[:300])
    assert not failures, "\n".join(failures)


MALFORMED_PROPS_CASES = [
    '{"k": 1}', '{"k": 0}', "{}", '{"k": null}', "null", "", None,
    "{", "not json", "[1, 2, 3]", '{"k": "12"}', '{"k": 1e308}',
    '{"other": 5}', '{"k": {"nested": 1}}',
    # comma fragments: invalid STANDALONE but valid once bracket-wrapped
    # — the validity gate must run on the raw string like the oracle's
    # json_valid(props), else these explode rows the oracle excludes
    "1,2", '{"k":1},{"k":2}', '"a","b"',
]


@pytest.fixture(scope="module")
def malformed_props_sf(tmp_path_factory) -> str:
    """sf0.001 with events.parquet swapped for one row per props edge
    case: malformed JSON, empty string, SQL NULL, JSON null, arrays,
    string-typed numbers, overflow doubles, missing keys, nested
    objects."""
    import datetime as dt
    import duckdb

    base = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    src = os.path.join(base, "sf0.001")
    d = tmp_path_factory.mktemp("sf_malformed_props")
    for t in TABLES:
        if t != "events":
            os.symlink(os.path.join(src, f"{t}.parquet"), d / f"{t}.parquet")
    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 5, i % 24), 1 + i % 5,
         ["view", "purchase", "click"][i % 3], 10.0 + i, pr)
        for i, pr in enumerate(MALFORMED_PROPS_CASES)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO ev VALUES (?, ?, ?, ?, ?, ?)", rows)
    con.execute(f"COPY ev TO '{d / 'events.parquet'}' (FORMAT PARQUET)")
    return str(d)


def test_malformed_props_full_sweep(spark, malformed_props_sf: str):
    """Every props-touching oracle query stays bit-exact on dirty JSON.
    This sweep found the round-4 crashes in the whole JSON/VARIANT
    family: parse_json and ANSI casts RAISE on malformed/non-castable
    payloads (now the try_ tier, NULL), and DuckDB's json_extract ERRORS
    on malformed input (now json_valid-guarded in the oracles)."""
    con = duck_con(malformed_props_sf)
    targets = [n for n, sql in ORACLES.items() if "props" in sql]
    assert len(targets) >= 5
    failures = []
    for name in targets:
        try:
            spark_pdf = QUERIES[name](spark, malformed_props_sf).toPandas()
            duck_pdf = con.execute(ORACLES[name]).fetchdf()
            assert_bit_exact(name, spark_pdf, duck_pdf)
        except Exception as e:
            failures.append(f"{name}: {e!r}"[:300])
    assert not failures, "\n".join(failures)


@pytest.fixture(scope="module")
def degenerate_dims_sf(tmp_path_factory) -> str:
    """sf0.001 with customer/supplier/part swapped for degenerate dims:
    zero and negative account balances, duplicate names across customers
    AND suppliers (entity-resolution blocking), empty market segments,
    zero retail prices, shared part names. FK keys stay 1..150/1..10/
    1..200 so the fact tables still join."""
    import duckdb

    base = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    src = os.path.join(base, "sf0.001")
    d = tmp_path_factory.mktemp("sf_degenerate_dims")
    for t in TABLES:
        if t not in ("customer", "supplier", "part"):
            os.symlink(os.path.join(src, f"{t}.parquet"), d / f"{t}.parquet")
    cust = []
    for k in range(1, 151):
        seg = ["BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"][k % 5]
        name, bal, nk = f"Customer#{k:09d}", 1000.0 + k, k % 25
        if k <= 5:
            bal = 0.0
        elif k <= 10:
            bal = -999.99
        elif k <= 15:
            name = "Smith Jones"
        elif k <= 18:
            seg = ""
        cust.append((k, name, nk, bal, seg))
    supp = [
        (k, "Supplier#%09d" % k if k > 2 else "Smith Jones", k % 25,
         0.0 if k <= 2 else 500.0 + k)
        for k in range(1, 11)
    ]
    part = [
        (k, "widget gadget thing" if k <= 6 else f"part name {k}",
         f"Brand#{1 + k % 5}{1 + k % 3}", "PROMO" if k % 4 == 0 else "STANDARD",
         k % 50, 0.0 if k <= 3 else 900.0 + k)
        for k in range(1, 201)
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE c2 (c_custkey BIGINT, c_name VARCHAR, c_nationkey INTEGER, c_acctbal DOUBLE, c_mktsegment VARCHAR)")
    con.executemany("INSERT INTO c2 VALUES (?, ?, ?, ?, ?)", cust)
    con.execute(f"COPY c2 TO '{d / 'customer.parquet'}' (FORMAT PARQUET)")
    con.execute("CREATE TABLE s2 (s_suppkey BIGINT, s_name VARCHAR, s_nationkey INTEGER, s_acctbal DOUBLE)")
    con.executemany("INSERT INTO s2 VALUES (?, ?, ?, ?)", supp)
    con.execute(f"COPY s2 TO '{d / 'supplier.parquet'}' (FORMAT PARQUET)")
    con.execute("CREATE TABLE p2 (p_partkey BIGINT, p_name VARCHAR, p_brand VARCHAR, p_type VARCHAR, p_size INTEGER, p_retailprice DOUBLE)")
    con.executemany("INSERT INTO p2 VALUES (?, ?, ?, ?, ?, ?)", part)
    con.execute(f"COPY p2 TO '{d / 'part.parquet'}' (FORMAT PARQUET)")
    return str(d)


def test_degenerate_dims_full_sweep(spark, degenerate_dims_sf: str):
    """Every oracle-backed query touching customer/supplier/part stays
    bit-exact on degenerate dims (found nothing new in round 4 — the
    ER/fuzzy-match and balance paths hold; kept as regression
    insurance)."""
    con = duck_con(degenerate_dims_sf)
    targets = [
        n
        for n, sql in ORACLES.items()
        if "customer" in sql or "supplier" in sql
        or " part" in sql.replace("(", " ").replace("\n", " ")
    ]
    assert len(targets) >= 45
    failures = []
    for name in targets:
        try:
            spark_pdf = QUERIES[name](spark, degenerate_dims_sf).toPandas()
            duck_pdf = con.execute(ORACLES[name]).fetchdf()
            assert_bit_exact(name, spark_pdf, duck_pdf)
        except Exception as e:
            failures.append(f"{name}: {e!r}"[:300])
    assert not failures, "\n".join(failures)


def test_jpeg_dims_probe(spark):
    """JPEG SOF-marker dims probe: real header walk on a generated
    minimal JPEG (through the full decode_media_meta plumbing), and the
    malformed-stream contract returns NULL dims (falls to _fake_decode)."""
    from unified_firmographic_data_pipeline_spark.sources.multimodal import (
        decode_media_meta,
        is_jpeg,
        jpeg_dims,
        jpeg_encode_minimal,
    )

    b = jpeg_encode_minimal(640, 480)
    assert is_jpeg(b) and jpeg_dims(b) == (640, 480)
    # progressive (SOF2) and a preceding RST-style standalone marker
    b2 = b.replace(b"\xff\xc0", b"\xff\xc2")
    assert jpeg_dims(b2) == (640, 480)
    assert jpeg_dims(b"\xff\xd8\xff") == (None, None)
    assert jpeg_dims(b"\xff\xd8" + b"\x00" * 8) == (None, None)
    df = spark.createDataFrame(
        [(1, "image", bytearray(b), "image/jpeg")],
        "media_id long, kind string, payload binary, mime string",
    )
    row = decode_media_meta(df).first()
    assert (row["width"], row["height"]) == (640, 480)
    assert row["duration_ms"] is None


def test_delta_merge_real_runtime_parity(spark, tmp_path):
    """Runs the REAL Delta MERGE branch iff delta-spark is importable and
    asserts it produces the same table as the swap fallback. In this
    container delta-spark is absent and installs are prohibited, so this
    skips — the skip reason IS the documented env block; on any runtime
    with Delta on the classpath it becomes the non-mocked parity test the
    round-3 review asked for."""
    from unified_firmographic_data_pipeline_spark.operators import incremental as inc

    if not inc.delta_merge_available():
        pytest.skip(
            "delta-spark not installed and pip installs prohibited in this "
            "container; MERGE branch covered by dispatch + condition tests"
        )
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    upd = spark.createDataFrame([(2, "B2"), (3, "c")], ["k", "v"])
    d_path, s_path = str(tmp_path / "delta_t"), str(tmp_path / "swap_t")
    assert inc.materialize_merge(spark, base, ["k"], d_path) == "delta-create"
    assert inc.materialize_merge(spark, upd, ["k"], d_path) == "delta-merge"
    inc._merge_with_swap(spark, base, ["k"], s_path)
    inc._merge_with_swap(spark, upd, ["k"], s_path)
    got_d = {(r["k"], r["v"]) for r in spark.read.format("delta").load(d_path).collect()}
    got_s = {(r["k"], r["v"]) for r in spark.read.parquet(s_path).collect()}
    assert got_d == got_s == {(1, "a"), (2, "B2"), (3, "c")}


def test_jpeg_dims_never_crashes_on_garbage():
    """Property: jpeg_dims/is_jpeg must return (not raise) on ARBITRARY
    byte strings — malformed media lands in real corpora and a decode
    worker that throws kills the whole task."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from unified_firmographic_data_pipeline_spark.sources.multimodal import (
        is_jpeg,
        jpeg_dims,
    )

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def prop(b):
        is_jpeg(b)
        w, h = jpeg_dims(b"\xff\xd8" + b)
        assert (w is None) == (h is None)
        if w is not None:
            assert 0 <= w <= 0xFFFF and 0 <= h <= 0xFFFF

    prop()


def test_cramers_v_degenerate_dof(spark):
    """A variable collapsed to one category (dof=0) yields NULL cramers_v,
    not NaN/inf, in both engines."""
    import duckdb
    import math

    from unified_firmographic_data_pipeline_spark.plans.driver_queries import _cramers_v_pair

    df = spark.createDataFrame(
        [("only", "a"), ("only", "b"), ("only", "a")], "x string, y string"
    )
    row = _cramers_v_pair(df, "x", "y").first()
    assert row["dof"] == 0
    assert row["cramers_v"] is None or (
        isinstance(row["cramers_v"], float) and math.isnan(row["cramers_v"]) is False
    )
    assert row["cramers_v"] is None


def test_mp4_meta_probe(spark):
    """MP4 moov-header probe: mvhd duration + video tkhd 16.16 dims on a
    generated minimal ISO BMFF stream, through the full decode_media_meta
    plumbing; malformed streams return Nones (fall to _fake_decode)."""
    from unified_firmographic_data_pipeline_spark.sources.multimodal import (
        decode_media_meta,
        is_mp4,
        mp4_encode_minimal,
        mp4_meta,
    )

    b = mp4_encode_minimal(1280, 720, duration_ms=2500)
    assert is_mp4(b) and mp4_meta(b) == (1280, 720, 2500)
    assert mp4_meta(b"\x00\x00\x00\x08ftyp") == (None, None, None)
    assert not is_mp4(b"RIFF....AVI ")
    df = spark.createDataFrame(
        [(7, "video", bytearray(b), "video/mp4")],
        "media_id long, kind string, payload binary, mime string",
    )
    row = decode_media_meta(df).first()
    assert (row["width"], row["height"], row["duration_ms"]) == (1280, 720, 2500)


def test_avi_meta_probe():
    """RIFF/AVI avih probe: dims + total_frames x us_per_frame duration."""
    from unified_firmographic_data_pipeline_spark.sources.multimodal import (
        avi_encode_minimal,
        avi_meta,
        is_avi,
    )

    b = avi_encode_minimal(320, 240, n_frames=50, us_per_frame=40_000)
    assert is_avi(b) and avi_meta(b) == (320, 240, 2000)
    assert avi_meta(b"RIFF\x04\x00\x00\x00AVI ") == (None, None, None)


def test_container_probes_never_crash_on_garbage():
    """Property: mp4_meta/avi_meta must return (not raise) on arbitrary
    bytes — a probe that throws kills the whole decode task."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from unified_firmographic_data_pipeline_spark.sources.multimodal import (
        avi_meta,
        is_avi,
        is_mp4,
        mp4_meta,
    )

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def prop(b):
        is_mp4(b), is_avi(b)
        for w, h, d in (
            mp4_meta(b"\x00\x00\x00\x0cftypisom" + b),
            avi_meta(b"RIFF\xff\x00\x00\x00AVI " + b),
        ):
            assert w is None or w >= 0
            assert d is None or d >= 0

    prop()


def test_container_encode_probe_roundtrip_property():
    """Property: mp4/avi/jpeg/wav minimal encoders round-trip their
    parameters through the header probes for arbitrary valid inputs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from unified_firmographic_data_pipeline_spark.sources.multimodal import (
        avi_encode_minimal,
        avi_meta,
        jpeg_dims,
        jpeg_encode_minimal,
        mp4_encode_minimal,
        mp4_meta,
        wav_duration_ms,
        wav_encode_silence,
    )

    @settings(max_examples=100, deadline=None)
    @given(
        w=st.integers(1, 8192),
        h=st.integers(1, 8192),
        dur=st.integers(1, 10_000_000),
        frames=st.integers(1, 100_000),
    )
    def prop(w, h, dur, frames):
        assert mp4_meta(mp4_encode_minimal(w, h, dur)) == (w, h, dur)
        got = avi_meta(avi_encode_minimal(w, h, frames, us_per_frame=40_000))
        assert got == (w, h, frames * 40_000 // 1000)
        assert jpeg_dims(jpeg_encode_minimal(min(w, 65535), min(h, 65535))) == (
            min(w, 65535),
            min(h, 65535),
        )

    prop()
    assert wav_duration_ms(wav_encode_silence(1234)) == 1234
