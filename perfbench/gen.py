"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files, another seed writes different ones.  Two input
families are produced:

* the minute-cadence ``PowerSystemRightNow`` feed (raw API records,
  one day = 1,440 minutes minus a few gaps) for ``medallion_refresh``;
* a star schema plus ``documents`` / ``embeddings`` / ``events``
  tables with the column names, types and measured marginals of the
  engine's sf0.1 test corpus (listed with the constants below),
  scaled by ``CorpusSize``, for the query mix and the streaming
  index.

Only numpy / pyarrow are used, so generation costs no Spark job.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

API_FIELDS = [
    "CO2Emission", "ProductionGe100MW", "ProductionLt100MW",
    "SolarPower", "OffshoreWindPower", "OnshoreWindPower",
    "ExchangeSum", "ExchangeDK1_DE", "ExchangeDK2_DE", "ExchangeDK1_NL",
    "ExchangeDK1_GB", "ExchangeDK1_NO", "ExchangeDK1_SE",
    "ExchangeDK2_SE", "ExchangeDK1_DK2",
]
#: (mean, sd, clip at zero) per measure, FIXTURES.md section 1;
#: SolarPower is a diurnal curve instead.
_MOMENTS = {
    "CO2Emission": (80, 20, True), "ProductionGe100MW": (1500, 300, True),
    "ProductionLt100MW": (400, 100, True),
    "OffshoreWindPower": (900, 400, True),
    "OnshoreWindPower": (700, 300, True), "ExchangeSum": (0, 500, False),
    "ExchangeDK1_DE": (0, 200, False), "ExchangeDK2_DE": (0, 200, False),
    "ExchangeDK1_NL": (0, 150, False), "ExchangeDK1_GB": (0, 150, False),
    "ExchangeDK1_NO": (0, 300, False), "ExchangeDK1_SE": (0, 200, False),
    "ExchangeDK2_SE": (0, 200, False), "ExchangeDK1_DK2": (0, 250, False),
}
FEED_START = datetime(2025, 11, 27)  # crosses a weekend and Nov -> Dec


def power_feed(seed: int, days: int) -> list[list[dict]]:
    """``days`` lists of raw API records, one list per day.  About 1%
    of minutes are missing (rows-frame vs time-gap windows) and about
    1% have zero total production (the renewable-ratio guard)."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for d in range(days):
        day0 = FEED_START + timedelta(days=d)
        keep = rng.random(1440) >= 0.01
        # no gap in a day's last minutes: the gold warm-up lookback is 4
        # minutes of time (the reference's rule) while its window is 5
        # rows, so a gap there would make the next increment's first
        # rows average fewer rows than a full rebuild does
        keep[-10:] = True
        draws = {f: rng.normal(m, s, 1440)
                 for f, (m, s, _) in _MOMENTS.items()}
        zero_prod = rng.random(1440) < 0.01
        recs = []
        for i in np.flatnonzero(keep):
            ts = day0 + timedelta(minutes=int(i))
            hour = ts.hour + ts.minute / 60
            solar = (600 * math.sin(math.pi * (hour / 24 - 0.25) / 0.5)
                     if 6 <= ts.hour < 18 else 0.0)
            rec = {"Minutes1UTC": ts.strftime("%Y-%m-%dT%H:%M:%S")}
            for f, (_, _, clip) in _MOMENTS.items():
                v = float(draws[f][i])
                rec[f] = round(max(0.0, v) if clip else v, 2)
            rec["SolarPower"] = round(max(0.0, solar), 2)
            if zero_prod[i]:
                rec["ProductionGe100MW"] = 0.0
                rec["ProductionLt100MW"] = 0.0
            recs.append({k: rec[k] for k in ["Minutes1UTC"] + API_FIELDS})
        out.append(recs)
    return out


@dataclass(frozen=True)
class CorpusSize:
    """Row counts of the generated corpus.  Dimension tables keep
    their sf0.1 sizes; the facts and text tables are samples (sf0.1
    holds 150,000 orders, 5,000 documents, 2,000 embeddings and
    100,000 events)."""

    orders: int = 30_000
    documents: int = 1_500
    embeddings: int = 1_000
    events: int = 20_000
    customers: int = 15_000
    suppliers: int = 1_000
    parts: int = 20_000


# Marginals of the engine's sf0.1 test corpus (the driver's seeded
# parquet, TESTDATA.md), measured with pyarrow/numpy over each whole
# table.  Every column below is drawn independently, as it is there.
#
# documents.parquet, 5,000 rows:
# * text: 10 to 100 words (uniform; measured mean 54.1), each word
#   uniform over the 30-word VOCAB (per-word counts 8,829 to 9,182);
# * 250 documents (5%) are another document's text plus " dup"; the
#   other document is any in the corpus, so 8 exact-duplicate pairs
#   appear where two near-duplicates copy one document, and 5 texts
#   carry "dup" twice;
# * source is ``src{doc_id % 20}``; lang is drawn with LANG_P.
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
WORDS_MIN, WORDS_MAX = 10, 100
NEAR_DUP_SHARE = 0.05
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
N_SOURCES = 20
# embeddings.parquet, 2,000 rows of 64 float32: every row has unit
# norm and each of the 10 labels holds 182 to 218 rows.  The
# per-label means have a per-element sd of 0.0089, which is the
# sampling noise of a 200-row mean of unit vectors (0.125 / sqrt(200)),
# so the labels carry no direction: rows are isotropic unit vectors.
EMBED_DIM, EMBED_LABELS = 64, 10
# events.parquet, 100,000 rows: ts uniform over 2024-01-01 + 30 days,
# stored sorted; user_id uniform over 1,500 users; 5 event types,
# 19,810 to 20,302 rows each; value exponential with mean 50 rounded
# to cents (measured mean 49.87, median 34.77 = 50 ln 2 within 0.4%).
EVENT_USERS, EVENT_VALUE_MEAN = 1_500, 50.0
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
# The star: lineitem has 4 rows per order (600,000 over 150,000), with
# l_orderkey, l_linenumber (1-7), l_shipdate and l_extendedprice
# (uniform 900 to 105,000) independent of each other and of the order;
# o_orderdate is uniform from 1995-01-01 to 2001-08-01 and l_shipdate
# from 1995-01-02 to 2001-11-04; p_name is one of 8 x 8 words.
LINES_PER_ORDER = 4
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
_EPOCH_DAY = np.datetime64("1970-01-01", "D")


def _day(s: str) -> int:
    return int((np.datetime64(s, "D") - _EPOCH_DAY).astype(int))


def _ts_days(days: np.ndarray) -> pa.Array:
    us = days.astype("int64") * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def star_tables(rng: np.random.Generator, n: CorpusSize) -> dict:
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n.customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, n.customers), pa.int32()),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, n.customers)),
        "c_mktsegment": np.array(segs)[rng.integers(0, 5, n.customers)]})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n.suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, n.suppliers), pa.int32()),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, n.suppliers))})
    adj, noun = np.array(PART_ADJ), np.array(PART_NOUN)
    types = ["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n.parts), pa.int64()),
        "p_name": np.char.add(np.char.add(
            adj[rng.integers(0, 8, n.parts)], " "),
            noun[rng.integers(0, 8, n.parts)]),
        "p_brand": np.char.add("Brand#", rng.integers(
            1, 26, n.parts).astype(str)),
        "p_type": np.array(types)[rng.integers(0, 6, n.parts)],
        "p_size": pa.array(rng.integers(1, 51, n.parts), pa.int32()),
        "p_retailprice": _round2(900 + (np.arange(n.parts) % 1000) * 0.1)})
    no = n.orders
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n.customers, no), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _round2(rng.uniform(1000, 500_000, no)),
        "o_orderdate": _ts_days(rng.integers(
            _day("1995-01-01"), _day("2001-08-01") + 1, no)),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
             "5-LOW"])[rng.integers(0, 5, no)]})
    nl = LINES_PER_ORDER * no
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n.parts, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n.suppliers, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": _round2(rng.uniform(900, 105_000, nl)),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_days(rng.integers(
            _day("1995-01-02"), _day("2001-11-04") + 1, nl))})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Bag-of-words documents with sf0.1's near-duplicate rate: a
    ``NEAR_DUP_SHARE`` of them become another document plus ``dup``,
    the shape the LSH family detects."""
    k = rng.integers(WORDS_MIN, WORDS_MAX + 1, n_docs)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(k.sum()))]
    offs = np.concatenate([[0], np.cumsum(k)])
    texts = [" ".join(words[offs[i]:offs[i + 1]]) for i in range(n_docs)]
    dups = rng.choice(n_docs, round(NEAR_DUP_SHARE * n_docs), replace=False)
    for i in np.sort(dups):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings_table(rng: np.random.Generator, n_vec: int) -> pa.Table:
    """Isotropic unit vectors with uniform, independent labels."""
    x = rng.standard_normal((n_vec, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n_vec * EMBED_DIM + 1, EMBED_DIM), pa.int32()),
        pa.array(x.ravel(), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, EMBED_LABELS, n_vec), pa.int32())})


def events_table(rng: np.random.Generator, n_events: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * 86_400_000_000
    ts = np.sort(t0 + rng.integers(0, span, n_events))
    return pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n_events),
                            pa.int64()),
        "event_type": np.array(EVENT_TYPES)[
            rng.integers(0, len(EVENT_TYPES), n_events)],
        "value": _round2(rng.exponential(EVENT_VALUE_MEAN, n_events)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})


def write_corpus(out_dir: str, seed: int, size: CorpusSize = CorpusSize(),
                 tables: list[str] | None = None) -> dict[str, int]:
    """Write the corpus tables (all, or those named in ``tables``) as
    ``<out_dir>/<name>.parquet``; returns the row count per table.
    Each table family draws from its own seeded stream, so a subset
    holds the same rows as the full corpus."""
    want = set(tables) if tables is not None else None
    found: dict[str, pa.Table] = {}
    if want is None or want & {"region", "nation", "customer", "supplier",
                               "part", "orders", "lineitem"}:
        found.update(star_tables(np.random.default_rng([seed, 2]), size))
    makers = {"documents": (documents_table, 3, size.documents),
              "embeddings": (embeddings_table, 4, size.embeddings),
              "events": (events_table, 5, size.events)}
    for name, (make, stream, n) in makers.items():
        if want is None or name in want:
            found[name] = make(np.random.default_rng([seed, stream]), n)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in found.items():
        if want is None or name in want:
            pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
            rows[name] = tbl.num_rows
    return rows


def write_feed(path: str, days: list[list[dict]]) -> int:
    """The feed as one JSON list (what a ``FixtureSource`` holds)."""
    recs = [r for day in days for r in day]
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(recs, fh)
    return len(recs)
