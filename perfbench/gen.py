"""Seeded input generator for the benchmark.

Everything the system under test reads is made here, from the seed
alone, into a directory the caller owns; the engine only ever sees the
files. Sizes are fixed per preset, so two seeds differ in content but
not in the amount of work: that is what lets run-to-run spread stay
small while the inputs still change with the seed.

The star-schema tables copy the column names, types and value ranges
of the engine's reference test data (FIXTURES.md §B); the filings
corpus, deals CSV and company master copy the reference pipeline's
input shapes (FIXTURES.md §A).
"""

from __future__ import annotations

import csv
import dataclasses
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The 30-word vocabulary of the reference `documents` table; near
#: duplicates carry a trailing "dup" token as they do there.
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]

#: Filing prose. The signal words are over-represented in filings
#: written in the year before the company's deal, so the classifier
#: has something to learn and AUC is a meaningful gate.
FILING_VOCAB = (
    "revenue growth risk market segment liquidity earnings guidance product "
    "pipeline restructuring capital dividend outlook competition regulation "
    "litigation technology customers supply margin operating cash debt "
    "inventory expansion research patent lease pension tax currency"
).split()
ACQUIRER_SIGNAL = "acquisition financing synergy integration bid".split()
TARGET_SIGNAL = "strategic alternatives advisor review sale".split()
#: Chance that a filing carries its side's signal words, for filings
#: labelled positive and negative.
SIGNAL_P_POS, SIGNAL_P_NEG = 0.9, 0.1
FILING_STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is"]
SIC_CODES = [2834, 2836, 3711, 3714, 6021, 6022, 7372, 7375]


@dataclasses.dataclass(frozen=True)
class Sizes:
    """Input sizes of one preset. ``corpus`` documents and vectors are
    indexed at set-up; ``ingest_batches`` micro-batches of
    ``ingest_batch`` unseen ones are there to ingest. ``star_sf``
    scales the star-schema tables as the reference data generator does
    (sf 0.1 = 600k lineitem rows)."""

    companies: int
    filings_per_company: int
    filing_words: int
    corpus: int
    ingest_batch: int
    ingest_batches: int
    ann_batch: int
    bm25_batch: int
    star_sf: float


PRESETS = {
    "full": Sizes(
        companies=36, filings_per_company=6, filing_words=120,
        corpus=1000, ingest_batch=100, ingest_batches=16,
        ann_batch=16, bm25_batch=16, star_sf=0.005,
    ),
    "tiny": Sizes(
        companies=24, filings_per_company=4, filing_words=60,
        corpus=400, ingest_batch=40, ingest_batches=16,
        ann_batch=4, bm25_batch=4, star_sf=0.001,
    ),
}


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


# -- documents / embeddings / queries --------------------------------


def documents(seed: int, n: int) -> pa.Table:
    """(doc_id, text, lang, source, n_chars): 10–100 vocabulary words
    per doc; one doc in 20 is an earlier doc plus " dup"."""
    g = _rng(seed, 1)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and g.random() < 0.05:
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            words = g.choice(DOC_VOCAB, size=int(g.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in g.integers(0, len(LANGS), n)],
        "source": [f"src{j}" for j in g.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int, n: int, start_id: int = 0, dim: int = 64) -> pa.Table:
    """(vec_id, embedding, label): unit float32 vectors drawn around
    ten label centres, so IVF cells are unevenly filled as real
    embeddings are."""
    g = _rng(seed, 2 + start_id)
    centres = _rng(seed, 3).normal(size=(10, dim))
    labels = g.integers(0, 10, n)
    m = centres[labels] + 1.5 * g.normal(size=(n, dim))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(start_id, start_id + n), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def ann_queries(seed: int, batch: int, n_batches: int) -> list[pa.Table]:
    """Query-vector batches from the corpus's distribution; ids start
    at 10^9 so no query id is a corpus id (the serve's self-match rule
    never fires)."""
    t = embeddings(seed, batch * n_batches, start_id=10**9)
    return [t.slice(i * batch, batch) for i in range(n_batches)]


def bm25_queries(seed: int, batch: int, n_batches: int) -> list[list[tuple[int, str]]]:
    """Long-format (query_id, term) batches, 1–3 distinct terms each."""
    g = _rng(seed, 4)
    out = []
    for b in range(n_batches):
        rows = []
        for q in range(batch):
            n_terms = int(g.integers(1, 4))
            for term in g.choice(DOC_VOCAB, size=n_terms, replace=False):
                rows.append((b * batch + q, str(term)))
        out.append(rows)
    return out


# -- the reference pipeline's inputs ------------------------------------


def pipeline_inputs(seed: int, sizes: Sizes, root: str) -> dict:
    """Write the filings corpus (one text file per filing, report date
    and cik in the file name), the deals CSV (2-digit-year dates,
    acquirer and target names) and the company master CSV under
    ``root``. Returns the paths and the plain-Python labels the run
    checks the engine's labelling against."""
    rng = random.Random(seed)
    n = sizes.companies
    companies = [
        {
            "cik": str(100000 + i),
            "ticker": f"TK{i:03d}",
            "name": f"Company {i:03d} Inc",
            "sic": str(rng.choice(SIC_CODES)),
            "exchange": rng.choice(["NYSE", "NASDAQ"]),
            "business": "synthetic",
            "incorporated": "DE",
            "irs": str(rng.randrange(10**8, 10**9)),
        }
        for i in range(n)
    ]
    # A master row whose name differs from a deal name only by case:
    # exact-equality linkage must not link it.
    companies.append(dict(companies[0], cik="999999", ticker="ZZZ",
                          name=companies[0]["name"].lower()))
    base = dt.date(2014, 1, 1)
    deals = []
    order = list(range(n))
    rng.shuffle(order)
    for j in range(0, n - 1, 2):
        acq, tgt = order[j], order[j + 1]
        announce = base + dt.timedelta(days=rng.randrange(300, 2000))
        deals.append({
            "acquirer_name": companies[acq]["name"],
            "target_name": companies[tgt]["name"],
            "announce_date": announce.strftime("%m/%d/%y"),
            "deal_type": "merger",
            "seller_name": "",
            "announced_total_value_mil": f"{rng.uniform(10, 5000):.2f}",
            "payment_type": rng.choice(["cash", "stock"]),
            "deal_status": "completed",
        })
    deals.append(dict(deals[0], acquirer_name="No Such Company LLC"))
    announce_of = {"acq": {}, "tgt": {}}
    for d in deals:
        when = dt.datetime.strptime(d["announce_date"], "%m/%d/%y").date()
        announce_of["acq"].setdefault(d["acquirer_name"], []).append(when)
        announce_of["tgt"].setdefault(d["target_name"], []).append(when)

    corpus = os.path.join(root, "corpus")
    os.makedirs(corpus)
    labels = {"acq": {}, "tgt": {}}
    for c in companies[:n]:
        deal_dates = announce_of["acq"].get(c["name"], []) + announce_of["tgt"].get(c["name"], [])
        for _ in range(sizes.filings_per_company):
            if deal_dates and rng.random() < 0.5:
                # a filing from the year before one of its deals
                report = rng.choice(deal_dates) - dt.timedelta(days=rng.randrange(0, 365))
            else:
                report = base + dt.timedelta(days=rng.randrange(0, 2200))
            words = rng.choices(FILING_VOCAB, k=sizes.filing_words)
            for side, signal in (("acq", ACQUIRER_SIGNAL), ("tgt", TARGET_SIGNAL)):
                pos = any(
                    0 <= (a - report).days < 365
                    for a in announce_of[side].get(c["name"], [])
                )
                labels[side][(c["cik"], report.isoformat())] = int(pos)
                # signal is likelier in positives, present in some negatives
                if rng.random() < (SIGNAL_P_POS if pos else SIGNAL_P_NEG):
                    words += rng.choices(signal, k=rng.randrange(3, 9))
            words += rng.choices(FILING_STOPWORDS, k=sizes.filing_words // 6)
            rng.shuffle(words)
            name = f"{report.isoformat()}_{c['cik']}_10-K.txt"
            with open(os.path.join(corpus, name), "a") as f:
                # two filings of one company on one date append into
                # one file, as one EDGAR document per (cik, date)
                f.write(" ".join(words) + "\n")

    def write_csv(path: str, rows: list[dict]) -> None:
        with open(path, "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=list(rows[0]))
            w.writeheader()
            w.writerows(rows)

    deals_csv = os.path.join(root, "deals.csv")
    master_csv = os.path.join(root, "cik_master.csv")
    write_csv(deals_csv, deals)
    write_csv(master_csv, companies)
    return {
        "corpus": corpus,
        "deals": deals_csv,
        "companies": master_csv,
        "labels": labels,
        "stopwords": FILING_STOPWORDS,
    }


# -- the star schema the registry queries read ---------------------------


def _ts(g: np.random.Generator, n: int, start: str, days: int, sub_day: bool) -> pa.Array:
    t0 = np.datetime64(start, "us")
    if sub_day:
        off = g.integers(0, days * 86_400_000_000, n)
    else:
        off = g.integers(0, days, n) * 86_400_000_000
    return pa.array(t0 + off.astype("timedelta64[us]"), pa.timestamp("us"))


def star_schema(seed: int, sf: float, out_dir: str) -> None:
    """Write region … embeddings as ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    g = _rng(seed, 10)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_line, n_part = int(6_000_000 * sf), int(200_000 * sf)
    n_supp, n_ev = max(int(10_000 * sf), 10), int(1_000_000 * sf)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(g.uniform(lo, hi, n), 2)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": g.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    g.choice(["small", "red", "blue", "hot", "big", "green", "dark", "pale"], n_part),
                    g.choice(["ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "cog"], n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in g.integers(1, 26, n_part)],
            "p_type": g.choice(["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"], n_part),
            "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": g.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": _ts(g, n_ord, "1995-01-01", 2404, False),
            "o_orderpriority": g.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(g.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(g.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
            "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": g.integers(0, 11, n_line) / 100,
            "l_tax": g.integers(0, 9, n_line) / 100,
            "l_returnflag": g.choice(["A", "N", "R"], n_line),
            "l_linestatus": g.choice(["F", "O"], n_line),
            "l_shipdate": _ts(g, n_line, "1995-01-02", 2498, False),
        }),
        "events": pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(np.sort(np.asarray(_ts(g, n_ev, "2024-01-01", 30, True)
                                              .to_numpy(zero_copy_only=False))),
                           pa.timestamp("us")),
            "user_id": pa.array(g.integers(0, max(n_ev // 66, 2), n_ev), pa.int64()),
            "event_type": g.choice(["click", "view", "purchase", "error", "login"], n_ev),
            "value": np.round(g.uniform(0.01, 500, n_ev), 2),
            "props": [f'{{"k": {j}}}' for j in g.integers(0, 100, n_ev)],
        }),
        "documents": documents(seed, int(50_000 * sf)),
        "embeddings": embeddings(seed, int(20_000 * sf)),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
