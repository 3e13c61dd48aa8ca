"""Seeded input generators.

Every table a workload reads is generated here from the run's seed, so the
benchmark needs no data outside its checkout and an engine change cannot
change what is measured. The same seed gives byte-identical inputs; a
different seed gives the same row counts with different values.

The TPC-H-shaped tables follow the column names, types and value domains
of the engine's test data (``sources.readers.TABLES``). The five raw tables
of the paper's DAG follow the engine's fixture generators, frozen here.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
#: PII-shaped tokens so the redaction stage of the LLM pipeline has work.
PII = ["ann@example.com", "555-123-4567", "10.0.0.12", "123-45-6789"]

_EPOCH = np.datetime64("1970-01-01", "D")


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), path)


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    a = np.datetime64(lo, "D") - _EPOCH
    b = np.datetime64(hi, "D") - _EPOCH
    d = rng.integers(a.astype(int), b.astype(int) + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _documents(rng: np.random.Generator, n: int, first_id: int = 0) -> dict:
    """Word-salad documents of 8-100 tokens; 1% exact copies of an earlier
    document and 2% near copies (one extra token), like the engine's test
    corpus, so dedup stages find groups."""
    vocab = np.array(WORDS)
    lens = rng.integers(8, 101, n)
    texts = []
    for i, k in enumerate(lens):
        roll = rng.random()
        if i > 0 and roll < 0.01:
            texts.append(texts[rng.integers(0, i)])
        elif i > 0 and roll < 0.03:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            toks = vocab[rng.integers(0, len(vocab), k)].tolist()
            if rng.random() < 0.05:
                toks.insert(int(rng.integers(0, k)), PII[rng.integers(0, len(PII))])
            texts.append(" ".join(toks))
    return {
        "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def star_tables(out: str, seed: int, lineitem_rows: int) -> None:
    """TPC-H-shaped tables at about sf0.01, except ``lineitem``, whose row
    count the caller sets (it decides whether lineitem routing applies)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord = 1_500, 100, 2_000, 15_000
    n_events, n_users, n_docs, n_vecs = 10_000, 150, 500, 500
    os.makedirs(out, exist_ok=True)
    p = lambda t: os.path.join(out, f"{t}.parquet")  # noqa: E731

    _write(p("region"), {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(p("nation"), {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(segs, n_cust)),
    })
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(p("part"), {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                                       rng.choice(noun, n_part))),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(types, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pa.array(rng.choice(prio, n_ord)),
    })
    n = lineitem_rows
    _write(p("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n)),
        "l_partkey": pa.array(rng.integers(0, n_part, n)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 901.0, 104999.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n)),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })
    gaps = rng.exponential(259.0, n_events)  # about 30 days of events
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype(
        "timedelta64[us]"
    )
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    _write(p("events"), {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": pa.array(rng.choice(kinds, n_events)),
        "value": pa.array(_money(rng, 0.01, 490.02, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    _write(p("documents"), _documents(rng, n_docs))
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def documents(path: str, seed: int, n: int) -> None:
    """The LLM pipeline's corpus: ``n`` documents, one parquet file."""
    _write(path, _documents(np.random.default_rng(seed), n))


# -- the paper DAG's five raw tables (frozen from workload/fixtures.py) ----

CARD_NUMBERS = [3221, 4245, 5083, 6823]
BANK_NUMBERS = [3206, 9155]
PAYMENT_MARKERS = [
    "Online Transfer to savings", "Edward Jones brokerage", "JPMorgan Chase credit",
    "Fedwire outgoing", "Automatic Payment - thank you", "Payment Thank You - Web",
]
VENMO_PEOPLE = ["Lorna Kerry", "Lisa Raich", "Sofia Mesa", "Alex Doe"]
AGG_PREFIXES = ["TST* ", "SQ *", "EB ", "PY ", "SUMUP ", "ZETTLE_"]
EXERCISES = [
    ("Treadmill", "Cardio", "Legs"), ("Bench Press", "Weights", "Chest, Triceps"),
    ("Squat", "Weights", "Legs, Glutes"), ("Pull Up", "Calisthenics", "Back, Biceps"),
    ("Plank", "Calisthenics", "Core"),
]
DISHES = [
    ("Pasta Primavera", "Tomato, Basil, Zucchini"),
    ("Green Curry", "Eggplant, Pepper, Basil"),
    ("Lentil Soup", "Lentil, Carrot, Celery, Onion"),
    ("Stir Fry", "Broccoli, Pepper, Garlic"),
    ("Salad Bowl", "Lettuce, Tomato, Cucumber"),
]
INGREDIENTS = ["Tomato", "Basil", "Lentil", "Rice", "Pepper", "Olive Oil", "Garlic"]
_START = dt.date(2022, 1, 1)


def _date(rng) -> dt.date:
    return _START + dt.timedelta(days=int(rng.integers(0, 1301)))


def _noise(rng, name: str) -> str:
    d = name.upper() if rng.random() < 0.5 else name
    roll = rng.random()
    if roll < 0.2:
        d = AGG_PREFIXES[rng.integers(0, len(AGG_PREFIXES))] + d
    elif roll < 0.3:
        d = d.replace(" ", "  ", 1)
    elif roll < 0.4:
        d = d + ", IL"
    elif roll < 0.45:
        d = d.replace("&", "&amp;")
    elif roll < 0.5:
        d = d + " - " + str(rng.integers(100, 1000))
    return d


def _pick(rng, seq):
    return seq[rng.integers(0, len(seq))]


def _card_transactions(rng, n: int, merchants: list[str]) -> pa.Table:
    rows: list[tuple] = []

    def add(desc, card, amount, category=None, type_=None, ikey=None):
        rows.append((f"txn_{len(rows):06d}", _date(rng), round(amount, 2), card,
                     desc, category, type_, ikey))

    for _ in range(int(n * 0.7)):
        add(_noise(rng, _pick(rng, merchants)), _pick(rng, CARD_NUMBERS),
            rng.uniform(2, 400), category=_pick(rng, ["Food & Drink", "Shopping", None]))
    for _ in range(int(n * 0.05)):
        add(_pick(rng, ["BRITISH A 2217", "DINES* BRCKWL WHOLEF", "UA INFLT 0162412186807"]),
            _pick(rng, CARD_NUMBERS), rng.uniform(50, 900))
    for _ in range(int(n * 0.08)):
        add(_pick(rng, PAYMENT_MARKERS), _pick(rng, CARD_NUMBERS), -rng.uniform(100, 2000))
    for _ in range(int(n * 0.04)):
        add("MISC DEBIT", _pick(rng, [1111, 2222]), rng.uniform(10, 50))
    for _ in range(int(n * 0.06)):
        person = _pick(rng, VENMO_PEOPLE)
        desc = ("venmo proto faff surplus seed fund" if rng.random() < 0.2
                else f"venmo payment to {person}")
        add(desc, _pick(rng, CARD_NUMBERS), rng.uniform(5, 150), ikey=person)
    for _ in range(int(n * 0.05)):
        amount = rng.uniform(100, 3000) * (1 if rng.random() < 0.5 else -1)
        add("Transfer Lorna household", _pick(rng, BANK_NUMBERS), amount)
    for _ in range(int(n * 0.02)):
        add("MANUAL ADJUSTMENT", _pick(rng, CARD_NUMBERS), rng.uniform(5, 60),
            type_="Adjustment")
    # an exact duplicate pair across the union, which UNION must collapse
    for k in ("txn_dup_a", "txn_dup_b"):
        rows.append((k, dt.date(2024, 3, 1), 42.0, 3221, "DUPLICATED ROW", None, None, None))
    cols = list(zip(*rows))
    return pa.table({
        "key": pa.array(cols[0]),
        "date": pa.array(cols[1], type=pa.date32()),
        "amount": pa.array([f"{a:.2f}" for a in cols[2]]).cast(pa.decimal128(12, 2)),
        "card_last4": pa.array(cols[3], type=pa.int32()),
        "description": pa.array(cols[4], type=pa.string()),
        "category": pa.array(cols[5], type=pa.string()),
        "type": pa.array(cols[6], type=pa.string()),
        "intermediate_key": pa.array(cols[7], type=pa.string()),
    })


def _exercise_log(rng, n_days: int) -> pa.Table:
    rows = []
    for _ in range(n_days):
        d = _date(rng)
        for _ in range(int(rng.integers(1, 5))):
            label, type_, areas = _pick(rng, EXERCISES)
            tm = label == "Treadmill"
            rows.append((
                d, label, type_,
                round(rng.uniform(1, 6), 2) if tm else None,
                round(rng.uniform(80, 500), 1) if tm else None,
                round(rng.uniform(10, 60), 1) if tm else None,
                None if tm else float(rng.integers(5, 16)),
                None if tm else float(rng.integers(2, 6)),
                areas,
            ))
    names = ["Date", "Exercise Label", "Type", "Distance (mi)", "Calories",
             "Duration (min)", "Reps", "Sets", "Target Areas"]
    types = [pa.date32(), pa.string(), pa.string()] + [pa.float64()] * 5 + [pa.string()]
    cols = list(zip(*rows))
    return pa.table({k: pa.array(c, type=t) for k, c, t in zip(names, cols, types)})


def _decimals(values, scale: str) -> pa.Array:
    return pa.array([f"{v:.2f}" for v in values]).cast(pa.decimal128(*scale))


def dag_sources(data_dir: str, seeds_dir: str, seed: int, n_txn: int) -> None:
    """The five raw tables of the paper's DAG as parquet directories under
    ``data_dir``; ``n_txn`` sets the card-transaction row count."""
    rng = np.random.default_rng(seed)
    with open(os.path.join(seeds_dir, "merchants.csv")) as f:
        merchants = [r["merchant_name"] for r in csv.DictReader(f)][:200]
    dishes = [_pick(rng, DISHES) for _ in range(300)]
    tables = {
        "card_transactions": _card_transactions(rng, n_txn, merchants),
        "exercise_log": _exercise_log(rng, 260),
        "recipe_log": pa.table({
            "Date": pa.array([_date(rng) for _ in dishes], type=pa.date32()),
            "Dish": pa.array([d for d, _ in dishes]),
            "Cost": _decimals(rng.uniform(4, 30, len(dishes)), (10, 2)),
            "Plants": pa.array([p for _, p in dishes]),
        }),
        "shopping_log": pa.table({
            "Date": pa.array([_date(rng) for _ in range(250)], type=pa.date32()),
            "Ingredient": pa.array([_pick(rng, INGREDIENTS) for _ in range(250)]),
            "Quantity": pa.array(rng.integers(1, 6, 250).astype(np.float64)),
            "Price": _decimals(rng.uniform(1, 20, 250), (10, 2)),
        }),
        "weights": pa.table({
            "Measurement Date": pa.array([_date(rng) for _ in range(200)], type=pa.date32()),
            "Weight": pa.array(np.round(rng.uniform(150, 190, 200), 1)),
        }),
    }
    for name, table in tables.items():
        os.makedirs(os.path.join(data_dir, name), exist_ok=True)
        pq.write_table(table, os.path.join(data_dir, name, "part-0.parquet"))
