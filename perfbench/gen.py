"""Seeded generator of raw card transactions for the benchmark.

Every row the library receives in a benchmark run comes from here, and the
same seed gives the same rows. Merchant names are pairs of words drawn
from two small pools, so most words are shared by several merchants; rows
then drop or truncate words and add typos and shared noise tokens (card
numbers, dates, prices, masks, places). Classes therefore overlap and a
change that costs accuracy shows in ``avg_acc`` instead of hiding at 1.0.
Class sizes follow a Zipf law so the ETL's ``count_threshold`` drops the
tail and its ``sample_size`` caps the head.
"""

from __future__ import annotations

import itertools
import random

HEADS = ["north", "star", "city", "royal", "green", "blue", "golden", "union",
         "metro", "prime", "grand", "central", "river", "park", "west", "king"]
TAILS = ["coffee", "market", "pharmacy", "books", "garage", "foods", "fitness",
         "travel", "cinema", "bakery", "kitchen", "hotel", "taxi", "energy",
         "store", "deli"]
PLACES = ["london", "leeds", "york", "bath", "derby", "hull"]
MONTHS = ["jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep", "oct",
          "nov", "dec"]
SCHEMA = "tr_merchant string, tr_description string, tr_amount double"


def merchants(n: int) -> list[str]:
    """``n`` distinct two-word merchant names. The same for every seed, so
    that how much the classes overlap, and with it the accuracy, does not
    depend on the seed."""
    pairs = [f"{h} {t}" for h in HEADS for t in TAILS]
    random.Random(0).shuffle(pairs)
    return pairs[:n]


def class_sizes(n_rows: int, n_classes: int, zipf_s: float = 1.1) -> list[int]:
    """Rows per class, largest first: Zipf weights rounded to sum to
    ``n_rows``. Depends on the sizes only, so every seed gets the same."""
    w = [1.0 / (k ** zipf_s) for k in range(1, n_classes + 1)]
    total = sum(w)
    sizes = [max(1, int(n_rows * x / total)) for x in w]
    sizes[0] += n_rows - sum(sizes)
    return sizes


def narrative(rng: random.Random, name: str, ref: str | None = None) -> str:
    """One noisy card narrative for merchant ``name``."""
    words = name.split()
    if rng.random() < 0.08:
        words = words[1:]  # head word missing: only the shared tail is left
    if rng.random() < 0.2:
        words[-1] = words[-1][: rng.randint(3, 5)]
    if rng.random() < 0.1:
        i = rng.randrange(len(words))
        j = rng.randrange(len(words[i]))
        words[i] = words[i][:j] + words[i][j + 1:]
    text = " ".join(words)
    r = rng.random()
    if r < 0.2:
        text = "paypal *" + text
    elif r < 0.3:
        text = "card payment to " + text
    parts = [text]
    r = rng.random()
    if r < 0.15:
        parts.append(f"({rng.choice(PLACES)})")
    elif r < 0.35:
        parts.append("@ " + rng.choice(PLACES))
    if rng.random() < 0.1:
        parts.append("& co")
    if rng.random() < 0.25:
        parts.append(f"{rng.randint(1, 499)}.{rng.randint(0, 99):02d} gbp")
    if rng.random() < 0.2:
        parts.append(f"xxxx {rng.randint(1000, 9999)}")
    if ref is not None:
        parts.append(ref)
    parts.append(
        f"cd {rng.randint(1000, 9999)} {rng.randint(1, 28):02d}"
        f"{rng.choice(MONTHS)}{rng.randint(18, 23)} deb"
    )
    return " ".join(parts)


def transactions(seed, n_rows: int, names: list[str], null_frac: float = 0.02):
    """``n_rows`` raw rows ``(tr_merchant, tr_description, tr_amount)`` over
    Zipf-sized merchants ``names`` (largest first), shuffled; ``null_frac``
    of them have no merchant, which the ETL filters out. Returns
    ``(rows, sizes)`` where ``sizes`` maps merchant to its row count."""
    rng = random.Random(seed)
    n_null = int(n_rows * null_frac)
    sizes = dict(zip(names, class_sizes(n_rows - n_null, len(names))))
    rows = []
    for name, size in sizes.items():
        for _ in range(size):
            rows.append((name, narrative(rng, name), round(rng.lognormvariate(3, 1), 2)))
    for _ in range(n_null):
        rows.append((None, narrative(rng, rng.choice(names)), 1.0))
    rng.shuffle(rows)
    return rows, sizes


#: rows per table of the query-suite input, the size of the graded
#: queries' smallest test scale
TABLE_ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
              "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order",
             "part", "query", "row", "scan", "slow", "small", "sort", "spark",
             "stream", "table", "the", "value", "vector", "window"]


def tables(seed: int) -> dict:
    """The query suite's ten input tables as ``{name: pyarrow.Table}``,
    with the schemas and value domains the graded queries are written
    for: a TPC-H-like star schema, an event log, short documents (a few
    of them near-copies of others) and unit-norm embeddings in ten
    clusters."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    day = np.timedelta64(1, "D")
    start = np.datetime64("1995-01-01T00:00:00", "us")
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{k}" for k in range(25)],
                            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())}),
    }
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n["part"]),
                                              rng.choice(PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]).tolist(),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n["part"]) / 10, 1),
    })
    n_o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n_o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_o), 2),
        "o_orderdate": start + rng.integers(0, 2400, n_o) * day,
        "o_orderpriority": rng.choice(PRIORITIES, n_o).tolist(),
    })
    n_l = n["lineitem"]
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], n_l).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100,
        "l_tax": rng.integers(0, 9, n_l) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_l).tolist(),
        "l_shipdate": start + rng.integers(1, 2500, n_l) * day,
    })
    n_e = n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                      + rng.integers(0, 30 * 86400 * 10**6, n_e) * np.timedelta64(1, "us")),
        "user_id": rng.integers(0, max(1, n_e // 66), n_e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_e).tolist(),
        "value": np.round(rng.exponential(50, n_e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    n_d = n["documents"]
    texts = [" ".join(rng.choice(DOC_WORDS, rng.integers(8, 90)))
             for _ in range(n_d)]
    for k in rng.choice(n_d, n_d // 20, replace=False):  # near-copies
        texts[k] = texts[(k + 1) % n_d] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_d).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_v = n["embeddings"]
    labels = rng.integers(0, 10, n_v)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_v, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


class StreamBatches:
    """Stream input, one batch at a time: rows over ``names`` with Zipf
    weights, where ``dup_frac`` of the rows re-send the exact narrative of
    an earlier row of this batch or the previous one. Each fresh row
    carries a unique reference token, so fresh rows never share a content
    fingerprint and the number of first-seen fingerprints is the number of
    fresh rows. Event time advances ``span_ms`` per batch; a re-send is
    stamped with its own arrival time, inside any watermark longer than
    two batches."""

    EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

    def __init__(self, seed, names: list[str], rows_per_batch: int,
                 dup_frac: float = 0.25, span_ms: int = 600_000):
        self.rng = random.Random(seed)
        self.names = names
        self.cum = list(itertools.accumulate(1.0 / k ** 1.1 for k in range(1, len(names) + 1)))
        self.rows_per_batch = rows_per_batch
        self.dup_frac = dup_frac
        self.span_ms = span_ms
        self.batch = 0
        self.prev: list[tuple[str, str]] = []

    def next(self):
        """Returns ``(columns, n_fresh)``; ``columns`` maps column name to
        a list of values, ``ts`` in epoch milliseconds."""
        rng, b, n = self.rng, self.batch, self.rows_per_batch
        cur: list[tuple[str, str]] = []
        cols = {"tr_merchant": [], "tr_description": [], "tr_amount": [], "ts": []}
        for i in range(n):
            pool = len(self.prev) + len(cur)
            if pool and rng.random() < self.dup_frac:
                k = rng.randrange(pool)
                name, text = self.prev[k] if k < len(self.prev) else cur[k - len(self.prev)]
            else:
                name = rng.choices(self.names, cum_weights=self.cum)[0]
                text = narrative(rng, name, ref=f"ref{b}x{i}")
                cur.append((name, text))
            cols["tr_merchant"].append(name)
            cols["tr_description"].append(text)
            cols["tr_amount"].append(round(rng.lognormvariate(3, 1), 2))
            cols["ts"].append(self.EPOCH_MS + b * self.span_ms + i * self.span_ms // n)
        self.prev = cur
        self.batch += 1
        return cols, len(cur)
