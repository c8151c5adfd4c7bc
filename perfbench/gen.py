"""Seeded input generators for the benchmark.

Everything here is a pure function of ``(seed, size)``: the same
arguments give byte-identical files and the same expected counts. The
expected counts are computed from the generated values themselves, in
plain Python, so the correctness gates never trust the engine under
test. Single-process NumPy/pyarrow only; no Spark.

* ``write_food_csv`` -- one food-orders CSV shaped like the reference's
  ``food_daily.csv`` (FIXTURES.md section 1).
* ``write_tables`` -- the ten star-schema parquet tables the query keys
  read, with the column types and value domains of the graded testdata.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np

HEADER = (
    "Customer_id,date,time,order_id,items,amount,mode,restaurnt,"
    "Status,ratings,feedback"
)

FOODS = [
    "PiZza", "Marga?ritA", "WATERZOOI", "Crispy Onion Rings", "Benedict",
    "pickle", "Fried Rice", "noo%dles", "Sushi Platter", "Burger & Fries",
    "Caesar Salad", "Pad Thai", "Ramen", "Gyoza", "Edamame", "Pasta",
    "Dumplings", "Fish and Chips", "Tacos", "Paneer Tikka",
]
MODES = ["Card", "Cash", "Online", "Wallet"]
RESTAURANTS = [
    "Brussels Mussels ", "Gaspar's", "Taco Bell", "Wok This Way",
    "Tokyo Table", "Patty Shack", "Leafy Greens", "The Codfather",
    "Bangkok Bites", "Roma Roma", "Curry & Co", "Noodle Bar ",
]
# (status, weight): FIXTURES.md section 1 proportions
STATUSES = [
    ("Delivered", 0.975), ("On Hold", 0.011),
    ("Not delivered", 0.008), ("Cancelled", 0.006),
]
FEEDBACK = [
    "Late delivery", "Awesome experience", "Delivery boy didnt come at doorstep",
    "Good", "Great", "Perfect", "Nice", "Fresh", "Still waiting",
    "Cold & soggy", "Why so salty?", "Food was cold", "Loved it",
    "Average taste", "Quick delivery", "Wrong order", "Will order again",
]
SHORT_ROW_FRAC = 0.002
SCI_ID_FRAC = 0.01


@dataclass(frozen=True)
class FoodCounts:
    """What a correct run over one generated CSV must report.

    ``total``/``delivered``/``other`` are the reference's C1-C3, counted
    BEFORE the short-row drop (a short row has no status field, so it
    counts as ``other``); ``short`` rows reach neither table, so the
    tables read back to ``delivered`` and ``other - short`` rows."""

    total: int
    delivered: int
    other: int
    short: int

    @property
    def delivered_table(self) -> int:
        return self.delivered

    @property
    def other_table(self) -> int:
        return self.other - self.short

    def __add__(self, o: "FoodCounts") -> "FoodCounts":
        return FoodCounts(
            self.total + o.total, self.delivered + o.delivered,
            self.other + o.other, self.short + o.short,
        )


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    arr = np.asarray(values, dtype=object)
    return list(arr[rng.integers(0, len(values), n)])


def food_rows(rows: int, seed: int) -> tuple[list[str], FoodCounts]:
    """``rows`` CSV data lines (no header) and their expected counts."""
    rng = np.random.default_rng(seed)
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    # ~12 recurring customers plus a 13-char outlier, as in the real file
    customers = [
        "".join(rng.choice(list(letters), 4)) + f"{rng.integers(0, 10**6):06d}"
        + "".join(rng.choice(list(letters), 2))
        for _ in range(12)
    ] + ["LJBO9511000BL"]
    day = int(rng.integers(1, 29))
    dates = [f"11/{day + d}/2023" for d in range(3)]

    def pick(values: list[str]) -> list[str]:
        return _pick(rng, values, rows)

    def ints(lo: int, hi: int) -> list[int]:
        return rng.integers(lo, hi, rows).tolist()

    cust, date = pick(customers), pick(dates)
    hh, mm, ss = ints(0, 24), ints(0, 60), ints(0, 60)
    id_a, id_b, id_l = ints(0, 1000), ints(0, 1000), pick(list(letters))
    sci = (rng.random(rows) < SCI_ID_FRAC).tolist()
    n_items = ints(1, 5)
    slots = [pick(FOODS) for _ in range(4)]
    trailing = (rng.random(rows) < 0.94).tolist()
    amount, mode, rest = ints(12, 128), pick(MODES), pick(RESTAURANTS)
    st_idx = rng.choice(len(STATUSES), rows, p=[w for _, w in STATUSES])
    status = [STATUSES[i][0] for i in st_idx.tolist()]
    rating, fb = ints(1, 6), pick(FEEDBACK)
    short_mask = rng.random(rows) < SHORT_ROW_FRAC
    short = short_mask.tolist()

    lines = []
    for i in range(rows):
        items = ":".join([slots[0][i], slots[1][i], slots[2][i], slots[3][i]][: n_items[i]])
        if trailing[i]:
            items += ":"
        oid = f"1.{id_a[i] % 100:02d}E+{100 + id_b[i] % 20}" if sci[i] else f"{id_a[i]:03d}{id_l[i]}{id_b[i]:03d}"
        head = f"{cust[i]},{date[i]},{hh[i]}.{mm[i]:02d}.{ss[i]:02d},{oid},{items}"
        lines.append(
            head if short[i]
            else f"{head},{amount[i]},{mode[i]},{rest[i]},{status[i]},{rating[i]},{fb[i]}"
        )
    delivered = int(((st_idx == 0) & ~short_mask).sum())
    return lines, FoodCounts(rows, delivered, rows - delivered, int(short_mask.sum()))


def write_food_csv(path: str, rows: int, seed: int) -> FoodCounts:
    """Write one CSV (UTF-8 BOM, the reference's typo'd header)."""
    lines, counts = food_rows(rows, seed)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8-sig", newline="\n") as f:
        f.write(HEADER + "\n")
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, path)
    return counts


# ---------------------------------------------------------------------------
# Star-schema tables (the shape of the graded testdata)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
PART_NOUN = ["bolt", "plate", "rod", "anvil", "widget", "gizmo", "ring", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, first: dt.date, last: dt.date, n: int) -> np.ndarray:
    span = (last - first).days
    return np.datetime64(first, "us") + rng.integers(0, span + 1, n) * np.timedelta64(1, "D")


def _build_tables(sf: float, rng: np.random.Generator) -> dict[str, dict]:
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    }
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 499999.99, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 104999.99, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    }
    month_us = 30 * 86_400 * 10**6
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.sort(rng.integers(0, month_us, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = [" ".join(_pick(rng, WORDS, int(k))) for k in rng.integers(10, 101, n_doc)]
    # ~5% near-duplicates (an earlier document plus one word) and a few
    # exact copies, so the dedup keys find pairs to verify
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n_doc), max(1, n_doc // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": list(np.asarray(LANGS, dtype=object)[rng.choice(5, n_doc, p=[0.41] + [0.1475] * 4)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vec),
        "label": labels,
    }
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, cols in _build_tables(sf, rng).items():
        arrays = {}
        for c, v in cols.items():
            if c == "embedding":
                arrays[c] = pa.array(v, type=pa.list_(pa.float32()))
            elif isinstance(v, np.ndarray) and v.dtype.kind == "M":
                arrays[c] = pa.array(v, type=pa.timestamp("us"))
            else:
                arrays[c] = pa.array(v)
        table = pa.table(arrays)
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
        sizes[name] = table.num_rows
    return sizes
