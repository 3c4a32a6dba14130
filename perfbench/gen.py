"""Seeded input generation for the benchmark workloads.

Every table is a pure function of the seed: the same seed writes
byte-identical parquet. Inputs are written with pyarrow (never with the
engine under test) and each generator also returns the reference values the
workload's correctness check compares against, computed here with numpy.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0 = datetime(2024, 1, 1)
DAY_US = 86_400_000_000
EVENT_TYPES = np.array(["view", "click", "cart", "buy", "error"])


def _us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


@dataclass
class Events:
    ts_us: np.ndarray  # sorted event times, integer microseconds (UTC)
    event_id_sum: int
    value_cents_sum: int
    n_rows: int
    bytes_per_row: float  # Arrow bytes per row of the reconciled columns


def gen_events(rng: np.random.Generator, out_dir: str, days: int, rows_per_day: int) -> Events:
    """The ``events`` stream table of the watermark cascade: ``days`` days of
    events from 2024-01-01 with uniform arrival times."""
    n = days * rows_per_day
    t0 = _us(EPOCH0)
    ts = np.sort(rng.integers(t0 + 1, t0 + days * DAY_US, size=n, dtype=np.int64))
    cents = rng.integers(1, 50_000, size=n, dtype=np.int64)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 5_000, size=n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]),
            "value": pa.array(cents / 100.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    kept = table.drop_columns(["props"])
    return Events(
        ts_us=ts,
        event_id_sum=int(n * (n - 1) // 2),
        value_cents_sum=int(cents.sum()),
        n_rows=n,
        bytes_per_row=kept.nbytes / n,
    )


def gen_orders(
    rng: np.random.Generator, out_dir: str, n_customers: int, n_orders: int, max_lines: int = 7
) -> np.ndarray:
    """orders → lineitem, TPC-H shaped: each order belongs to one customer
    and has 1..``max_lines`` lines with quantity 1..50. Returns the rows a
    lookup returns per customer."""
    o_custkey = rng.integers(0, n_customers, size=n_orders, dtype=np.int64)
    o_key = rng.permutation(n_orders).astype(np.int64)
    lines = rng.integers(1, max_lines + 1, size=n_orders)
    l_orderkey = np.repeat(o_key, lines)
    n_li = len(l_orderkey)
    l_linenumber = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, size=n_li), 2)
    order = rng.permutation(n_li)  # fact rows arrive unordered
    orders = pa.table(
        {
            "o_orderkey": pa.array(o_key),
            "o_custkey": pa.array(o_custkey),
            "o_totalprice": pa.array(np.round(rng.uniform(1e3, 4e5, size=n_orders), 2)),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_orderkey[order]),
            "l_linenumber": pa.array(l_linenumber[order]),
            "l_quantity": pa.array(qty[order]),
            "l_extendedprice": pa.array(price[order]),
        }
    )
    pq.write_table(orders, os.path.join(out_dir, "orders.parquet"))
    pq.write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"))

    # Reference answer: a request returns every line of the customers'
    # orders that have at least one line with quantity >= 45.
    big = np.zeros(n_orders, dtype=bool)
    big[o_key[np.repeat(np.arange(n_orders), lines)[qty >= 45]]] = True
    cust_of_key = np.empty(n_orders, dtype=np.int64)
    cust_of_key[o_key] = o_custkey
    lines_of_key = np.empty(n_orders, dtype=np.int64)
    lines_of_key[o_key] = lines
    return np.bincount(
        cust_of_key[big], weights=lines_of_key[big], minlength=n_customers
    ).astype(np.int64)


# One block of request sizes: one list each of 1000, 100, 10 and 1 keys.
# The reference's key list (``sample.csv``) is not in the repository, so the
# proportions of its traffic are unknown; equal counts per size are an
# assumption that weights no size over another. The order is fixed so that
# every run, however few requests it completes, starts with the same mix.
BLOCK = (1000, 100, 10, 1)


def request_mix(
    rng: np.random.Generator, n_customers: int, n_requests: int, repeat_share: float
) -> list[tuple[int, ...]]:
    """Customer key lists cycling through ``BLOCK``'s sizes; a seeded
    ``repeat_share`` of requests re-sends an earlier list of the same size
    verbatim (the share is an assumption too, see ``BLOCK``)."""
    out: list[tuple[int, ...]] = []
    by_size: dict[int, list[tuple[int, ...]]] = {}
    for i in range(n_requests):
        k = BLOCK[i % len(BLOCK)]
        seen = by_size.setdefault(k, [])
        if seen and rng.random() < repeat_share:
            keys = seen[int(rng.integers(0, len(seen)))]
        else:
            keys = tuple(int(c) for c in rng.choice(n_customers, size=k, replace=False))
            seen.append(keys)
        out.append(keys)
    return out


ORDER_STATUS = np.array(["F", "O", "P"])
ORDER_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def gen_order_history(rng: np.random.Generator, out_dir: str, n_orders: int) -> None:
    """The TPC-H ``orders`` table with every column the versioned-table
    queries read: keys 0..n-1, status, price (cents), date, priority."""
    day0 = np.datetime64("1992-01-01", "D")
    days = rng.integers(0, 2_400, size=n_orders)
    table = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_orders // 10, size=n_orders, dtype=np.int64)),
            "o_orderstatus": pa.array(ORDER_STATUS[rng.integers(0, 3, size=n_orders)]),
            "o_totalprice": pa.array(rng.integers(100_000, 40_000_000, size=n_orders) / 100.0),
            "o_orderdate": pa.array((day0 + days).astype("datetime64[us]")),
            "o_orderpriority": pa.array(ORDER_PRIORITY[rng.integers(0, 5, size=n_orders)]),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "orders.parquet"))


WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "sort window line data column join small customer query order group stream "
    "filter big vector".split()
)


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    11400714785074694791, 14029467366897019727, 1609587929392839161,
    9650029242287828579, 2870177450012600261,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit integer; with seed 42 it is
    the engine's ``xxhash64`` of a string's UTF-8 bytes."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _xxh_round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xxh_round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        lane = int.from_bytes(data[i : i + 8], "little")
        h = (_rotl(h ^ _xxh_round(0, lane), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i : i + 4], "little")
        h = (_rotl(h ^ (lane * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M64), 11) * _P1 & _M64
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    return h ^ (h >> 32)


def simhash_pairs(texts: list[str], max_hamming: int) -> dict[tuple[int, int], int]:
    """Reference for the SimHash near-pair query: each text's 64-bit
    signature votes +1/-1 per bit over the xxhash64 of its distinct
    non-empty space-separated tokens (bit set iff the vote is positive);
    returns {(i, j): distance} for every i < j within ``max_hamming``."""
    bits = np.arange(64, dtype=np.uint64)
    sigs = np.zeros(len(texts), dtype=np.uint64)
    cache: dict[str, np.ndarray] = {}
    for d, text in enumerate(texts):
        votes = np.zeros(64, dtype=np.int64)
        for tok in {t for t in text.split(" ") if t}:
            if tok not in cache:
                cache[tok] = (np.uint64(xxh64(tok.encode())) >> bits) & np.uint64(1)
            votes += np.where(cache[tok] == 1, 1, -1)
        sigs[d] = np.bitwise_or.reduce(np.where(votes > 0, np.uint64(1), np.uint64(0)) << bits)
    x = sigs[:, None] ^ sigs[None, :]
    dist = np.unpackbits(x.view(np.uint8).reshape(len(texts), len(texts), 8), axis=2).sum(axis=2)
    i, j = np.nonzero(np.triu(dist <= max_hamming, k=1))
    return {(int(a), int(b)): int(dist[a, b]) for a, b in zip(i, j)}


def gen_documents(
    rng: np.random.Generator, out_dir: str, n_docs: int, n_copies: int
) -> dict[tuple[int, int], int]:
    """``documents`` of 20-80 words over a 30-word vocabulary; the last
    ``n_copies`` documents copy the text of a seeded earlier one, so the
    corpus holds pairs at distance 0. Returns the SimHash near pairs within
    distance 3 with their distances (``simhash_pairs``)."""
    n_orig = n_docs - n_copies
    texts = [
        " ".join(WORDS[rng.integers(0, len(WORDS), size=int(rng.integers(20, 81)))])
        for _ in range(n_orig)
    ]
    src = rng.choice(n_orig, size=n_copies, replace=False)
    texts += [texts[int(i)] for i in src]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n_docs),
            "source": pa.array([f"src{i % 7}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return simhash_pairs(texts, max_hamming=3)


SITES = 48
GLASS0 = 1_000_000  # id of the first glass


@dataclass
class Metrology:
    product_of_glass: np.ndarray
    has_design: np.ndarray  # bool per glass
    null_x: np.ndarray  # bool per (glass, site), glass-major


def design_grid() -> tuple[np.ndarray, np.ndarray]:
    """48 design positions (mm). x is strictly increasing with the item id,
    so MEA's coordinate-order labeling recovers the item id even under the
    planted micron-scale deviations."""
    i = np.arange(SITES)
    return 10.0 * i - 235.0, 30.0 * (i % 8) - 105.0


def gen_metrology(
    rng: np.random.Generator, out_dir: str, products: int, glasses_per_product: int
) -> Metrology:
    """Per-glass metrology with a planted shift and rotation, in the wide
    (glass, site_name, x, y, dx, dy) shape and the EAV (glass, site_name,
    param_name, param_value) shape. 0.1% of x values are NULL and about one
    glass in 13 has no design values."""
    g = products * glasses_per_product
    product = np.repeat(np.arange(products, dtype=np.int64), glasses_per_product)
    glass = np.arange(g, dtype=np.int64) + GLASS0
    sx = rng.uniform(-5.0, 5.0, size=g)
    sy = rng.uniform(-5.0, 5.0, size=g)
    theta = rng.uniform(-50.0, 50.0, size=g)
    t = np.tan(theta * 1e-6)
    dxg, dyg = design_grid()
    dx = np.tile(dxg, g)
    dy = np.tile(dyg, g)
    tt = np.repeat(t, SITES)
    # Residual model of kernels/rot: x + sx - dy*t = 0, y + sy + dx*t = 0
    # (plus noise), so the closed-form fit returns (sx, sy, theta).
    noise = rng.normal(0.0, 1e-4, size=(2, g * SITES))
    x = -np.repeat(sx, SITES) + dy * tt + noise[0]
    y = -np.repeat(sy, SITES) - dx * tt + noise[1]
    null_x = rng.random(g * SITES) < 0.001
    has_design = rng.random(g) >= 1.0 / 13.0
    gl = np.repeat(glass, SITES)
    site = np.tile(np.arange(1, SITES + 1, dtype=np.int32), g)
    prod = np.repeat(product, SITES)
    x_arr = pa.array(x, mask=null_x)
    wide = pa.table(
        {
            "product": pa.array(prod),
            "glass": pa.array(gl),
            "site_name": pa.array(site),
            "x": x_arr,
            "y": pa.array(y),
            "dx": pa.array(dx),
            "dy": pa.array(dy),
        }
    )
    # EAV: absolute measured coordinates; a NULL x is an absent TP_X row.
    keep = ~null_x
    eav = pa.table(
        {
            "product": pa.array(np.concatenate([prod[keep], prod])),
            "glass": pa.array(np.concatenate([gl[keep], gl])),
            "site_name": pa.array(np.concatenate([site[keep], site])),
            "param_name": pa.array(["TP_X"] * int(keep.sum()) + ["TP_Y"] * len(gl)),
            "param_value": pa.array(np.concatenate([(dx + x)[keep], dy + y])),
        }
    ).sort_by([("product", "ascending"), ("glass", "ascending")])
    # about one row group per product, so a batch skips most of the file
    rg = glasses_per_product * SITES
    pq.write_table(wide, os.path.join(out_dir, "metro_wide.parquet"), row_group_size=rg)
    pq.write_table(eav, os.path.join(out_dir, "metro_eav.parquet"), row_group_size=2 * rg)
    pq.write_table(
        pa.table({"item_id": pa.array(np.arange(1, SITES + 1, dtype=np.int64)), "x": dxg, "y": dyg}),
        os.path.join(out_dir, "mea_design.parquet"),
    )
    pq.write_table(
        pa.table({"glass": pa.array(glass[has_design])}),
        os.path.join(out_dir, "design_glasses.parquet"),
    )
    return Metrology(product, has_design, null_x)
