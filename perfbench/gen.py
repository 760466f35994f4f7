"""Seeded input generators for the benchmark.

Three families, all deterministic in their seed:

* ``snapshot`` -- the TPC-H-shaped star schema plus the ``documents``,
  ``embeddings`` and ``events`` tables the engine's ``Tables`` readers
  expect, one parquet file per table. It is generated from a fixed seed,
  so ``mart_refresh`` and the dashboard's marts always see the same
  snapshot. Its shape follows the repository's sf0.1 test data: the same
  schemas, key and date ranges, 30-word document vocabulary, language
  mix, and near-duplicate share (244 of 5000 documents there, 5% here).
* ``kroger_batches`` -- Kroger API-shaped micro-batches for
  ``price_ingest``: nested locations and products JSON (FIXTURES.md
  section A, with its dirty-data shares) and price rows in the
  post-flatten ``(product_id, location_id, item_id)`` shape, plus the
  last-write-wins raw state the engine must hold after every batch.
* ``dashboard_windows`` -- the chart-1 date window of every page load.

"""

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SNAPSHOT_SEED = 42

# ---------------------------------------------------------------- snapshot

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_ADJ = ["large", "hot", "blue", "small", "green", "red", "cold", "dark"]
P_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "wire", "cog", "disk"]
P_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def _us(day: str) -> int:
    return int(dt.datetime.fromisoformat(day).replace(
        tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, lo, hi, n):
    """Whole-day timestamps (microseconds) uniform in [lo, hi]."""
    day = 86_400_000_000
    days = rng.integers(0, (_us(hi) - _us(lo)) // day + 1, n)
    return pa.array(_us(lo) + days * day, pa.timestamp("us"))


def _documents(rng, n):
    """Word-salad documents over a 30-word vocabulary; 5% are near-dups
    (an earlier document plus the token ``dup``) and a few are exact
    copies, so the near-dup and exact-dedup chains both have work."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lengths.sum())
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    for i in range(n):
        if i >= 40 and rng.random() < 0.05:
            src = int(rng.integers(0, i))
            exact = rng.random() < 0.03
            texts[i] = texts[src] if exact else texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(0, 1.2, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat),
        "label": pa.array(label, pa.int32()),
    })


def snapshot_tables(scale: float, seed: int = SNAPSHOT_SEED) -> dict:
    """Every table of the snapshot at `scale` (1.0 = TPC-H sf1 row counts:
    6M lineitem; 0.1 matches the sizes of the sf0.1 test data)."""
    rng = np.random.default_rng(seed)
    n_part, n_supp = int(200_000 * scale), int(10_000 * scale)
    n_cust, n_ord = int(150_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    # The test data holds at least 500 embeddings (sf0.01: 500, sf0.1: 2000).
    n_doc, n_emb = int(50_000 * scale), max(500, int(20_000 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900 + (pk % 1000) / 10.0)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line)),
        "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_line)})
    ts = np.sort(rng.integers(_us("2024-01-01"), _us("2024-01-31"), n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev),
                            pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])})
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_snapshot(out_dir: str, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in snapshot_tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------- kroger batches

CATEGORIES = ["produce", "dairy", "bakery", "meat", "frozen", "pantry",
              "beverages", "snacks", "deli", "household"]
BRANDS = ["Kroger", "Simple Truth", "Private Selection", "Heritage Farm",
          "Big K", "Comforts"]
STATES = ["OH", "KY", "IN", "MI", "TN", "GA", "TX", "VA"]
STOCK = ["HIGH", "LOW", "TEMPORARILY_OUT_OF_STOCK"]
SIZES = ["1 lb", "12 oz", "1 gal", "6 ct", "16 oz", "2 lb"]

# Dirty-data shares (FIXTURES.md section A), per generated row.
DIRTY = {
    "null_promo": 0.30,          # promo_price missing
    "promo_ge_regular": 0.05,    # discount_pct -> 0 branch
    "nonpositive_regular": 0.02,  # filtered in staging
    "bad_date": 0.03,            # TRY_CAST -> null
    "unknown_stock": 0.03,       # recode fallback
    "null_latitude": 0.05,       # dropped in stg_locations
    "no_regular_price": 0.02,    # products row skipped by flattenProducts
    # Products payloads with an empty `items` array belong here too, but
    # KrogerIngest.flattenProducts reads items[0] with element_at, which
    # fails the whole batch under ANSI mode (Spark's default) instead of
    # skipping the row. Until the engine handles them the share is 0;
    # README.md lists this under program issues.
    "empty_items": 0.0,
    "null_id_row": 0.5,          # per batch: one keyless location/product
}
NEW_KEY_SHARE = 0.10             # of each batch's price rows after batch 0


def _upc(i):
    return f"{10_000_000_000 + i * 7919:013d}"


def _store(i):
    return f"{70_100_000 + i * 37:08d}"


def _date(rng, dirty_share):
    if rng.random() < dirty_share:
        return rng.choice(["2024-13-45", "not-a-date", "20240115"])
    d = dt.date(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 120)))
    return d.isoformat()


def _location(rng, i, version):
    lat = None if rng.random() < DIRTY["null_latitude"] else \
        round(float(rng.uniform(30, 45)), 6)
    return {
        "locationId": _store(i),
        "name": f"Kroger Store {i} v{version}",
        "chain": "KROGER",
        "address": {"addressLine1": f"{100 + i} Main St",
                    "city": f"City{i % 40}",
                    "state": STATES[i % len(STATES)],
                    "zipCode": f"{45000 + i:05d}"},
        "geolocation": {"latitude": lat,
                        "longitude": round(float(rng.uniform(-95, -80)), 6)},
    }


def _price(rng):
    """(regular, promo) with the dirty shares applied."""
    regular = round(float(rng.uniform(0.5, 25)), 2)
    r = rng.random()
    if r < DIRTY["nonpositive_regular"]:
        regular = 0.0 if rng.random() < 0.5 else -1.0
    promo = None
    r = rng.random()
    if r >= DIRTY["null_promo"]:
        if r < DIRTY["null_promo"] + DIRTY["promo_ge_regular"]:
            promo = round(regular + float(rng.uniform(0, 2)), 2)
        else:
            promo = round(regular * float(rng.uniform(0.5, 0.95)), 2)
    return regular, promo


def _stock(rng):
    if rng.random() < DIRTY["unknown_stock"]:
        return "BACKORDERED"
    return STOCK[int(rng.integers(0, len(STOCK)))]


def _product(rng, i, version):
    regular, promo = _price(rng)
    if rng.random() < DIRTY["no_regular_price"]:
        regular = None
    cats = [CATEGORIES[i % len(CATEGORIES)]]
    if rng.random() < 0.5:
        cats.append("fresh")
    return {
        "productId": _upc(i),
        "description": f"Product {i} v{version}",
        "brand": None if rng.random() < 0.05 else BRANDS[i % len(BRANDS)],
        "categories": cats,
        "items": [{
            "itemId": f"{_upc(i)}-1",
            "size": SIZES[i % len(SIZES)],
            "price": {"regular": regular, "promo": promo,
                      "effectiveDate": {"value": _date(rng, DIRTY["bad_date"])},
                      "expirationDate": {"value": _date(rng, 0.0)}},
            "fulfillment": {"instore": bool(rng.random() < 0.9),
                            "delivery": bool(rng.random() < 0.6),
                            "curbside": bool(rng.random() < 0.5),
                            "shiptohome": bool(rng.random() < 0.2)},
            "inventory": {"stockLevel": _stock(rng)},
        }] if rng.random() >= DIRTY["empty_items"] else [],
    }


def _price_row(rng, p, s, fetched_at):
    regular, promo = _price(rng)
    return {
        "product_id": _upc(p), "location_id": _store(s),
        "item_id": f"{_upc(p)}-1", "size": SIZES[p % len(SIZES)],
        "regular_price": regular, "promo_price": promo,
        "effective_date": _date(rng, DIRTY["bad_date"]),
        "expiration_date": _date(rng, 0.0),
        "fulfillment_instore": bool(rng.random() < 0.9),
        "fulfillment_delivery": bool(rng.random() < 0.6),
        "fulfillment_curbside": bool(rng.random() < 0.5),
        "fulfillment_shiptohome": bool(rng.random() < 0.2),
        "stock_level": _stock(rng),
        "fetched_at": fetched_at,
    }


def kroger_batches(seed: int, n_batches: int, rows_per_batch: int,
                   n_stores: int = 40) -> list:
    """`n_batches` micro-batches. Batch 0 seeds the raw state; every
    later batch re-sends existing (product, store) keys with new prices
    and adds NEW_KEY_SHARE of brand-new keys. Each batch also re-sends
    the locations and products its price rows reference.

    Returns a list of dicts with keys ``locations``, ``products`` and
    ``prices`` (row lists)."""
    rng = np.random.default_rng(seed)
    next_key = 0
    batches = []
    start = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for b in range(n_batches):
        fetched_at = (start + dt.timedelta(minutes=b)).isoformat()
        n_new = rows_per_batch if b == 0 else \
            int(round(rows_per_batch * NEW_KEY_SHARE))
        n_old = rows_per_batch - n_new
        old = [int(k) for k in rng.choice(next_key, n_old, replace=False)] \
            if n_old else []
        keys = old + list(range(next_key, next_key + n_new))
        next_key += n_new
        # Key k is product k // n_stores stocked at store k % n_stores.
        prices = [_price_row(rng, k // n_stores, k % n_stores, fetched_at)
                  for k in keys]
        locations = [_location(rng, s, b) for s in
                     sorted({k % n_stores for k in keys})]
        products = [_product(rng, p, b) for p in
                    sorted({k // n_stores for k in keys})]
        # At most one keyless row of each kind per batch: flattenLocations
        # keeps an arbitrary row among same-key duplicates, so two keyless
        # rows would make the expected state ambiguous.
        if rng.random() < DIRTY["null_id_row"]:
            locations.append(dict(_location(rng, n_stores, b),
                                  locationId=None))
        if rng.random() < DIRTY["null_id_row"]:
            products.append(dict(_product(rng, next_key, b),
                                 productId=None))
        batches.append({"locations": locations, "products": products,
                        "prices": prices})
    return batches


def batch_rows(batch: dict) -> int:
    return sum(len(batch[k]) for k in ("locations", "products", "prices"))


def _raw_location(loc):
    return {"location_id": loc["locationId"], "name": loc["name"],
            "latitude": loc["geolocation"]["latitude"]}


def _raw_product(prod):
    """The raw.products row flattenProducts keeps, or None when it drops
    the payload (no items, or no regular price on items[0])."""
    if not prod["items"] or prod["items"][0]["price"]["regular"] is None:
        return None
    return {"product_id": prod["productId"],
            "description": prod["description"], "brand": prod["brand"]}


def _raw_price(row):
    return {k: v for k, v in row.items() if k != "fetched_at"}


# Raw table -> (key columns, payload row -> compared raw row or None).
RAW_TABLES = {
    "prices": (("product_id", "location_id", "item_id"), _raw_price),
    "locations": (("location_id",), _raw_location),
    "products": (("product_id",), _raw_product),
}


def expected_states(batches: list) -> list:
    """Last-write-wins raw state after each batch: element i maps each raw
    table to {key: row} as it must stand after batch i (a later batch's
    row replaces an earlier one with the same key)."""
    state = {t: {} for t in RAW_TABLES}
    out = []
    for bt in batches:
        for table, (key, raw) in RAW_TABLES.items():
            for payload in bt[table]:
                row = raw(payload)
                if row is not None:
                    state[table][tuple(row[k] for k in key)] = row
        out.append({t: dict(rows) for t, rows in state.items()})
    return out


def _key_order(key):
    return tuple("" if k is None else k for k in key)


def write_kroger(out_dir: str, seed: int, n_batches: int,
                 rows_per_batch: int) -> dict:
    """Writes batch_NNN/{locations,products,prices}.jsonl (the arriving
    payloads) and expected_NNN/{prices,locations,products}.jsonl (the
    raw state after that batch, without fetched_at)."""
    batches = kroger_batches(seed, n_batches, rows_per_batch)
    for i, (bt, exp) in enumerate(zip(batches, expected_states(batches))):
        for sub, tables in ((f"batch_{i:03d}", bt),
                            (f"expected_{i:03d}", None)):
            d = os.path.join(out_dir, sub)
            os.makedirs(d, exist_ok=True)
            for name in RAW_TABLES:
                rows = tables[name] if tables else \
                    [exp[name][k] for k in sorted(exp[name], key=_key_order)]
                with open(os.path.join(d, f"{name}.jsonl"), "w") as f:
                    for row in rows:
                        f.write(json.dumps(row, sort_keys=True) + "\n")
    return {"batches": n_batches,
            "rows": [batch_rows(bt) for bt in batches],
            "bytes": [sum(os.path.getsize(os.path.join(
                out_dir, f"batch_{i:03d}", f"{n}.jsonl")) for n in RAW_TABLES)
                for i in range(n_batches)]}


# ------------------------------------------------------- dashboard windows

# The window each measured page load uses, by load number (cycled).
# Loads 0 and 1 are the two clients' first loads: the same window, loaded
# concurrently, so the check compares a window's result across loads.
# One load in four falls after the fact's dates, so chart 1 takes its
# empty-window fallback. The seed picks the dates, never this makeup.
WINDOW_PATTERN = ("a", "a", "b", "empty")
EMPTY_WINDOW_SHARE = WINDOW_PATTERN.count("empty") / len(WINDOW_PATTERN)


def dashboard_windows(seed: int, n_loads: int) -> list:
    """Chart-1 (from, to) date windows, one per measured page load."""
    rng = np.random.default_rng(seed)

    def window(first, spread_days):
        lo = first + dt.timedelta(days=int(rng.integers(0, spread_days)))
        hi = lo + dt.timedelta(days=int(rng.integers(30, 181)))
        return lo.isoformat(), hi.isoformat()

    # Non-empty windows lie inside the fact's 1995-2001 dates.
    pool = {"a": window(dt.date(1995, 1, 1), 2400),
            "b": window(dt.date(1995, 1, 1), 2400),
            "empty": window(dt.date(2010, 1, 1), 365)}
    return [pool[WINDOW_PATTERN[i % len(WINDOW_PATTERN)]]
            for i in range(n_loads)]


def write_windows(path: str, seed: int, n_loads: int) -> None:
    with open(path, "w") as f:
        for lo, hi in dashboard_windows(seed, n_loads):
            f.write(f"{lo},{hi}\n")
