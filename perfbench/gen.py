"""Seeded input generator for the benchmark.

Two input sets, both pure functions of (seed, scale):

* the TPC-H-ish tables of TESTDATA.md (region, nation, customer, supplier,
  part, orders, lineitem, events, documents, embeddings) with the row
  proportions and value shapes of the engine's own scale generator
  (graft.tools.SfGen): orders = 10 x customer, 1..7 lines per order,
  every 20th document a near-duplicate of the previous one, embeddings
  clustered around 10 centres. Unlike SfGen, ``events.ts`` is written as
  parquet TIMESTAMP(MICROS), the type the shipped test data carries.
  Each table is a directory ``<name>.parquet`` of up to ``FILES``
  key-range-clustered files, so scans parallelize.

* the Book Orders operational database as TSVs in the dump's layout
  (graft.bookorders.Model schemas, ``\\N`` for NULL), with the
  City -> District -> Country dependency of the reference data, plus
  ``rounds`` delta directories of new orders for the incremental
  refresh rounds.

A ``MANIFEST.json`` beside the data records row counts and a content hash
of every file, so two runs can show they read the same bytes.
"""
import datetime as dt
import hashlib
import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILES = 4

# row counts at scale 1.0 (graft.tools.SfGen.BASE)
BASE = {"customer": 150000, "supplier": 10000, "part": 200000,
        "orders": 1500000, "events": 1000000, "documents": 50000,
        "embeddings": 20000}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "LARGE", "STANDARD"]
ADJS = ["large", "hot", "blue", "old", "cold", "small", "fast", "slow",
        "green", "red"]
NOUNS = ["ring", "bolt", "plate", "screw", "washer", "nut", "gear", "rod",
         "pin", "cap"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "en", "en", "en", "de", "es", "zh", "fr"]
VOCAB = ["batch", "part", "spark", "line", "column", "order", "small", "sort",
         "fast", "value", "scan", "a", "hash", "slow", "group", "agg",
         "filter", "query", "big", "key", "window", "row", "table", "stream",
         "merge", "data", "vector", "join", "shuffle", "plan", "stage", "task",
         "node", "disk", "cache", "read", "write", "map", "fold", "page"]


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _cents(x):
    return x / 100.0


def _micros(days_since_1995, extra_days=0):
    base = np.datetime64("1995-01-01", "D")
    return (base + days_since_1995 + extra_days).astype("datetime64[us]")


def _write(out: Path, name: str, table: pa.Table, files: int) -> None:
    d = out / f"{name}.parquet"
    d.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    k = max(1, min(files, n // 1000))
    bounds = np.linspace(0, n, k + 1).astype(int)
    for i in range(k):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       d / f"part-{i:05d}.parquet")


def gen_tables(out: Path, scale: float, seed: int) -> dict:
    """Write the ten TESTDATA.md tables under ``out``; return row counts."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, round(b * scale)) for t, b in BASE.items()}
    counts = {}

    def emit(name, cols, files=FILES):
        t = pa.table(cols)
        _write(out, name, t, files)
        counts[name] = t.num_rows

    emit("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                    "r_name": pa.array(REGIONS)}, 1)
    emit("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                    "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                    "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}, 1)

    nc = n["customer"]
    emit("customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_cents(rng.integers(0, 1099966, nc) - 99985)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})

    ns = n["supplier"]
    emit("supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_cents(rng.integers(0, 1099966, ns) - 99985))})

    npart = n["part"]
    adj = np.asarray(ADJS, dtype=object)[rng.integers(0, 10, npart)]
    noun = np.asarray(NOUNS, dtype=object)[rng.integers(0, 10, npart)]
    emit("part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(_cents(rng.integers(0, 10410000, npart) + 90000))})

    no = n["orders"]
    odays = rng.integers(0, 2404, no)
    emit("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], no),
        "o_totalprice": pa.array(_cents(rng.integers(0, 49899128, no) + 100191)),
        "o_orderdate": pa.array(_micros(odays), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    lkey = np.repeat(np.arange(no), lines)
    lnum = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    emit("lineitem", {
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng.integers(0, 10409924, nl) + 90068)),
        "l_discount": pa.array(_cents(rng.integers(0, 11, nl))),
        "l_tax": pa.array(_cents(rng.integers(0, 9, nl))),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["O", "F"], nl),
        "l_shipdate": pa.array(_micros(odays[lkey], rng.integers(0, 122, nl)),
                               pa.timestamp("us"))})

    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    emit("events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(t0 + rng.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, nc // 100), ne), pa.int64()),
        "event_type": _pick(rng, ETYPES, ne),
        "value": pa.array(_cents(rng.integers(0, 56022, ne))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})

    nd = n["documents"]
    # Heaps'-law vocabulary as in SfGen: half the tokens from the 40-word
    # head, half from a tail pool that grows ~sqrt(total tokens)
    tail_pool = max(len(VOCAB), round(0.8 * (nd * 55) ** 0.5))
    texts = []
    for i in range(nd):
        if i > 0 and i % 20 == 0:
            texts.append(f"{texts[-1]} extra{i}")
            continue
        k = int(rng.integers(10, 101))
        head = rng.integers(0, len(VOCAB), k)
        tail = rng.integers(0, tail_pool, k)
        use_head = rng.integers(0, 2, k) == 0
        texts.append(" ".join(VOCAB[h] if u else f"{VOCAB[h]}_{t}"
                              for h, t, u in zip(head, tail, use_head)))
    emit("documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = n["embeddings"]
    centers = rng.integers(-1000, 1001, (10, 64)) / 1000.0
    labels = rng.integers(0, 10, nv)
    noise = rng.integers(-1000, 1001, (nv, 64)) / 1000.0
    emb = (centers[labels] * 0.6 + noise * 0.4).astype(np.float32)
    emit("embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return counts


# City -> District -> Country, as in the reference customer table. The
# districts of customers 96 and 100 are the ones the mart's cleanup step
# assigns them, so the dependency still holds after cleanup.
GEO = {
    "New Zealand": {"Midland": ["Wellington", "Lower Hutt", "Porirua"],
                    "Northland": ["Auckland", "Whangarei"],
                    "Southland": ["Christchurch", "Dunedin", "Invercargill"]},
    "Australia": {"New South Wales": ["Sydney", "Sidney", "Newcastle"],
                  "Victoria": ["Melbourne", "Geelong"]},
    "Macedonia": {"Povardarje": ["Veles", "Kavadarci"],
                  "Skopje Region": ["Skopje", "Kumanovo"]},
    "Hungary": {"Budapest": ["Budapest"], "Pest": ["Vac", "Godollo"]},
    "Serbia": {"Belgrade": ["Belgrade", "Zemun"], "Vojvodina": ["Novi Sad"]},
}
FIRST = ["Kirk", "May", "Peter", "Ana", "Ivan", "Eva", "Marko", "Lena",
         "Tom", "Zoe", "Nikola", "Sara", "Janos", "Mila", "Oscar", "Ruth"]
LAST = ["Jacson", "Leow", "Andree", "Smith", "Petrovic", "Nagy", "Brown",
        "Kovac", "Wilson", "Taylor", "Horvat", "Stone", "Lee", "Young"]


def _tsv(path: Path, rows) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write("\t".join("\\N" if v is None else str(v) for v in r) + "\n")


def _orders(rng, first_id, count, customers, isbns, days):
    """cust_order and order_detail rows for ``count`` new orders."""
    orders, details = [], []
    for oid in range(first_id, first_id + count):
        orders.append((oid, str(days[int(rng.integers(0, len(days)))]),
                       int(customers[int(rng.integers(0, len(customers)))])))
        picked = rng.choice(isbns, size=int(rng.integers(1, 9)), replace=False)
        for item, isbn in enumerate(picked, start=1):
            details.append((oid, item, int(isbn), int(rng.integers(1, 6))))
    return orders, details


def gen_bookorders(out: Path, customers: int, orders: int, rounds: int,
                   round_orders: int, seed: int) -> dict:
    """Write the six Book Orders TSVs plus ``rounds`` delta directories."""
    rng = np.random.default_rng([seed, 2])
    places = [(c, d, city) for c, ds in GEO.items()
              for d, cities in ds.items() for city in cities]
    forced = {96: "Povardarje", 100: "Budapest"}
    cust = []
    for cid in range(1, customers + 1):
        if cid in forced:
            country, district, city = next(p for p in places if p[1] == forced[cid])
        else:
            country, district, city = places[int(rng.integers(0, len(places)))]
        cust.append((cid, LAST[int(rng.integers(0, len(LAST)))],
                     FIRST[int(rng.integers(0, len(FIRST)))], city, district, country))
    nbooks = 40
    isbns = np.arange(1000, 1000 + nbooks) * 11
    books = [(int(i), f"Database Book {k}", int(rng.integers(1, 4)),
              f"{int(rng.integers(2000, 12001)) / 100:.2f}")
             for k, i in enumerate(isbns)]
    authors = [(a, None if a % 7 == 0 else FIRST[a % len(FIRST)], LAST[a % len(LAST)])
               for a in range(1, 31)]
    book_author = [(int(i), a, s) for i in isbns
                   for s, a in enumerate(rng.choice(np.arange(1, 31), 2, replace=False), 1)]
    # about one order in nine falls in April-May 2017, the window Question 5 reads
    span = [dt.date(1998, 1, 1) + dt.timedelta(days=int(x)) for x in range(0, 7300, 3)]
    q5 = [dt.date(2017, 4, 1) + dt.timedelta(days=x) for x in range(61)]
    days = span + q5 * 5
    cids = np.arange(1, customers + 1)
    co, od = _orders(rng, 1, orders, cids, isbns, days)
    _tsv(out / "customer.tsv", cust)
    _tsv(out / "book.tsv", books)
    _tsv(out / "author.tsv", authors)
    _tsv(out / "book_author.tsv", book_author)
    _tsv(out / "cust_order.tsv", co)
    _tsv(out / "order_detail.tsv", od)
    next_id = orders + 1
    for r in range(1, rounds + 1):
        dco, dod = _orders(rng, next_id, round_orders, cids, isbns, q5)
        next_id += round_orders
        _tsv(out / f"delta_{r}" / "cust_order.tsv", dco)
        _tsv(out / f"delta_{r}" / "order_detail.tsv", dod)
    return {"customer": customers, "cust_order": len(co), "order_detail": len(od),
            "book": nbooks, "rounds": rounds, "round_orders": round_orders}


def content_hash(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file() and p.name != "MANIFEST.json":
            h.update(str(p.relative_to(root)).encode())
            h.update(hashlib.sha256(p.read_bytes()).digest())
    return h.hexdigest()[:16]


def ensure(cache: Path, kind: str, params: dict, seed: int) -> tuple:
    """Generate (or reuse) the inputs for (kind, params, seed); returns
    (directory, manifest). A directory without its manifest is an
    interrupted generation and is rebuilt."""
    key = hashlib.sha256(json.dumps([kind, params, seed, 1], sort_keys=True)
                         .encode()).hexdigest()[:12]
    d = cache / f"{kind}-s{seed}-{key}"
    man = d / "MANIFEST.json"
    if man.exists():
        return d, json.loads(man.read_text())
    if d.exists():
        shutil.rmtree(d)
    d.mkdir(parents=True)
    if kind == "tables":
        counts = gen_tables(d, params["scale"], seed)
    else:
        counts = gen_bookorders(d, seed=seed, **params)
    m = {"kind": kind, "params": params, "seed": seed, "rows": counts,
         "bytes": sum(p.stat().st_size for p in d.rglob("*") if p.is_file()),
         "hash": content_hash(d)}
    man.write_text(json.dumps(m, indent=1))
    return d, m
