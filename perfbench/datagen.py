"""Seeded generator for the benchmark's input tables and contact feed.

The tables follow the schema and value distributions of the engine's
TPC-H-ish star schema plus `events`, `documents` and `embeddings`
(see TESTDATA.md): the same column names and physical types, so every
registry query runs on them unchanged. Row counts scale with `sf`
(sf0.1 = 600k lineitem rows). The same seed always writes the same
bytes.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def tables(out, seed, sf):
    """Write the ten parquet tables for `seed` at scale `sf` into `out`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(n_supp, -999.99, 9999.99)})
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part)
                               .astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10,
                                  1)})
    o_date = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(n_ord, 1000.0, 500_000.0),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line)
                          * DAY_US)})
    gaps = rng.exponential(30 * DAY_US / n_ev, n_ev).astype(np.int64)
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, max(150, int(15_000 * sf)), n_ev,
                                dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:      # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:   # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS),
                                                               n)]))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.normal(size=(n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)})


def feed(path, seed, data_dir, n_rows, p_new=0.35):
    """Write the contact feed as JSON lines, one record per line.

    Records come from the generated `events` table in id order: record
    `id` is event_id + 1. Each record belongs to a contact `code`; with
    probability `p_new` it opens a new contact, otherwise it revisits a
    contact opened earlier, so every page carries both sink inserts and
    sink updates. Phones are free text in the reference's formats
    (`,` `;` `/` separators, stray spaces, empty entries, repeats); a
    contact draws from 40 numbers, so long-lived contacts overflow the
    10 phone slots into `note_other`.
    """
    ev = pq.read_table(os.path.join(data_dir, "events.parquet"),
                       columns=["event_id", "user_id", "event_type"])
    if ev.num_rows < n_rows:
        raise ValueError(f"feed needs {n_rows} events, have {ev.num_rows}")
    ev = ev.slice(0, n_rows)
    rng = np.random.default_rng([seed, 2])
    new = rng.random(n_rows) < p_new
    new[0] = True
    opened = np.cumsum(new)              # contacts opened so far
    revisit = (rng.random(n_rows) * (opened - new)).astype(np.int64)
    codes = 100_000 + np.where(new, opened - 1, revisit)
    n_phones = rng.integers(0, 4, n_rows)
    numbers = rng.integers(0, 40, (n_rows, 3))
    blank = rng.random(n_rows) < 0.2
    seps = np.array([",", ";", "/", " , ", "; "])[
        rng.integers(0, 5, n_rows)]
    ids = ev.column("event_id").to_numpy() + 1
    names = np.char.add(np.char.add(
        ev.column("event_type").to_numpy(zero_copy_only=False).astype(str),
        "-"), ev.column("user_id").to_numpy().astype(str))
    with open(path, "w") as f:
        for i in range(n_rows):
            k = int(n_phones[i])
            phones = [f"0{int(codes[i]) % 97:02d}{int(x):07d}"
                      for x in numbers[i, :k]]
            if k and blank[i]:
                phones.append(" ")
            f.write(json.dumps({
                "id": int(ids[i]), "code": int(codes[i]),
                "name": str(names[i]), "phones": str(seps[i]).join(phones)},
                separators=(",", ":")) + "\n")
