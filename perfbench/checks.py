"""Output checks for the benchmark runs.

Query ops are compared with their oracle SQL run in DuckDB over the same
generated tables, normalized as `scripts/check_oracle.py` does (columns
by name, floats to 9 places, dates and times as ISO strings, rows in
emitted order). The ETL run is checked for exactly-once delivery: the
sink must equal a one-shot fold of every released feed row, and the
log must hold one success row per batch whose `last_id` is that batch's
max id.
"""
import glob
import json
import math
import os
import re

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(norm_cell(x) for x in v)
    return v


def frame_rows(df):
    df = df[sorted(df.columns)]
    return [tuple(norm_cell(v) for v in row)
            for row in df.itertuples(index=False)]


def queries(data_dir, results_dir, ops):
    """Return {op index: error} for every op whose output is wrong.

    `ops` lists (index, name) of the ops that returned a result.
    """
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    wanted, errors = {}, {}
    for i, name in ops:
        if name not in oracle:
            errors[i] = "no oracle SQL"
            continue
        try:
            if name not in wanted:
                wanted[name] = con.execute(oracle[name]).df()
            want = wanted[name]
        except Exception as e:
            errors[i] = f"oracle SQL error: {e}"[:300]
            continue
        files = sorted(glob.glob(os.path.join(results_dir, str(i),
                                              "*.parquet")))
        if not files:
            errors[i] = "no output written"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        if sorted(got.columns) != sorted(want.columns):
            errors[i] = (f"columns {sorted(got.columns)} != "
                         f"{sorted(want.columns)}")[:300]
        elif frame_rows(got) != frame_rows(want):
            errors[i] = f"values differ ({len(got)} vs {len(want)} rows)"
    return errors


def extract_phones(s):
    """`TextFunctions.extractPhones`: drop spaces, split on [,;/]+,
    trim, drop empties."""
    return [p.strip() for p in re.split(r"[,;/]+", s.replace(" ", ""))
            if p.strip()]


def etl(feed_path, results_dir, batches, page):
    """Return a list of errors for the ETL sink and log (empty = ok)."""
    released = []
    with open(feed_path) as f:
        for line in f:
            if len(released) == batches * page:
                break
            released.append(json.loads(line))
    want = {}
    for r in released:
        c = want.setdefault(r["code"], {"phones": [], "seen": set()})
        for p in extract_phones(r["phones"]):
            if p not in c["seen"]:
                c["seen"].add(p)
                c["phones"].append(p)
        c["name"], c["last_src_id"] = r["name"], r["id"]
    errors = []
    got = [json.loads(line) for line in
           open(os.path.join(results_dir, "contacts.jsonl"))]
    if len(got) != len(want):
        errors.append(f"sink has {len(got)} contacts, feed folds to "
                      f"{len(want)}")
    slots = ["tel_no"] + [f"tel_no{i}" for i in range(2, 11)]
    for row in got:
        w = want.get(row["code"])
        if w is None:
            errors.append(f"contact {row['code']} is not in the feed")
            continue
        ph = w["phones"]
        exp = {"name": w["name"], "last_src_id": w["last_src_id"],
               "note_other": ",".join(ph[10:]) or None}
        exp.update({s: (ph[k] if k < len(ph) else None)
                    for k, s in enumerate(slots)})
        bad = [k for k, v in exp.items() if row.get(k) != v]
        if bad:
            errors.append(f"contact {row['code']} differs in {bad}")
    log = [json.loads(line) for line in
           open(os.path.join(results_dir, "migrate_log.jsonl"))]
    ok = [r for r in log if r["status"] == 1]
    max_ids = [min(len(released), (b + 1) * page) for b in range(batches)]
    if [r["batch_no"] for r in ok] != list(range(1, batches + 1)):
        errors.append(f"{len(ok)} success rows for {batches} batches")
    elif [r["last_id"] for r in ok] != [released[m - 1]["id"]
                                        for m in max_ids]:
        errors.append("success rows' last_id differ from batch max ids")
    return errors[:20]
