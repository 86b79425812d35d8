#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Two commands:

  gen_data.py base <out_dir> <sf>
      The ten fixed tables (region, nation, customer, supplier, part,
      orders, lineitem, events, documents, embeddings) with the schemas and
      value ranges of the engine's sf testdata. Always seed 42: the
      fixed-data workloads take their seed only as a job order.

  gen_data.py snapshots <out_dir> <base_dir> <seed> <cycles> <batch_docs> <listing_rows>
      One snapshot directory per ingest cycle, cycle_000 .. cycle_<n-1>:
        landing/{platform}_{yyyyMMdd}.csv  per-platform listing CSVs
            (domclick, yandex, avito; an older and a newer date each, so
            date resolution has a choice to make)
        documents.parquet  the base corpus grown by one seeded batch per
            cycle (cumulative), new doc_ids continuing after the base
        <other tables>.parquet  links to the base tables
        manifest.json  landed rows/bytes and the rows each platform must
            load, known from how the CSVs were drawn

Documents follow the distribution of tools/gen_soak.py (30-word vocab,
10-100 words, ~0.2% exact and ~0.2% "dup"-marked near duplicates); ingest
batches repeat, nearly repeat or quote known texts at 10% each.
"""
import datetime as dt
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "the",
         "row", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3
FIXED_TABLES = ["region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "embeddings"]


def days(a, b):
    return (dt.datetime(*b) - dt.datetime(*a)).days


def ts_us(start, offsets_s):
    base = int(dt.datetime(*start).replace(tzinfo=dt.timezone.utc).timestamp())
    return pa.array((base + offsets_s) * 1_000_000, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_documents(n, rng, first_id=0, prior=(), exact=0.002, near=0.002, quote=0.0):
    """gen_soak.py's documents; `prior` texts are duplicate sources too.

    A share `exact` of the documents repeats an earlier text, `near` repeats
    one with " dup" appended, and `quote` embeds a run of 8-20 words of one.
    """
    pool = list(prior)
    ids, texts, langs, sources = [], [], [], []
    for i in range(n):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        text = " ".join(words)
        r = rng.random()
        if len(pool) > 10 and r < exact:
            text = pool[rng.randrange(len(pool))]
        elif len(pool) > 10 and r < exact + near:
            text = pool[rng.randrange(len(pool))] + " dup"
        elif len(pool) > 10 and r < exact + near + quote:
            src = pool[rng.randrange(len(pool))].split(" ")
            k = min(len(src), rng.randint(8, 20))
            at = rng.randrange(len(src) - k + 1)
            cut = rng.randrange(len(words) + 1)
            text = " ".join(words[:cut] + src[at:at + k] + words[cut:])
        pool.append(text)
        ids.append(first_id + i)
        texts.append(text)
        langs.append(rng.choice(LANGS))
        sources.append(f"src{rng.randrange(20)}")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def gen_base(out, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(42)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    w = lambda name, cols: pq.write_table(pa.table(cols), f"{out}/{name}.parquet")
    w("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    w("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    w("customer", {"c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                   "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                   "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                   "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
                   "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    w("supplier", {"s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                   "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                   "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                   "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    w("part", {"p_partkey": pa.array(pk, pa.int64()),
               "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                     noun[rng.integers(0, 8, n_part)]),
               "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
               "p_type": types[rng.integers(0, 6, n_part)],
               "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
               "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    w("orders", {"o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                 "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                 "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                 "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
                 "o_orderdate": ts_us((1995, 1, 1), rng.integers(
                     0, days((1995, 1, 1), (2001, 8, 1)) + 1, n_ord) * 86400),
                 "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    w("lineitem", {"l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                   "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                   "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                   "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                   "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                   "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
                   "l_discount": rng.integers(0, 11, n_li) / 100.0,
                   "l_tax": rng.integers(0, 9, n_li) / 100.0,
                   "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                   "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                   "l_shipdate": ts_us((1995, 1, 2), rng.integers(
                       0, days((1995, 1, 2), (2001, 11, 4)) + 1, n_li) * 86400)})
    span_us = 30 * 86400 * 1_000_000
    ev_ts = np.sort(rng.integers(0, span_us, n_ev))
    base_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    w("events", {"event_id": pa.array(np.arange(n_ev), pa.int64()),
                 "ts": pa.array(base_us + ev_ts, pa.timestamp("us")),
                 "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
                 "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                     rng.integers(0, 5, n_ev)],
                 "value": np.round(rng.exponential(50.0, n_ev), 2),
                 "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    v = rng.standard_normal((n_emb, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    w("embeddings", {"vec_id": pa.array(np.arange(n_emb), pa.int64()),
                     "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
                     "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    pq.write_table(gen_documents(n_docs, random.Random(42)), f"{out}/documents.parquet")


# ---- listing CSVs (FIXTURES.md A1-A3) -------------------------------------

def csv_field(v):
    if v is None:
        return ""
    s = str(v)
    if any(c in s for c in ',"\n'):
        s = '"' + s.replace('"', '""') + '"'
    return s


def write_csv(path, header, rows):
    with open(path, "w", encoding="utf-8") as f:
        f.write(",".join(csv_field(h) for h in header) + "\n")
        for r in rows:
            f.write(",".join(csv_field(r.get(h)) for h in header) + "\n")


def words(rng, lo, hi):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


DOMCLICK = ["Object ID", "Price", "Price per sqm", "Mortgage Rate", "Address",
            "Address ID", "Area", "Rooms", "Floor", "Description",
            "Published Date", "Updated Date", "Seller ID", "Seller Name Hash",
            "Company Name", "Company ID", "Property Type", "Category",
            "House Floors", "Deal Type", "Discount Status", "Discount Value",
            "Placement Paid", "Big Card", "Pin Color", "Longitude", "Latitude",
            "Subway Distances", "Subway Names", "Photos URLs",
            "Monthly Payment", "Advance Payment", "Auction Status"]
YANDEX = ["url_offer_yand", "price_offer", "square_total_offer", "address_offer",
          "rooms_offer", "floor_offer", "description_offer", "date_offer",
          "type_offer", "floors_house", "longitude", "latitude", "metro_name",
          "metro_transp", "time_to_metro", "photo_list_offer", "seller",
          "height_offer", "square_rooms_offer", "previous_price_offer"]
AVITO = ["url_offer", "id_offer", "price_offer", "square_total_offer",
         "address_offer", "rooms_offer", "floor_offer", "description_offer",
         "date_offer", "type_offer", "sdelka_offer", "floors_house", "latitude",
         "longitude", "metro_name1", "metro_name2", "metro_name3",
         "distance_to_metro1", "distance_to_metro2", "distance_to_metro3",
         "photo_list_offer", "developer_offer", "seller", "height_offer",
         "square_rooms_offer", "renovation_offer", "built_year_offer",
         "type_house_offer"]


def listing_rows(platform, rng, n, key0, day):
    """n raw rows; returns (rows, rows the pipeline must keep).

    About 3% of rows miss a required field (dropped by the required-field
    filter); on the deduplicated platforms about 5% repeat an earlier
    row's dedup key (dropped by keep-first)."""
    rows, keys, kept = [], [], 0
    date = f"{day[:4]}-{day[4:6]}-{day[6:]} {rng.randrange(24):02d}:{rng.randrange(60):02d}:00"
    for i in range(n):
        lid = key0 + i
        price = rng.randint(2_000_000, 40_000_000)
        area = round(rng.uniform(18, 160), 1)
        rooms = rng.randint(1, 5)
        addr = f"street {rng.randrange(500)} house {rng.randrange(80)}"
        missing = rng.random() < 0.03
        if platform == "domclick":
            r = {"Object ID": lid, "Price": "" if missing else price,
                 "Price per sqm": round(price / area, 2), "Mortgage Rate": 5.5,
                 "Address": addr, "Address ID": rng.randrange(10_000), "Area": area,
                 "Rooms": rooms, "Floor": rng.randint(1, 25),
                 "Description": words(rng, 3, 12), "Published Date": date,
                 "Updated Date": date, "Seller ID": rng.randrange(5000),
                 "Seller Name Hash": f"{rng.getrandbits(64):016x}",
                 "Company Name": f"company {rng.randrange(50)}",
                 "Company ID": "" if rng.random() < 0.3 else rng.randrange(1000),
                 "Property Type": rng.choice(["flat", "house", ""]),
                 "Category": "living", "House Floors": rng.randint(5, 30),
                 "Deal Type": "sale", "Discount Status": "None",
                 "Discount Value": 0, "Placement Paid": rng.choice(["True", "False"]),
                 "Big Card": "False", "Pin Color": 1,
                 "Longitude": round(rng.uniform(37.3, 37.9), 5),
                 "Latitude": round(rng.uniform(55.5, 55.9), 5),
                 "Subway Distances": f"[{rng.randrange(100, 3000)}.0, {rng.randrange(100, 3000)}.5]",
                 "Subway Names": "['Arbatskaya', 'Smolenskaya']",
                 "Photos URLs": f"['/p/{lid}_1.jpg', 'p/{lid}_2.jpg']",
                 "Monthly Payment": rng.randrange(10_000, 90_000),
                 "Advance Payment": 0, "Auction Status": 0}
            kept += not missing
        else:
            dup = keys and rng.random() < 0.05
            key = rng.choice(keys) if dup else lid
            keys.append(key)
            common = {"price_offer": "" if missing else price,
                      "square_total_offer": area, "address_offer": addr,
                      "rooms_offer": rooms, "floor_offer": rng.randint(1, 25),
                      "description_offer": words(rng, 3, 12), "date_offer": date,
                      "floors_house": rng.randint(5, 30),
                      "longitude": round(rng.uniform(37.3, 37.9), 5),
                      "latitude": round(rng.uniform(55.5, 55.9), 5),
                      "photo_list_offer": f"['/p/{key}_1.jpg']", "seller": "agent",
                      "height_offer": 2.7, "square_rooms_offer": round(area * 0.6, 1)}
            if platform == "yandex":
                r = dict(common, url_offer_yand=f"//realty.yandex.ru/offer/{key}/",
                         type_offer=rng.choice(["NEW_FLAT", "SECONDARY"]),
                         metro_name="Arbatskaya", metro_transp="foot",
                         time_to_metro=rng.randint(3, 30),
                         previous_price_offer=price + 100_000)
            else:
                r = dict(common, url_offer=f"https://avito.ru/item/{key}", id_offer=key,
                         type_offer="Flat", sdelka_offer="sale",
                         metro_name1="Arbatskaya", metro_name2="", metro_name3="",
                         distance_to_metro1=rng.randint(100, 3000),
                         distance_to_metro2="", distance_to_metro3="",
                         developer_offer="", renovation_offer="euro",
                         built_year_offer=rng.randint(1950, 2024),
                         type_house_offer="panel")
        rows.append(r)
    if platform != "domclick":
        # keep-first dedup runs before the required-field filter, so a key
        # survives only when its FIRST row has every required field
        first = {}
        for r in rows:
            k = r.get("url_offer_yand") or r.get("url_offer")
            first.setdefault(k, r)
        kept = sum(1 for r in first.values() if r["price_offer"] != "")
    return rows, kept


def gen_snapshots(out, base, seed, cycles, batch_docs, n_listing):
    rng = random.Random(seed)
    corpus = pq.read_table(f"{base}/documents.parquet")
    headers = {"domclick": DOMCLICK, "yandex": YANDEX, "avito": AVITO}
    day0 = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(300))
    for c in range(cycles):
        snap = os.path.join(out, f"cycle_{c:03d}")
        land = os.path.join(snap, "landing")
        os.makedirs(land, exist_ok=True)
        today = (day0 + dt.timedelta(days=c)).strftime("%Y%m%d")
        older = (day0 + dt.timedelta(days=c - 1)).strftime("%Y%m%d")
        expected, landed_rows, landed_bytes = {}, 0, 0
        for p, header in headers.items():
            for day, n in ((older, max(4, n_listing // 8)), (today, n_listing)):
                rows, kept = listing_rows(p, rng, n, 1_000_000 * (c + 1), day)
                path = os.path.join(land, f"{p}_{day}.csv")
                write_csv(path, header, rows)
                if day == today:
                    expected[p] = kept
                    landed_rows += n
                    landed_bytes += os.path.getsize(path)
        first_id = corpus.num_rows and int(pc.max(corpus["doc_id"]).as_py()) + 1
        # A refresh re-crawls: a tenth of each batch repeats a known text,
        # a tenth nearly does and a tenth quotes one, so the incremental
        # dedup (st06) and the substring cut (st08) have work and output.
        batch = gen_documents(batch_docs, rng, first_id,
                              prior=corpus["text"].to_pylist()[-2000:],
                              exact=0.1, near=0.1, quote=0.1)
        corpus = pa.concat_tables([corpus, batch])
        docs = os.path.join(snap, "documents.parquet")
        pq.write_table(corpus, docs)
        landed_rows += batch.num_rows
        landed_bytes += batch.nbytes
        for t in FIXED_TABLES:
            dst = os.path.join(snap, f"{t}.parquet")
            if not os.path.lexists(dst):
                os.symlink(os.path.abspath(f"{base}/{t}.parquet"), dst)
        with open(os.path.join(snap, "manifest.json"), "w") as f:
            json.dump({"date": today, "expected_rows": expected,
                       "landed_rows": landed_rows, "landed_bytes": landed_bytes,
                       "documents": corpus.num_rows, "batch_docs": batch.num_rows}, f)


def main(argv):
    if len(argv) >= 3 and argv[0] == "base":
        gen_base(argv[1], float(argv[2]))
    elif len(argv) >= 7 and argv[0] == "snapshots":
        gen_snapshots(argv[1], argv[2], int(argv[3]), int(argv[4]), int(argv[5]), int(argv[6]))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
