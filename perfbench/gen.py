"""Seeded input generators for the nightly-window benchmark.

Each generator writes the files the program reads and returns the planted
ground truth the benchmark checks every operation against. The program
never sees the seed, only the files.
"""
import csv
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ── warehouse_nights: the crawler's raw CSV feed ───────────────────────────

CRAWLER_COLUMNS = [
    "ID", "TEN", "LINK", "LINK_ANH", "GIA_CU", "GIA_MOI", "KICH_THUOC_MAN_HINH",
    "RAM", "BO_NHO", "GIAM_GIA_SMEMBER", "GIAM_GIA_SSTUDENT", "GIAM_GIA_PHAN_TRAM",
    "COUPON", "QUA_TANG", "DANH_GIA", "DA_BAN", "SITE_NAME", "SITE_ID"]
BRANDS = ["iPhone", "Samsung Galaxy", "Xiaomi Redmi", "OPPO Reno", "vivo Y",
          "realme C", "Nokia G", "ASUS ROG Phone", "Tecno Spark", "Điện thoại Masstel"]
WAREHOUSE_DAY1 = dt.date(2025, 11, 23)


def _price(vnd, fmt):
    """The crawler's price spellings: '12.990.000đ', '12,990,000 ₫', '12990000'."""
    if fmt == 0:
        return f"{vnd:,}".replace(",", ".") + "đ"
    if fmt == 1:
        return f"{vnd:,} ₫"
    return str(vnd)


def _product(rng, pid):
    brand = BRANDS[pid % len(BRANDS)]
    ram = rng.choice([4, 6, 8, 12, 16])
    rom = rng.choice([64, 128, 256, 512])
    name = f"{brand} {pid} {ram}GB/{rom}GB" + (", Chính hãng" if pid % 7 == 0 else "")
    slug = f"dien-thoai-{pid}"
    return {
        "ID": pid,
        "TEN": name,
        # relative links are prefixed by the cleaner, absolute ones kept
        "LINK": f"/{slug}.html" if pid % 5 == 0 else f"https://cellphones.com.vn/{slug}.html",
        "LINK_ANH": f"https://cdn2.cellphones.com.vn/358x/media/catalog/{slug}.jpg",
        # dirty values, fixed per product: empty / '-1' old price, screen
        # sizes without a number, RAM/storage spellings the parsers split
        "GIA_CU": "" if pid % 11 == 0 else ("-1" if pid % 13 == 0 else
                                           _price(rng.randint(3, 40) * 1_000_000, pid % 3)),
        "base": rng.randint(2, 35) * 1_000_000 + rng.randint(0, 99) * 10_000,
        "fmt": pid % 3,
        "KICH_THUOC_MAN_HINH": "" if pid % 17 == 0 else
        rng.choice(["6.1 inches", "6.7 inches", '6.5"', "6,8 inch", "màn hình lớn"]),
        "RAM": "" if pid % 19 == 0 else rng.choice([f"{ram} GB", f"{ram}GB"]),
        "BO_NHO": "1 TB" if rom == 512 and pid % 2 else f"{rom} GB",
        "GIAM_GIA_SMEMBER": f"{rng.randint(0, 500)}.000đ",
        "GIAM_GIA_SSTUDENT": "",
        "GIAM_GIA_PHAN_TRAM": f"{rng.randint(0, 30)}%",
        "COUPON": "",
        "QUA_TANG": "Tặng ốp lưng" if pid % 4 == 0 else "",
        "DANH_GIA": f"{rng.randint(30, 50) / 10}",
        "DA_BAN": str(rng.randint(0, 5000)),
        "SITE_NAME": "cellphones",
        "SITE_ID": "1",
    }


def warehouse(seed, nights, products, out_dir):
    """Writes one landing dir per night; returns the nightly plan + truth.

    Per night: a ~4% re-price share (SCD2 expire + re-insert), new
    products, ~2% of the catalogue vanishing for the night (they stay
    live: the reference SCD2 never expires absent keys), and a few rows
    the quality filter rejects.
    """
    rng = random.Random(seed)
    catalogue = {pid: _product(rng, pid) for pid in range(1, products + 1)}
    price = {pid: p["base"] for pid, p in catalogue.items()}
    live = {}  # lower(TEN) -> GIA_MOI raw string of the live row
    next_id = products + 1
    plan = []
    for n in range(1, nights + 1):
        day = WAREHOUSE_DAY1 + dt.timedelta(days=n - 1)
        if n > 1:
            for _ in range(max(1, products // 100)):
                catalogue[next_id] = _product(rng, next_id)
                price[next_id] = catalogue[next_id]["base"]
                next_id += 1
            for pid in rng.sample(sorted(catalogue), max(1, len(catalogue) // 25)):
                price[pid] += rng.choice([-1, 1]) * rng.randint(1, 50) * 10_000
        present = [pid for pid in sorted(catalogue) if n == 1 or rng.random() >= 0.02]
        rows, new, changed = [], 0, 0
        for pid in present:
            p = catalogue[pid]
            gia_moi = _price(price[pid], p["fmt"])
            key = p["TEN"].lower()
            if key not in live:
                new += 1
            elif live[key] != gia_moi:
                changed += 1
            live[key] = gia_moi
            rows.append({**{c: p[c] for c in CRAWLER_COLUMNS if c in p}, "GIA_MOI": gia_moi})
        rejects = 3 + n % 3
        for j in range(rejects):
            rows.append({"ID": 900_000 + n * 10 + j, "TEN": "", "LINK": "", "LINK_ANH": "x.jpg",
                         "GIA_MOI": "0đ", "SITE_ID": "1"})
        rng.shuffle(rows)
        landing = os.path.join(out_dir, f"night_{n:02d}")
        os.makedirs(landing)
        path = os.path.join(landing, f"products_raw_{day:%Y_%m_%d}.csv")
        with open(path, "w", newline="", encoding="utf-8-sig") as f:
            w = csv.DictWriter(f, fieldnames=CRAWLER_COLUMNS, restval="")
            w.writeheader()
            w.writerows(rows)
        plan.append({
            "night": n, "inputs": [landing], "run_ts": f"{day} 18:51:37",
            "rows": len(rows),
            "truth": {"processed": len(present), "new": new, "expired": changed,
                      "live": len(live), "nights": n},
        })
    return plan


# ── corpus_nights: document increments + their embeddings ─────────────────

CORPUS_DAY1 = dt.date(2026, 3, 1)
EMBED_DIM = 32
_SYLLABLES = ["ka", "lo", "mi", "ren", "tu", "sa", "vel", "dor", "pan", "ghi", "bru",
              "ost", "nel", "qua", "fir", "zen", "mor", "tal", "ved", "cus", "lin", "par"]


def _vocab(rng, size):
    words = set()
    while len(words) < size:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
        words.add(w)
    return sorted(words)


def _embed(rng_np, topics, scale=1.0):
    """A unit vector near one of the topic directions (two docs of one topic
    sit near cosine 0.5, far from the semantic-dup threshold), times
    `scale`."""
    v = topics[rng_np.integers(len(topics))] + rng_np.standard_normal(EMBED_DIM) / EMBED_DIM ** 0.5
    return (scale * v / np.linalg.norm(v)).astype(np.float32)


def corpus(seed, nights, fresh, out_dir, drift_night):
    """Writes docs + embeddings per night; returns the nightly plan + truth.

    Planted per night (after night 1): cross-day exact copies, cross-day
    near-dups (one word swapped), within-day exact copies and near-dups,
    semantic dups (new text, a published doc's vector), quality rejects
    (min_tokens, alpha_ratio, blocklist) and docs carrying a boilerplate
    paragraph first published on an earlier night. On `drift_night` every
    vector is drawn at 3x the usual norm, which trips the IVF retrain.
    """
    rng = random.Random(seed)
    rng_np = np.random.default_rng(seed)
    vocab = _vocab(rng, 6000)
    topics = rng_np.standard_normal((12, EMBED_DIM))
    topics /= np.linalg.norm(topics, axis=1, keepdims=True)

    def paragraph(k):
        return " ".join(rng.choice(vocab) for _ in range(k))

    boiler = [paragraph(24) for _ in range(6)]
    published = []  # (doc_id, text, vector) of published, boilerplate-free docs
    seen_paras = set()
    plan = []
    for n in range(1, nights + 1):
        day = CORPUS_DAY1 + dt.timedelta(days=n - 1)
        scale = 3.0 if n == drift_night else 1.0
        next_id = n * 100_000
        docs = []  # (doc_id, text, source, vector, kind)

        def add(text, vec, kind):
            nonlocal next_id
            next_id += 1
            docs.append((next_id, text, f"src{next_id % 4}", vec, kind))
            return next_id

        fresh_docs = []
        for j in range(fresh):
            paras = [paragraph(rng.randint(25, 40)) for _ in range(rng.randint(2, 4))]
            boiler_doc = j % 10 == 3
            if boiler_doc:
                paras.insert(rng.randint(0, len(paras)), boiler[rng.randrange(len(boiler))])
            text = "\n\n".join(paras)
            did = add(text, _embed(rng_np, topics, scale), "boiler" if boiler_doc else "fresh")
            if not boiler_doc:
                fresh_docs.append((did, text))
        plants = {"exact": 0, "near": 0, "sem": 0, "quality": 0}
        if n > 1:
            k = max(1, fresh // 25)
            for _ in range(k):  # cross-day exact copies
                _, text, _ = rng.choice(published)
                add(text, _embed(rng_np, topics, scale), "exact")
                plants["exact"] += 1
            for _ in range(k):  # cross-day near-dups
                _, text, _ = rng.choice(published)
                add(_swap_word(rng, text, vocab), _embed(rng_np, topics, scale), "near")
                plants["near"] += 1
            for _ in range(k):  # semantic dups: unseen text, a published vector
                _, _, vec = rng.choice(published)
                noisy = vec + (0.01 * rng_np.standard_normal(EMBED_DIM)).astype(np.float32)
                add(paragraph(40), noisy.astype(np.float32), "sem")
                plants["sem"] += 1
        k = max(1, fresh // 50)
        for _ in range(k):  # within-day exact copies and near-dups (higher ids)
            _, text = rng.choice(fresh_docs)
            add(text, _embed(rng_np, topics, scale), "exact")
            plants["exact"] += 1
            _, text = rng.choice(fresh_docs)
            add(_swap_word(rng, text, vocab), _embed(rng_np, topics, scale), "near")
            plants["near"] += 1
        rejects = ["ka lo mi", "%%% ### @@@ !!! *** ^^^ &&& ((( ))) ~~~ ||| ---",
                   "lorem ipsum " + paragraph(30)]
        for text in rejects:
            add(text, _embed(rng_np, topics, scale), "quality")
            plants["quality"] += 1
        # paragraph excision truth over the docs that reach that stage, in
        # doc-id order: a paragraph seen on a prior night or earlier tonight
        # is cut
        survivors = [d for d in docs if d[4] in ("fresh", "boiler")]
        n_paras = excised = 0
        for did, text, _, vec, kind in survivors:
            for p in text.split("\n\n"):
                n_paras += 1
                if p in seen_paras:
                    excised += 1
                seen_paras.add(p)
            if kind == "fresh":
                published.append((did, text, vec / np.linalg.norm(vec)))
        night_dir = os.path.join(out_dir, f"night_{n:02d}")
        os.makedirs(night_dir)
        rng.shuffle(docs)
        pq.write_table(pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": [d[1] for d in docs],
            "source": [d[2] for d in docs],
        }), os.path.join(night_dir, "docs.parquet"))
        pq.write_table(pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "embedding": pa.array([d[3].tolist() for d in docs], pa.list_(pa.float32())),
        }), os.path.join(night_dir, "emb.parquet"))
        plan.append({
            "night": n, "inputs": [os.path.join(night_dir, "docs.parquet"),
                                   os.path.join(night_dir, "emb.parquet")],
            "run_ts": f"{day} 02:00:00",
            "rows": len(docs),
            "truth": {"input": len(docs), "quality": plants["quality"],
                      "exact": plants["exact"], "near": plants["near"], "sem": plants["sem"],
                      "paras": n_paras, "excised": excised, "published": len(survivors),
                      "retrain": n == drift_night and n > 1},
        })
    return plan


def _swap_word(rng, text, vocab):
    words = text.split(" ")
    i = rng.randrange(len(words))
    if "\n" in words[i]:
        i = 0
    words[i] = rng.choice(vocab)
    return " ".join(words)


# ── query_mix: TPC-H-shaped tables ────────────────────────────────────────

def tpch(seed, sf, out_dir):
    """The star schema the SparkEntry queries read, at scale factor `sf`,
    with the column types and value domains of the project's test data."""
    g = np.random.default_rng(seed)
    os.makedirs(out_dir)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def ts(days_from, base):
        return pa.array((np.datetime64(base, "us") + days_from.astype("timedelta64[D]")),
                        pa.timestamp("us"))

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[g.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adjectives = ["small", "large", "red", "blue", "green", "hot", "cold", "old"]
    nouns = ["ring", "widget", "bolt", "plate", "gear", "anvil", "valve", "spring"]
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[g.integers(0, 6, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    order_day = g.integers(0, 2404, n_ord)
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": ts(order_day, "1995-01-01"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[g.integers(0, 5, n_ord)]})
    lines = g.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    write("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": g.integers(0, 11, n_li) / 100,
        "l_tax": g.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_li)],
        "l_shipdate": ts(np.repeat(order_day, lines) + g.integers(1, 122, n_li), "1995-01-01")})
    n_ev = int(1_000_000 * sf)
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") +
                       np.sort(g.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[g.integers(0, 5, n_ev)],
        "value": money(0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]})
    return n_li
