"""Seeded input generators for the benchmark.

Two families, both a pure function of (scale, seed):

* ``tpch`` writes the ten TPC-H-ish tables the engine's QDefs read
  (region nation customer supplier part orders lineitem events documents
  embeddings), one parquet file each, with the same arrow schema and the
  same value distributions as the engine's gate fixtures: uniform keys and
  measures, word-salad documents with ~5% near-duplicates ("<text> dup")
  and a few exact copies, unit-norm 64-d embeddings with 10 labels.
* ``airbnb`` writes M monthly raw feeds for the five-stage pipeline:
  CSV listings with raw (mixed-case, spaced) headers, junk columns and
  re-scrapes; CSV reviews in several languages with sentiment words,
  null/empty comments, boundary re-scrapes and late reviews behind the
  watermark; ECA&D-shaped temperature and rain series. The same rows are
  also written as parquet "replay" tables for the DuckDB model check.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DOC_WORDS = ("a the agg batch big column customer data fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table value vector window").split()
PART_ADJ = "blue cold hot large old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring widget".split()
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_LANGS = ["en", "zh", "de", "es", "fr"]
DOC_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _days(rng, n, start, end):
    """n random midnight timestamps in [start, end] as datetime64[us]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    return (np.datetime64(start, "us") + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _word_salad(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi + 1, n)
    words = np.array(DOC_WORDS)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]


def tpch(out_dir, sf, seed):
    """Write the ten fixture tables at scale factor ``sf`` into out_dir."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, s = pa.int32(), pa.int64(), pa.string()

    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        f"{out_dir}/nation.parquet")
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)], s)}),
        f"{out_dir}/customer.parquet")
    pq.write_table(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out_dir}/supplier.parquet")
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    pq.write_table(pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out_dir}/part.parquet")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)], s)}),
        f"{out_dir}/orders.parquet")
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)], s),
        "l_shipdate": pa.array(_days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
                               pa.timestamp("us"))}),
        f"{out_dir}/lineitem.parquet")
    # events: one month of strictly increasing microsecond timestamps
    gaps = rng.integers(1, int(2 * 30 * 86400e6 / n_ev), n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)], s),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)}),
        f"{out_dir}/events.parquet")
    texts = _word_salad(rng, n_docs)
    # ~5% near-duplicates of another document, plus a few exact copies
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    for i in np.flatnonzero(rng.random(n_docs) < 0.002):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(np.array(DOC_LANGS)[rng.choice(5, n_docs, p=DOC_LANG_P)], s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)}),
        f"{out_dir}/documents.parquet")
    vec = rng.normal(size=(n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)}),
        f"{out_dir}/embeddings.parquet")


# ---- Airbnb monthly feeds ----

# ECA&D station ids of the reference's four cities (apps/preprocess_data.py)
STATIONS = [(593, "Amsterdam"), (41, "Berlin"), (1860, "London"), (11249, "Paris")]
REVIEW_WORDS = {
    "en": "the a of and to in is it you that was for on with this".split(),
    "fr": "le la les de des et un une est que pour dans qui pas sur".split(),
    "de": "der die das und ist nicht ein eine mit auf von zu den im".split(),
    "nl": "het een en van dat op te zijn met voor niet aan er maar".split(),
    "es": "el los las y que en una es por con para no se su al".split(),
}
FILLER = "place host stay room flat view bed street night city kitchen location".split()
POSITIVE = "good great clean friendly perfect nice comfortable quiet cozy".split()
NEGATIVE = "bad dirty noisy broken rude poor cold cramped overpriced".split()
ZH_TEXT = ["我们的房间很好", "这是一个好地方", "他们都来了", "在中心的公寓"]
LISTING_DROP_COLS = ["junk_col", "square_feet"]
HOST_COLS = ["host_id", "host_name", "host_since", "host_city"]


def _comments(rng, k):
    """k review comments: ~3% null, ~2% blank, ~7% Chinese, the rest
    word salads over one language's stopwords plus filler and sentiment
    words; some span lines and carry embedded quotes."""
    langs = list(REVIEW_WORDS)
    pools = [REVIEW_WORDS[l] * 2 + FILLER + POSITIVE + NEGATIVE for l in langs]
    kind = rng.random(k)
    lang = rng.choice(len(langs), k, p=[0.55, 0.12, 0.12, 0.09, 0.12])
    lens = rng.integers(8, 40, k)
    picks = rng.integers(0, 1 << 30, (k, 40))
    zh = rng.integers(0, len(ZH_TEXT), k)
    multi = rng.random(k) < 0.1
    out = []
    for i in range(k):
        if kind[i] < 0.03:
            out.append(None)
        elif kind[i] < 0.05:
            out.append("   ")
        elif kind[i] < 0.12:
            out.append(ZH_TEXT[zh[i]])
        else:
            pool = pools[lang[i]]
            text = " ".join(pool[j % len(pool)] for j in picks[i, :lens[i]])
            out.append(text.replace(" ", "\n", 1) + ' "really"' if multi[i] else text)
    return out


def airbnb(out_dir, months, listings, reviews, seed):
    """Write ``months`` monthly feeds (``listings`` rows and ~``reviews``
    rows each) plus the weather series under out_dir, and the replay
    tables under out_dir/replay."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(f"{out_dir}/replay", exist_ok=True)
    universe = int(listings * 1.5)
    n_hosts = max(universe // 3, 1)
    cities = [c for _, c in STATIONS]
    host_of = rng.integers(0, n_hosts, universe)
    city_of = rng.integers(0, len(cities), universe)
    host_city = rng.integers(0, len(cities), n_hosts)
    host_since = _days(rng, n_hosts, dt.date(2010, 1, 1), dt.date(2019, 12, 31))
    n_reviewers = max(reviews, 10)
    next_review = 0
    prev = None  # previous month's reviews (for re-scrapes)
    all_l, all_r = [], []
    for m in range(1, months + 1):
        month_start = dt.datetime(2021, m, 1)
        scraped = np.datetime64(month_start + dt.timedelta(days=14), "us")
        ids = np.sort(rng.choice(universe, listings, replace=False))
        n = len(ids)
        lt = pa.table({
            "ID": pa.array(ids, pa.int64()),
            "Host ID": pa.array(host_of[ids], pa.int64()),
            "Host Name": [f"host{h}_m{m}_{int(v)}" for h, v in
                          zip(host_of[ids], rng.integers(0, 3, n))],
            "Host Since": pa.array(host_since[host_of[ids]], pa.timestamp("us")),
            "Host City": pa.array(np.array(cities)[host_city[host_of[ids]]]),
            "City": pa.array(np.array(cities)[city_of[ids]]),
            "Name": [f"listing {i} {FILLER[int(k)]}" for i, k in
                     zip(ids, rng.integers(0, len(FILLER), n))],
            "Price": np.round(rng.uniform(20, 400, n), 2),
            "Room Type": pa.array(np.array(["Entire home/apt", "Private room", "Shared room"])
                                  [rng.integers(0, 3, n)]),
            "Accommodates": pa.array(rng.integers(1, 9, n), pa.int32()),
            "Junk Col": ["drop me"] * n,
            "Square Feet": pa.array(rng.integers(200, 2000, n), pa.int32()),
            "Last Scraped": pa.array(np.full(n, scraped), pa.timestamp("us")),
        })
        mdir = f"{out_dir}/{m:02d}"
        os.makedirs(mdir, exist_ok=True)
        pacsv.write_csv(lt, f"{mdir}/listings.csv")
        all_l.append(lt.append_column("month", pa.array([m] * n, pa.int32())))

        # this month's fresh reviews, on listings scraped this month
        k = reviews
        rid = np.arange(next_review, next_review + k)
        next_review += k
        rl = ids[rng.integers(0, n, k)]
        secs = rng.integers(0, 28 * 86400, k)
        rdate = np.datetime64(month_start, "us") + (secs * 1_000_000).astype("timedelta64[us]")
        rev = rng.integers(0, n_reviewers, k)
        parts = [dict(review_id=rid, listing_id=rl, date=rdate, reviewer_id=rev,
                      comments=_comments(rng, k))]
        if prev is not None:
            # boundary re-scrapes: a slice of last month's reviews seen again
            # with a date at/after the watermark (newest wins in the merge)
            pick = rng.choice(len(prev["review_id"]), max(k // 50, 1), replace=False)
            wm = prev["date"].max()
            late = np.datetime64(month_start, "us") + \
                (rng.integers(0, 28 * 86400, len(pick)) * 1_000_000).astype("timedelta64[us]")
            parts.append(dict(review_id=prev["review_id"][pick],
                              listing_id=prev["listing_id"][pick],
                              date=np.maximum(late, wm), reviewer_id=prev["reviewer_id"][pick],
                              comments=[prev["comments"][int(i)] for i in pick]))
            # late reviews behind the watermark: dropped by the delta filter
            pick = rng.choice(len(prev["review_id"]), max(k // 50, 1), replace=False)
            parts.append(dict(review_id=np.arange(next_review, next_review + len(pick)),
                              listing_id=prev["listing_id"][pick],
                              date=prev["date"][pick] - np.timedelta64(3600, "s").astype(
                                  "timedelta64[us]"),
                              reviewer_id=prev["reviewer_id"][pick],
                              comments=[prev["comments"][int(i)] for i in pick]))
            next_review += len(pick)
        cur = {c: (np.concatenate([p[c] for p in parts]) if c != "comments"
                   else sum((list(p[c]) for p in parts), []))
               for c in parts[0]}
        rt = pa.table({
            "listing_id": pa.array(cur["listing_id"], pa.int64()),
            "id": pa.array(cur["review_id"], pa.int64()),
            "date": pa.array(cur["date"], pa.timestamp("us")),
            "reviewer_id": pa.array(cur["reviewer_id"], pa.int64()),
            "reviewer_name": [f"guest{r}" for r in cur["reviewer_id"]],
            "comments": pa.array(cur["comments"], pa.string()),
        })
        pacsv.write_csv(rt, f"{mdir}/reviews.csv")
        all_r.append(rt.append_column("month", pa.array([m] * len(rt), pa.int32())))
        prev = {"review_id": cur["review_id"][:k], "listing_id": cur["listing_id"][:k],
                "date": cur["date"][:k], "reviewer_id": cur["reviewer_id"][:k],
                "comments": cur["comments"][:k]}

    # weather: daily series per station, 2008-12-01 .. end of the feed
    # months (dates up to 2009-01-01 exercise the range filter); a few
    # days exist in one series only (the inner-join drop path)
    days = np.arange(np.datetime64("2008-12-01"), np.datetime64(f"2021-{months:02d}-28"))
    grid_st = np.repeat([s for s, _ in STATIONS], len(days))
    grid_d = np.tile(days, len(STATIONS))
    ds = [d.astype(dt.date).strftime("%Y%m%d") for d in grid_d]
    keep_t = rng.random(len(ds)) > 0.01
    keep_r = rng.random(len(ds)) > 0.01
    wdir = f"{out_dir}/weather"
    os.makedirs(wdir, exist_ok=True)
    temp = pa.table({"staid": pa.array(grid_st, pa.int32()), "date": ds,
                     "tg": pa.array(rng.integers(-100, 300, len(ds)), pa.int32())})
    rain = pa.table({"staid": pa.array(grid_st, pa.int32()), "date": ds,
                     "rr": pa.array(rng.integers(0, 200, len(ds)), pa.int32())})
    temp, rain = temp.filter(pa.array(keep_t)), rain.filter(pa.array(keep_r))
    pacsv.write_csv(temp, f"{wdir}/temp.csv")
    pacsv.write_csv(rain, f"{wdir}/rain.csv")

    pq.write_table(pa.concat_tables(all_l), f"{out_dir}/replay/raw_listings.parquet")
    pq.write_table(pa.concat_tables(all_r), f"{out_dir}/replay/raw_reviews.parquet")
    pq.write_table(temp, f"{out_dir}/replay/temp.parquet")
    pq.write_table(rain, f"{out_dir}/replay/rain.parquet")
    pq.write_table(pa.table({"staid": pa.array([s for s, _ in STATIONS], pa.int32()),
                     "city": [c for _, c in STATIONS]}),
           f"{out_dir}/replay/stations.parquet")
