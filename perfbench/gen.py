"""Seeded input generators and their truth, written without graft.

Each generator writes its inputs into a directory and, next to them, a
truth file computed by plain Python: what a correct run must produce.

- etl_inputs: a Zillow-Z1-shaped listings CSV with planted dirt (rows
  whose UDF throws and is resolved, rows that throw and are ignored,
  rows that throw and stay in the error channel, lines that fail the
  CSV parse) and the expected sink rows and exception counts.
- corpus_inputs: a document corpus (Zipf vocabulary, planted exact
  duplicates, planted near duplicates on both sides of the Jaccard
  threshold, one embedding per document with planted near-duplicate
  clusters on both sides of the cosine threshold) and the expected
  pairs and survivor ids.
- table_inputs: the TPC-H-ish star schema plus events, documents and
  embeddings that the registry queries read, in the column layout of
  the repository's test data.
"""
import json
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- ETL

ETL_CITIES = ["bOSTON", "new YORK", "seaTTLe", "ausTIN", "denVER", "CHICAGO",
              "portland", "miAMI"]
ETL_STATES = ["MA", "NY", "WA", "TX", "CO", "IL", "OR", "FL"]
ETL_STREETS = ["Main", "Oak", "Pine", "Maple", "Cedar", "Elm", "Lake", "Hill"]
ETL_TITLES = ["House For Sale", "House Sold", "House For Rent",
              "Condo For Rent", "Apartment For Sale", "Townhouse For Sale"]

# planted dirt, as shares of all lines
ETL_MALFORMED = 0.02      # postal code that is not an int: CSV parse error
ETL_STUDIO = 0.04         # "studio" bedrooms: UDF throws, resolved to 0
ETL_BAD_BATHS = 0.01      # "? ba": UDF throws, ignored
ETL_BAD_SQFT = 0.01       # "1,2x4 sqft": UDF throws, left in the error channel
ETL_BAD_RENT = 0.03       # rent price without "/mo": full-row map throws

PARSE_ERR = "graft.api.CsvParseError"
NFE = "java.lang.NumberFormatException"
SIOOBE = "java.lang.StringIndexOutOfBoundsException"

_JAVA_INT = re.compile(r"^[+-]?[0-9]+$")


def java_int(s):
    """Integer.parseInt: digits with an optional sign, 32-bit range."""
    if not _JAVA_INT.match(s):
        raise ValueError(s)
    v = int(s)
    if not -2**31 <= v < 2**31:
        raise ValueError(s)
    return v


def _csv_field(s):
    return '"' + s.replace('"', '""') + '"' if ("," in s or '"' in s) else s


def _after_last_comma(s0):
    j = s0.rfind(",")
    return (s0 if j < 0 else s0[j + 2:]).strip()


def etl_expected(fields):
    """Run one parsed line through the cleaning chain the benchmark
    applies with graft. Returns ("row", tuple) for a row that reaches the
    sink, ("drop", None) for one a filter or ignore() removes, and
    ("error", class) for one left in the error channel."""
    url, postal, address, city, state, facts, title, price = fields
    try:
        postal = java_int(postal)
    except ValueError:
        return "error", PARSE_ERR
    i = facts.find(" bd")
    try:
        bedrooms = java_int(_after_last_comma(facts if i < 0 else facts[:i]))
    except ValueError:
        bedrooms = 0  # resolve(NumberFormatException) -> 0
    if not bedrooms < 10:
        return "drop", None
    t = title.lower()
    ty = "unknown"
    if "condo" in t or "apartment" in t:
        ty = "condo"
    if "house" in t:
        ty = "house"
    if ty != "house":
        return "drop", None
    zipcode = "%05d" % postal
    city = city[:1].upper() + city[1:].lower()
    i = facts.find(" ba")
    try:
        bathrooms = java_int(_after_last_comma(facts if i < 0 else facts[:i]))
    except ValueError:
        return "drop", None  # ignore(NumberFormatException)
    i = facts.find(" sqft")
    s0 = facts if i < 0 else facts[:i]
    j = s0.rfind("ba ,")
    try:
        sqft = java_int((s0 if j < 0 else s0[j + 5:]).replace(",", "").strip())
    except ValueError:
        return "error", NFE
    if "sale" in t:
        offer = "sale"
    elif "rent" in t:
        offer = "rent"
    elif "sold" in t:
        offer = "sold"
    else:
        offer = t
    try:
        if offer == "sold":
            k = facts.find("Price/sqft: $") + len("Price/sqft: $")
            p = java_int(facts[k:].strip()) * sqft
        elif offer == "rent":
            slash = price.rfind("/")
            if slash < 1:
                return "error", SIOOBE
            p = java_int(price[1:slash].replace(",", ""))
        else:
            p = java_int(price[1:].replace(",", ""))
    except ValueError:
        return "error", NFE
    if not 100000 < p <= 20000000:
        return "drop", None
    return "row", (url, zipcode, address, city, state, str(bedrooms),
                   str(bathrooms), str(sqft), offer, ty, str(p))


def etl_inputs(out_dir, seed, n_lines, n_warm):
    """Listings CSV (header + n_lines lines) and truth.json, and under
    warm/ the first n_warm lines with their own truth, for the warm-up."""
    rng = random.Random(seed)
    lines = ["url,postal,address,city,state,facts,title,price"]
    rows, errors, outcomes = [], {}, {"row": 0, "drop": 0, "error": 0}
    for k in range(n_lines):
        bd = rng.randint(1, 12)
        ba = rng.randint(1, 4)
        sqft = rng.randint(500, 3499)
        title = rng.choice(ETL_TITLES)
        rent = "Rent" in title
        sold = "Sold" in title
        dirt = rng.random()
        d_malformed = dirt < ETL_MALFORMED
        dirt -= ETL_MALFORMED
        d_studio = 0 <= dirt < ETL_STUDIO
        dirt -= ETL_STUDIO
        d_baths = 0 <= dirt < ETL_BAD_BATHS
        dirt -= ETL_BAD_BATHS
        d_sqft = 0 <= dirt < ETL_BAD_SQFT
        dirt -= ETL_BAD_SQFT
        d_rent = rent and 0 <= dirt < ETL_BAD_RENT
        postal = "n/a" if d_malformed else str(rng.randint(1, 99998))
        beds = "studio" if d_studio else "%d bds" % bd
        baths = "?" if d_baths else str(ba)
        area = "1,2x4" if d_sqft else "{:,}".format(sqft)
        facts = "%s , %s ba , %s sqft" % (beds, baths, area)
        if rent:
            p = rng.randint(500, 40000) * 100
            price = "${:,}".format(p // 100) + ("" if d_rent else "/mo")
        elif sold:
            ppsf = rng.randint(20, 2000)
            facts += " , Price/sqft: $%d" % ppsf
            price = "${:,}".format(ppsf * sqft)
        else:
            price = "${:,}".format(rng.randint(50000, 30000000))
        fields = ["https://ex.com/%d" % k, postal,
                  "%d %s St" % (rng.randint(1, 9999), rng.choice(ETL_STREETS)),
                  rng.choice(ETL_CITIES), rng.choice(ETL_STATES), facts, title,
                  price]
        lines.append(",".join(_csv_field(f) for f in fields))
        kind, val = etl_expected(fields)
        outcomes[kind] += 1
        if kind == "row":
            rows.append(val)
        elif kind == "error":
            errors[val] = errors.get(val, 0) + 1
        if k + 1 == n_warm:
            warm = (list(lines), list(rows), dict(errors), dict(outcomes))
    for d, (ls, rs, es, os_) in ((out_dir, (lines, rows, errors, outcomes)),
                                 (os.path.join(out_dir, "warm"), warm)):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "listings.csv"), "w") as f:
            f.write("\n".join(ls) + "\n")
        with open(os.path.join(d, "truth.json"), "w") as f:
            json.dump({"lines": len(ls) - 1, "exception_counts": es,
                       "outcomes": os_, "rows": sorted(rs)}, f)


# ------------------------------------------------------------- corpus

MINHASH_K = 3
JACCARD_T = 0.8
COSINE_T = 0.9
EMB_DIM = 64


def shingles(text, k=MINHASH_K):
    """Distinct word k-shingles: space-trimmed text split on whitespace
    runs, as graft documents its shingle kernel."""
    toks = re.split(r"\s+", text.strip(" ")) if text.strip(" ") else []
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def cosine(u, v):
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    return float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))


def normalize(text):
    """lower(regexp_replace(trim(text), '\\s+', ' ')) with a space-only trim."""
    return re.sub(r"\s+", " ", text.strip(" ")).lower()


def _components(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def corpus_inputs(out_dir, seed, n_docs):
    """corpus.parquet (doc_id, text, emb) and truth.json."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, rng.integers(3, 10)))
                    for _ in range(24000)})
    rng.shuffle(vocab)
    vocab = np.array(vocab[:20000])
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    p /= p.sum()

    pool = vocab[rng.choice(len(vocab), size=n_docs * 80, p=p)]
    pos = [0]

    def words(n):
        """the next n words of one Zipf-distributed token stream"""
        if pos[0] + n > len(pool):
            pos[0] = 0
        pos[0] += n
        return list(pool[pos[0] - n:pos[0]])

    def rand_vec():
        return rng.standard_normal(EMB_DIM).astype(np.float32)

    texts, embs = [], []
    exact_groups, near_groups, emb_groups = [], [], []

    def add(text, emb):
        texts.append(text)
        embs.append(emb)
        return len(texts) - 1

    def mutate(toks, positions):
        out = list(toks)
        for pos in positions:
            out[pos] = vocab[rng.integers(len(vocab))]
        return out

    n_exact = n_docs // 40      # groups of 2-4 copies
    n_near = n_docs // 40       # base plus 1-3 variants
    n_emb = n_docs // 50        # clusters of 2-3 vectors
    while len(texts) < n_docs:
        base = words(int(rng.integers(24, 41)))
        if len(exact_groups) < n_exact:
            g = [add(" ".join(base), rand_vec())]
            for _ in range(int(rng.integers(1, 4))):
                v = list(base)
                if rng.random() < 0.5:
                    v[0] = v[0].upper()
                sep = "  " if rng.random() < 0.5 else " "
                g.append(add(sep.join(v) + " " * int(rng.integers(0, 3)), rand_vec()))
            exact_groups.append(g)
        elif len(near_groups) < n_near:
            variants = [base]
            for _ in range(int(rng.integers(1, 4))):
                # one edit next to either end of the text keeps Jaccard
                # near 0.9; five edits anywhere push it below 0.6
                n = len(base)
                edits = ([int(rng.choice([0, 1, n - 2, n - 1]))] if rng.random() < 0.6
                         else rng.choice(n, size=5, replace=False))
                variants.append(mutate(base, edits))
            txt = [" ".join(v) for v in variants]
            js = [jaccard(txt[a], txt[b]) for a in range(len(txt))
                  for b in range(a + 1, len(txt))]
            if any(abs(j - JACCARD_T) < 0.04 for j in js):
                continue  # keep every planted pair clear of the threshold
            near_groups.append([add(t, rand_vec()) for t in txt])
        elif len(emb_groups) < n_emb:
            c = rand_vec()
            c /= np.linalg.norm(c)
            # tight clusters sit near cosine 0.995, loose ones near 0.8
            noise = 0.06 if rng.random() < 0.6 else 0.55
            g = [add(" ".join(words(int(rng.integers(24, 41)))),
                     (c + noise * rng.standard_normal(EMB_DIM).astype(np.float32)
                      / np.sqrt(EMB_DIM)).astype(np.float32))
                 for _ in range(int(rng.integers(2, 4)))]
            cs = [cosine(embs[a], embs[b]) for a in g for b in g if a < b]
            if any(abs(x - COSINE_T) < 0.03 for x in cs):
                del texts[-len(g):], embs[-len(g):]
                continue
            emb_groups.append(g)
        else:
            add(" ".join(base), rand_vec())
    # ids are a seeded permutation, so planted structure is not id-ordered
    ids = rng.permutation(len(texts)).astype(np.int64)
    text_of = {int(ids[i]): texts[i] for i in range(len(texts))}
    emb_of = {int(ids[i]): embs[i] for i in range(len(texts))}

    # truth: exact survivors keep the longest raw text, ties to the smallest id
    best = {}
    for i, t in text_of.items():
        key = normalize(t)
        cand = (len(t), -i)
        if key not in best or cand > best[key]:
            best[key] = cand
    s1 = sorted(-c[1] for c in best.values())
    s1_set = set(s1)
    near_above, near_below = [], []
    for g in near_groups:
        gi = sorted(int(ids[x]) for x in g)
        for a in range(len(gi)):
            for b in range(a + 1, len(gi)):
                j = jaccard(text_of[gi[a]], text_of[gi[b]])
                (near_above if j >= JACCARD_T else near_below).append([gi[a], gi[b]])
    comp = _components(s1, [p for p in near_above
                            if p[0] in s1_set and p[1] in s1_set])
    s2 = [i for i in s1 if comp[i] == i]
    s2_set = set(s2)
    emb_above, emb_below = [], []
    for g in emb_groups:
        gi = sorted(int(ids[x]) for x in g)
        for a in range(len(gi)):
            for b in range(a + 1, len(gi)):
                c = cosine(emb_of[gi[a]], emb_of[gi[b]])
                (emb_above if c >= COSINE_T else emb_below).append([gi[a], gi[b]])
    comp = _components(s2, [p for p in emb_above
                            if p[0] in s2_set and p[1] in s2_set])
    survivors = [i for i in s2 if comp[i] == i]

    os.makedirs(out_dir, exist_ok=True)
    order = np.argsort(ids)
    table = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "emb": pa.array([embs[i].tolist() for i in order], pa.list_(pa.float32())),
    })
    pq.write_table(table, os.path.join(out_dir, "corpus.parquet"),
                   row_group_size=max(1, len(texts) // 16))
    truth = {
        "docs": len(texts), "exact_groups": len(exact_groups),
        "near_groups": len(near_groups), "emb_groups": len(emb_groups),
        "exact_survivor_ids": s1, "text_survivor_ids": s2,
        "near_above": near_above, "near_below": near_below,
        "emb_above": emb_above, "emb_below": emb_below,
        "survivors": survivors,
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)


def corpus_lookup(in_dir, ids):
    """id -> (text, embedding) for the given ids, for the checks."""
    t = pq.read_table(os.path.join(in_dir, "corpus.parquet"))
    pos = {i: k for k, i in enumerate(t.column("doc_id").to_pylist())}
    text, emb = t.column("text"), t.column("emb")
    return {i: (text[pos[i]].as_py(), emb[pos[i]].as_py()) for i in ids}


# ------------------------------------------------------ registry tables

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "small", "green", "red", "dark", "light"]
PART_NOUN = ["ring", "bolt", "nut", "screw", "gear", "pipe", "valve", "spring"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DOC_WORDS = ("spark slow line value filter customer fast stream hash table key "
             "group query the scan order window join part vector small data "
             "sort row column batch merge agg big a").split()
LANGS = ["en"] * 3 + ["fr", "zh", "de", "es"]


def table_inputs(out_dir, sf, seed=42):
    """region nation customer supplier part orders lineitem events
    documents embeddings, one parquet file each, with the column names
    and types of the repository's sf test data."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                         "MIDDLE EAST"], s)})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": pa.array(["NATION_%d" % i for i in range(25)], s),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([a + " " + b for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))], s),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2), f64)})
    day = np.timedelta64(1, "D")
    start = np.datetime64("1992-01-01")
    odate = start + rng.integers(0, 3650, n_ord) * day
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 450000, n_ord), 2), f64),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    lok = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(lok, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li), s),
        "l_shipdate": pa.array((odate[lok] + rng.integers(1, 122, n_li) * day)
                               .astype("datetime64[us]"), ts)})
    n_ev = int(1000000 * sf)
    n_users = max(1, n_cust // 10)
    ev_ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                    + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    write("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev), 2), f64),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)], s)})
    n_doc = int(50000 * sf)
    docs = []
    for i in range(n_doc):
        if i >= 8 and rng.random() < 0.002:
            docs.append(docs[int(rng.integers(0, i))])  # a few exact copies
        else:
            docs.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(8, 90)))))
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(docs, s),
        "lang": pa.array(rng.choice(LANGS, n_doc), s),
        "source": pa.array(["src%d" % (i % 20) for i in range(n_doc)], s),
        "n_chars": pa.array([len(d) for d in docs], i64)})
    n_emb = int(20000 * sf)
    centers = rng.standard_normal((10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] * 0.1 + rng.standard_normal((n_emb, 64)) * 0.1)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array([v.astype(np.float32).tolist() for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
