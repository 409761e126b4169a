"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical inputs. The program under test only ever sees the files
written here.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# costar: IMDB-schema TSVs
# ---------------------------------------------------------------------------

FIRST = ("Ada Alan Alma Anna Ben Bela Carl Cora Dan Dora Earl Edna Finn Fay "
         "Gus Gia Hal Hedy Ike Ida Jack Joan Karl Kay Lars Lena Max Mia Ned "
         "Nora Otto Olga Paul Pia Ray Rita Sam Sara Ted Tess Uma Vic Vera Walt "
         "Wren Yul Zoe").split()
LAST = ("Abbott Baker Carter Dalton Ellis Farrow Garbo Harlow Irving Jensen "
        "Keaton Lang Marlowe Novak Oakley Powell Quinn Rhodes Stanwyck Tracy "
        "Ullman Vance Welles Young Zorn Astor Bogart Cagney Davis Flynn Gable "
        "Hepburn Ince Kelly Loy Muni Niven Olivier Peck Rains Swanson Taylor "
        "Valli Wayne Arden Brando Colbert Dunne Eastwood Fonda Grant Holden "
        "Jolson Karloff Lombard Mitchum Neal Oberon Pickford Russell Sellers "
        "Temple Ustinov Veidt Weld Bacall Chaplin Dietrich Fairbanks Garland "
        "Hayworth Ladd Monroe").split()
TITLE_WORDS = ("red river night city dark star last train silent house long "
               "road lost garden iron sky cold harbor little war secret sea "
               "golden door broken sun wild heart great escape").split()
CREW = ["director", "writer", "producer", "cinematographer", "composer",
        "self", "editor"]
TITLE_TYPES = ["movie", "short", "tvMovie", "tvSeries"]
GENRES = ["Drama", "Comedy", "Short", "Romance", "Western", "Crime",
          "Documentary", "Animation"]

COSTAR_TITLES = 1500
COSTAR_ACTORS = 1500
COSTAR_CREW = 400


def _nullable(rng, value, p_null):
    return "\\N" if rng.random() < p_null else str(value)


def imdb(seed: int, out: str) -> dict:
    """Write basics.tsv (header), principals.tsv (header) and names.tsv
    (no header, as in the IMDB sample) under `out`.

    Actor popularity is Zipf-skewed, so the co-star graph has one giant
    component whose BFS frontiers grow with the level. Principals also
    carry crew categories that ingest must drop, and a few rows whose
    nconst has no names row (dangling; dropped by the inner join)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_people = COSTAR_ACTORS + COSTAR_CREW
    combos = [f"{f} {l}" for f in FIRST for l in LAST]
    pick = rng.choice(len(combos), size=n_people, replace=False)
    names = [combos[i] for i in pick]
    nconst = [f"nm{1000000 + i:07d}" for i in range(n_people)]
    with open(os.path.join(out, "names.tsv"), "w") as f:
        for i in range(n_people):
            prof = "actor" if i < COSTAR_ACTORS else str(rng.choice(CREW[:3]))
            born = _nullable(rng, int(rng.integers(1880, 1990)), 0.3)
            died = _nullable(rng, int(rng.integers(1950, 2024)), 0.7)
            f.write(f"{nconst[i]}\t{names[i]}\t{born}\t{died}\t{prof}\t\\N\n")

    used = set()
    with open(os.path.join(out, "basics.tsv"), "w") as f:
        f.write("tconst\ttitleType\tprimaryTitle\toriginalTitle\tisAdult\t"
                "startYear\tendYear\truntimeMinutes\tgenres\n")
        for t in range(COSTAR_TITLES):
            while True:
                w = rng.choice(TITLE_WORDS, size=3, replace=False)
                title = f"The {w[0].title()} {w[1].title()} {w[2].title()}"
                if title not in used:
                    break
                title = f"{title} {t}"
                if title not in used:
                    break
            used.add(title)
            genres = ",".join(rng.choice(GENRES, size=int(rng.integers(1, 4)),
                                         replace=False))
            if rng.random() < 0.05:
                genres = "\\N"
            f.write(f"tt{2000000 + t:07d}\t{rng.choice(TITLE_TYPES)}\t{title}"
                    f"\t{title}\t0\t{int(rng.integers(1900, 2024))}\t\\N\t"
                    f"{_nullable(rng, int(rng.integers(5, 200)), 0.2)}\t"
                    f"{genres}\n")

    # Zipf-like popularity over actors (rank r has weight 1/(r+100)):
    # the most popular actor is cast ~10x as often as the median one
    w = 1.0 / (np.arange(COSTAR_ACTORS) + 100.0)
    w /= w.sum()
    rows = 0
    with open(os.path.join(out, "principals.tsv"), "w") as f:
        f.write("tconst\tordering\tnconst\tcategory\tjob\tcharacters\n")
        for t in range(COSTAR_TITLES):
            cast = rng.choice(COSTAR_ACTORS, size=1 + int(rng.poisson(2.0)),
                              replace=False, p=w)
            order = 1
            for a in cast:
                cat = "actor" if rng.random() < 0.6 else "actress"
                chars = "\\N" if rng.random() < 0.3 else '["Self"]'
                f.write(f"tt{2000000 + t:07d}\t{order}\t{nconst[a]}\t{cat}"
                        f"\t\\N\t{chars}\n")
                order += 1
            for _ in range(int(rng.integers(1, 4))):
                c = COSTAR_ACTORS + int(rng.integers(0, COSTAR_CREW))
                job = "\\N" if rng.random() < 0.7 else "director of photography"
                f.write(f"tt{2000000 + t:07d}\t{order}\t{nconst[c]}\t"
                        f"{rng.choice(CREW)}\t{job}\t\\N\n")
                order += 1
            if rng.random() < 0.03:
                f.write(f"tt{2000000 + t:07d}\t{order}\tnm9{t:06d}\tactor"
                        f"\t\\N\t\\N\n")
            rows += order
    return {"titles": COSTAR_TITLES, "people": n_people, "principals": rows}


# ---------------------------------------------------------------------------
# analytics: the TPC-H-ish star schema + events, documents, embeddings
# ---------------------------------------------------------------------------

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(start: str, days: int, rng, n):
    """Midnight timestamps on `n` random days from `start` on."""
    off = rng.integers(0, days + 1, size=n).astype("timedelta64[D]")
    return pa.array(np.datetime64(start, "us") + off, type=pa.timestamp("us"))


def _write(out, name, cols):
    t = pa.table(cols)
    # one row group per file, like the repo's sf fixtures: the scan-split
    # behaviour of `Tables.fanout` depends on it
    pq.write_table(t, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, t.num_rows))


def _docs(rng, n, vocab, lo, hi):
    lens = rng.integers(lo, hi + 1, size=n)
    idx = rng.integers(0, len(vocab), size=int(lens.sum()))
    out, p = [], 0
    for L in lens:
        out.append(" ".join(vocab[i] for i in idx[p:p + L]))
        p += L
    return out


def analytics(seed: int, out: str, scale: float) -> dict:
    """Ten parquet tables in the schemas of the repo's sf fixtures
    (TESTDATA.md); `scale` is their scale factor (0.1 = the bench tier)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150000 * scale), int(10000 * scale)
    n_part, n_ord = int(200000 * scale), int(1500000 * scale)
    n_line, n_ev = int(6000000 * scale), int(1000000 * scale)
    n_doc, n_emb = int(50000 * scale), int(20000 * scale)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                    "BUILDING", "HOUSEHOLD"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})
    colors = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
    nouns = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2), f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2), f64),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    flags = rng.integers(0, 6, n_line)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": np.array(["N", "A", "R"])[flags % 3],
        "l_linestatus": np.array(["O", "F"])[flags // 3],
        "l_shipdate": _days("1995-01-02", 2498, rng, n_line)})
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86400_000_000, n_ev).astype("timedelta64[us]"))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15000 * scale)), n_ev), i64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    text = _docs(rng, n_doc, VOCAB, 10, 100)
    # planted duplicates, as in the fixtures: ~5% near-duplicates (an
    # earlier document plus one token) and ~0.2% exact copies
    for i in range(1, n_doc):
        r = rng.random()
        if r < 0.05:
            text[i] = text[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:
            text[i] = text[int(rng.integers(0, i))]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": text,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in text], i64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return {"scale": scale, "lineitem": n_line, "orders": n_ord,
            "events": n_ev, "documents": n_doc, "embeddings": n_emb}


# ---------------------------------------------------------------------------
# admission: document increments with planted duplicates
# ---------------------------------------------------------------------------

ADMIT_VOCAB = [f"{a}{b}" for a in ("ka", "lo", "mi", "nu", "pe", "ra", "si",
                                   "to", "vu", "ze")
               for b in ("b", "d", "g", "k", "l", "m", "n", "r", "s", "t")]
EXACT_SHARE = 0.05
NEAR_SHARE = 0.10


def admission(seed: int, out: str, n_incs: int, inc_size: int) -> dict:
    """`n_incs` increments of `inc_size` documents each, doc ids
    ascending across increments. Each document is, independently, an
    exact copy of an earlier document (EXACT_SHARE), a near-duplicate of
    one (NEAR_SHARE: one token replaced), or fresh text. Sources are
    drawn from the same increment and from earlier ones alike.

    Returns the planted-duplicate ground truth: `exact` maps each planted
    exact copy to the document it copies."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    texts, exact, near = [], {}, {}
    for inc in range(n_incs):
        fresh = _docs(rng, inc_size, ADMIT_VOCAB, 30, 80)
        base = inc * inc_size
        for j in range(inc_size):
            i = base + j
            r = rng.random()
            if i > 0 and r < EXACT_SHARE:
                src = int(rng.integers(0, i))
                texts.append(texts[src])
                exact[i] = src
            elif i > 0 and r < EXACT_SHARE + NEAR_SHARE:
                src = int(rng.integers(0, i))
                toks = texts[src].split(" ")
                toks[int(rng.integers(0, len(toks)))] = "zz" + ADMIT_VOCAB[
                    int(rng.integers(0, len(ADMIT_VOCAB)))]
                texts.append(" ".join(toks))
                near[i] = src
            else:
                texts.append(fresh[j])
        ids = np.arange(base, base + inc_size)
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts[base:base + inc_size]}),
            os.path.join(out, f"inc{inc:04d}.parquet"))
    # an exact copy is a duplicate by content: its text equals its
    # source's, and so (transitively) that of the first document with it
    first = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    exact_ids = [i for i, t in enumerate(texts) if first[t] != i]
    meta = {"increments": n_incs, "inc_size": inc_size,
            "exact_dup_ids": exact_ids, "near_dup_ids": sorted(near),
            "text_bytes": [sum(len(t.encode()) for t in
                               texts[k * inc_size:(k + 1) * inc_size])
                           for k in range(n_incs)]}
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump(meta, f)
    return meta
