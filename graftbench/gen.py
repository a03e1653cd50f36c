"""Seeded input generator for the graft benchmark.

Every workload's inputs are a pure function of (workload, seed): the same
seed writes byte-identical parquet. The library only ever sees the parquet;
everything else written here (the manifest, the expected corpus outcome) is
the benchmark's own ground truth.

Sizes are fixed per workload (see SIZES) so that one run fits the
benchmark's time budget on a 4-core machine; README.md states the scale
relative to the repo's sf0.1 testdata.
"""
import hashlib
import json
import os
import re
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # corpus_prep: REPLICAS replicas of BASE_DOCS documents each; replica
    # r draws its content words from its own vocabulary slice, so no two
    # replicas share a content shingle and dedup work grows linearly.
    "corpus_prep": {"replicas": 4, "base_docs": 250, "vocab": 2000,
                    "near_dup_share": 0.12, "exact_dup_share": 0.03,
                    "new_batch": 40, "churn_batch": 20},
    # serving, vector part: clustered 64-d vectors.
    "vectors": {"vectors": 10000, "dim": 64, "clusters": 48,
                         "queries": 256, "append_batch": 200},
    # serving, analytics part: the repo's star schema and events at a
    # fifth of sf0.1.
    "analytics": {"orders": 30000, "customers": 3000, "suppliers": 200,
                  "parts": 4000, "events": 20000, "users": 300,
                  "churn_events": 500},
}

LANG_MARKERS = [("en", ["the", "a", "is"]), ("de", ["der", "und", "table"]),
                ("es", ["el", "y", "data"]), ("fr", ["le", "et", "row"]),
                ("zh", ["scan", "hash", "join"])]
STOPWORDS = {"the", "a", "of", "and", "to", "in", "is", "it"}
TAU = 0.6  # Jaccard threshold the corpus pass verifies pairs at


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _ts_us(arr_us) -> pa.Array:
    return pa.array(arr_us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


# ---------------------------------------------------------------- corpus

def _content_vocab(rng, replica: int, n: int):
    # Words are letter strings tagged by replica ("...q<r>"), so the
    # replicas' vocabularies are disjoint by construction.
    letters = np.array(list("bcdfghjklmnprstvwz"))
    vowels = np.array(list("aeiou"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(letters[rng.integers(0, len(letters))] + vowels[rng.integers(0, len(vowels))]
                    for _ in range(k))
        words.add(f"{w}q{chr(97 + replica)}")
    return np.array(sorted(words))


def _zipf_cdf(n: int):
    p = 1.0 / np.arange(1, n + 1, dtype=float) ** 0.8
    return np.cumsum(p) / p.sum()


def _raw_doc(rng, vocab, cdf, lang_idx):
    """Zipf-distributed content words with the language's marker words,
    stopwords, an email and a number planted at random positions."""
    n = int(rng.integers(40, 110))
    toks = list(vocab[np.searchsorted(cdf, rng.random(n))])
    markers = LANG_MARKERS[lang_idx][1]
    for _ in range(int(rng.integers(3, 9))):
        toks[int(rng.integers(0, n))] = markers[int(rng.integers(0, len(markers)))]
    for _ in range(int(rng.integers(0, 6))):
        toks[int(rng.integers(0, n))] = sorted(STOPWORDS)[int(rng.integers(0, len(STOPWORDS)))]
    if rng.random() < 0.3:
        toks[int(rng.integers(0, n))] = f"user{int(rng.integers(0, 999))}@mail.example.com"
    if rng.random() < 0.3:
        toks[int(rng.integers(0, n))] = str(int(rng.integers(1900, 2100)))
    return toks


def _surface(rng, toks):
    """Surface noise that normalization removes (case, punctuation)."""
    cap = rng.random(len(toks)) < 0.05
    comma = rng.random(len(toks)) < 0.04
    return " ".join((t.capitalize() if c else t) + ("," if m else "")
                    for t, c, m in zip(toks, cap, comma))


def _mutate(rng, toks, vocab, k):
    toks = list(toks)
    for _ in range(k):
        toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
    return toks


def gen_corpus(seed: int, out: str) -> dict:
    cfg = SIZES["corpus_prep"]
    rng = np.random.default_rng([seed, 1])
    rows = []  # (doc_id, text, lang, source, family, replica)
    doc_id = 0
    family = 0
    vocabs = []
    cdf = _zipf_cdf(cfg["vocab"])
    for r in range(cfg["replicas"]):
        vocab = _content_vocab(rng, r, cfg["vocab"])
        vocabs.append(vocab)
        n = 0
        while n < cfg["base_docs"]:
            lang_idx = int(rng.choice(5, p=[0.4, 0.15, 0.15, 0.15, 0.15]))
            base = _raw_doc(rng, vocab, cdf, lang_idx)
            u = rng.random()
            if u < cfg["near_dup_share"]:
                # near-duplicate family: the base plus 1-3 variants with 1-2
                # substituted tokens each (Jaccard ~0.8-0.95 to the base)
                variants = [base] + [_mutate(rng, base, vocab, int(rng.integers(1, 3)))
                                     for _ in range(int(rng.integers(1, 4)))]
            elif u < cfg["near_dup_share"] + cfg["exact_dup_share"]:
                # exact duplicates up to case/punctuation
                variants = [base, base]
            else:
                variants = [base]
            for v in variants:
                rows.append((doc_id, _surface(rng, v), LANG_MARKERS[lang_idx][0],
                             f"src{int(rng.integers(0, 20))}", family, r))
                doc_id += 1
                n += 1
            family += 1
    ids = np.array([x[0] for x in rows], dtype=np.int64)
    texts = [x[1] for x in rows]
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array([x[2] for x in rows]),
        "source": pa.array([x[3] for x in rows]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    nbytes = _write(table, f"{out}/documents.parquet")
    expect = recompute_corpus(rows)

    # Incremental batches: variants of kept documents (the near-dups a new
    # crawl brings) mixed with fresh documents, ids past the corpus. Every
    # variant has its own source, so the expected pairs are exactly the
    # variant-source pairs at Jaccard >= TAU.
    clean = expect["clean"]
    replica = {x[0]: x[5] for x in rows}
    srcs = iter(rng.choice(sorted(expect["kept_ids"]),
                           size=(cfg["new_batch"] + cfg["churn_batch"]) // 2, replace=False))

    def batch(n, first_id, tag):
        brows, expected_pairs = [], 0
        for i in range(n):
            if i < n // 2:
                src = int(next(srcs))
                t = " ".join(_mutate(rng, clean[src].split(" "), vocabs[replica[src]], 1))
                expected_pairs += int(jaccard(shingles(t), shingles(clean[src])) >= TAU)
            else:
                r = int(rng.integers(0, cfg["replicas"]))
                t = " ".join(_raw_doc(rng, vocabs[r], cdf, 0))
            brows.append((first_id + i, t))
        _write(pa.table({"doc_id": pa.array([b[0] for b in brows], type=pa.int64()),
                         "text": pa.array([b[1] for b in brows])}), f"{out}/{tag}.parquet")
        return expected_pairs

    new_pairs = batch(cfg["new_batch"], 10_000_000, "new_batch")
    churn_pairs = batch(cfg["churn_batch"], 10_100_000, "churn_batch")
    return {
        "rows": len(rows), "bytes": nbytes, "families": family,
        "planted_near_dup_share": cfg["near_dup_share"],
        "planted_exact_dup_share": cfg["exact_dup_share"],
        "replicas": cfg["replicas"],
        "expect": {k: v for k, v in expect.items() if k not in ("clean", "kept_ids")},
        "new_batch_pairs": new_pairs, "churn_batch_pairs": churn_pairs,
    }


def shingles(text: str, k: int = 3):
    t = text.split(" ")
    return {" ".join(t[i:i + k]) for i in range(max(1, len(t) - k + 1))}


def jaccard(a, b) -> float:
    return len(a & b) / len(a | b)


def _normalize(text: str) -> str:
    # Text.scrub on the lowercased text, then Text.normalized
    t = text.lower()
    t = re.sub(r"[a-z0-9.]+@[a-z0-9.]+", "<email>", t)
    t = re.sub(r"[0-9]+", "<num>", t)
    return re.sub(r"[^a-z0-9]+", " ", t).strip()


def _quality_bp(text: str) -> int:
    toks = text.split(" ")
    n = float(len(toks))
    n_stop = float(sum(1 for t in toks if t in STOPWORDS))
    mean_len = (len(text) - (n - 1)) / n
    q = 0.5 * min(n / 100.0, 1.0) + 0.3 * (1.0 - n_stop / n) + 0.2 * min(mean_len / 8.0, 1.0)
    return int(np.floor(q * 10000.0 + 0.5))


def _lang_id(text: str) -> str:
    toks = text.split(" ")
    n = float(len(toks))
    best = None
    for i, (lang, ms) in enumerate(LANG_MARKERS):
        score = sum(1 for t in toks if t in ms) / n
        key = (score, -i)
        if best is None or key > best[0]:
            best = (key, lang)
    return best[1]


def _percentile_disc(values, p):
    v = sorted(values)
    idx = max(0, int(np.ceil(p * len(v))) - 1)
    return v[idx]


def recompute_corpus(rows) -> dict:
    """Independent recomputation of the corpus pass's outcome, in plain
    Python: normalize+scrub, language id, the 10th-percentile quality gate
    per predicted language, exact dedup on the cleaned text (min id
    survives), connected components of the Jaccard >= TAU graph, and the
    best-quality keeper per component. Near-duplicate edges are searched
    within generator families only: documents of different families are
    independent draws, whose shingle Jaccard is far below TAU."""
    clean = {r[0]: _normalize(r[1]) for r in rows}
    fam = {r[0]: r[4] for r in rows}
    lang = {i: _lang_id(t) for i, t in clean.items()}
    qbp = {i: _quality_bp(t) for i, t in clean.items()}
    by_lang = defaultdict(list)
    for i in clean:
        by_lang[lang[i]].append(qbp[i])
    thr = {l: _percentile_disc(v, 0.10) for l, v in by_lang.items()}
    gated = [i for i in clean if qbp[i] >= thr[lang[i]]]
    first = {}
    for i in sorted(gated):
        h = hashlib.md5(clean[i].encode()).hexdigest()
        first.setdefault(h, i)
    reps = sorted(first.values())
    by_fam = defaultdict(list)
    for i in reps:
        by_fam[fam[i]].append(i)
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_pairs = 0
    sh = {}
    for members in by_fam.values():
        if len(members) < 2:
            continue
        for i in members:
            sh[i] = shingles(clean[i])
            parent[i] = i
        for a_idx, a in enumerate(members):
            for b in members[a_idx + 1:]:
                if jaccard(sh[a], sh[b]) >= TAU:
                    n_pairs += 1
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    comps = defaultdict(list)
    for i in parent:
        comps[find(i)].append(i)
    clusters = [c for c in comps.values() if len(c) > 1]
    clustered = {i for c in clusters for i in c}
    keepers = {max(c, key=lambda i: (qbp[i], -i)) for c in clusters}
    kept_ids = [i for i in reps if i not in clustered] + sorted(keepers)
    return {"docs": len(rows), "gated": len(gated), "exact_kept": len(reps),
            "pairs": n_pairs, "clusters": len(clusters),
            "clustered_docs": len(clustered), "kept": len(kept_ids),
            "kept_ids": kept_ids, "clean": clean}


# ---------------------------------------------------------------- vectors

def gen_vectors(seed: int, out: str) -> dict:
    cfg = SIZES["vectors"]
    rng = np.random.default_rng([seed, 2])
    dim, g = cfg["dim"], cfg["clusters"]
    centers = rng.normal(size=(g, dim)).astype(np.float32)

    def draw(n):
        c = rng.integers(0, g, size=n)
        v = centers[c] + rng.normal(scale=0.35, size=(n, dim)).astype(np.float32)
        return v.astype(np.float32), c

    def table(ids, v, c):
        flat = pa.array(v.reshape(-1), type=pa.float32())
        return pa.table({"vec_id": pa.array(ids, type=pa.int64()),
                         "embedding": pa.FixedSizeListArray.from_arrays(flat, dim).cast(
                             pa.list_(pa.float32())),
                         "label": pa.array(c.astype(np.int32))})

    v, c = draw(cfg["vectors"])
    nbytes = _write(table(np.arange(cfg["vectors"]), v, c), f"{out}/embeddings.parquet")
    qv, qc = draw(cfg["queries"])
    qids = np.arange(cfg["queries"]) + 1_000_000_000
    _write(table(qids, qv, qc), f"{out}/queries.parquet")
    # brute-force truth: the 10 highest-cosine corpus vectors per query
    cos = (qv / np.linalg.norm(qv, axis=1, keepdims=True)) @ \
        (v / np.linalg.norm(v, axis=1, keepdims=True)).T
    top = np.argsort(-cos, axis=1, kind="stable")[:, :10]
    _write(pa.table({"query_id": pa.array(np.repeat(qids, 10).astype(np.int64)),
                     "neighbor_id": pa.array(top.reshape(-1).astype(np.int64))}),
           f"{out}/truth.parquet")
    av, ac = draw(cfg["append_batch"] * 8)
    _write(table(np.arange(len(av)) + 2_000_000_000, av, ac), f"{out}/appends.parquet")
    return {"rows": cfg["vectors"], "bytes": nbytes, "dim": dim, "clusters": g,
            "queries": cfg["queries"], "append_rows": int(len(av))}


# ---------------------------------------------------------------- analytics

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000   # 1995-01-01
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def gen_analytics(seed: int, out: str) -> dict:
    """Star schema + events with the repo testdata's schema and value
    ranges. Money, discounts, taxes and event values are dyadic
    fractions, so every sum is exact in binary floating point and the
    engines agree to the cent whatever their summation order."""
    cfg = SIZES["analytics"]
    rng = np.random.default_rng([seed, 3])
    nbytes = 0
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    nbytes += _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                               "r_name": pa.array(regions)}), f"{out}/region.parquet")
    nbytes += _write(pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                               "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
                               "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
                     f"{out}/nation.parquet")
    nc, ns, npart, no = cfg["customers"], cfg["suppliers"], cfg["parts"], cfg["orders"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    nbytes += _write(pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(rng.integers(-4000, 40000, nc) / 4.0),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, nc)])}), f"{out}/customer.parquet")
    nbytes += _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(rng.integers(-4000, 40000, ns) / 4.0)}), f"{out}/supplier.parquet")
    nbytes += _write(pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(npart)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(11, 56, npart)]),
        "p_type": pa.array(np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                                     "PROMO"])[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(rng.integers(3600, 8400, npart) / 4.0)}),
        f"{out}/part.parquet")
    odate = EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US  # to 2001-08-01
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    nbytes += _write(pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(rng.integers(4000, 2_000_000, no) / 4.0),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, no)])}), f"{out}/orders.parquet")
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    nl = len(okey)
    linenum = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, nl) * DAY_US
    nbytes += _write(pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(linenum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(qty * (rng.integers(3600, 8400, nl) / 4.0)),
        "l_discount": pa.array(rng.integers(0, 7, nl) / 64.0),
        "l_tax": pa.array(rng.integers(0, 6, nl) / 64.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _ts_us(ship)}), f"{out}/lineitem.parquet")

    types = np.array(["click", "error", "purchase", "signup", "view"])

    def events(n, first_id, t0, span_days):
        ts = np.sort(t0 + rng.integers(0, span_days * DAY_US, n))
        return pa.table({
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": _ts_us(ts),
            "user_id": pa.array(rng.integers(0, cfg["users"], n).astype(np.int64)),
            "event_type": pa.array(types[rng.integers(0, 5, n)]),
            "value": pa.array(rng.integers(0, 3200, n) / 16.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})

    ne = cfg["events"]
    # a directory, so the streaming replay can read it as a file source
    os.makedirs(f"{out}/events.parquet")
    nbytes += _write(events(ne, 0, EPOCH_2024, 30), f"{out}/events.parquet/part-0.parquet")
    _write(events(cfg["churn_events"], ne, EPOCH_2024 + 30 * DAY_US, 2),
           f"{out}/event_batch.parquet")
    return {"rows": int(nl + no + nc + ns + npart + ne + 30), "lineitem_rows": int(nl),
            "events_rows": ne, "bytes": nbytes, "churn_events": cfg["churn_events"]}


def gen_serving(seed: int, out: str) -> dict:
    a, v = gen_analytics(seed, out), gen_vectors(seed, out)
    return {"analytics": a, "vectors": v, "rows": a["rows"] + v["rows"],
            "bytes": a["bytes"] + v["bytes"]}


GENERATORS = {"corpus_prep": gen_corpus, "serving": gen_serving}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's inputs for `seed` under `out` (once: a
    complete manifest marks a finished generation) and return the
    manifest."""
    man_path = f"{out}/manifest.json"
    if os.path.exists(man_path):
        with open(man_path) as f:
            return json.load(f)
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    man = GENERATORS[workload](seed, tmp)
    man.update({"workload": workload, "seed": seed})
    with open(f"{tmp}/manifest.json", "w") as f:
        json.dump(man, f, indent=1)
    os.replace(tmp, out)
    return man
