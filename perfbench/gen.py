"""Seeded input generators for the benchmark workloads.

Every input the program sees is written here, from `--seed` alone: the same
seed gives byte-identical files. Nothing is read from outside the checkout.

- `fixed_income`: a bond book (LTN / NTN-F / NTN-B / LFT), business-day date
  pairs on both sides of the 2023-12-26 holiday-regime change, daily curve
  snapshots and interpolation targets.
- `curation`: a base corpus in sf0.1's measured shape (documents +
  embeddings) and its copy-disjoint inflation: copy k maps letters and digits
  through an injective per-copy permutation (rotation-first affine ciphers),
  so every per-copy structure (token counts, exact-duplicate groups,
  near-duplicate pairs) is the base's exactly while shingles, signatures and
  fingerprints differ across copies. Embedding copies apply a per-copy signed permutation of the
  dimensions, an orthogonal map, so within-copy cosines are preserved.
"""

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)

# The shape of sf0.1's `documents` and `embeddings` (the testdata the engine's
# own benchmark reads), measured from those files; README.md has the figures.
SF01_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
              "filter", "group", "hash", "join", "key", "line", "merge", "order",
              "part", "query", "row", "scan", "slow", "small", "sort", "spark",
              "stream", "table", "the", "value", "vector", "window"]
SF01_DUP_WORD = "dup"          # a near-duplicate is another document + " dup"
SF01_WORDS = (10, 99)          # words per document, uniform, inclusive
SF01_NEAR_DUP_RATE = 250 / 5000
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = np.array([2059, 753, 744, 742, 702]) / 5000
N_SOURCES = 20                 # source = "src<i mod 20>"
SF01_DIM = 64
SF01_LABELS = 10

# workload sizes (rows); see README.md for why each is what it is
FI_BOOK = 15_000
FI_PAIRS = 100_000
FI_CURVE_DATES = 120
FI_TARGETS = 20_000
CUR_BASE_DOCS = 1_000
CUR_BASE_VECS = 1_000
CUR_COPIES = 2
CUR_STREAM_DOCS = 400
CUR_STREAM_FILES = 2

CURVE_IDS = ["PRE", "IPCA", "DI"]
CURVE_DU = np.array([21, 42, 63, 126, 189, 252, 378, 504, 756, 1008, 1260,
                     1764, 2520], dtype=np.int64)


def epoch_days(d):
    return (d - EPOCH).days


def _write(table, path, parts=8):
    """Writes `path` as a directory of `parts` parquet files, the layout of
    a table at scale, so that scans split across cores."""
    os.makedirs(path, exist_ok=True)
    per = max((table.num_rows + parts - 1) // parts, 1)
    for i in range(parts):
        pq.write_table(table.slice(i * per, per), os.path.join(path, "part-%05d.parquet" % i))


# ----------------------------------------------------------------- fixed income

def _maturity(kind, year, rng):
    if kind == "LTN":
        return dt.date(year, int(rng.choice([1, 4, 7, 10])), 1)
    if kind == "NTNF":
        return dt.date(year, 1, 1)
    if kind == "NTNB":
        return dt.date(year, int(rng.choice([5, 8])), 15)
    return dt.date(year, int(rng.choice([3, 9])), 1)


def bond_book(rng, n, start=dt.date(2019, 1, 2), end=dt.date(2027, 12, 30)):
    kinds = np.array(["LTN", "NTNF", "NTNB", "LFT"])
    kind = kinds[rng.integers(0, 4, n)]
    span = (end - start).days
    trade = [start + dt.timedelta(days=int(x)) for x in rng.integers(0, span, n)]
    mats, rates, vnas = [], [], []
    for k, t in zip(kind, trade):
        years = int(rng.integers(1, 12))
        m = _maturity(k, t.year + years, rng)
        if (m - t).days < 180:  # keep price-to-rate well conditioned
            m = _maturity(k, t.year + years + 1, rng)
        mats.append(m)
        if k == "LFT":
            rates.append(round(float(rng.uniform(-0.002, 0.004)), 4))
            vnas.append(round(float(rng.uniform(9000, 16000)), 6))
        elif k == "NTNB":
            rates.append(round(float(rng.uniform(0.03, 0.08)), 4))
            vnas.append(round(float(rng.uniform(3000, 4500)), 6))
        else:
            rates.append(round(float(rng.uniform(0.05, 0.15)), 4))
            vnas.append(None)
    curve = np.where(np.isin(kind, ["LTN", "NTNF"]), "PRE",
                     np.where(kind == "NTNB", "IPCA", "DI"))
    return pa.table({
        "bond_id": pa.array(np.arange(n, dtype=np.int64)),
        "kind": pa.array(kind.tolist()),
        "curve_id": pa.array(curve.tolist()),
        "trade_date": pa.array(trade, pa.date32()),
        "maturity": pa.array(mats, pa.date32()),
        "taxa": pa.array(rates, pa.float64()),
        "vna": pa.array(vnas, pa.float64()),
    })


def curve_snapshots(rng, n_dates, start=dt.date(2018, 12, 3)):
    """Curve vertices (curve_id, curve_date, du, tx): one snapshot every
    ~3 weeks per curve, spanning both holiday regimes."""
    rows = {"curve_id": [], "curve_date": [], "du": [], "tx": []}
    for cid, base in zip(CURVE_IDS, [0.09, 0.05, 0.10]):
        d = start
        for _ in range(n_dates):
            level = base + float(rng.normal(0, 0.01))
            slope = float(rng.normal(0.002, 0.001))
            for du in CURVE_DU:
                rows["curve_id"].append(cid)
                rows["curve_date"].append(d)
                rows["du"].append(int(du))
                rows["tx"].append(round(level + slope * np.log1p(du / 252.0), 6))
            d = d + dt.timedelta(days=int(rng.integers(18, 26)))
    return pa.table({
        "curve_id": pa.array(rows["curve_id"]),
        "curve_date": pa.array(rows["curve_date"], pa.date32()),
        "du": pa.array(rows["du"], pa.int64()),
        "tx": pa.array(rows["tx"], pa.float64()),
    })


def date_pairs(rng, n):
    lo = epoch_days(dt.date(2015, 1, 1))
    hi = epoch_days(dt.date(2032, 12, 31))
    s = rng.integers(lo, hi, n)
    e = s + rng.integers(-400, 4000, n)
    days = pa.array(s.astype("int32"), pa.int32()).cast(pa.date32())
    ends = pa.array(e.astype("int32"), pa.int32()).cast(pa.date32())
    return pa.table({
        "pair_id": pa.array(np.arange(n, dtype=np.int64)),
        "start": days,
        "end": ends,
        "n": pa.array(rng.integers(-30, 300, n).astype(np.int32)),
    })


def interp_targets(rng, curves, n):
    """Targets (target_id, curve_id, curve_date, du): every vertex once
    (exactness at vertices), the rest drawn inside and around the curve."""
    cid = curves.column("curve_id").to_pylist()
    cdate = curves.column("curve_date").to_pylist()
    cdu = curves.column("du").to_numpy()
    keys = sorted(set(zip(cid, cdate)))
    m = len(cid)
    rest = n - m
    pick = rng.integers(0, len(keys), rest)
    du = rng.integers(1, int(CURVE_DU[-1]) + 300, rest)
    t_cid = cid + [keys[i][0] for i in pick]
    t_date = cdate + [keys[i][1] for i in pick]
    t_du = np.concatenate([cdu, du]).astype(np.int64)
    return pa.table({
        "target_id": pa.array(np.arange(len(t_cid), dtype=np.int64)),
        "curve_id": pa.array(t_cid),
        "curve_date": pa.array(t_date, pa.date32()),
        "du": pa.array(t_du),
    })


def gen_fixed_income(out, seed):
    rng = np.random.default_rng([seed, 1])
    curves = curve_snapshots(rng, FI_CURVE_DATES)
    _write(bond_book(rng, FI_BOOK), os.path.join(out, "bonds.parquet"))
    _write(date_pairs(rng, FI_PAIRS), os.path.join(out, "date_pairs.parquet"))
    _write(curves, os.path.join(out, "curves.parquet"), parts=1)
    _write(interp_targets(rng, curves, FI_TARGETS),
           os.path.join(out, "targets.parquet"))


# -------------------------------------------------------------------- corpus

def base_corpus(rng, n_docs, id0=0):
    """Documents in sf0.1's shape: 10-99 words drawn uniformly from its
    30-word vocabulary, a language label and a source independent of the
    text; near-duplicates made the way sf0.1's are: a document replaced by
    another one plus " dup", in sequence, so chains occur, and two
    near-duplicates of one document are sf0.1's exact duplicates."""
    vocab = np.array(SF01_VOCAB)
    lo, hi = SF01_WORDS
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(lo, hi + 1)))])
             for _ in range(n_docs)]
    langs = [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)]
    near = rng.choice(n_docs, round(n_docs * SF01_NEAR_DUP_RATE), replace=False)
    for i in near:
        j = int(rng.integers(0, n_docs - 1))
        j += j >= i
        texts[i] = texts[j] + " " + SF01_DUP_WORD
    ids = np.arange(id0, id0 + n_docs, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": langs,
        "source": ["src%d" % (i % N_SOURCES) for i in range(n_docs)],
        "near_dups": sorted(int(i) for i in near),
    }


def permutation(k):
    """Copy k's letter and digit maps (copy 0 is the identity; copies
    0-25 are pure rotations, whose pairwise compositions fix no letter)."""
    units = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
    a, b = units[k // 26], k % 26
    lower = "abcdefghijklmnopqrstuvwxyz"
    mapped = "".join(lower[(a * i + b) % 26] for i in range(26))
    du = [1, 3, 7, 9]
    m = k % 40
    digits = "0123456789"
    dmapped = "".join(digits[(du[m // 10] * i + m % 10) % 10] for i in range(10))
    return str.maketrans(lower + lower.upper() + digits,
                         mapped + mapped.upper() + dmapped)


def inflate_docs(base, copies):
    n = len(base["doc_id"])
    out = {"doc_id": [], "text": [], "lang": [], "source": []}
    for k in range(copies):
        tr = permutation(k)
        out["doc_id"].append(base["doc_id"] + k * n)
        out["text"].extend(t.translate(tr) for t in base["text"])
        out["lang"].extend(base["lang"])
        out["source"].extend(base["source"])
    out["doc_id"] = np.concatenate(out["doc_id"])
    return out


def docs_table(d):
    return pa.table({
        "doc_id": pa.array(d["doc_id"], pa.int64()),
        "text": pa.array(d["text"]),
        "lang": pa.array(d["lang"]),
        "source": pa.array(d["source"]),
        "n_chars": pa.array([len(t) for t in d["text"]], pa.int64()),
    })


def base_vectors(rng, n, dim=SF01_DIM, labels=SF01_LABELS):
    """Unit vectors drawn uniformly on the sphere, labels uniform and
    independent of the vector: sf0.1's embeddings have no label structure
    (mean cosine within a label and across labels both within 1e-4 of 0)."""
    v = rng.normal(0, 1, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), rng.integers(0, labels, n).astype(np.int32)


def inflate_vectors(rng, vecs, labels, copies):
    n, dim = vecs.shape
    out = [vecs]
    for _ in range(1, copies):
        perm = rng.permutation(dim)
        sign = rng.choice(np.array([-1.0, 1.0], dtype=np.float32), dim)
        out.append(vecs[:, perm] * sign)
    return np.concatenate(out), np.tile(labels, copies)


def vec_table(vecs, labels, id0=0):
    n, dim = vecs.shape
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim,
                                                      dtype=np.int32)), flat)
    return pa.table({
        "vec_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    })


def gen_curation(out, seed):
    rng = np.random.default_rng([seed, 2])
    base = base_corpus(rng, CUR_BASE_DOCS)
    vecs, labels = base_vectors(rng, CUR_BASE_VECS)
    for sub, copies in (("x1", 1), ("xn", CUR_COPIES)):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
        _write(docs_table(inflate_docs(base, copies)),
               os.path.join(out, sub, "documents.parquet"))
        v, lab = inflate_vectors(np.random.default_rng([seed, 3]), vecs, labels, copies)
        _write(vec_table(v, lab), os.path.join(out, sub, "embeddings.parquet"))
    # a fresh batch for streaming admission: new documents, plus verbatim
    # copies of corpus documents (exact duplicates the gate must drop)
    fresh = base_corpus(rng, CUR_STREAM_DOCS, id0=10_000_000)
    xn_text = inflate_docs(base, CUR_COPIES)["text"]
    dup_idx = rng.integers(0, len(xn_text), CUR_STREAM_DOCS // 10)
    for j, i in enumerate(dup_idx):
        fresh["text"][j * 10] = xn_text[int(i)]
    sdir = os.path.join(out, "stream")
    os.makedirs(sdir, exist_ok=True)
    t = docs_table(fresh)
    per = (t.num_rows + CUR_STREAM_FILES - 1) // CUR_STREAM_FILES
    for f in range(CUR_STREAM_FILES):
        pq.write_table(t.slice(f * per, per), os.path.join(sdir, "part-%d.parquet" % f))
    q = sorted(rng.choice(CUR_BASE_VECS * CUR_COPIES, 8, replace=False).tolist())
    # the analyst's requests: a planted near-duplicate's cluster, and BM25
    # for two words of the vocabulary
    lookup = int(base["near_dups"][int(rng.integers(0, len(base["near_dups"])))])
    terms = sorted(rng.choice(SF01_VOCAB, 2, replace=False).tolist())
    with open(os.path.join(out, "params.json"), "w") as f:
        json.dump({"copies": CUR_COPIES, "base_docs": CUR_BASE_DOCS, "topk_queries": q,
                   "stream_exact_dups": [10_000_000 + j * 10 for j in range(len(dup_idx))],
                   "lookup_doc": lookup, "bm25_terms": terms}, f)


GENERATORS = {
    "fixed_income": gen_fixed_income,
    "curation": gen_curation,
}


def generate(workload, out, seed):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](out, seed)
