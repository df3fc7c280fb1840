"""Output checks, computed independently of the program.

Each check is (name, check, perturb): `check(data)` returns None when the
program's output is right and a message otherwise; `perturb(data)` returns a
copy of the output with one deliberate error. Every run first checks the real
output, then checks each perturbed copy and requires the check to fail, so no
check can pass vacuously.
"""

import copy
import json
import math
import os
import re

import numpy as np
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRANSITION = np.datetime64("2023-12-26")


def _holidays(name):
    path = os.path.join(ROOT, "src", "main", "resources", "graft", name)
    out = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#"):
                d, m, y = line.split("/")
                out.append("%s-%s-%s" % (y, m, d))
    return np.unique(np.array(out, dtype="datetime64[D]"))


def regime_busday(fn, anchor, *args, **kw):
    """Applies a numpy busday function row-wise, with the holiday list of
    the regime each row's anchor date falls in."""
    old, new = _holidays("feriados_antigos_br.txt"), _holidays("feriados_novos_br.txt")
    first = anchor < TRANSITION
    out = None
    for mask, hol in ((first, old), (~first, new)):
        sub = [a[mask] for a in args]
        r = fn(*sub, holidays=hol, **kw)
        if out is None:
            out = np.empty(len(anchor), dtype=r.dtype)
        out[mask] = r
    return out


def table(path):
    t = pq.read_table(path)
    return {c: t.column(c).to_numpy(zero_copy_only=False) for c in t.column_names}


def _first_bad(mask, what):
    bad = np.flatnonzero(mask)
    if len(bad):
        return "%s: %d rows wrong, first at row %d" % (what, len(bad), bad[0])
    return None


def _bump(d, col, i=0, delta=1):
    d = copy.deepcopy(d)
    d[col] = d[col].copy()
    d[col][i] = d[col][i] + delta
    return d


# ---------------------------------------------------------------- fixed income

def fixed_income_checks(inp, out, res):
    cal = table(os.path.join(out, "calendar"))
    fwd = table(os.path.join(out, "forwards"))
    asof = table(os.path.join(out, "asof"))
    itp = table(os.path.join(out, "interpolate"))
    bonds = table(os.path.join(out, "bonds"))
    book = table(os.path.join(inp, "bonds.parquet"))
    curves = table(os.path.join(inp, "curves.parquet"))
    with open(os.path.join(out, "scalar.json")) as f:
        sc = json.load(f)

    def ck_count(c):
        # [start, end), negative over [end, start) when start > end; the
        # holiday regime follows the start date
        lo = np.minimum(c["start"], c["end"])
        hi = np.maximum(c["start"], c["end"])
        n = regime_busday(np.busday_count, c["start"], lo, hi)
        want = np.where(c["start"] <= c["end"], n, -n)
        return _first_bad(c["bday_count"] != want, "bday_count vs numpy.busday_count")

    def ck_isbday(c):
        want = regime_busday(np.is_busday, c["start"], c["start"])
        return _first_bad(c["is_bday"] != want, "is_bday vs numpy.is_busday")

    def ck_add(c):
        want = regime_busday(np.busday_offset, c["start"], c["start"], c["n"], roll="forward")
        return _first_bad(c["bday_add"] != want, "bday_add vs numpy.busday_offset")

    def ck_forwards(f):
        key = np.char.add(f["curve_id"].astype(str), f["curve_date"].astype(str))
        order = np.lexsort((f["du"], key))
        k, du, tx, got = key[order], f["du"][order].astype(float), f["tx"][order], f["fwd"][order]
        first = np.r_[True, k[1:] != k[:-1]]
        au = du / 252.0
        want = np.empty_like(tx)
        want[first] = tx[first]
        j = np.flatnonzero(~first)
        want[j] = ((1 + tx[j]) ** au[j] / (1 + tx[j - 1]) ** au[j - 1]) ** (1 / (au[j] - au[j - 1])) - 1
        return _first_bad(~np.isclose(got, want, rtol=1e-9, atol=1e-12), "forward rate")

    def ck_asof(a):
        bad = 0
        for cid in np.unique(curves["curve_id"]):
            dates = np.unique(curves["curve_date"][curves["curve_id"] == cid])
            m = a["curve_id"] == cid
            idx = np.searchsorted(dates, a["trade_date"][m], side="right") - 1
            want = np.where(idx >= 0, dates[np.maximum(idx, 0)], np.datetime64("NaT"))
            got = a["snap_date"][m].astype("datetime64[D]")
            bad += int(np.sum((got != want) & ~(np.isnat(got) & np.isnat(want))))
        return "as-of snapshot date: %d rows wrong" % bad if bad else None

    vertex = {}
    for cid, cd, du, tx in zip(curves["curve_id"], curves["curve_date"], curves["du"], curves["tx"]):
        vertex.setdefault((cid, cd), []).append((int(du), float(tx)))
    for v in vertex.values():
        v.sort()

    def ck_interp(t):
        bad = []
        for i, (cid, cd, du, r) in enumerate(zip(t["curve_id"], t["curve_date"], t["du"],
                                                   t["taxa_interpolada"])):
            vs = vertex[(cid, cd)]
            dus = [x[0] for x in vs]
            if du < dus[0]:
                ok = r == vs[0][1]
            elif du > dus[-1]:
                ok = r is None or (isinstance(r, float) and math.isnan(r))
            else:
                k = int(np.searchsorted(dus, du))
                if dus[k] == du:
                    ok = r == vs[k][1]  # exact at vertices
                else:
                    (dj, tj), (dk, tk) = vs[k - 1], vs[k]
                    fwd_jk = ((1 + tk) ** (dk / 252) / (1 + tj) ** (dj / 252)) ** (252 / (dk - dj))
                    fwd_jt = ((1 + r) ** (du / 252) / (1 + tj) ** (dj / 252)) ** (252 / (du - dj))
                    ok = abs(fwd_jt - fwd_jk) <= 1e-9  # constant forward between vertices
            if not ok:
                bad.append(i)
        return "interpolation: %d targets wrong, first %s" % (len(bad), bad[0]) if bad else None

    du_book = regime_busday(np.busday_count, book["trade_date"], book["trade_date"], book["maturity"])
    by_id = np.argsort(bonds["bond_id"])
    kind = bonds["kind"][by_id]
    taxa = book["taxa"]
    T = du_book / 252.0

    def ck_ltn_pu(b):
        m = kind == "LTN"
        want = 1000.0 / (1 + taxa[m]) ** T[m]
        diff = want - b["pu"][by_id][m]
        return _first_bad((diff < -1e-9) | (diff > 1e-6 + 1e-9),
                          "LTN PU vs 1000/(1+t)^(du/252) within the 1e-6 truncation step")

    def ck_roundtrip(b):
        pu, rate = b["pu"][by_id], b["rate"][by_id]
        bad = np.zeros(len(pu), bool)
        m = kind == "LTN"
        step = 1e-6 * (1 + taxa) / (T * np.where(pu > 0, pu, 1))
        bad[m] = np.abs(rate[m] - taxa[m]) > 2 * step[m] + 2e-8
        m = kind == "NTNF"
        bad[m] = np.abs(rate[m] - taxa[m]) > 1e-6
        m = kind == "LFT"
        vna = book["vna"]
        bad[m] = np.abs(rate[m] - taxa[m]) > 2e-6 * (1 + taxa[m]) / (T[m] * pu[m] / vna[m]) + 2e-8
        return _first_bad(bad, "price-to-rate round trip")

    def ck_risk(b):
        d, dv = b["duration"][by_id], b["dv01"][by_id]
        m = kind != "LFT"
        bad = ~((d[m] > 0) & (d[m] <= T[m] + 1e-9) & (dv[m] > 0))
        return _first_bad(bad, "duration in (0, maturity] and DV01 > 0")

    def ck_scalar(s):
        pu, rate = bonds["pu"][by_id], bonds["rate"][by_id]
        for r in s["scalar"]:
            i = r["bond_id"]
            if pu[i] != r["pu"]:
                return "scalar vs Column PU differ at bond %d: %r vs %r" % (i, r["pu"], pu[i])
            # NTN-B has no rate Column: NaN in the scalar record
            if r["rate"] is not None and not math.isnan(r["rate"]) and rate[i] != r["rate"]:
                return "scalar vs Column rate differ at bond %d" % i
        return None

    def ck_golden(s):
        g = s["goldens"]
        if g["ntnb_cotacao"] != 0.993651 or g["ntnb_pu"] != 4271.864805:
            return "NTN-B goldens: %r" % g
        return None

    def ck_boot(s):
        for curve in s["bootstrap"]:
            if not curve:
                return "empty bootstrap curve"
            for z in curve:
                if z["zero"] is None or not (-0.5 < z["zero"] < 1.0):
                    return "bootstrap zero rate out of range: %r" % z
        return None

    def bump_scalar(s):
        s = copy.deepcopy(s)
        s["scalar"][0]["pu"] += 1e-6
        return s

    def bump_golden(s):
        s = copy.deepcopy(s)
        s["goldens"]["ntnb_pu"] += 1e-6
        return s

    def break_boot(s):
        s = copy.deepcopy(s)
        s["bootstrap"][0][0]["zero"] = None
        return s

    ltn0 = int(np.flatnonzero(bonds["kind"] == "LTN")[0])
    interior = int(np.flatnonzero(itp["du"] > 21)[0])
    return [
        ("calendar.bday_count", cal, ck_count, lambda d: _bump(d, "bday_count")),
        ("calendar.is_bday", cal, ck_isbday,
         lambda d: dict(d, is_bday=np.r_[~d["is_bday"][:1], d["is_bday"][1:]])),
        ("calendar.bday_add", cal, ck_add, lambda d: _bump(d, "bday_add", delta=np.timedelta64(1, "D"))),
        ("curve.forwards", fwd, ck_forwards, lambda d: _bump(d, "fwd", 3, 1e-6)),
        ("ops.asof", asof, ck_asof, lambda d: _bump(d, "snap_date", delta=np.timedelta64(1, "D"))),
        ("curve.interpolate", itp, ck_interp, lambda d: _bump(d, "taxa_interpolada", interior, 1e-7)),
        ("bonds.ltn_pu", bonds, ck_ltn_pu, lambda d: _bump(d, "pu", ltn0, 1e-5)),
        ("bonds.rate_roundtrip", bonds, ck_roundtrip, lambda d: _bump(d, "rate", ltn0, 1e-4)),
        ("bonds.duration_dv01", bonds, ck_risk, lambda d: _bump(d, "dv01", ltn0, -1e6)),
        ("bonds.scalar_vs_column", sc, ck_scalar, bump_scalar),
        ("bonds.ntnb_goldens", sc, ck_golden, bump_golden),
        ("bonds.bootstrap", sc, ck_boot, break_boot),
    ]


# -------------------------------------------------------------------- corpus

def normalize(text):
    """The engine's text normalization: lowercase, whitespace runs to one
    space, trimmed (graft.text.TextOps.normalize)."""
    return re.sub(r"\s+", " ", text.lower()).strip()


def grams3(text):
    """Distinct word 3-grams of the normalized text; a text shorter than
    three words is one gram of all its words."""
    w = normalize(text).split(" ")
    last = max(len(w) - 3, 0)
    return {" ".join(w[i:i + 3]) for i in range(last + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if (a or b) else 0.0


def _frame(path):
    import pandas as pd
    return pq.read_table(path).to_pandas()


def frames_equal(a, b):
    """Row-set equality of two frames, columns by name, values exact."""
    cols = sorted(a.columns)
    if sorted(b.columns) != cols:
        return "columns differ: %s vs %s" % (sorted(a.columns), sorted(b.columns))
    if len(a) != len(b):
        return "row counts differ: %d vs %d" % (len(a), len(b))

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(v, (bool, np.bool_)):
            return str(bool(v))
        if isinstance(v, (int, float, np.integer, np.floating)):
            return float(v)
        return str(v)

    def norm(df):
        rows = zip(*[[cell(v) for v in df[c].tolist()] for c in cols])
        return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))
    ra, rb = norm(a), norm(b)
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return "row %d differs: %r vs %r" % (i, x, y)
    return None


def _perturb_frame(df):
    df = df.copy()
    for c in df.columns:
        if df[c].dtype.kind in "if":
            df.loc[df.index[0], c] = df[c].iloc[0] + 1
            return df
    c = df.columns[0]
    df.loc[df.index[0], c] = str(df[c].iloc[0]) + "x"
    return df


def topk_check(vecs, ids, result, k):
    """result: {query id: [(vec_id, sim), ...]} against numpy brute force
    (cosine in double over the stored floats, ties by id)."""
    v = vecs.astype(np.float64)
    norms = np.linalg.norm(v, axis=1)
    pos = {int(x): i for i, x in enumerate(ids)}
    for q, rows in result.items():
        qi = pos[q]
        sims = np.round(v @ v[qi] / (norms * norms[qi]), 6)
        sims[qi] = -np.inf
        order = np.lexsort((ids, -sims))[:k]
        if len(rows) != len(order):
            return "query %d: %d neighbours, want %d" % (q, len(rows), len(order))
        for (vid, s), j in zip(rows, order):
            if abs(s - sims[j]) > 2e-6 or abs(s - sims[pos[vid]]) > 2e-6:
                return "query %d: neighbour %d sim %r, brute force %r" % (q, vid, s, sims[j])
    return None


def reference_sketches(distinct_words, k):
    import hashlib
    m = 256
    regs = [0] * m
    hashes = []
    for w in distinct_words:
        h = hashlib.md5(w.encode()).hexdigest()
        rho = 1
        for c in h[2:15]:
            v = int(c, 16)
            if v == 0:
                rho += 4
            else:
                rho += 4 - v.bit_length()
                break
        i = int(h[:2], 16)
        regs[i] = max(regs[i], rho)
        hashes.append(int(h[:13], 16))
    raw = 0.7213 / (1 + 1.079 / m) * m * m / sum(2.0 ** -r for r in regs)
    zeros = regs.count(0)
    hll = m * math.log(m / zeros) if raw <= 2.5 * m and zeros > 0 else raw
    hashes = sorted(set(hashes))
    kmv = float(len(hashes)) if len(hashes) < k else (k - 1) / (hashes[k - 1] / 2.0 ** 52)
    return hll, kmv


def _vectors(path):
    t = pq.read_table(path)
    ids = t.column("vec_id").to_numpy()
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    return ids, flat.reshape(len(ids), -1)


def curation_checks(inp, out, res):
    import duckdb
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(inp, "params.json")) as f:
        params = json.load(f)
    n = params["copies"]
    x1 = os.path.join(inp, "x1")
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (
            t, os.path.join(x1, t + ".parquet", "*.parquet")))
    base_n = params["base_docs"]
    # the copy-0 slice of each exact xn output against DuckDB on the x1 files
    first_id = {"q30_exact_dedup": "keep_id", "q94_prefix_jaccard_pairs": "id_a"}
    # Bloom hits depend on the whole eval set, which grows with the copies;
    # the per-copy exact columns are compared, the prescan by its no-miss
    # property below
    per_copy_cols = {"q67_bloom_decontaminate": ["doc_id", "n_grams", "n_exact_hits"]}
    # q37 and q38 read the feature memo the text operation builds
    feat = _frame(os.path.join(out, "xn_features"))
    xn_out = {q: feat if q in ("q37_lang_id", "q38_text_quality") else
              _frame(os.path.join(out, "xn_" + q)) for q in oracle}
    cases = []
    for q, sql in sorted(oracle.items()):
        duck_df = con.execute(sql).df()
        key = first_id.get(q, "doc_id")
        cols = per_copy_cols.get(q, sorted(duck_df.columns))
        cases.append(("oracle.copy0." + q, xn_out[q],
                      lambda d, duck=duck_df[cols], key=key, cols=cols:
                      frames_equal(d.loc[d[key] < base_n, cols], duck),
                      lambda d, key=key: _perturb_frame(d.sort_values(key))))

    def ck_features(f):
        f = f.set_index("doc_id")
        if len(f) != n * base_n:
            return "xn has %d rows, want %d" % (len(f), n * base_n)
        base = f.loc[f.index % base_n]
        for c in ("quality", "n_tokens_ws", "n_tokens_bpe"):
            if not np.array_equal(f[c].to_numpy(), base[c].to_numpy()):
                return "xn %s is not the copy-0 value of the same base document" % c
        return None

    def ck_exact(e):
        first = e[e["keep_id"] < base_n]
        if len(e) != n * len(first):
            return "xn exact-dup groups %d, want %d x %d" % (len(e), n, len(first))
        if sorted(e["n_copies"]) != sorted(list(first["n_copies"]) * n):
            return "xn group sizes are not copy 0's, n times"
        return None

    def ck_bloom(b):
        b = b.set_index("doc_id")
        base = b.loc[b.index % base_n]
        if not np.array_equal(b["n_exact_hits"].to_numpy(), base["n_exact_hits"].to_numpy()):
            return "xn exact eval-gram hits are not copy 0's per base document"
        if (b["n_bloom_hits"] < b["n_exact_hits"]).any():
            return "a Bloom prescan missed an exact hit"
        return None

    def ck_exact_pairs(p):
        first = p[p["id_a"] < base_n]
        want = {(a + k * base_n, b + k * base_n) for k in range(n)
                for a, b in zip(first["id_a"], first["id_b"])}
        got = set(zip(p["id_a"], p["id_b"]))
        return None if got == want else "xn exact pairs (%d) are not copy 0's shifted per copy (%d)" % (
            len(got), len(want))

    docs = pq.read_table(os.path.join(inp, "xn", "documents.parquet")).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    grams = {}

    def g(i):
        if i not in grams:
            grams[i] = grams3(text[i])
        return grams[i]

    scored = _frame(os.path.join(out, "xn_scored_pairs"))
    exact_pairs = xn_out["q94_prefix_jaccard_pairs"]
    exact_set = set(zip(exact_pairs["id_a"], exact_pairs["id_b"]))

    def ck_lsh(sp):
        for a, b, j in zip(sp["id_a"], sp["id_b"], sp["jaccard"]):
            true = jaccard(g(a), g(b))
            if j >= 0.5 and true < 0.5:
                return "LSH pair (%d, %d) verified at %r but its Jaccard is %r" % (a, b, j, true)
            # the engine reports the Jaccard rounded to 6 decimals
            if abs(true - j) > 5.01e-7:
                return "LSH pair (%d, %d) jaccard %r, recomputed %r" % (a, b, j, true)
        verified = {(a, b) for a, b, j in zip(sp["id_a"], sp["id_b"], sp["jaccard"]) if j >= 0.5}
        if not verified <= exact_set:
            return "verified LSH pairs outside the exact pair set"
        return None

    clusters = _frame(os.path.join(out, "xn_clusters"))

    def ck_clusters(c):
        cid = dict(zip(c["doc_id"], c["cluster_id"]))
        if len(cid) != len(text):
            return "%d documents clustered, want %d" % (len(cid), len(text))
        for a, b, j in zip(scored["id_a"], scored["id_b"], scored["jaccard"]):
            if j >= 0.5 and cid[a] != cid[b]:
                return "verified pair (%d, %d) split across clusters" % (a, b)
        sizes = c.groupby("cluster_id")["doc_id"].agg(["min", "count"])
        if not (sizes["min"] == sizes.index).all():
            return "a cluster id is not its smallest member"
        if not (c["n_members"].to_numpy() == sizes.loc[c["cluster_id"], "count"].to_numpy()).all():
            return "n_members differs from the cluster size"
        return None

    sigs = _frame(os.path.join(out, "xn_simhash_sigs"))

    def ck_simhash(p):
        # every document pair within Hamming distance 2, by brute force over
        # the signatures (a pair (a, b), a < b, keyed as a * 2^32 + b)
        ids = sigs["doc_id"].to_numpy(np.int64)
        sh = sigs["sh"].to_numpy(np.int64)
        pop = np.array([bin(x).count("1") for x in range(1 << 16)], np.int8)
        want = []
        for i in range(0, len(ids), 512):
            a = ids[i:i + 512, None]
            near = pop[(sh[i:i + 512, None] ^ sh[None, :]) & 0xFFFF] <= 2
            near &= a < ids[None, :]
            r, c = np.nonzero(near)
            want.append(ids[i + r] * (1 << 32) + ids[c])
        want = np.sort(np.concatenate(want))
        got = np.sort(p["id_a"].to_numpy(np.int64) * (1 << 32) + p["id_b"].to_numpy(np.int64))
        return None if np.array_equal(got, want) else \
            "SimHash pairs %d, brute force within Hamming 2: %d" % (len(got), len(want))

    ids, vecs = _vectors(os.path.join(inp, "xn", "embeddings.parquet"))

    def topk_rows(t):
        r = {}
        for q, v, s_, k in sorted(zip(t["q_id"], t["vec_id"], t["sim"], t["rnk"]), key=lambda x: (x[0], x[3])):
            r.setdefault(int(q), []).append((int(v), float(s_)))
        return r

    topk = _frame(os.path.join(out, "xn_topk"))

    words = [w for t in docs["text"] for w in normalize(t).split(" ")]
    distinct = len(set(words))

    def ck_sketch(sk):
        # the estimates against reference implementations of the same
        # algorithms over the exact distinct words (HLL: 256 registers on
        # the md5 hex; KMV: (k-1) / k-th smallest 52-bit md5 prefix)
        r = sk.iloc[0]
        if r["n_tokens"] != len(words):
            return "token count %d, want %d" % (r["n_tokens"], len(words))
        hll, kmv = reference_sketches(set(words), 1024)
        if abs(r["hll"] - hll) > 1e-9 * hll:
            return "HLL estimate %r, reference %r (%d distinct)" % (r["hll"], hll, distinct)
        if abs(r["kmv"] - kmv) > 1e-9 * kmv:
            return "KMV estimate %r, reference %r (%d distinct)" % (r["kmv"], kmv, distinct)
        return None

    import hashlib
    from collections import Counter
    top = Counter(words).most_common(10)

    def ck_cms(c):
        tot = c.groupby("j")["c"].sum()
        if not (tot == len(words)).all() or len(tot) != 3:
            return "CMS rows do not each count every token"
        cell = {(int(j), b): int(v) for j, b, v in zip(c["j"], c["b"], c["c"])}
        for w, true in top:
            est = min(cell.get((j, hashlib.md5((seed + w).encode()).hexdigest()[:3]), 0)
                      for j, seed in enumerate(("cms0:", "cms1:", "cms2:")))
            if est < true:
                return "CMS estimate %d below the true count %d of %r" % (est, true, w)
        return None

    streamed = _frame(os.path.join(out, "stream_streamed"))
    planted = set(params["stream_exact_dups"])
    fresh = pq.read_table(os.path.join(inp, "stream")).to_pydict()
    corpus_norm = {normalize(t) for t in docs["text"]}

    def ck_stream(s_):
        if sorted(s_["doc_id"]) != sorted(fresh["doc_id"]):
            return "admission did not emit each streamed document once"
        want = {d: normalize(t) in corpus_norm for d, t in zip(fresh["doc_id"], fresh["text"])}
        for d, dup, stage in zip(s_["doc_id"], s_["is_exact_dup"], s_["stage"]):
            if bool(dup) != want[d] or (dup and stage != "exact"):
                return "document %d: exact-duplicate flag %r, stage %r" % (d, dup, stage)
        if not planted <= {d for d, v in want.items() if v}:
            return "a planted duplicate is not in the corpus"
        return None

    def ck_lookup(c):
        m = sorted(int(x) for x in c["doc_id"])
        if params["lookup_doc"] not in m or set(c["n_members"]) != {len(m)}:
            return "cluster of %d: members %r, n_members %r" % (
                params["lookup_doc"], m, sorted(set(c["n_members"])))
        cid = clusters.loc[clusters["doc_id"] == params["lookup_doc"], "cluster_id"].iloc[0]
        if m != sorted(clusters.loc[clusters["cluster_id"] == cid, "doc_id"]):
            return "looked-up cluster differs from the cluster table"
        # connected under the true Jaccard >= 0.5 graph
        seen, todo = {m[0]}, [m[0]]
        while todo:
            a = todo.pop()
            for b in m:
                if b not in seen and round(jaccard(g(a), g(b)), 6) >= 0.5:
                    seen.add(b)
                    todo.append(b)
        return None if len(seen) == len(m) else "the cluster is not connected by near-duplicate pairs"

    terms = set(params["bm25_terms"])

    def ck_bm25(b):
        b = b.sort_values("rnk")
        sc = list(b["score"])
        if not sc:
            return "no BM25 hits"
        if any(y > x for x, y in zip(sc, sc[1:])):
            return "BM25 scores increase: %r" % sc
        for d in b["doc_id"]:
            if not terms & set(normalize(text[d]).split(" ")):
                return "BM25 hit %d has no query term" % d
        return None

    def drop_row(df):
        return df.iloc[1:]

    cases += [
        ("xn.features_per_copy", feat, ck_features,
         lambda d: d.assign(n_tokens_ws=np.where(d["doc_id"] == base_n, -1, d["n_tokens_ws"]))),
        ("xn.exact_dedup_n_times", xn_out["q30_exact_dedup"], ck_exact, drop_row),
        ("xn.bloom_per_copy", xn_out["q67_bloom_decontaminate"], ck_bloom,
         lambda d: d.assign(n_bloom_hits=d["n_bloom_hits"] - d["n_exact_hits"] - 1)),
        ("xn.exact_pairs_per_copy", exact_pairs, ck_exact_pairs, drop_row),
        ("dedup.lsh_jaccard", scored, ck_lsh,
         lambda d: d.assign(jaccard=np.where(np.arange(len(d)) == 0, 0.99, d["jaccard"]))),
        ("dedup.clusters", clusters, ck_clusters,
         lambda d: d.assign(cluster_id=np.where(np.arange(len(d)) == 0, -1, d["cluster_id"]))),
        ("dedup.simhash_pairs", _frame(os.path.join(out, "xn_simhash_pairs")), ck_simhash, drop_row),
        ("sim.topk", topk, lambda t: topk_check(vecs, ids, topk_rows(t), 10),
         lambda d: d.assign(sim=d["sim"] + 1e-4)),
        ("dedup.sketches", _frame(os.path.join(out, "xn_sketches")), ck_sketch,
         lambda d: d.assign(hll=d["hll"] * 2)),
        ("text.cms", _frame(os.path.join(out, "xn_cms")), ck_cms, lambda d: d.assign(c=d["c"] // 2)),
        ("queries.cluster_lookup", _frame(os.path.join(out, "xn_cluster_lookup")), ck_lookup,
         lambda d: d.assign(n_members=d["n_members"] + 1)),
        ("text.bm25", _frame(os.path.join(out, "xn_bm25")), ck_bm25,
         lambda d: d.assign(score=d["score"] * np.where(d["rnk"] == d["rnk"].max(), 10.0, 1.0))),
        ("streaming.admission", streamed, ck_stream,
         lambda d: d.assign(is_exact_dup=~d["is_exact_dup"].astype(bool))),
    ]
    return cases


WORKLOAD_CHECKS = {
    "fixed_income": fixed_income_checks,
    "curation": curation_checks,
}


def run(workload, inp, out, res):
    """Runs every check and its perturbation; returns the problems found."""
    problems = []
    try:
        cases = WORKLOAD_CHECKS[workload](inp, out, res)
    except Exception as e:  # noqa: BLE001 - a missing output is a failed check
        return ["loading outputs: %s: %s" % (type(e).__name__, e)]
    for name, data, check, perturb in cases:
        try:
            err = check(data)
        except Exception as e:  # noqa: BLE001
            err = "%s: %s" % (type(e).__name__, e)
        if err:
            problems.append("%s: %s" % (name, err))
            continue
        try:
            caught = check(perturb(data)) is not None
        except Exception:  # noqa: BLE001 - raising on bad output is catching it
            caught = True
        if not caught:
            problems.append("%s: a perturbed output passed the check" % name)
    return problems
