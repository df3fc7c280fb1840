"""Shape statistics of a `documents` / `embeddings` pair.

    python3 perfbench/shape.py <dir with documents.parquet and embeddings.parquet>
    python3 perfbench/shape.py --generated <n docs> [--seed <n>]

The first form reads a testdata directory (sf0.1's files are what the
curation generator's parameters were measured from); the second makes one
copy of the generator's base corpus of that size. Both print the same figures,
so the two can be set side by side. Not part of a benchmark run.
"""

import argparse
import collections
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def stats(texts, langs, vecs, labels):
    words = [t.split(" ") for t in texts]
    n_words = np.array([len(w) for w in words])
    vocab = collections.Counter(w for ws in words for w in ws)
    dup = [ws.count(gen.SF01_DUP_WORD) for ws in words]
    by_text = collections.Counter(texts)
    cos = vecs @ vecs.T
    same = labels[:, None] == labels[None, :]
    np.fill_diagonal(same, False)
    other = ~same
    np.fill_diagonal(other, False)
    lang = collections.Counter(langs)
    return {
        "documents": len(texts),
        "words_per_doc_min_median_max": [int(n_words.min()), float(np.median(n_words)),
                                         int(n_words.max())],
        "vocabulary": len(vocab),
        "near_duplicates (docs with the dup word)": sum(1 for d in dup if d),
        "dup_word_chains (docs with it twice or more)": sum(1 for d in dup if d > 1),
        "exact_duplicate_texts (extra copies)": sum(c - 1 for c in by_text.values()),
        "lang_shares": {k: round(v / len(langs), 3) for k, v in sorted(lang.items())},
        "embeddings": list(vecs.shape),
        "labels": len(set(labels.tolist())),
        "mean_cosine_same_label": float(cos[same].mean()),
        "mean_cosine_other_label": float(cos[other].mean()),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir", nargs="?")
    ap.add_argument("--generated", type=int)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    if a.generated:
        rng = np.random.default_rng([a.seed, 2])
        base = gen.base_corpus(rng, a.generated)
        vecs, labels = gen.base_vectors(rng, max(1, a.generated * 2 // 5))
        texts, langs = base["text"], base["lang"]
    elif a.dir:
        d = pq.read_table(os.path.join(a.dir, "documents.parquet")).to_pydict()
        e = pq.read_table(os.path.join(a.dir, "embeddings.parquet"))
        texts, langs = d["text"], d["lang"]
        vecs = np.array(e.column("embedding").to_pylist(), dtype=np.float64)
        labels = e.column("label").to_numpy()
    else:
        ap.error("give a directory or --generated")
    for k, v in stats(texts, langs, vecs.astype(np.float64), labels).items():
        print("%-46s %s" % (k, v))


if __name__ == "__main__":
    main()
