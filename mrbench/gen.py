"""Seeded corpus generator for the MapReduce workloads.

One corpus feeds both MR workloads: `mr_combine` reads it as a
multi-file `documents.parquet` (the schema of the engine's documents
table), `mr_holistic` reads the same documents as plain text files, one
document per line. Word ranks are drawn from a Zipf(s) law over a
vocabulary of `vocab` words, so the corpus has many distinct keys (the
exchange carries real data) while the map-side combine still shrinks
the word-count shuffle to a small share of the tokens.

The generator also writes what the checks compare against: per word,
its total count, the number of documents holding it and the sum of
their ids. The same seed and sizes give byte-identical files.
"""
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["de", "en", "es", "fr"]


def word_strings(ranks: np.ndarray, letters: str) -> list:
    """Bijective base-26 spelling of each rank (0 -> first letter), so
    frequent words are short and every rank has its own word."""
    out = []
    for r in ranks.tolist():
        n = r + 1
        chars = []
        while n > 0:
            n, d = divmod(n - 1, 26)
            chars.append(letters[d])
        out.append("".join(chars))
    return out


def generate(seed: int, out_dir: str, n_docs: int, mean_tokens: int,
             n_files: int, vocab: int = 1_000_000, zipf_s: float = 1.2,
             parquet: bool = True, text: bool = True) -> dict:
    rng = np.random.Generator(np.random.PCG64(seed))
    letters = "".join(rng.permutation(list(string.ascii_lowercase)))

    # document lengths, then one Zipf rank per token (inverse CDF)
    lengths = rng.integers(mean_tokens // 2, mean_tokens * 3 // 2 + 1, n_docs)
    n_tokens = int(lengths.sum())
    cdf = np.cumsum(np.arange(1, vocab + 1, dtype=np.float64) ** -zipf_s)
    cdf /= cdf[-1]
    ranks = np.searchsorted(cdf, rng.random(n_tokens), side="right")
    ranks = np.minimum(ranks, vocab - 1)
    uniq, inv = np.unique(ranks, return_inverse=True)
    words = np.array(word_strings(uniq, letters), dtype=object)

    bounds = np.concatenate([[0], np.cumsum(lengths)])
    tok_words = words[inv]
    texts = [" ".join(tok_words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    doc_ids = np.arange(n_docs, dtype=np.int64)

    # expected results: count, doc frequency and doc-id sum per word
    doc_of_tok = np.repeat(doc_ids, lengths)
    pairs = np.unique(doc_of_tok * len(uniq) + inv)
    pair_word = pairs % len(uniq)
    pair_doc = pairs // len(uniq)
    expected = pa.table({
        "word": pa.array(words.tolist(), pa.string()),
        "cnt": pa.array(np.bincount(inv, minlength=len(uniq)), pa.int64()),
        "n_docs": pa.array(np.bincount(pair_word, minlength=len(uniq)), pa.int64()),
        "doc_sum": pa.array(np.bincount(pair_word, weights=pair_doc,
                                        minlength=len(uniq)).astype(np.int64), pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(expected, os.path.join(out_dir, "expected.parquet"))

    file_of_doc = np.array_split(np.arange(n_docs), n_files)
    sizes = {"docs": n_docs, "tokens": n_tokens, "distinct_words": int(len(uniq)),
             "doc_word_pairs": int(len(pairs)), "files": n_files}
    if parquet:
        langs = np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]
        pdir = os.path.join(out_dir, "documents.parquet")
        os.makedirs(pdir)
        for f, idx in enumerate(file_of_doc):
            lo, hi = int(idx[0]), int(idx[-1]) + 1
            t = pa.table({
                "doc_id": pa.array(doc_ids[lo:hi], pa.int64()),
                "text": pa.array(texts[lo:hi], pa.string()),
                "lang": pa.array(langs[lo:hi].tolist(), pa.string()),
                "source": pa.array([f"src{f}"] * (hi - lo), pa.string()),
                "n_chars": pa.array([len(s) for s in texts[lo:hi]], pa.int64()),
            })
            pq.write_table(t, os.path.join(pdir, f"part-{f:05d}.parquet"))
        sizes["parquet_bytes"] = sum(os.path.getsize(os.path.join(pdir, p))
                                     for p in os.listdir(pdir))
    if text:
        tdir = os.path.join(out_dir, "text")
        os.makedirs(tdir)
        for f, idx in enumerate(file_of_doc):
            lo, hi = int(idx[0]), int(idx[-1]) + 1
            with open(os.path.join(tdir, f"part-{f:05d}.txt"), "wb") as fh:
                fh.write(("\n".join(texts[lo:hi]) + "\n").encode("ascii"))
        sizes["text_bytes"] = sum(os.path.getsize(os.path.join(tdir, p))
                                  for p in os.listdir(tdir))
    return sizes

