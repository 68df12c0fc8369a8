"""Seeded inputs: corpus, delta segment, delete set and query streams.

Everything here is a pure function of the seed (``numpy`` PCG64), so
the same ``--seed`` gives byte-identical inputs. The engine under test
only ever sees the generated tables and query strings.

Corpus shape (Common-Crawl-like web text, as ``corpus.gen_documents``
but seeded): body words are a Zipf(s=1.1) draw over a seeded
vocabulary of alphabetic words, documents are 20..400 tokens long
(uniform), and sentences carry capitalisation and ``.,!?``
punctuation so that the tokenizer's lowercase/strip rules do work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 20_000
ZIPF_S = 1.1
MIN_LEN, MAX_LEN = 20, 400
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_PUNCT = np.array([".", ".", ".", ",", "!", "?"])


def vocabulary(seed: int) -> list[str]:
    """``VOCAB_SIZE`` distinct lowercase words in Zipf rank order (rank
    0 is the most frequent). Word length is fixed by rank (3..10
    letters, cycling) and only the letters are seeded, so text bytes
    per token are the same for every seed."""
    rng = np.random.default_rng([seed, 1])
    words: dict[str, None] = {}
    for rank in range(VOCAB_SIZE):
        n = 3 + rank % 8
        while True:
            w = "".join(_LETTERS[rng.integers(0, 26, size=n)])
            if w not in words:
                words[w] = None
                break
    return list(words)


def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64), ZIPF_S)
    return np.cumsum(w / w.sum())


def gen_texts(seed: int, stream: int, n_docs: int,
              vocab: list[str]) -> list[str]:
    """``n_docs`` document texts; ``stream`` separates the base corpus
    from delta segments drawn with the same seed."""
    rng = np.random.default_rng([seed, 2, stream])
    lens = rng.integers(MIN_LEN, MAX_LEN + 1, size=n_docs)
    ranks = np.searchsorted(_zipf_cdf(), rng.random(int(lens.sum())))
    words = np.array(vocab, dtype=object)[np.minimum(ranks, VOCAB_SIZE - 1)]
    # sentence boundaries: every token ends a sentence with p=1/12
    ends_sentence = rng.random(words.size) < 1 / 12
    punct = _PUNCT[rng.integers(0, _PUNCT.size, size=words.size)]
    texts = []
    start = 0
    for n in lens.tolist():
        toks = words[start:start + n].tolist()
        cut = np.flatnonzero(ends_sentence[start:start + n]).tolist()
        for i in cut:
            toks[i] = toks[i] + punct[start + i]
            if i + 1 < n:
                toks[i + 1] = toks[i + 1].capitalize()
        toks[0] = toks[0].capitalize()
        texts.append(" ".join(toks))
        start += n
    return texts


def planted_term(seed: int) -> str:
    """A term that only the delta segment contains (digits never occur
    in the alphabetic vocabulary)."""
    return f"fresh{seed}x"


def plant(texts: list[str], seed: int, term: str, n: int) -> list[int]:
    """Append ``term`` (tf 1..3) to ``n`` seeded docs of ``texts`` in
    place; returns their positions, ascending."""
    rng = np.random.default_rng([seed, 3])
    at = np.sort(rng.choice(len(texts), size=n, replace=False)).tolist()
    for i in at:
        texts[i] = texts[i] + (" " + term) * int(rng.integers(1, 4))
    return at


def write_docs(path: str, texts: list[str]) -> int:
    """documents(doc_id long, text string) as one parquet file per
    ~4k docs (so Spark's scan fans out); returns the text byte count."""
    os.makedirs(path, exist_ok=True)
    step = 4096
    for part, lo in enumerate(range(0, len(texts), step)):
        chunk = texts[lo:lo + step]
        pq.write_table(
            pa.table({
                "doc_id": pa.array(range(lo, lo + len(chunk)), pa.int64()),
                "text": pa.array(chunk, pa.string()),
            }),
            os.path.join(path, f"part-{part:05d}.parquet"),
        )
    return sum(len(t.encode("utf-8")) for t in texts)


def delete_set(seed: int, n_total: int, n: int) -> list[int]:
    """``n`` distinct seeded doc_ids out of ``range(n_total)``, ascending."""
    rng = np.random.default_rng([seed, 4])
    return sorted(rng.choice(n_total, size=n, replace=False).tolist())


def query_stream(seed: int, stream: int, terms_by_df: list[str]):
    """Endless (query_text, k) pairs: 1-4 terms drawn Zipf(1.1) over
    ``terms_by_df`` (terms ranked by df, most frequent first), k=10
    mostly (k=1 and k=100 at 10% each), and ~1.5% each of absent-only,
    partly absent, duplicate-term and punctuation-noise queries."""
    rng = np.random.default_rng([seed, 5, stream])
    w = 1.0 / np.power(np.arange(1, len(terms_by_df) + 1, dtype=np.float64),
                       ZIPF_S)
    cdf = np.cumsum(w / w.sum())
    while True:
        nt = int(rng.integers(1, 5))
        idx = np.minimum(np.searchsorted(cdf, rng.random(nt)),
                         len(terms_by_df) - 1)
        terms = [terms_by_df[i] for i in idx.tolist()]
        kind = rng.random()
        absent = f"absent{int(rng.integers(1 << 30))}q"
        if kind < 0.015:
            terms = [absent]
        elif kind < 0.03:
            terms.append(absent)
        elif kind < 0.045:
            terms = terms + terms[:1] * 2
        elif kind < 0.06:
            terms = [t.upper() + "!" if j % 2 else t + ","
                     for j, t in enumerate(terms)]
        r = rng.random()
        k = 1 if r < 0.1 else 100 if r < 0.2 else 10
        yield " ".join(terms), k
