"""Seeded input generators. Everything the program sees is made here
from the run's seed, so the same seed gives byte-identical inputs."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = [f"c{i}" for i in range(8)]

# the stopword sets the curation composition's language detector scores
# (queries._LANG_SETS); a document drawn from one set is detected as it
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "with", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "que", "por", "para"],
}


class Mixture:
    """Gaussian mixture of 64 clusters: real embeddings cluster, and IVF
    cells only prune when they do."""

    def __init__(self, rng: np.random.Generator, dim: int, n_clusters: int = 64,
                 spread: float = 0.35):
        self.rng = rng
        self.centers = rng.normal(size=(n_clusters, dim))
        self.spread = spread

    def sample(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """``(float32 [n, dim] rows, category index [n])``."""
        labels = self.rng.integers(0, len(self.centers), n)
        x = self.centers[labels] + self.spread * self.rng.normal(size=(n, self.centers.shape[1]))
        return x.astype(np.float32), self.rng.integers(0, len(CATEGORIES), n)


def perturb(rng: np.random.Generator, rows: np.ndarray, scale: float = 0.05) -> np.ndarray:
    return (rows + scale * rng.normal(size=rows.shape)).astype(np.float32)


def write_vectors(path: str, ids: np.ndarray, x: np.ndarray, cats: np.ndarray) -> None:
    """One parquet file in the store's input shape (id, embedding, category)."""
    flat = pa.array(x.reshape(-1), type=pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, x.shape[1]).cast(pa.list_(pa.float32()))
    pq.write_table(
        pa.table({
            "id": pa.array(ids.astype(np.int64)),
            "embedding": emb,
            "category": pa.array([CATEGORIES[c] for c in cats]),
        }),
        path,
    )


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    syll = np.array(["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa",
                     "qu", "be", "do", "fi", "gu", "ho", "ja", "ky", "wu", "xe"])
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        words.add("".join(syll[rng.integers(0, len(syll), k)]))
    return np.array(sorted(words), dtype=object)


def documents(rng: np.random.Generator, n: int, twin_frac: float = 0.03,
              exact_dup_frac: float = 0.02, empty_frac: float = 0.01,
              null_frac: float = 0.01) -> tuple[dict, list[int]]:
    """A crawl-like corpus as columns of the repo's ``documents`` table
    (doc_id, text, lang, source, n_chars).

    Most documents are 25-90 words of one language's stopwords mixed
    with content words, so they pass the curation filter. Beside them:
    too-short and too-long documents, stopword-free ('und') ones, exact
    duplicates differing only in case and spacing, empty and NULL
    texts, and planted near-duplicate twins (one word substituted) that
    get higher doc_ids than their originals, so a min-id keeper must
    drop the twin. Returns ``(columns, [(original, twin) doc_ids])``."""
    vocab = _vocabulary(rng, 6000)
    langs = np.array(list(STOPWORDS))
    stop = np.array([STOPWORDS[lang] for lang in langs], dtype=object)
    doc_lang = rng.integers(0, len(langs), n)
    kind = rng.random(n)
    lengths = np.where(
        kind < 0.05, rng.integers(5, 18, n),  # quality filter: too short
        np.where(kind < 0.08, rng.integers(100, 140, n),  # too long
                 np.where(kind < 0.10, 40, rng.integers(25, 90, n))))
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    word_doc = np.repeat(np.arange(n), lengths)
    # stopword-free ('und') documents draw content words only
    is_stop = (rng.random(offsets[-1]) < 0.3) & ~((kind >= 0.08) & (kind < 0.10))[word_doc]
    words = np.where(
        is_stop,
        stop[doc_lang[word_doc], rng.integers(0, 10, offsets[-1])],
        vocab[rng.integers(0, len(vocab), offsets[-1])],
    )
    texts: list[str | None] = [
        " ".join(words[offsets[i]:offsets[i + 1]]) for i in range(n)
    ]
    doc_langs = [str(langs[i]) for i in doc_lang]
    plain = np.flatnonzero(kind >= 0.10)

    for i in rng.choice(plain, int(n * exact_dup_frac), replace=False):
        texts.append("  " + texts[i].upper().replace(" ", "   ") + " ")
        doc_langs.append(doc_langs[i])
    twins = []
    for i in rng.choice(plain, int(n * twin_frac), replace=False):
        w = texts[i].split()
        w[int(rng.integers(0, len(w)))] = vocab[int(rng.integers(0, len(vocab)))] + "x"
        twins.append((int(i), len(texts)))
        texts.append(" ".join(w))
        doc_langs.append(doc_langs[i])
    for frac, value in ((empty_frac, ""), (null_frac, None)):
        for _ in range(int(n * frac)):
            texts.append(value)
            doc_langs.append(str(langs[int(rng.integers(0, len(langs)))]))
    cols = {
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "lang": doc_langs,
        "source": [f"crawl-{i % 7}" for i in range(len(texts))],
        "n_chars": np.array([len(t) if t is not None else 0 for t in texts], dtype=np.int64),
    }
    return cols, twins


def write_documents(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)
