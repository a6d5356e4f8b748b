"""Seeded corpus generator for the chain benchmark.

Writes `documents.parquet` and `embeddings.parquet` with the schemas of
the engine's `documents` and `embeddings` tables:

    documents:  doc_id BIGINT, text STRING, lang STRING, source STRING,
                n_chars BIGINT
    embeddings: vec_id BIGINT, embedding ARRAY<FLOAT>, label INT

Every property the engine's data-driven branches depend on is a field of
`CorpusSpec`, so a workload states it: post count, length distribution,
vocabulary size and Zipf skew, language and source mix, replica factor
and near-copy share, vector count and dimension, and the number of
cluster labels. The defaults are the values measured on the engine's
sf0.1 fixture, so a workload that changes none of them has its traffic.
"""
from __future__ import annotations

import dataclasses
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The defaults below are measured on the engine's sf0.1 `documents` and
# `embeddings` fixtures (perfbench/README.md, "Corpus"). Of the rule
# gate's (tx_gopher) English stop words, the fixture's vocabulary holds
# these two; they are ordinary vocabulary words, drawn like the rest.
STOP_WORDS = ("the", "a")
LANGS = ("en", "zh", "es", "de", "fr")
# Word lengths of the fixture's 28 other vocabulary words, as (letters,
# words); a vocabulary of another size keeps their proportions.
WORD_LENGTHS = ((3, 4), (4, 9), (5, 9), (6, 5), (8, 1))
# A near copy is its base text with this word appended, as in the fixture.
NEAR_MARK = "dup"


@dataclasses.dataclass(frozen=True)
class CorpusSpec:
    n_posts: int = 5_000
    words_min: int = 10           # base text length, uniform in words
    words_max: int = 99
    vocab_size: int = 30
    zipf_s: float = 0.0           # 0 = uniform word frequencies
    lang_mix: tuple = (0.412, 0.151, 0.149, 0.140, 0.148)
    n_sources: int = 20           # source = doc_id mod n_sources
    # Each distinct base text appears `replica_factor` times verbatim; a
    # `near_copy_frac` share of the posts are near copies, each of a
    # different base while there are enough bases.
    replica_factor: int = 1
    near_copy_frac: float = 0.05
    n_vectors: int = 2_000
    dim: int = 64
    n_clusters: int = 10          # labels, independent of the unit-norm vectors

    def record(self) -> dict:
        return dataclasses.asdict(self)


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """`size` distinct pronounceable words: the stop words, then words
    whose lengths follow WORD_LENGTHS."""
    cons = "bcdfghjklmnprstvwz"
    vows = "aeiou"
    lengths = [n for n, k in WORD_LENGTHS for _ in range(k)]
    words = list(STOP_WORDS)
    seen = set(words)
    while len(words) < size:
        n = lengths[(len(words) - len(STOP_WORDS)) * len(lengths) // (size - len(STOP_WORDS))]
        w = "".join((cons if i % 2 == 0 else vows)[rng.integers(len(cons) if i % 2 == 0 else len(vows))]
                    for i in range(n))
        if w not in seen and w != NEAR_MARK:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def _zipf_sampler(rng: np.random.Generator, size: int, s: float):
    cdf = np.cumsum(1.0 / np.arange(1, size + 1) ** s)
    cdf /= cdf[-1]
    return lambda n: np.minimum(np.searchsorted(cdf, rng.random(n)), size - 1)


def _documents(spec: CorpusSpec, rng: np.random.Generator) -> pa.Table:
    vocab = _vocabulary(rng, spec.vocab_size)
    draw = _zipf_sampler(rng, spec.vocab_size, spec.zipf_s)
    n_near = int(round(spec.n_posts * spec.near_copy_frac))
    n_base = -(-(spec.n_posts - n_near) // spec.replica_factor)
    bases = [" ".join(vocab[draw(int(rng.integers(spec.words_min, spec.words_max + 1)))])
             for _ in range(n_base)]
    base_lang = rng.choice(len(LANGS), size=n_base, p=spec.lang_mix)
    of = np.repeat(np.arange(n_base), spec.replica_factor)[: spec.n_posts - n_near]
    near_of = rng.choice(n_base, size=n_near, replace=n_near > n_base)
    texts = [bases[b] for b in of] + [bases[b] + " " + NEAR_MARK for b in near_of]
    langs = [LANGS[base_lang[b]] for b in np.concatenate([of, near_of])]
    # Shuffle so copies of one base land far apart in doc_id order
    # (and therefore across partitions and the doc_id % k splits).
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    ids = np.arange(len(texts), dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % spec.n_sources}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(spec: CorpusSpec, rng: np.random.Generator) -> pa.Table:
    """Unit-norm vectors with uniform labels. In the fixture the label
    means differ by 0.009 per dimension, the sampling noise of means of
    ~200 unit vectors: its clusters carry no geometry, and neither do these."""
    label = rng.integers(0, spec.n_clusters, spec.n_vectors).astype(np.int32)
    vecs = rng.normal(0.0, 1.0, (spec.n_vectors, spec.dim))
    flat = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, spec.n_vectors * spec.dim + 1, spec.dim, dtype=np.int32)),
        pa.array(flat.reshape(-1), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(spec.n_vectors, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(label, pa.int32()),
    })


def text_density(texts) -> float:
    """Exact posts per distinct text; the engine's `Sampling.textDensity`
    estimates the same ratio with an HLL sketch over md5(text)."""
    distinct = {hashlib.md5(t.encode()).digest() for t in texts}
    return len(texts) / max(len(distinct), 1)


def generate(spec: CorpusSpec, seed: int, out_dir: str) -> dict:
    """Write the corpus for (spec, seed) to `out_dir`; return its facts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs = _documents(spec, rng)
    embs = _embeddings(spec, rng)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embs, os.path.join(out_dir, "embeddings.parquet"))
    texts = docs.column("text").to_pylist()
    return {
        "posts": docs.num_rows,
        "vectors": embs.num_rows,
        "exact_text_density": round(text_density(texts), 4),
        "mean_words": round(float(np.mean([len(t.split()) for t in texts])), 2),
    }
