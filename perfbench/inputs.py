"""Seeded benchmark inputs.  The same seed always gives the same bytes.

Three input families, one per workload:

* an image corpus from the package's own generator (`datagen.write_corpus`),
  with planted near-duplicates and their `truth_pairs`, split 80/20 into
  an initial table and an increment;
* a document table with planted near-duplicate groups and a boilerplate
  flood of identical documents;
* a clustered embedding table with planted near-identical twins.

The engine only ever sees the written parquet files; the planted truth
stays with the benchmark for the output checks.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def image_corpus(out_dir: str, n_base: int, seed: int) -> dict:
    """images / images_initial / images_incremental / truth_pairs.

    The generator writes every base image before any duplicate, so its own
    first-80% split holds no planted pair at all.  The split here is a
    seeded random 80/20 one instead: both slices hold base images and
    duplicates, and the increment also duplicates registry records."""
    from customer_er_spark.datagen import write_corpus

    summary = write_corpus(out_dir, n_base=n_base, dup_fraction=0.25, seed=seed)
    table = pq.read_table(os.path.join(out_dir, "images.parquet"))
    order = np.random.default_rng(seed).permutation(table.num_rows)
    cut = int(table.num_rows * 0.8)
    for name, rows in (("images_initial", order[:cut]),
                       ("images_incremental", order[cut:])):
        pq.write_table(table.take(np.sort(rows)),
                       os.path.join(out_dir, f"{name}.parquet"))
    return {**summary, "initial": cut, "incremental": table.num_rows - cut}


def _vocab(rng: np.random.Generator, n_words: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n_words:
        n = int(rng.integers(4, 10))
        words.add("".join(letters[rng.integers(0, 26, n)]))
    return np.array(sorted(words))


def documents(
    out_path: str,
    seed: int,
    n_background: int,
    n_groups: int,
    group_size: int,
    flood: int,
) -> dict[int, int]:
    """Write (doc_id, text) to `out_path`; return doc_id -> planted group.

    Background documents are 30-60 random vocabulary words plus one
    high-entropy token, so unrelated documents share almost no shingles.
    Each planted group is a base document and `group_size - 1` variants
    with one word replaced (shingle Jaccard ~0.9).  The flood is `flood`
    copies of one boilerplate text.  Background documents are their own
    singleton groups.  doc_ids are a seeded permutation, so a group's
    members are scattered through the table.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 6000)

    def fresh() -> list[str]:
        words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(30, 61)))])
        words.insert(int(rng.integers(0, len(words))), f"u{int(rng.integers(0, 10**12)):012d}")
        return words

    texts: list[str] = []
    group_of: list[int] = []
    for _ in range(n_background):
        texts.append(" ".join(fresh()))
        group_of.append(-1)
    for g in range(n_groups):
        base = fresh()
        texts.append(" ".join(base))
        group_of.append(g)
        for _ in range(group_size - 1):
            var = list(base)
            var[int(rng.integers(0, len(var)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(var))
            group_of.append(g)
    boiler = " ".join(fresh())
    for _ in range(flood):
        texts.append(boiler)
        group_of.append(n_groups)

    ids = rng.permutation(len(texts)).astype(np.int64)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)}), out_path
    )
    groups: dict[int, int] = {}
    for doc_id, g in zip(ids.tolist(), group_of):
        # background docs: a unique negative label each
        groups[doc_id] = g if g >= 0 else -1 - doc_id
    return groups


def embeddings(
    out_path: str,
    seed: int,
    n_vectors: int,
    n_clusters: int,
    n_twins: int,
    dim: int = 64,
) -> list[tuple[int, int]]:
    """Write (vec_id, embedding) to `out_path`; return the planted twin pairs.

    Vectors are cluster centres plus Gaussian spread; the last `n_twins`
    rows are copies of earlier rows moved by 1e-4 noise, so each twin's
    nearest neighbour is its original."""
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((n_clusters, dim))
    n_plain = n_vectors - n_twins
    vecs = centres[rng.integers(0, n_clusters, n_plain)] + 0.35 * rng.standard_normal(
        (n_plain, dim)
    )
    src = rng.choice(n_plain, n_twins, replace=False)
    twins = vecs[src] + 1e-4 * rng.standard_normal((n_twins, dim))
    allv = np.vstack([vecs, twins]).astype(np.float32)
    ids = np.arange(n_vectors, dtype=np.int64)
    arr = pa.FixedSizeListArray.from_arrays(pa.array(allv.ravel()), dim)
    pq.write_table(
        pa.table(
            {"vec_id": pa.array(ids), "embedding": arr.cast(pa.list_(pa.float32()))}
        ),
        out_path,
    )
    return [(int(s), int(n_plain + i)) for i, s in enumerate(src)]
