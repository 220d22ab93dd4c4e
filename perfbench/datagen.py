"""The MapReduce corpus, generated from the seed.

The catalog workloads read fixed tables instead: ``perfbench/data/sf<sf>/``
holds byte-identical copies of the engine's deterministic test tables
(``region nation customer supplier part orders lineitem events documents
embeddings``, one parquet file each, seed 42).
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np


def mr_corpus(out_dir: str, seed: int, n_files: int, lines_per_file: int,
              vocab: int = 1000, zipf_a: float = 1.2) -> Counter:
    """Write ``n_files`` numbered text files (``0`` .. ``n_files-1``, the
    reference's directory-dataset naming) of Zipf-distributed words and
    return the exact count of every word."""
    rng = np.random.default_rng(seed)
    words = np.asarray([f"w{i:04d}{'abcdefghij'[i % 10]}" for i in range(vocab)], dtype=object)
    os.makedirs(out_dir, exist_ok=True)
    counts: Counter = Counter()
    for f in range(n_files):
        per_line = rng.integers(4, 17, lines_per_file)
        ranks = np.minimum(rng.zipf(zipf_a, int(per_line.sum())), vocab) - 1
        tokens = words[ranks]
        ids, n = np.unique(ranks, return_counts=True)
        counts.update(dict(zip(words[ids], n.tolist())))
        ends = np.cumsum(per_line)
        with open(os.path.join(out_dir, str(f)), "w") as fh:
            start = 0
            for end in ends:
                fh.write(" ".join(tokens[start:end]) + "\n")
                start = end
    return counts
