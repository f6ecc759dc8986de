#!/usr/bin/env python3
"""Measure the traffic properties of a documents.parquet table.

    python3 perfbench/measure_docs.py path/to/documents.parquet

Prints the shares gen.py's curation_batch constants are set from: exact
duplicates, near-duplicates (word 3-shingle Jaccard >= 0.8, as the
pipeline's near-dup stage), train-split docs sharing an 8-gram with the
held-out slice, docs failing the quality rule, and the source, language,
length and vocabulary shape. Every pair is compared exactly (an inverted
index over shingles finds the pairs that share one), so nothing is sampled.
Not part of a benchmark run.
"""
import collections
import sys

import pyarrow.parquet as pq

sys.path.insert(0, __import__("os").path.dirname(__file__))
from gen import held_out  # noqa: E402


def shingles(toks, k):
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def main(path):
    rows = [r for r in pq.read_table(path).to_pylist() if r["text"] is not None]
    n = len(rows)
    toks = {r["doc_id"]: r["text"].split() for r in rows}

    exact = sum(c - 1 for c in collections.Counter(r["text"] for r in rows).values())

    held = [d for d in toks if held_out(d)]
    grams = set().union(*(shingles(toks[d], 8) for d in held)) if held else set()
    contam = sum(1 for d in toks if not held_out(d) and shingles(toks[d], 8) & grams)

    sh = {d: shingles(x, 3) for d, x in toks.items()}
    index = collections.defaultdict(list)
    for d, s in sh.items():
        for g in s:
            index[g].append(d)
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    near_pairs = 0
    for a, s in sh.items():
        shared = collections.Counter(b for g in s for b in index[g] if b > a)
        for b, k in shared.items():
            if k / (len(s) + len(sh[b]) - k) >= 0.8:
                near_pairs += 1
                parent[find(a)] = find(b)
    clustered_away = sum(c - 1 for c in collections.Counter(find(d) for d in toks).values())

    quality_drop = sum(1 for r in rows if len(toks[r["doc_id"]]) < 10 or
                       len(r["text"]) / len(toks[r["doc_id"]]) < 2.0)
    lens = sorted(len(x) for x in toks.values())
    vocab = collections.Counter(w for x in toks.values() for w in x)
    src = collections.Counter(r["source"] for r in rows)
    lang = collections.Counter(r["lang"] for r in rows)
    print(f"docs {n}")
    print(f"exact duplicate share {exact / n:.4f}")
    print(f"near-dup pairs {near_pairs}; docs dropped by clustering, exact copies excluded "
          f"{(clustered_away - exact) / n:.4f}")
    print(f"held-out share {len(held) / n:.4f}; contaminated train docs {contam / n:.4f}")
    print(f"quality-rule drops {quality_drop / n:.4f}")
    print(f"tokens per doc min {lens[0]} median {lens[n // 2]} max {lens[-1]}")
    print(f"vocabulary {len(vocab)}: {vocab.most_common(5)} ... {vocab.most_common()[-3:]}")
    print(f"sources {len(src)}, docs per source {min(src.values())}..{max(src.values())}")
    print("languages " + ", ".join(f"{k} {v / n:.3f}" for k, v in lang.most_common()))


if __name__ == "__main__":
    main(sys.argv[1])
