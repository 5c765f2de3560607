"""Seeded input generators for the benchmark's workloads.

Each generator writes its files into a directory and returns a dict that
describes them; the same seed gives byte-identical files. The engine only
ever sees the files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def bf_rounds(n, src, dst, w, source):
    """Bellman-Ford rounds from `source` until no distance changes: the
    number of relaxation rounds the engine's SSSP loop runs."""
    dist = np.full(n, np.inf)
    dist[source] = 0.0
    frontier = np.zeros(n, bool)
    frontier[source] = True
    rounds = 0
    while frontier.any():
        m = frontier[src]
        new = dist.copy()
        np.minimum.at(new, dst[m], dist[src[m]] + w[m])
        frontier = new < dist
        dist = new
        rounds += 1
    return rounds


def pick_sources(rng, n, src, dst, w, candidates, k, rounds):
    """k seeded sources from `candidates`; with `rounds` set, those whose
    SSSP needs the number of rounds closest to it, so that an op does the
    same loop work whatever the seed."""
    candidates = rng.permutation(np.asarray(candidates))
    if rounds is not None:
        wf = w.astype(float)
        gap = [abs(bf_rounds(n, src, dst, wf, int(c)) - rounds) for c in candidates]
        candidates = candidates[np.argsort(gap, kind="stable")]
    return [int(c) for c in candidates[:k]]


def road_grid(out_dir, seed, n, centre_rounds=None):
    """An n x n road-like grid in the reference's `id from to w` text form.

    Every cell links to its 4 neighbours in both directions (4n(n-1)
    directed edges) with integer weights 1..100. Sources come from two
    blocks: the central (n/8 x n/8) block, whose hop eccentricity is about
    n, and the corner (n/16 x n/16) block, whose eccentricity is about 2n.
    Returns the file and the seeded source lists; `edges.npz` holds the
    same edges for the checks.
    """
    rng = np.random.default_rng(seed)
    ids = np.arange(n * n, dtype=np.int64).reshape(n, n)
    right = np.stack([ids[:, :-1].ravel(), ids[:, 1:].ravel()], axis=1)
    down = np.stack([ids[:-1, :].ravel(), ids[1:, :].ravel()], axis=1)
    pairs = np.concatenate([right, down])
    pairs = np.concatenate([pairs, pairs[:, ::-1]])
    w = rng.integers(1, 101, size=len(pairs))
    path = os.path.join(out_dir, "road.txt")
    np.savez(os.path.join(out_dir, "edges.npz"), src=pairs[:, 0], dst=pairs[:, 1], w=w)
    _write_lines(path, (f"{i} {a} {b} {c}" for i, (a, b), c in zip(range(len(pairs)), pairs.tolist(), w.tolist())))

    centre = max(4, n // 8)
    corner = max(2, n // 16)
    r0 = n // 2 - centre // 2
    return {
        "edges": path,
        "lines": len(pairs),
        "centre_sources": pick_sources(rng, n * n, pairs[:, 0], pairs[:, 1], w,
                                       ids[r0:r0 + centre, r0:r0 + centre].ravel(), 4, centre_rounds),
        "corner_sources": pick_sources(rng, n * n, pairs[:, 0], pairs[:, 1], w,
                                       ids[:corner, :corner].ravel(), 4, None),
    }


def social_graph(out_dir, seed, nodes, edges, tsv_edges, rounds):
    """A seeded power-law digraph in both reference formats.

    Out- and in-degrees follow independent Zipf-like laws over shuffled
    ids, so a few hubs carry most edges and the frontier of an SSSP from a
    hub covers most nodes within a few rounds. Self-loops are dropped;
    parallel edges are kept, as the reference keeps them. The transpose
    reads all `tsv_edges` edges as tab-separated `from\\tto` lines; SSSP
    reads the first `edges` of them as weighted `id from to w` lines
    (weights 1..100), a sparser draw from the same degree laws. Sources are
    the hubs among the 32 nodes of highest out-degree whose SSSP takes
    closest to `rounds` rounds.
    """
    rng = np.random.default_rng(seed)
    rank_p = 1.0 / np.arange(1, nodes + 1) ** 0.85
    rank_p /= rank_p.sum()
    src = rng.permutation(nodes)[rng.choice(nodes, size=tsv_edges, p=rank_p)]
    dst = rng.permutation(nodes)[rng.choice(nodes, size=tsv_edges, p=rank_p)]
    keep = src != dst
    src, dst = src[keep].astype(np.int64), dst[keep].astype(np.int64)
    tsv = os.path.join(out_dir, "social.tsv")
    _write_lines(tsv, (f"{a}\t{b}" for a, b in zip(src.tolist(), dst.tolist())))
    tsv_lines = len(src)
    src, dst = src[:edges], dst[:edges]
    w = rng.integers(1, 101, size=len(src))
    weighted = os.path.join(out_dir, "social.txt")
    np.savez(os.path.join(out_dir, "edges.npz"), src=src, dst=dst, w=w)
    s, d, ww = src.tolist(), dst.tolist(), w.tolist()
    _write_lines(weighted, (f"{i} {a} {b} {c}" for i, a, b, c in zip(range(len(s)), s, d, ww)))
    top = np.argsort(-np.bincount(src, minlength=nodes), kind="stable")[:32]
    return {
        "edges": weighted,
        "tsv": tsv,
        "lines": len(s),
        "tsv_lines": tsv_lines,
        "sources": pick_sources(rng, nodes, src, dst, w, top, 4, rounds),
    }


def documents(out_dir, seed, n_docs, name="documents.parquet"):
    """A seeded corpus in the `documents` schema with planted near-duplicates.

    Words come from a Zipf vocabulary. About 25% of docs are edited copies
    (1-4 token substitutions, insertions or deletions) of an earlier
    original doc, never of a copy, so near-duplicate clusters are stars and
    the clustering loop's round count does not depend on the seed.
    Every 20th doc (5%, all `en`) is one shared 40-token boilerplate head
    followed by a 2-6 token body, so the head's shingles fill its
    prefix-filter prefix: one hot block in which every pair is a candidate
    and a match, and which MinHash banding joins into one dense cluster,
    the same whatever the seed.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(4000)])
    word_p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    word_p /= word_p.sum()
    langs = np.array(["en", "de", "fr", "es"])
    head = rng.choice(vocab, size=40, p=word_p).tolist()

    texts, lang, source, originals = [], [], [], []
    for i in range(n_docs):
        if i % 20 == 10:
            toks = head + rng.choice(vocab, size=int(rng.integers(2, 7)), p=word_p).tolist()
            texts.append(" ".join(toks))
            lang.append("en")
        elif i > 10 and rng.random() < 0.25 / 0.95:
            j = originals[int(rng.integers(0, len(originals)))]
            toks = texts[j].split(" ")
            for _ in range(int(rng.integers(1, 5))):
                pos = int(rng.integers(0, len(toks)))
                op = rng.integers(0, 3)
                if op == 0:
                    toks[pos] = str(rng.choice(vocab, p=word_p))
                elif op == 1:
                    toks.insert(pos, str(rng.choice(vocab, p=word_p)))
                elif len(toks) > 3:
                    del toks[pos]
            texts.append(" ".join(toks))
            lang.append(lang[j])
        else:
            toks = rng.choice(vocab, size=int(rng.integers(30, 120)), p=word_p).tolist()
            texts.append(" ".join(toks))
            lang.append(str(rng.choice(langs, p=[0.55, 0.15, 0.15, 0.15])))
            originals.append(i)
        source.append(f"src{int(rng.integers(0, 8))}")

    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    path = os.path.join(out_dir, name)
    pq.write_table(table, path)
    return {"docs": path, "n_docs": n_docs}
