"""Seeded input generators for the benchmark workloads.

Pure NumPy + pyarrow: nothing here touches Spark. Every generator takes
a NumPy ``Generator`` built from the command-line seed, so one seed
always yields the same bytes, and returns the planted ground truth the
checkers need next to the arrays that are written to parquet. The
engine only ever sees the parquet files.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one independent stream per generator, so resizing one input never
# shifts another input generated from the same seed
_STREAM = {"events": 1, "docs": 2, "embeddings": 3, "requests": 4, "sample": 5}


def rng_for(seed: int, what: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAM[what]])


# ---------------------------------------------------------------- events


@dataclass
class EventLog:
    """Co-occurrence log (reference_id, item_id) plus its dictionary.

    Item ids ``n_items .. n_items + n_unseen - 1`` are in the dictionary
    but never in the log, so they have no neighbours in a published
    model."""

    reference_id: np.ndarray
    item_id: np.ndarray
    dict_id: np.ndarray
    dict_title: list[str]
    n_items: int


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _zipf_sizes(n: int, cap: int) -> np.ndarray:
    """``n`` context sizes Zipf(2) + 2 capped at ``cap``, taken at the
    distribution's quantiles (i + 0.5) / n rather than drawn: the few
    largest contexts set the Gram self-join's work, so random draws
    would make the build's run time depend on the seed."""
    k = np.arange(1, cap - 1, dtype=np.float64)
    cdf = np.cumsum(k**-2.0) / (np.pi**2 / 6)
    u = (np.arange(n) + 0.5) / n
    return np.minimum(np.searchsorted(cdf, u) + 3, cap).astype(np.int64)


def event_log(
    rng: np.random.Generator,
    n_items: int,
    n_contexts: int,
    n_topics: int = 50,
    topic_share: float = 0.8,
    zipf_s: float = 1.1,
    max_context: int = 120,
    n_unseen: int = 200,
) -> EventLog:
    """Zipf item popularity with topic structure and heavy-tailed
    context sizes (Zipf(2) + 2, capped at ``max_context``; the same
    multiset of sizes for every seed, see ``_zipf_sizes``).

    Each item belongs to one topic. A context picks a topic; each of its
    events draws, with probability ``topic_share``, an item of that
    topic by within-topic Zipf popularity, else an item by global Zipf
    popularity. Draws are with replacement, so a (context, item) cell
    can count more than one event."""
    # random popularity ranks, so item id carries no information
    rank = rng.permutation(n_items)
    pop = _zipf_weights(n_items, zipf_s)[rank]
    topic = rng.integers(0, n_topics, n_items)
    members = [np.flatnonzero(topic == t) for t in range(n_topics)]
    topic_p = [pop[m] / pop[m].sum() for m in members]

    sizes = rng.permutation(_zipf_sizes(n_contexts, max_context))
    ctx_topic = rng.integers(0, n_topics, n_contexts)
    total = int(sizes.sum())
    ref = np.repeat(np.arange(n_contexts, dtype=np.int64), sizes)
    item = rng.choice(n_items, size=total, p=pop)
    in_topic = rng.random(total) < topic_share
    ev_topic = np.repeat(ctx_topic, sizes)
    for t in range(n_topics):
        sel = np.flatnonzero(in_topic & (ev_topic == t))
        if sel.size and members[t].size:
            item[sel] = rng.choice(members[t], size=sel.size, p=topic_p[t])
    # reference ids are opaque keys: shuffle their values and the rows
    ref = rng.permutation(n_contexts)[ref] * 7 + 3
    order = rng.permutation(total)

    n_dict = n_items + n_unseen
    words = _vocabulary(400)
    titles = [
        f"{words[i % len(words)]} {words[(i * 7 + 3) % len(words)]} {i}"
        for i in range(n_dict)
    ]
    return EventLog(
        reference_id=ref[order].astype(np.int64),
        item_id=item[order].astype(np.int64),
        dict_id=np.arange(n_dict, dtype=np.int64),
        dict_title=titles,
        n_items=n_items,
    )


def write_events(log: EventLog, events_path: str, dict_path: str) -> None:
    pq.write_table(
        pa.table({"reference_id": log.reference_id, "item_id": log.item_id}),
        events_path,
    )
    pq.write_table(
        pa.table({"id": log.dict_id, "title": log.dict_title}), dict_path
    )


# ------------------------------------------------------------- documents


def _vocabulary(n: int) -> list[str]:
    """Deterministic lowercase ASCII pseudo-words (no RNG: the same
    list for every seed, so only the draws vary)."""
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    out = []
    for i in range(n):
        x, w = i, ""
        for _ in range(3):
            w += cons[x % len(cons)] + vows[(x // len(cons)) % len(vows)]
            x //= len(cons) * len(vows)
        out.append(w + str(i % 7))
    return out


@dataclass
class Corpus:
    """Documents with planted near-copies. ``planted`` lists each
    (original, copy) and (copy, copy) pair of one family, ids ordered."""

    doc_id: np.ndarray
    text: list[str]
    planted: list[tuple[int, int]] = field(default_factory=list)


def _mutate(rng: np.random.Generator, toks: list[str], vocab_n: int, rate: float):
    out = list(toks)
    n_edit = max(1, int(round(rate * len(out))))
    for _ in range(n_edit):
        op = rng.integers(0, 3)
        pos = int(rng.integers(0, len(out)))
        if op == 0:
            out[pos] = f"w{int(rng.integers(0, vocab_n))}"
        elif op == 1:
            out.insert(pos, f"w{int(rng.integers(0, vocab_n))}")
        elif len(out) > 8:
            del out[pos]
    return out


def corpus(
    rng: np.random.Generator,
    n_originals: int,
    dup_share: float = 0.25,
    copies: int = 3,
    vocab_n: int = 5000,
    min_len: int = 30,
    max_len: int = 80,
    edit_rate: float = 0.03,
) -> Corpus:
    """``n_originals`` documents over a Zipf vocabulary; exactly a
    ``dup_share`` of them get ``copies`` near-copies, each a few token
    substitutions, insertions and deletions away from the original.
    Ids are shuffled so copies do not sit next to their originals.

    Every family has the same size, and their number is fixed: the
    connected-components loop runs until its widest component
    converges, so random family sizes would make the number of rounds,
    and with it the run time, depend on the seed."""
    p = _zipf_weights(vocab_n, 1.0)
    lens = rng.integers(min_len, max_len + 1, n_originals)
    flat = rng.choice(vocab_n, size=int(lens.sum()), p=p)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    docs = [
        [f"w{t}" for t in flat[bounds[i] : bounds[i + 1]]]
        for i in range(n_originals)
    ]
    families: list[list[int]] = []
    n_families = int(round(dup_share * n_originals))
    for i in np.sort(rng.choice(n_originals, n_families, replace=False)):
        fam = [int(i)]
        for _ in range(copies):
            fam.append(len(docs))
            docs.append(_mutate(rng, docs[i], vocab_n, edit_rate))
        families.append(fam)
    ids = rng.permutation(len(docs)).astype(np.int64)
    planted = []
    for fam in families:
        fid = sorted(int(ids[j]) for j in fam)
        planted += [(a, b) for k, a in enumerate(fid) for b in fid[k + 1 :]]
    return Corpus(doc_id=ids, text=[" ".join(d) for d in docs], planted=planted)


def write_corpus(c: Corpus, path: str) -> None:
    pq.write_table(pa.table({"doc_id": c.doc_id, "text": c.text}), path)


# ------------------------------------------------------------ embeddings


@dataclass
class Embeddings:
    """Unit-norm vectors; ``planted`` lists the id pairs that share a
    cluster."""

    vec_id: np.ndarray
    vectors: np.ndarray
    planted: list[tuple[int, int]] = field(default_factory=list)


def embeddings(
    rng: np.random.Generator,
    n_vectors: int,
    dim: int = 64,
    cluster_share: float = 0.3,
    cluster_size: int = 4,
    noise: float = 0.02,
) -> Embeddings:
    """Random unit vectors, of which about ``cluster_share`` are
    members of planted clusters: each cluster is ``cluster_size``
    members around a random centre at small Gaussian ``noise`` per
    component (cosine to each other well above 0.95 at dim 64). Fixed
    cluster sizes keep the work independent of the seed, as in
    ``corpus``."""
    vecs = []
    clusters: list[list[int]] = []
    n_clustered = int(n_vectors * cluster_share)
    while sum(len(c) for c in clusters) < n_clustered:
        centre = rng.standard_normal(dim)
        centre /= np.linalg.norm(centre)
        fam = []
        for _ in range(cluster_size):
            fam.append(len(vecs))
            vecs.append(centre + noise * rng.standard_normal(dim))
        clusters.append(fam)
    rest = rng.standard_normal((n_vectors - len(vecs), dim))
    m = np.vstack([np.array(vecs).reshape(-1, dim), rest])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    ids = rng.permutation(len(m)).astype(np.int64)
    planted = []
    for fam in clusters:
        fid = sorted(int(ids[j]) for j in fam)
        planted += [(a, b) for k, a in enumerate(fid) for b in fid[k + 1 :]]
    return Embeddings(vec_id=ids, vectors=m, planted=planted)


def write_embeddings(e: Embeddings, path: str) -> None:
    dim = e.vectors.shape[1]
    flat = pa.array(e.vectors.reshape(-1), type=pa.float64())
    lists = pa.FixedSizeListArray.from_arrays(flat, dim).cast(
        pa.list_(pa.float64())
    )
    pq.write_table(pa.table({"vec_id": e.vec_id, "embedding": lists}), path)


# -------------------------------------------------------------- requests


def zipf_requests(
    rng: np.random.Generator, ids: np.ndarray, n: int, s: float = 1.1
) -> np.ndarray:
    """``n`` ids drawn from ``ids`` with Zipf-skewed popularity over a
    random ranking."""
    ranked = rng.permutation(ids)
    return ranked[rng.choice(len(ranked), size=n, p=_zipf_weights(len(ranked), s))]
