"""Seeded inputs for the workloads.

Everything here is plain numpy: the engine never sees a seed, only the
tables and queries built from these arrays. Each stream draws from its
own ``SeedSequence([seed, stream, ...])``, so the same seed gives
byte-identical inputs and adding a stream never shifts another.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np

DIM = 64
# as many clusters as ann-serve has IVF cells, so every seed's cells are
# about equally full and take about equal shares of the queries
N_CLUSTERS = 16

# stream tags: one per independent input stream
_CENTRES, _ANN_CORPUS, _ANN_QUERY, _ANN_UPSERT = 1, 2, 3, 4
_TABLE_ROWS, _TABLE_OPS = 5, 6
_VOCAB, _DOCS = 7, 8
_TABLE_WARM = 9


def _rng(seed: int, *tags: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([int(seed), *tags]))


def _centres(seed: int) -> np.ndarray:
    return _rng(seed, _CENTRES).normal(size=(N_CLUSTERS, DIM)) * 3.0


def _mixture(rng: np.random.Generator, centres: np.ndarray, n: int) -> np.ndarray:
    """``n`` points of a Gaussian mixture: a centre plus unit noise. The
    centres are dealt out evenly, in random order, so cluster sizes differ
    by at most one on every seed."""
    pick = rng.permutation(np.resize(rng.permutation(len(centres)), n))
    return centres[pick] + rng.normal(size=(n, centres.shape[1]))


# -- ann-serve --------------------------------------------------------------
def ann_corpus(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids 0..n-1, vectors (n, DIM))."""
    return np.arange(n, dtype=np.int64), _mixture(_rng(seed, _ANN_CORPUS), _centres(seed), n)


def ann_queries(seed: int, batch: int, size: int) -> np.ndarray:
    """Query batch number ``batch``: (size, DIM) from the corpus mixture."""
    return _mixture(_rng(seed, _ANN_QUERY, batch), _centres(seed), size)


def ann_upsert(
    seed: int, n_corpus: int, n_replace: int, n_new: int
) -> tuple[np.ndarray, np.ndarray]:
    """One upsert batch: ``n_replace`` existing ids with fresh vectors plus
    ``n_new`` ids above the corpus. Ids are sorted and unique."""
    rng = _rng(seed, _ANN_UPSERT)
    old = rng.choice(n_corpus, size=n_replace, replace=False)
    ids = np.concatenate([np.sort(old), np.arange(n_corpus, n_corpus + n_new)])
    return ids.astype(np.int64), _mixture(rng, _centres(seed), len(ids))


# -- REST mix ---------------------------------------------------------------
@dataclass(frozen=True)
class TableOp:
    """One request of the REST mix. ``kind`` is search, insert, delete or
    compact; ``id`` and ``vector`` are None where the kind has none."""

    kind: str
    id: int | None = None
    vector: np.ndarray | None = None
    tag: int | None = None


def table_rows(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Initial table: (ids 0..n-1, vectors (n, DIM))."""
    return np.arange(n, dtype=np.int64), _mixture(_rng(seed, _TABLE_ROWS), _centres(seed), n)


# A block holds the REST mix exactly: 16 searches, 3 inserts (upserting an
# existing id or adding a new one, evenly) and 1 delete. The order is the
# same in every block and for every seed, a write after every four
# searches, so each search meets the same log length in every run and a
# run's median search does not depend on where its seed put the writes.
BLOCK = (
    ("search",) * 4 + ("insert",)
    + ("search",) * 4 + ("insert",)
    + ("search",) * 4 + ("delete",)
    + ("search",) * 4 + ("insert",)
)
# The warm-up adds and removes an id the op stream never reaches.
WARM_ID = 10**12
# A search's time still falls over its first few calls while the JVM
# compiles its hot code, so the warm-up searches several times.
WARM_SEARCHES = 4


def table_warmup(seed: int) -> list[TableOp]:
    """Ops of each kind that leave the table's rows as they were:
    ``WARM_SEARCHES`` searches, an insert of ``WARM_ID``, its delete, and a
    compaction."""
    rng = _rng(seed, _TABLE_WARM)
    *qs, x = _mixture(rng, _centres(seed), WARM_SEARCHES + 1)
    return [
        *(TableOp("search", vector=q) for q in qs),
        TableOp("insert", id=WARM_ID, vector=x, tag=int(rng.integers(0, 1000))),
        TableOp("delete", id=WARM_ID),
        TableOp("compact"),
    ]


def table_blocks(seed: int, n_rows: int, compact_every: int) -> Iterator[list[TableOp]]:
    """Blocks of ops, made as they are asked for. A compact follows every
    ``compact_every`` writes. Liveness is tracked here, so a delete always
    names an id that exists when it runs."""
    rng = _rng(seed, _TABLE_OPS)
    centres = _centres(seed)
    live = list(range(n_rows))
    next_new = n_rows
    writes = 0

    def make(kind: str) -> list[TableOp]:
        nonlocal next_new, writes
        vec = _mixture(rng, centres, 1)[0]
        if kind == "search":
            return [TableOp("search", vector=vec)]
        if kind == "insert":
            if rng.random() < 0.5:
                vid = live[int(rng.integers(0, len(live)))]
            else:
                vid, next_new = next_new, next_new + 1
                live.append(vid)
            op = TableOp("insert", id=vid, vector=vec, tag=int(rng.integers(0, 1000)))
        else:
            pos = int(rng.integers(0, len(live)))
            vid = live[pos]
            live[pos] = live[-1]
            live.pop()
            op = TableOp("delete", id=vid)
        writes += 1
        return [op, TableOp("compact")] if writes % compact_every == 0 else [op]

    while True:
        yield [op for kind in BLOCK for op in make(kind)]


# -- corpus chain -----------------------------------------------------------
@dataclass(frozen=True)
class Corpus:
    """A batch of documents with planted near-duplicate families.

    ``family[i]`` names the family of document ``i``; every family holds
    one base text plus exact copies and one-word edits of it. Families of
    size one are the unique documents."""

    doc_ids: np.ndarray
    texts: list[str]
    quality: np.ndarray
    family: np.ndarray

    def true_pairs(self) -> set[tuple[int, int]]:
        """Every (lower id, higher id) pair inside one family."""
        by_family: dict[int, list[int]] = {}
        for d, f in zip(self.doc_ids.tolist(), self.family.tolist()):
            by_family.setdefault(f, []).append(d)
        return {
            (a, b)
            for members in by_family.values()
            for i, a in enumerate(sorted(members))
            for b in sorted(members)[i + 1:]
        }

    def best_members(self) -> set[int]:
        """Per family, the member with the highest quality (lowest id on a
        tie): what dedup followed by keep-best must keep."""
        best: dict[int, tuple[float, int]] = {}
        for d, f, q in zip(self.doc_ids.tolist(), self.family.tolist(), self.quality.tolist()):
            cur = best.get(f)
            if cur is None or (-q, d) < (-cur[0], cur[1]):
                best[f] = (q, d)
        return {d for _, d in best.values()}


WORDS_PER_DOC = 48
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocabulary(seed: int, size: int = 6000) -> list[str]:
    rng = _rng(seed, _VOCAB)
    lengths = rng.integers(2, 10, size=size)
    return sorted({"".join(rng.choice(_LETTERS, size=n)) for n in lengths})


# Family sizes, dealt in turn: half the families are unique documents, the
# rest hold 2 to 5 members. Fixed, so every seed plants the same number of
# pairs and keeps the same number of documents.
FAMILY_SIZES = (1, 2, 1, 3, 1, 4, 1, 5)


def corpus_batch(seed: int, batch: int, n_docs: int, first_id: int) -> Corpus:
    """``n_docs`` documents with ids from ``first_id``, in families of
    ``FAMILY_SIZES``. Every third extra member is an exact copy, the others
    the base text with one word replaced. With 48-word documents a one-word
    edit keeps word-3-gram Jaccard near 0.88, far above unrelated pairs."""
    rng = _rng(seed, _DOCS, batch)
    vocab = _vocabulary(seed)
    texts: list[str] = []
    family: list[int] = []
    fam = 0
    while len(texts) < n_docs:
        base = list(rng.choice(len(vocab), size=WORDS_PER_DOC))
        size = FAMILY_SIZES[fam % len(FAMILY_SIZES)]
        for j in range(min(size, n_docs - len(texts))):
            words = list(base)
            if j % 3 != 1 and j:
                words[int(rng.integers(0, WORDS_PER_DOC))] = int(rng.integers(0, len(vocab)))
            texts.append(" ".join(vocab[w] for w in words))
            family.append(fam)
        fam += 1
    order = rng.permutation(n_docs)  # members of a family get unrelated ids
    return Corpus(
        doc_ids=np.arange(first_id, first_id + n_docs, dtype=np.int64),
        texts=[texts[i] for i in order],
        quality=rng.random(n_docs),
        family=np.asarray(family, dtype=np.int64)[order] + first_id,
    )
