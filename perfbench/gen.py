"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (numpy PCG64) and returns the
planted truth next to the inputs, so the checker never asks the program under
test what the right answer is.  Nothing here imports the library.

Token model shared by both workloads: a document is a row of token ids.  Ids
below ``VOCAB`` are Zipf-weighted pseudo-words (``w<rank>``), ids at or above
it are unique tokens (``x<n>``) handed out by a counter, so each occurs in
exactly one planted place.  A planted near-duplicate is its base row with
``SUB`` distinct positions replaced by unique tokens: two members of one base
differ in at most ``2 * SUB`` positions, while rows drawn from different
random bases differ in nearly every position.  At ``TOLERANCE`` (radius
``RADIUS``) the verified edges are therefore exactly the planted ones.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

VOCAB = 20_000
SUB = 8                      # substitutions per planted member
TOLERANCE = 0.05             # library tolerance; radius = 1000 * tolerance
RADIUS = 50
TWIN_D = 80                  # positions where twin bases differ (> RADIUS + 2 * SUB)
LEN_RANGE = (250, 350)       # document length in tokens, inclusive

# Zipf-like weights with a flattened head: English-like repetition without
# the one-word bursts that would make every document share its first trigram
_CDF = np.cumsum(1.0 / (np.arange(VOCAB) + 20.0))
_CDF /= _CDF[-1]
_VOCAB_WORDS = np.array([f"w{i}" for i in range(VOCAB)], dtype=object)


class Tokens:
    """Token-row allocator: random base rows, unique substitutions, text."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self._next_unique = VOCAB
        self._words = _VOCAB_WORDS

    def unique(self, shape) -> np.ndarray:
        n = int(np.prod(shape))
        out = np.arange(self._next_unique, self._next_unique + n, dtype=np.int64)
        self._next_unique += n
        return out.reshape(shape)

    def random_rows(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """``n`` fresh rows, padded with -1 past each row's length."""
        lengths = self.rng.integers(LEN_RANGE[0], LEN_RANGE[1] + 1, n)
        rows = np.searchsorted(_CDF, self.rng.random((n, LEN_RANGE[1])))
        rows = np.minimum(rows, VOCAB - 1).astype(np.int64)
        rows[np.arange(LEN_RANGE[1]) >= lengths[:, None]] = -1
        return rows, lengths

    def substitute(self, rows: np.ndarray, lengths: np.ndarray, k: int) -> np.ndarray:
        """Copy of ``rows`` with ``k`` distinct in-length positions per row
        replaced by unique tokens."""
        keys = self.rng.random(rows.shape)
        keys[np.arange(rows.shape[1]) >= lengths[:, None]] = 2.0
        pos = np.argpartition(keys, k - 1, axis=1)[:, :k]
        out = rows.copy()
        np.put_along_axis(out, pos, self.unique((len(rows), k)), axis=1)
        return out

    def render(self, rows: np.ndarray, lengths: np.ndarray) -> list[str]:
        top = int(rows.max(initial=0)) + 1
        if top > len(self._words):
            extra = np.array(
                [f"x{i}" for i in range(len(self._words), top)], dtype=object
            )
            self._words = np.concatenate([self._words, extra])
        words = self._words
        return [" ".join(words[r[:n]]) for r, n in zip(rows, lengths)]


def _ids(rng: np.random.Generator, n: int, prefix: str) -> np.ndarray:
    """Ids whose sort order is unrelated to how the docs were planted."""
    return np.array([f"{prefix}{v:07d}" for v in rng.permutation(n)], dtype=object)


@dataclass
class SearchCorpus:
    """``token_search`` input and its planted truth."""

    ids: list[str]
    texts: list[str]
    falsepos: list[tuple[str, str]]
    confirmed: list[tuple[str, str]]
    groups: list[frozenset[str]]  # expected groups after the match-DB filters


def search_corpus(seed: int, n_clusters: int, n_singletons: int) -> SearchCorpus:
    """Planted near-dup clusters of 2-5 members plus singletons.

    Some two-member clusters are marked false-positive and some confirmed:
    the pipeline must drop their one edge, so they form no group.  Further
    match-DB rows pair singletons, which have no edges to filter.
    """
    rng = np.random.default_rng(seed)
    tok = Tokens(rng)
    sizes = rng.integers(2, 6, n_clusters)
    base_rows, base_len = tok.random_rows(n_clusters + n_singletons)
    of_member = np.repeat(np.arange(n_clusters), sizes)
    members = tok.substitute(base_rows[of_member], base_len[of_member], SUB)
    rows = np.concatenate([members, base_rows[n_clusters:]])
    lengths = np.concatenate([base_len[of_member], base_len[n_clusters:]])
    cluster = np.concatenate([of_member, np.full(n_singletons, -1)])

    ids = _ids(rng, len(rows), "d")
    texts = tok.render(rows, lengths)
    order = rng.permutation(len(rows))

    by_cluster = [ids[cluster == c] for c in range(n_clusters)]
    pairs = [c for c in np.flatnonzero(sizes == 2)]
    rng.shuffle(pairs)
    n_review = min(max(1, len(pairs) // 10), len(pairs) // 2)
    rejected, accepted = pairs[:n_review], pairs[n_review : 2 * n_review]
    singles = ids[cluster == -1]
    half = len(singles) // 2
    noise_fp = singles[: 2 * (half // 2)].reshape(-1, 2)
    noise_cf = singles[half : half + 2 * ((len(singles) - half) // 2)].reshape(-1, 2)
    falsepos = [tuple(by_cluster[c]) for c in rejected] + [tuple(p) for p in noise_fp]
    confirmed = [tuple(by_cluster[c]) for c in accepted] + [tuple(p) for p in noise_cf]
    reviewed = set(rejected) | set(accepted)
    groups = [
        frozenset(by_cluster[c]) for c in range(n_clusters) if c not in reviewed
    ]
    return SearchCorpus(
        ids=list(ids[order]),
        texts=[texts[i] for i in order],
        falsepos=falsepos,
        confirmed=confirmed,
        groups=groups,
    )


@dataclass
class FoldOp:
    kind: str                 # "add" | "delete"
    ids: list[str]
    texts: list[str] = field(default_factory=list)


class FoldStream:
    """``fold_batches`` input: a base corpus and a deterministic stream of
    alternating add and delete batches, with the running planted truth.

    Planted bases: clusters of 2-4 members, singletons (bases of one doc),
    and *twin* clusters, pairs of bases that differ in ``TWIN_D`` positions.
    Twins are too far apart to match until a *bridge* arrives: a doc that
    takes half of the differing positions from each twin, which puts it
    within the radius of both.  Deleting the bridge splits them again.

    Add batches hold near-dups of live bases, bridges for unbridged twins
    and fresh singletons; delete batches hold live bridges and random live
    docs.  ``op(k)`` must be called for k = 0, 1, 2, ... in order: it
    applies the batch to the truth before returning it.
    """

    def __init__(self, seed: int, n_clusters: int, n_twins: int,
                 n_singletons: int, batch: int):
        self.seed = seed
        self.batch = batch
        rng = np.random.default_rng(seed)
        self.tok = Tokens(rng)
        n_bases = n_clusters + 2 * n_twins + n_singletons
        rows, lens = self.tok.random_rows(n_bases)
        # twin b = twin a with TWIN_D positions swapped for unique tokens
        a_idx = n_clusters + 2 * np.arange(n_twins)
        keys = rng.random((n_twins, rows.shape[1]))
        keys[np.arange(rows.shape[1]) >= lens[a_idx][:, None]] = 2.0
        self.twin_pos = np.argpartition(keys, TWIN_D - 1, axis=1)[:, :TWIN_D]
        b_rows = rows[a_idx].copy()
        np.put_along_axis(b_rows, self.twin_pos, self.tok.unique((n_twins, TWIN_D)), axis=1)
        rows[a_idx + 1], lens[a_idx + 1] = b_rows, lens[a_idx]
        self.rows, self.lens = rows, lens
        self.twins = [(int(a), int(a) + 1) for a in a_idx]

        sizes = np.concatenate([
            rng.integers(2, 5, n_clusters),
            rng.integers(2, 4, 2 * n_twins),
        ])
        of_member = np.repeat(np.arange(n_clusters + 2 * n_twins), sizes)
        members = self.tok.substitute(rows[of_member], lens[of_member], SUB)
        single_base = np.arange(n_clusters + 2 * n_twins, n_bases)
        base_of = np.concatenate([of_member, single_base])
        doc_rows = np.concatenate([members, rows[single_base]])
        self._n_ids = 0
        ids = self._new_ids(len(base_of))
        self.base_ids = ids
        self.base_texts = self.tok.render(doc_rows, lens[base_of])
        # live doc -> planted base; live bridge -> twin index
        self.live: dict[str, int] = dict(zip(ids, base_of.tolist()))
        self.bridges: dict[str, int] = {}

    def _new_ids(self, n: int) -> list[str]:
        out = [f"f{self.seed % 1000:03d}-{i:07d}" for i in range(self._n_ids, self._n_ids + n)]
        self._n_ids += n
        return out

    def components(self) -> list[frozenset[str]]:
        """Planted truth: the live docs' components of two or more."""
        parent = list(range(len(self.rows)))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for t in self.bridges.values():
            a, b = self.twins[t]
            parent[find(a)] = find(b)
        comps: dict[int, set[str]] = {}
        for doc, base in self.live.items():
            comps.setdefault(find(base), set()).add(doc)
        return [frozenset(c) for c in comps.values() if len(c) > 1]

    def assignment(self) -> list[tuple[str, str]]:
        """(id, component) rows with component = least member id, the
        shape ``connected_components`` returns."""
        return [(d, min(c)) for c in self.components() for d in c]

    def op(self, k: int) -> FoldOp:
        rng = np.random.default_rng([self.seed, k])
        live = sorted(self.live)
        slots = max(1, self.batch // 10)  # bridges per batch
        if k % 2:
            doomed = list(self.bridges)[:slots]
            rest = [d for d in live if d not in self.bridges]
            pick = rng.choice(len(rest), self.batch - len(doomed), replace=False)
            doomed += [rest[i] for i in pick]
            for d in doomed:
                del self.live[d]
                self.bridges.pop(d, None)
            return FoldOp("delete", doomed)

        bridged = set(self.bridges.values())
        free = [t for t in range(len(self.twins)) if t not in bridged]
        n_bridge = min(len(free), slots)
        n_dup = self.batch // 2
        n_fresh = self.batch - n_bridge - n_dup

        dup_base = np.array([self.live[live[i]] for i in rng.choice(len(live), n_dup)])
        dup_rows = self.tok.substitute(self.rows[dup_base], self.lens[dup_base], SUB)
        twins = [free[i] for i in rng.choice(len(free), n_bridge, replace=False)]
        bridge_base = np.array([self.twins[t][0] for t in twins], dtype=np.int64)
        bridge_rows = self.rows[bridge_base].copy()
        for j, t in enumerate(twins):
            half = self.twin_pos[t, : TWIN_D // 2]
            bridge_rows[j, half] = self.rows[self.twins[t][1], half]
        fresh_rows, fresh_lens = self.tok.random_rows(n_fresh)
        fresh_base = np.arange(len(self.rows), len(self.rows) + n_fresh)
        self.rows = np.concatenate([self.rows, fresh_rows])
        self.lens = np.concatenate([self.lens, fresh_lens])

        base_of = np.concatenate([dup_base, bridge_base, fresh_base]).astype(np.int64)
        rows = np.concatenate([dup_rows, bridge_rows, fresh_rows])
        ids = self._new_ids(len(base_of))
        texts = self.tok.render(rows, self.lens[base_of])
        self.live.update(zip(ids, base_of.tolist()))
        self.bridges.update(zip(ids[n_dup : n_dup + n_bridge], twins))
        return FoldOp("add", ids, texts)
