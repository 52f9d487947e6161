"""Scoring and matching kernels for the index query path.

Pure NumPy over Arrow: every kernel here runs inside a Python worker on
the posting rows of ONE doc-space scoring group (one query's rows of
it, on a batched plan), as the grouped Arrow kernel node of
:class:`glug_spark.query.searcher.Searcher` delivers them, wrapped as a
:class:`PostingRun`. Spark planning (bucket pruning, stats joins, the
group exchange, the final rank merge) lives in the Searcher.

Decode is batched: each kernel step names the terms it needs and,
optionally, the sorted doc ids they must cover; the run selects the
matching 128-posting blocks of ALL those terms' rows at once and
decodes them with one varbyte pass per column
(:class:`glug_spark.index.codec.PostingBlocks`).

Inside a group (vectorized), every top-k query runs ONE scorer,
:func:`make_composed_scorer`: MaxScore under filters.

- MaxScore — score the highest-upper-bound term's docs exactly to seed
  the threshold θ; terms whose upper-bound suffix sum < θ become
  non-essential; only docs present in essential lists can enter the
  top-k (docs absent from all essential lists are bounded by
  Σ non-essential ubs < θ). Exact, with whole lists of frequent terms
  skipped at the candidate-generation stage.
- group (AND of OR groups; a plain AND query is one group per term),
  negation, phrase, NEAR and tombstone filters are applied INSIDE the
  scorer, before θ-seeding and before the per-group top-k — the
  returned top-k is exact under filtering (no heuristic candidate pool;
  a selective filter can never starve the result).
- phrase / NEAR matching (:func:`phrase_hits`, :func:`near_hits`):
  doc-id intersection first, then block-selective position decode over
  the candidates only.

Scores are the same double math as the full-scan reference scorer
(query.bm25) — rank-identical output is asserted by tests, mirroring
the reference's differential parity strategy.
"""

from __future__ import annotations

import numpy as np

from glug_spark.index import codec
from glug_spark.index.build import K1, B
from glug_spark.index.deletes import not_deleted_mask, resolve_deleted

#: a kernel's per-group result: (doc_id int64, raw_score float64)
Scored = tuple[np.ndarray, np.ndarray]


def _contribution(tfs: np.ndarray, dls: np.ndarray, idf: float, avgdl: float) -> np.ndarray:
    tfs = tfs.astype(np.float64)
    return idf * (tfs * (K1 + 1.0)) / (tfs + K1 * (1.0 - B + B * dls.astype(np.float64) / avgdl))


def _upper_bound(max_tf: float, idf: float) -> float:
    # dl→0 bound: tf(k1+1)/(tf + k1(1-b)) is increasing in tf, maximal as dl→0
    return idf * (max_tf * (K1 + 1.0)) / (max_tf + K1 * (1.0 - B))


class PostingRun:
    """The posting rows of one scoring group as NumPy views of an Arrow
    record batch: per-term role columns, block-max metadata, and
    batched block-selective decode of any subset of the terms."""

    def __init__(self, batch: "object", positions: bool = False) -> None:
        import pyarrow.compute as pc

        enc = pc.dictionary_encode(batch.column("term"))
        #: the run's terms, in order of first appearance
        self.terms: list[str] = enc.dictionary.to_pylist()
        self._code = {t: i for i, t in enumerate(self.terms)}
        row_term = enc.indices.to_numpy(zero_copy_only=False)
        self._first_row = np.unique(row_term, return_index=True)[1]
        self._batch = batch
        self.blocks = codec.PostingBlocks(batch, positions)
        self.block_term = row_term[self.blocks.row]

    def has(self, term: str) -> bool:
        return term in self._code

    def meta(self, col: str) -> dict:
        """Per-term value of a role column (``idf``, ``gmask``,
        ``is_neg``): constant across a term's rows, read from its first."""
        vals = self._batch.column(col).take(self._first_row).to_pylist()
        return dict(zip(self.terms, vals))

    def max_tf(self) -> dict[str, int]:
        """Per-term max tf over every block — metadata only, no decode."""
        m = np.zeros(len(self.terms), dtype=np.int64)
        np.maximum.at(m, self.block_term, self.blocks.max_tf)
        return dict(zip(self.terms, m.tolist()))

    def decode(self, terms: list[str], targets: np.ndarray | None = None,
               positions: bool = False) -> dict[str, dict]:
        """doc_id-sorted decoded lists of ``terms``: all their blocks, or
        with ``targets`` (sorted doc ids) only the blocks that can hold
        one of them — a frequent term's long list is read a few
        128-posting blocks at a time, not end to end. Every returned
        posting is real, so membership tests on a covering list are
        exact for the targets. ``positions`` adds the flat ``pos``
        array and each posting's ``pstart`` into it."""
        if not terms:
            return {}
        codes = [self._code.get(t, -1) for t in terms]
        blocks = np.flatnonzero(np.isin(self.block_term, codes))
        if targets is not None:
            blocks = self.blocks.covering(blocks, targets)
        return self._split(blocks, terms, codes, positions)

    def _split(self, blocks: np.ndarray, terms: list[str], codes: list[int],
               positions: bool) -> dict[str, dict]:
        d = self.blocks.decode(blocks, positions)
        tcode = np.repeat(self.block_term[blocks], self.blocks.count[blocks])
        order = np.lexsort((d["ids"], tcode))
        tcode = tcode[order]
        cols = {c: d[c][order] for c in ("ids", "tfs", "dls")}
        if positions:
            cols["pstart"] = (np.cumsum(d["tfs"]) - d["tfs"])[order]
        bounds = np.searchsorted(tcode, [[c, c + 1] for c in codes])
        out = {}
        for t, (lo, hi) in zip(terms, bounds):
            out[t] = {c: v[lo:hi] for c, v in cols.items()}
            if positions:
                out[t]["pos"] = d["pos"]
        return out


def _member_mask(lst: dict, cand: np.ndarray) -> np.ndarray:
    """Boolean membership of each candidate in a decoded (sorted) list."""
    ids = lst["ids"]
    if not len(ids):
        return np.zeros(len(cand), dtype=bool)
    pos = np.minimum(np.searchsorted(ids, cand), len(ids) - 1)
    return ids[pos] == cand


def _score_candidates(cand: np.ndarray, lists: dict[str, dict],
                      idfs: dict[str, float], avgdl: float) -> np.ndarray:
    scores = np.zeros(len(cand), dtype=np.float64)
    for term, lst in lists.items():
        if not len(lst["ids"]):
            continue
        pos = np.minimum(np.searchsorted(lst["ids"], cand), len(lst["ids"]) - 1)
        mask = lst["ids"][pos] == cand
        contrib = _contribution(lst["tfs"][pos], lst["dls"][pos],
                                idfs[term], avgdl)
        scores += np.where(mask, contrib, 0.0)
    return scores


def _empty() -> Scored:
    return np.zeros(0, np.int64), np.zeros(0, np.float64)


def _maxscore_pass(
    run: PostingRun, terms: list[str], idfs: dict[str, float], avgdl: float,
    k: int,
    passes_filter: "Callable[[np.ndarray, dict], np.ndarray] | None" = None,
    predecoded: dict | None = None,
) -> Scored:
    """Shared MaxScore kernel: exact top-k candidates + scores for one
    doc-space group, with an optional doc-level filter applied BEFORE
    θ-seeding and before the local top-k (keeps filtered top-k exact:
    θ is the k-th best FILTERED seed score, so the Σ-non-essential-ub
    < θ prune can only drop docs that cannot enter the filtered top-k).

    ``passes_filter(cand, lists) -> bool mask`` sees the decoded lists
    (every scored term's membership for ``cand`` is exact — covering
    decode touches every block that could contain a candidate).
    ``predecoded`` maps terms already fully decoded (e.g. phrase words).
    Returns (cand, scores) filtered, unsorted.
    """
    predecoded = predecoded or {}
    max_tf = run.max_tf()  # metadata only, no blob decode
    ubs = {t: _upper_bound(max_tf[t], idfs[t]) for t in terms}
    by_ub = sorted(terms, key=lambda t: -ubs[t])

    # pass 1: fully decode ONLY the top-ub term; its docs seed θ.
    lists = dict(predecoded)
    top = by_ub[0]
    if top not in lists:
        lists.update(run.decode([top]))
    seed = lists[top]["ids"]
    lists.update(run.decode([t for t in by_ub[1:] if t not in lists], seed))
    seed_scores = _score_candidates(seed, lists, idfs, avgdl)
    if passes_filter is not None:
        ok = passes_filter(seed, lists)
        fs = seed_scores[ok]
    else:
        fs = seed_scores
    theta = np.partition(fs, -k)[-k] if len(fs) >= k else -np.inf

    # non-essential suffix: the maximal low-ub suffix with Σub < θ —
    # a doc found ONLY in those lists is bounded below θ, so the
    # candidate set is the union of the remaining (essential) lists
    essential = []
    suffix_sum = 0.0
    for t in reversed(by_ub):
        if suffix_sum + ubs[t] < theta:
            suffix_sum += ubs[t]
        else:
            essential.append(t)
    if not essential:
        essential = [top]

    # essential terms (candidate generators) need their full lists;
    # non-essential terms only need blocks covering the candidates
    lists.update(run.decode(
        [t for t in essential if t != top and t not in predecoded]
    ))
    cand = np.unique(np.concatenate([lists[t]["ids"] for t in essential]))
    lists.update(run.decode(
        [t for t in by_ub if t not in essential and t not in predecoded], cand
    ))
    if passes_filter is not None:
        # refresh non-essential coverage for the wider candidate set,
        # then keep only filter-passing candidates
        ok = passes_filter(cand, lists)
        cand = cand[ok]
    scores = _score_candidates(cand, lists, idfs, avgdl)
    return cand, scores


def _local_topk(cand: np.ndarray, scores: np.ndarray, k: int) -> Scored:
    # group-local top-k in the GLOBAL order (score desc, doc_id asc):
    # the global top-k takes at most k rows from this group, and they
    # are exactly the group's first k under the same order.
    if len(cand) > k:
        order = np.lexsort((cand, -scores))[:k]
        cand, scores = cand[order], scores[order]
    return cand.astype(np.int64), scores.astype(np.float64)


def _candidates(lists: dict[str, dict], words: list[str]) -> np.ndarray:
    """Sorted doc ids present in every word's decoded list."""
    cand = lists[words[0]]["ids"]
    for w in words[1:]:
        cand = cand[np.isin(cand, lists[w]["ids"], assume_unique=True)]
    return cand


def _positions(lst: dict, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(dense candidate index, position) per position of each ``cand``
    doc in a positions-decoded list holding every candidate, as uint64."""
    sel = np.searchsorted(lst["ids"], cand)
    lens = lst["tfs"][sel]
    flat = codec.gather_segments(lst["pos"], lst["pstart"][sel], lens)
    docidx = np.repeat(np.arange(len(cand), dtype=np.uint64), lens)
    return docidx, flat.astype(np.uint64)


def _phrase_doc_ids(per_word: dict[str, dict], words: list[str]) -> np.ndarray:
    """doc_ids containing the exact adjacent phrase — fully vectorized.

    Encodes each (candidate-doc, canonical start position) as one uint64
    key (dense doc index << 32 | start), then intersects the key sets
    across words: word i at position p contributes start p − i. No
    per-doc Python loop.
    """
    cand = _candidates(per_word, words)
    if not len(cand):
        return cand
    L = np.uint64(len(words))  # offset keeps starts strictly positive

    def keys(w: str, i: int) -> np.ndarray:
        docidx, flat = _positions(per_word[w], cand)
        return (docidx << np.uint64(32)) | (flat - np.uint64(i) + L)

    surv = keys(words[0], 0)
    for i, w in enumerate(words[1:], start=1):
        surv = np.intersect1d(surv, keys(w, i), assume_unique=False)
        if not len(surv):
            break
    return cand[np.unique((surv >> np.uint64(32)).astype(np.int64))]


def _near_doc_ids(per_word: dict[str, dict], term_a: str, term_b: str,
                  slop: int, ordered: bool) -> np.ndarray:
    """doc_ids where b occurs within ``slop`` positions of a — the
    proximity analog of :func:`_phrase_doc_ids`, fully vectorized.

    Same uint64 (dense doc index << 32 | position) key trick: a's
    positions form the key set; b contributes one shifted key set per
    admissible offset d (pos_b − d), so a match is a nonempty key
    intersection. 2·slop (or slop, ordered) shifted sets — slop is
    small, so this stays O(postings · slop) with no per-doc loop."""
    cand = _candidates(per_word, [term_a, term_b])
    if not len(cand):
        return cand

    def keys(term: str, delta: int) -> np.ndarray:
        # key = docidx << 32 | (pos − delta + slop + 1); the constant
        # slop+1 keeps the low word positive (delta ≤ slop), so the
        # addend slop+1−delta ≥ 1 and uint64 math never wraps
        docidx, flat = _positions(per_word[term], cand)
        return (docidx << np.uint64(32)) | (
            flat + np.uint64(slop + 1 - delta)
        )

    deltas = (
        range(1, slop + 1) if ordered
        else [d for d in range(-slop, slop + 1) if d != 0]
    )
    ka = np.unique(keys(term_a, 0))
    kb = np.unique(np.concatenate([keys(term_b, d) for d in deltas]))
    surv = np.intersect1d(ka, kb, assume_unique=True)
    return cand[np.unique((surv >> np.uint64(32)).astype(np.int64))]


def phrase_hits(batch: "object", words: list[str]) -> np.ndarray:
    """doc_ids of one scoring group matching the exact phrase.

    Two-phase: cheap full decode of doc-id/tf streams to intersect the
    candidate docs, then block-selective POSITION decode covering only
    those candidates, then the vectorized adjacency intersection."""
    run = PostingRun(batch, positions=True)
    if not all(run.has(w) for w in words):
        return np.zeros(0, np.int64)
    uniq = list(dict.fromkeys(words))
    cand = _candidates(run.decode(uniq), words)
    if not len(cand):
        return cand
    return _phrase_doc_ids(run.decode(uniq, cand, positions=True), words)


def near_hits(batch: "object", term_a: str, term_b: str, slop: int,
              ordered: bool) -> np.ndarray:
    """doc_ids of one scoring group matching the proximity query —
    same two-phase shape as :func:`phrase_hits`: full doc-id stream
    decode to intersect candidates, then block-selective POSITION
    decode covering only those candidates."""
    run = PostingRun(batch, positions=True)
    if not (run.has(term_a) and run.has(term_b)):
        return np.zeros(0, np.int64)
    uniq = list(dict.fromkeys([term_a, term_b]))
    cand = _candidates(run.decode(uniq), [term_a, term_b])
    if not len(cand):
        return cand
    return _near_doc_ids(run.decode(uniq, cand, positions=True),
                         term_a, term_b, slop, ordered)


def make_composed_scorer(
    n_groups: int, phrases: list[list[str]], avgdl: float, k: int,
    nears: "list[tuple[str, str, int, bool]] | None" = None,
    deleted: "object | None" = None,
) -> "Callable[[object], Scored]":
    """Scorer for one doc-space group of a composed query.

    Row columns carry the query roles, computed JVM-side and fully
    distributed: ``idf`` (from term_stats), ``gmask`` (bit i set ⇔ term
    is a member of group i), ``is_neg``, ``is_phrase``. Scored terms are
    group members + phrase/near words (mirrors execute.search). Filters
    — including proximity (``nears``) position checks and the
    merge-on-read tombstone mask (``deleted``) — run inside the
    MaxScore kernel → exact filtered top-k.
    """
    nears = nears or []
    full_mask = (1 << n_groups) - 1
    phrase_words = {w for ph in phrases for w in ph} | {
        w for a, b, _, _ in nears for w in (a, b)
    }
    positions = bool(phrases or nears)

    def score_group(batch: "object") -> Scored:
        run = PostingRun(batch, positions=positions)
        tombs = resolve_deleted(deleted)
        gmask = run.meta("gmask")
        is_neg = run.meta("is_neg")
        idfs = run.meta("idf")
        scored = [t for t in run.terms if gmask[t] or t in phrase_words]
        # a group with no member term present here admits no local docs
        covered = 0
        for t in scored:
            covered |= gmask[t]
        if covered != full_mask or not scored:
            return _empty()
        for ph in phrases:
            if not all(run.has(w) for w in ph):
                return _empty()
        for a, b, _, _ in nears:
            if not (run.has(a) and run.has(b)):
                return _empty()

        # phrase words are scored terms too: decode their doc streams
        # fully ONCE (reused for scoring AND candidate intersection);
        # positions decode is block-selective over the candidates only
        predecoded = run.decode([t for t in run.terms if t in phrase_words])

        # phrases and proximity constraints conjoin into one position
        # filter: candidates = docs holding every word, positions
        # decoded block-selectively over them, checks fully vectorized
        checks = [(ph, lambda pw, ph=ph: _phrase_doc_ids(pw, ph))
                  for ph in phrases]
        checks += [([a, b], lambda pw, a=a, b=b, s=s, o=o:
                     _near_doc_ids(pw, a, b, s, o))
                   for a, b, s, o in nears]
        phrase_ok: np.ndarray | None = None
        for words, match in checks:
            cand = _candidates(predecoded, words)
            if len(cand):
                docs = match(run.decode(list(dict.fromkeys(words)), cand,
                                        positions=True))
            else:
                docs = cand
            phrase_ok = docs if phrase_ok is None else docs[
                np.isin(docs, phrase_ok, assume_unique=True)
            ]
            if not len(phrase_ok):
                return _empty()

        neg_terms = [t for t in run.terms if is_neg[t]]

        def passes_filter(cand: np.ndarray, lists: dict) -> np.ndarray:
            ok = not_deleted_mask(tombs, cand)
            if n_groups:
                cover = np.zeros(len(cand), dtype=np.int64)
                for t in scored:
                    m = gmask[t]
                    if m and t in lists:
                        cover |= np.where(_member_mask(lists[t], cand), m, 0)
                ok &= cover == full_mask
            if neg_terms:
                have = {t: lists.get(t) for t in neg_terms
                        if gmask[t] or t in phrase_words}
                have.update(run.decode(
                    [t for t in neg_terms if have.get(t) is None], cand
                ))
                negm = np.zeros(len(cand), dtype=bool)
                for t in neg_terms:
                    negm |= _member_mask(have[t], cand)
                ok &= ~negm
            if phrase_ok is not None:
                ok &= np.isin(cand, phrase_ok, assume_unique=True)
            return ok

        cand, scores = _maxscore_pass(
            run, scored, idfs, avgdl, k,
            passes_filter=passes_filter, predecoded=predecoded,
        )
        return _local_topk(cand, scores, k)

    return score_group
