"""Scoring and matching kernels for the index query path.

Pure NumPy/pandas: every function here runs inside a Python worker on
the posting rows of ONE doc-space scoring group, as delivered by the
``applyInPandas`` plans that :class:`glug_spark.query.searcher.Searcher`
builds. Spark planning (bucket pruning, stats joins, the group
exchange, the final rank merge) lives in the Searcher.

Inside a group (vectorized):

- conjunctive: block-level skip — only blocks whose doc ranges can
  intersect every term's covered range are decoded
  (``codec.decode_blocks``), then exact id intersection, full scoring.
- disjunctive: MaxScore — score the highest-upper-bound term's docs
  exactly to seed the threshold θ; terms whose upper-bound suffix sum
  < θ become non-essential; only docs present in essential lists can
  enter the top-k (docs absent from all essential lists are bounded by
  Σ non-essential ubs < θ). Exact, with whole lists of frequent terms
  skipped at the candidate-generation stage.
- composed (``make_composed_scorer``): group/negation/phrase filters
  are applied INSIDE the scorer, before θ-seeding and before the
  per-group top-k — the returned top-k is exact under filtering (no
  heuristic candidate pool; a selective filter can never starve the
  result).
- phrase / NEAR matching (``_phrase_hits_segment``,
  ``_near_hits_segment``): doc-id intersection first, then
  block-selective position decode over the candidates only.

Scores are the same double math as the full-scan reference scorer
(query.bm25) — rank-identical output is asserted by tests, mirroring
the reference's differential parity strategy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from glug_spark.index import codec
from glug_spark.index.build import K1, B
from glug_spark.index.deletes import not_deleted_mask, resolve_deleted


def _contribution(tfs: np.ndarray, dls: np.ndarray, idf: float, avgdl: float) -> np.ndarray:
    tfs = tfs.astype(np.float64)
    return idf * (tfs * (K1 + 1.0)) / (tfs + K1 * (1.0 - B + B * dls.astype(np.float64) / avgdl))


def _upper_bound(max_tf: float, idf: float) -> float:
    # dl→0 bound: tf(k1+1)/(tf + k1(1-b)) is increasing in tf, maximal as dl→0
    return idf * (max_tf * (K1 + 1.0)) / (max_tf + K1 * (1.0 - B))


def _sorted_lists(parts: tuple[list, list, list]) -> dict:
    ids_l, tfs_l, dls_l = parts
    if not ids_l:
        z = np.zeros(0, np.int64)
        return {"ids": z, "tfs": z.copy(), "dls": z.copy()}
    ids = np.concatenate(ids_l)
    order = np.argsort(ids, kind="stable")
    return {
        "ids": ids[order],
        "tfs": np.concatenate(tfs_l)[order],
        "dls": np.concatenate(dls_l)[order],
    }


def _decode_full(grp: pd.DataFrame) -> dict:
    """All rows of one term fully decoded, doc_id-sorted."""
    ids_l, tfs_l, dls_l = [], [], []
    for gaps, tfb, dlb in zip(grp["doc_gaps"], grp["tfs"], grp["dls"]):
        ids_l.append(codec.delta_decode(codec.varbyte_decode(gaps)).astype(np.int64))
        tfs_l.append(codec.varbyte_decode(tfb).astype(np.int64))
        dls_l.append(codec.varbyte_decode(dlb).astype(np.int64))
    return _sorted_lists((ids_l, tfs_l, dls_l))


def _decode_covering(grp: pd.DataFrame, targets: np.ndarray) -> dict:
    """Block-selective decode: only the blocks that can contain a target
    doc_id are touched (the block-max skip — a frequent term's long list
    is read a few 128-posting blocks at a time, not end to end)."""
    if not len(targets):
        return _sorted_lists(([], [], []))
    ids_l, tfs_l, dls_l = [], [], []
    for row in grp.to_dict("records"):
        block_last = np.asarray(row["block_last"], dtype=np.int64)
        if not len(block_last):
            continue
        blocks = np.unique(np.searchsorted(block_last, targets, side="left"))
        blocks = blocks[blocks < len(block_last)]
        if not len(blocks):
            continue
        ids, tfs, dls = codec.decode_blocks(row, blocks)
        ids_l.append(ids)
        tfs_l.append(tfs)
        dls_l.append(dls)
    return _sorted_lists((ids_l, tfs_l, dls_l))


def _term_max_tf(grp: pd.DataFrame) -> int:
    maxtf = 0
    for bmt in grp["block_max_tf"]:
        if len(bmt):
            maxtf = max(maxtf, int(max(bmt)))
    return maxtf


def _first_doc_id(doc_gaps: bytes) -> int:
    """First doc_id of a run = first varbyte value − 1 (no full decode)."""
    val, shift = 0, 0
    for byte in doc_gaps:
        val |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return val - 1


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


def _conjunctive_blocks(rows_by_term: pd.DataFrame, terms: list[str]) -> dict[str, dict]:
    """Block-skip decode for AND queries: a term's block is decoded only
    if its doc range can intersect every other term's covered range.

    The candidate doc range is [lo, hi] where lo = max over terms of the
    term's smallest covered doc_id (true first id, decoded from the
    run's first varbyte — no sentinel) and hi = min over terms of the
    term's largest covered doc_id. Blocks outside [lo, hi] are skipped
    without touching their bytes.
    """
    metas = {}
    for term, grp in rows_by_term.groupby("term", sort=False):
        # (row, block_first_lower_bound, block_last) per block across runs
        entries = []
        for row in grp.to_dict("records"):
            last = np.asarray(row["block_last"], dtype=np.int64)
            if not len(last):
                continue
            first = np.empty_like(last)
            first[0] = _first_doc_id(row["doc_gaps"])
            first[1:] = last[:-1] + 1
            entries.append((row, first, last))
        metas[term] = entries

    term_mins, term_maxs = [], []
    for entries in metas.values():
        if entries:
            term_mins.append(min(int(e[1][0]) for e in entries))
            term_maxs.append(max(int(e[2][-1]) for e in entries))
    lo = max(term_mins, default=0)
    hi = min(term_maxs, default=-1)

    decoded: dict[str, dict] = {}
    for term, entries in metas.items():
        ids_l, tfs_l, dls_l, maxtf = [], [], [], 0
        for row, first, last in entries:
            keep = np.flatnonzero((last >= lo) & (first <= hi))
            if not len(keep):
                continue
            ids, tfs, dls = codec.decode_blocks(row, keep)
            ids_l.append(ids)
            tfs_l.append(tfs)
            dls_l.append(dls)
            maxtf = max(maxtf, int(max(row["block_max_tf"])))
        if not ids_l:
            decoded[term] = {"ids": np.zeros(0, np.int64),
                             "tfs": np.zeros(0, np.int64),
                             "dls": np.zeros(0, np.int64), "max_tf": 0}
            continue
        ids = np.concatenate(ids_l)
        order = np.argsort(ids, kind="stable")
        decoded[term] = {"ids": ids[order],
                         "tfs": np.concatenate(tfs_l)[order],
                         "dls": np.concatenate(dls_l)[order],
                         "max_tf": maxtf}
    return decoded


def _empty_scores() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": [], "raw_score": []}).astype(
        {"doc_id": "int64", "raw_score": "float64"}
    )


def _maxscore_pass(
    groups: dict, idfs: dict[str, float], avgdl: float, k: int,
    passes_filter: "Callable[[np.ndarray], np.ndarray] | None" = None,
    predecoded: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
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
    ubs = {
        t: _upper_bound(_term_max_tf(g), idfs[t])
        for t, g in groups.items()  # metadata only, no blob decode
    }
    by_ub = sorted(groups, key=lambda t: -ubs[t])

    # pass 1: fully decode ONLY the top-ub term; its docs seed θ.
    lists = dict(predecoded)
    top = by_ub[0]
    if top not in lists:
        lists[top] = _decode_full(groups[top])
    seed = lists[top]["ids"]
    for t in by_ub[1:]:
        if t not in lists:
            lists[t] = _decode_covering(groups[t], seed)
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
    for t in essential:
        if t != top and t not in predecoded:
            lists[t] = _decode_full(groups[t])
    cand = np.unique(np.concatenate([lists[t]["ids"] for t in essential]))
    for t in by_ub:
        if t not in essential and t not in predecoded:
            lists[t] = _decode_covering(groups[t], cand)
    if passes_filter is not None:
        # refresh non-essential coverage for the wider candidate set,
        # then keep only filter-passing candidates
        ok = passes_filter(cand, lists)
        cand = cand[ok]
    scores = _score_candidates(cand, lists, idfs, avgdl)
    return cand, scores


def _local_topk(cand: np.ndarray, scores: np.ndarray, k: int) -> pd.DataFrame:
    # group-local top-k in the GLOBAL order (score desc, doc_id asc):
    # the global top-k takes at most k rows from this group, and they
    # are exactly the group's first k under the same order.
    if len(cand) > k:
        order = np.lexsort((cand, -scores))[:k]
        cand, scores = cand[order], scores[order]
    return pd.DataFrame({"doc_id": cand.astype("int64"),
                         "raw_score": scores.astype("float64")})


def make_segment_scorer(
    terms: list[str], idfs: dict[str, float] | None,
    avgdl: float, k: int, conjunctive: bool,
    deleted: "object | None" = None,
) -> "Callable[[pd.DataFrame], pd.DataFrame]":
    """Plain top-k scorer for one doc-space group. ``idfs=None`` reads
    idf from an ``idf`` row column instead (stats delivered by a
    broadcast join — saves the separate stats-lookup job). ``deleted``
    is the sorted tombstone set (merge-on-read) — a plain array or a
    Spark Broadcast of it (see deletes.resolve_deleted): filtered
    BEFORE θ-seeding and top-k selection, so a deleted doc can neither
    appear nor shadow a live doc out of the exact top-k."""
    uniq_terms = list(dict.fromkeys(terms))
    static_idfs = idfs

    def score_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        tombs = resolve_deleted(deleted)
        tomb_filter = (
            None if tombs is None
            else (lambda cand, lists: not_deleted_mask(tombs, cand))
        )
        idfs = static_idfs
        if idfs is None:
            meta = pdf.drop_duplicates("term").set_index("term")
            idfs = meta["idf"].astype(float).to_dict()
        if conjunctive:
            lists = _conjunctive_blocks(pdf, uniq_terms)
            present = [lists[t] for t in uniq_terms if t in lists]
            if len(present) < len(uniq_terms) or any(
                len(p["ids"]) == 0 for p in present
            ):
                return _empty_scores()
            cand = present[0]["ids"]
            for p in present[1:]:
                cand = cand[np.isin(cand, p["ids"], assume_unique=True)]
            if tombs is not None:
                cand = cand[not_deleted_mask(tombs, cand)]
            scores = _score_candidates(cand, lists, idfs, avgdl)
        else:
            groups = {t: g for t, g in pdf.groupby("term", sort=False)}
            cand, scores = _maxscore_pass(
                groups, idfs, avgdl, k, passes_filter=tomb_filter
            )
        return _local_topk(cand, scores, k)

    return score_segment


def _phrase_doc_ids(per_word: dict[str, dict], words: list[str]) -> np.ndarray:
    """doc_ids containing the exact adjacent phrase — fully vectorized.

    Encodes each (candidate-doc, canonical start position) as one uint64
    key (dense doc index << 32 | start), then intersects the key sets
    across words: word i at position p contributes start p − i. No
    per-doc Python loop.
    """
    cand = per_word[words[0]]["ids"]
    for w in words[1:]:
        cand = cand[np.isin(cand, per_word[w]["ids"], assume_unique=True)]
    if not len(cand):
        return cand
    L = np.uint64(len(words))  # offset keeps starts strictly positive

    def keys(w: str, i: int) -> np.ndarray:
        ids, plists = per_word[w]["ids"], per_word[w]["plists"]
        sel = np.searchsorted(ids, cand)
        lens = np.fromiter((len(plists[j]) for j in sel), dtype=np.int64,
                           count=len(sel))
        if not lens.sum():
            return np.zeros(0, dtype=np.uint64)
        flat = np.concatenate([plists[j] for j in sel]).astype(np.uint64)
        docidx = np.repeat(np.arange(len(cand), dtype=np.uint64), lens)
        return (docidx << np.uint64(32)) | (flat - np.uint64(i) + L)

    surv = keys(words[0], 0)
    for i, w in enumerate(words[1:], start=1):
        surv = np.intersect1d(surv, keys(w, i), assume_unique=False)
        if not len(surv):
            break
    return cand[np.unique((surv >> np.uint64(32)).astype(np.int64))]


def _decode_positions_covering(grp: pd.DataFrame, targets: np.ndarray) -> dict:
    """Position lists decoded ONLY for blocks that can contain a target
    doc — a stopword's position blob (the largest index column by far)
    is read a few blocks at a time, never end to end. Returned ids are
    the covering superset of targets ∩ list (every returned posting is
    real, so phrase intersection over coverings is exact)."""
    if not len(targets):
        return {"ids": np.zeros(0, np.int64), "plists": []}
    ids_l, pos_l = [], []
    for row in grp.to_dict("records"):
        block_last = np.asarray(row["block_last"], dtype=np.int64)
        if not len(block_last):
            continue
        blocks = np.unique(np.searchsorted(block_last, targets, side="left"))
        blocks = blocks[blocks < len(block_last)]
        if not len(blocks):
            continue
        ids, tfs, _ = codec.decode_blocks(row, blocks)
        pos_l.extend(codec.decode_position_blocks(row, blocks, tfs))
        ids_l.append(ids)
    ids = np.concatenate(ids_l) if ids_l else np.zeros(0, np.int64)
    order = np.argsort(ids, kind="stable")
    return {"ids": ids[order], "plists": [pos_l[i] for i in order]}


def _phrase_hits_segment(pdf: pd.DataFrame, words: list[str]) -> np.ndarray:
    """doc_ids of one scoring group matching the exact phrase.

    Two-phase: cheap full decode of doc-id/tf streams to intersect the
    candidate docs, then block-selective POSITION decode covering only
    those candidates, then the vectorized adjacency intersection."""
    rows_by_word = {t: g for t, g in pdf.groupby("term", sort=False)}
    if any(w not in rows_by_word for w in words):
        return np.zeros(0, np.int64)
    full = {w: _decode_full(rows_by_word[w]) for w in set(words)}
    cand = full[words[0]]["ids"]
    for w in words[1:]:
        cand = cand[np.isin(cand, full[w]["ids"], assume_unique=True)]
    if not len(cand):
        return cand
    per_word = {
        w: _decode_positions_covering(rows_by_word[w], cand)
        for w in set(words)
    }
    return _phrase_doc_ids(per_word, words)


def make_composed_scorer(
    n_groups: int, phrases: list[list[str]], avgdl: float, k: int,
    nears: "list[tuple[str, str, int, bool]] | None" = None,
    deleted: "object | None" = None,
) -> "Callable[[pd.DataFrame], pd.DataFrame]":
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

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        tombs = resolve_deleted(deleted)
        meta = pdf.drop_duplicates("term").set_index("term")
        gmask = meta["gmask"].astype("int64").to_dict()
        is_neg = meta["is_neg"].astype(bool).to_dict()
        idfs = meta["idf"].astype(float).to_dict()
        scored = [t for t in meta.index
                  if gmask.get(t, 0) or t in phrase_words]
        # a group with no member term present here admits no local docs
        covered = 0
        for t in scored:
            covered |= gmask.get(t, 0)
        if covered != full_mask or not scored:
            return _empty_scores()
        for ph in phrases:
            if any(w not in meta.index for w in ph):
                return _empty_scores()
        for a, b, _, _ in nears:
            if a not in meta.index or b not in meta.index:
                return _empty_scores()

        rows_by_term = {t: g for t, g in pdf.groupby("term", sort=False)}

        # phrase words are scored terms too: decode their doc streams
        # fully ONCE (reused for scoring AND candidate intersection);
        # positions decode is block-selective over the candidates only
        predecoded: dict[str, dict] = {
            w: _decode_full(rows_by_term[w])
            for w in phrase_words if w in rows_by_term
        }
        phrase_ok: np.ndarray | None = None
        for ph in phrases:
            cand = predecoded[ph[0]]["ids"]
            for w in ph[1:]:
                cand = cand[np.isin(cand, predecoded[w]["ids"],
                                    assume_unique=True)]
            if len(cand):
                per_word = {
                    w: _decode_positions_covering(rows_by_term[w], cand)
                    for w in set(ph)
                }
                docs = _phrase_doc_ids(per_word, ph)
            else:
                docs = cand
            phrase_ok = docs if phrase_ok is None else docs[
                np.isin(docs, phrase_ok, assume_unique=True)
            ]
            if not len(phrase_ok):
                return _empty_scores()

        # proximity constraints conjoin into the same position filter:
        # candidates = docs holding both terms, positions decoded
        # block-selectively over them, window check fully vectorized
        for a, b, slop, ordered in nears:
            cand = predecoded[a]["ids"]
            cand = cand[np.isin(cand, predecoded[b]["ids"],
                                assume_unique=True)]
            if len(cand):
                per_word = {
                    w: _decode_positions_covering(rows_by_term[w], cand)
                    for w in {a, b}
                }
                docs = _near_doc_ids(per_word, a, b, slop, ordered)
            else:
                docs = cand
            phrase_ok = docs if phrase_ok is None else docs[
                np.isin(docs, phrase_ok, assume_unique=True)
            ]
            if not len(phrase_ok):
                return _empty_scores()

        neg_terms = [t for t in meta.index if is_neg.get(t)]

        def passes_filter(cand: np.ndarray, lists: dict) -> np.ndarray:
            ok = not_deleted_mask(tombs, cand)
            if n_groups:
                cover = np.zeros(len(cand), dtype=np.int64)
                for t in scored:
                    m = gmask.get(t, 0)
                    if m and t in lists:
                        cover |= np.where(_member_mask(lists[t], cand), m, 0)
                ok &= cover == full_mask
            if neg_terms:
                negm = np.zeros(len(cand), dtype=bool)
                for t in neg_terms:
                    lst = (lists.get(t) if gmask.get(t, 0) or t in phrase_words
                           else None)
                    if lst is None:
                        lst = _decode_covering(rows_by_term[t], cand)
                    negm |= _member_mask(lst, cand)
                ok &= ~negm
            if phrase_ok is not None:
                ok &= np.isin(cand, phrase_ok, assume_unique=True)
            return ok

        groups = {t: rows_by_term[t] for t in scored}
        cand, scores = _maxscore_pass(
            groups, idfs, avgdl, k,
            passes_filter=passes_filter, predecoded=predecoded,
        )
        return _local_topk(cand, scores, k)

    return score_group


def _near_doc_ids(per_word: dict[str, dict], term_a: str, term_b: str,
                  slop: int, ordered: bool) -> np.ndarray:
    """doc_ids where b occurs within ``slop`` positions of a — the
    proximity analog of :func:`_phrase_doc_ids`, fully vectorized.

    Same uint64 (dense doc index << 32 | position) key trick: a's
    positions form the key set; b contributes one shifted key set per
    admissible offset d (pos_b − d), so a match is a nonempty key
    intersection. 2·slop (or slop, ordered) shifted sets — slop is
    small, so this stays O(postings · slop) with no per-doc loop."""
    cand = per_word[term_a]["ids"]
    cand = cand[np.isin(cand, per_word[term_b]["ids"], assume_unique=True)]
    if not len(cand):
        return cand

    def keys(term: str, delta: int) -> np.ndarray:
        # key = docidx << 32 | (pos − delta + slop + 1); the constant
        # slop+1 keeps the low word positive (delta ≤ slop), so the
        # addend slop+1−delta ≥ 1 and uint64 math never wraps
        ids, plists = per_word[term]["ids"], per_word[term]["plists"]
        sel = np.searchsorted(ids, cand)
        lens = np.fromiter((len(plists[j]) for j in sel), dtype=np.int64,
                           count=len(sel))
        if not lens.sum():
            return np.zeros(0, dtype=np.uint64)
        flat = np.concatenate([plists[j] for j in sel]).astype(np.uint64)
        docidx = np.repeat(np.arange(len(cand), dtype=np.uint64), lens)
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


def _near_hits_segment(pdf: pd.DataFrame, term_a: str, term_b: str,
                       slop: int, ordered: bool) -> np.ndarray:
    """doc_ids of one scoring group matching the proximity query —
    same two-phase shape as :func:`_phrase_hits_segment`: full doc-id
    stream decode to intersect candidates, then block-selective
    POSITION decode covering only those candidates."""
    rows_by_word = {t: g for t, g in pdf.groupby("term", sort=False)}
    if term_a not in rows_by_word or term_b not in rows_by_word:
        return np.zeros(0, np.int64)
    full = {w: _decode_full(rows_by_word[w]) for w in {term_a, term_b}}
    cand = full[term_a]["ids"]
    cand = cand[np.isin(cand, full[term_b]["ids"], assume_unique=True)]
    if not len(cand):
        return cand
    per_word = {
        w: _decode_positions_covering(rows_by_word[w], cand)
        for w in {term_a, term_b}
    }
    return _near_doc_ids(per_word, term_a, term_b, slop, ordered)
