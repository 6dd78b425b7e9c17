"""Correctness checks computed apart from the program.

Pure Python and NumPy: no Spark, no import from the package under test.
Each check returns a list of problems (empty when the output is correct)
plus, where it applies, a recall figure for the run record.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np

JACCARD_THRESHOLD = 0.8
SPAN_MIN = 500
SHINGLE_K = 5


# -- text similarity ----------------------------------------------------------


def shingles(text: str, k: int = SHINGLE_K) -> set:
    toks = text.split(" ") if text else []
    if not toks:
        return set()
    if len(toks) < k:
        return {tuple(toks)}
    return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def _common_prefix(a: str, b: str) -> int:
    n = 0
    for x, y in zip(a, b):
        if x != y:
            break
        n += 1
    return n


def longest_common_span(a: str, b: str) -> int:
    """Longest common substring length of two space-separated texts,
    exact whenever that substring holds a whole word of both texts (any
    span of >= 500 chars in the benchmark's corpora, whose words are 7
    chars); a shorter one may be under-reported.

    A common substring that holds a whole word aligns the two texts on
    word boundaries, so it is a maximal run of equal words extended by the
    common suffix of the words before it and the common prefix of the
    words after it. Runs of equal words are found by dynamic programming
    over word positions (O(words x repeats))."""
    wa, wb = a.split(" "), b.split(" ")
    pos_b = defaultdict(list)
    for j, w in enumerate(wb):
        pos_b[w].append(j)
    best = 0
    for w in set(wa) & set(wb):
        best = max(best, len(w))
    prev: dict[int, int] = {}
    for i, w in enumerate(wa):
        cur: dict[int, int] = {}
        for j in pos_b.get(w, ()):
            cur[j] = prev.get(j - 1, 0) + 1
        # runs that ended at i-1 (not continued here) are maximal
        for j, run in prev.items():
            if cur.get(j + 1) is None:
                best = max(best, _run_chars(wa, wb, i - 1, j, run))
        prev = cur
    for j, run in prev.items():
        best = max(best, _run_chars(wa, wb, len(wa) - 1, j, run))
    return best


def _run_chars(wa, wb, i_end, j_end, run) -> int:
    i0, j0 = i_end - run + 1, j_end - run + 1
    n = sum(len(w) for w in wa[i0 : i_end + 1]) + (run - 1)
    if i0 > 0 and j0 > 0:
        n += 1 + _common_prefix(wa[i0 - 1][::-1], wb[j0 - 1][::-1])
    if i_end + 1 < len(wa) and j_end + 1 < len(wb):
        n += 1 + _common_prefix(wa[i_end + 1], wb[j_end + 1])
    return n


class PairOracle:
    """Memoized (Jaccard, longest common span) per unordered url pair."""

    def __init__(self, texts: dict[str, str]):
        self.texts = texts
        self._memo: dict[tuple[str, str], tuple[float, int]] = {}

    def score(self, u: str, v: str) -> tuple[float, int]:
        key = (u, v) if u < v else (v, u)
        got = self._memo.get(key)
        if got is None:
            a, b = self.texts[key[0]], self.texts[key[1]]
            j = jaccard(a, b)
            # the span is only needed when Jaccard alone does not decide
            span = longest_common_span(a, b) if j < JACCARD_THRESHOLD else -1
            got = self._memo[key] = (j, span)
        return got

    def is_dup(self, u: str, v: str) -> bool:
        j, span = self.score(u, v)
        return j >= JACCARD_THRESHOLD or span >= SPAN_MIN


# -- clustering ---------------------------------------------------------------


def components(edges) -> dict[str, str]:
    """Union-find over undirected edges → {node: min node of its component}."""
    parent: dict[str, str] = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        if u == v:
            continue
        for x in (u, v):
            parent.setdefault(x, x)
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return {x: find(x) for x in parent}


def check_clusters(clusters: dict[str, str], edges) -> list[str]:
    want = components(edges)
    if clusters == want:
        return []
    missing = set(want) - set(clusters)
    extra = set(clusters) - set(want)
    wrong = [u for u in set(want) & set(clusters) if want[u] != clusters[u]]
    return [
        f"clusters differ from union-find: {len(missing)} missing, "
        f"{len(extra)} extra, {len(wrong)} wrong cluster_id"
        + (f" (e.g. {wrong[0]}: {clusters[wrong[0]]} != {want[wrong[0]]})" if wrong else "")
    ]


# -- crawl_dedup ----------------------------------------------------------------


def check_crawl(
    texts: dict[str, str],
    planted: list[tuple[str, str, str]],
    counted: set[tuple[str, str]],
    oracle: PairOracle,
    docs: dict[str, str],
    pairs: list[dict],
    exact_edges: list[tuple[str, str]],
    clusters: dict[str, str],
) -> tuple[list[str], float]:
    """``counted``: the planted pairs whose recomputed Jaccard is >= 0.8 or
    that share a >= 500-char span. Returns (problems, recall)."""
    problems = []
    if docs.keys() != texts.keys():
        problems.append(f"docs checkpoint holds {len(docs)} urls, input {len(texts)}")
    bad_text = [u for u, t in docs.items() if texts.get(u) != t]
    if bad_text:
        problems.append(f"{len(bad_text)} docs differ from the input text, e.g. {bad_text[0]}")
    bad_edges = [(u, v) for u, v in exact_edges if u not in texts or texts.get(u) != texts.get(v)]
    if bad_edges:
        problems.append(
            f"{len(bad_edges)} exact edges join different texts, e.g. {bad_edges[0]}"
        )
    dup_edges = []
    for p in pairs:
        if not p["is_dup"]:
            continue
        dup_edges.append((p["url_a"], p["url_b"]))
        j, span = oracle.score(p["url_a"], p["url_b"])
        if not (j >= JACCARD_THRESHOLD or span >= SPAN_MIN):
            problems.append(
                f"is_dup pair {p['url_a']} {p['url_b']} recomputes to "
                f"jaccard {j:.4f}, span {span}"
            )
        elif j >= JACCARD_THRESHOLD and abs(j - p["jaccard"]) > 1e-6:
            problems.append(
                f"pair {p['url_a']} {p['url_b']} jaccard {p['jaccard']} != {j}"
            )
    problems += check_clusters(clusters, list(exact_edges) + dup_edges)
    found = sum(
        1 for u, v, _ in planted
        if (u, v) in counted and u in clusters and clusters.get(u) == clusters.get(v)
    )
    recall = found / len(counted) if counted else 1.0
    if recall < 0.99:
        problems.append(f"planted-pair recall {recall:.4f} < 0.99")
    return problems, recall


# -- probe_stream ---------------------------------------------------------------


def check_probe_batch(batch: list[dict], pairs: list[dict]) -> list[str]:
    """Every copy / near copy / re-send is reported against its source and
    no fresh page is matched. ``pairs``: the batch's reported duplicates
    (new_url, other_url)."""
    problems = []
    reported = set()
    for p in pairs:
        reported.add((p["new_url"], p["other_url"]))
        reported.add((p["other_url"], p["new_url"]))
    fresh = {d["url"] for d in batch if d["kind"] == "fresh"}
    for d in batch:
        if d["src"] is not None and (d["url"], d["src"]) not in reported:
            problems.append(f"{d['kind']} {d['url']} not reported against {d['src']}")
    hit = {u for p in pairs for u in (p["new_url"], p["other_url"])} & fresh
    if hit:
        problems.append(f"{len(hit)} fresh pages matched, e.g. {sorted(hit)[0]}")
    return problems


def check_store(urls: list[str], expected: set[str]) -> list[str]:
    problems = []
    if len(urls) != len(set(urls)):
        problems.append(f"store holds {len(urls) - len(set(urls))} repeated urls")
    if set(urls) != expected:
        problems.append(
            f"store urls differ: {len(expected - set(urls))} missing, "
            f"{len(set(urls) - expected)} unexpected"
        )
    if len(urls) != len(expected):
        problems.append(f"store rows {len(urls)} != base + new urls {len(expected)}")
    return problems


# -- payload_pairs --------------------------------------------------------------


def _hex_sim(x: int, y: int) -> int:
    """Matching hex characters of two 64-bit hashes (16 chars each)."""
    hx, hy = format(x & (2**64 - 1), "016x"), format(y & (2**64 - 1), "016x")
    return sum(a == b for a, b in zip(hx, hy))


def media_score(fa: list[tuple[int, int]], fb: list[tuple[int, int]]) -> float:
    """Reference formula over per-frame (phash, dhash) lists:
    0.3 * frame-count ratio + 0.7 * mean matching-hex-char share over the
    frames both videos have."""
    n = min(len(fa), len(fb))
    sims = [
        (_hex_sim(fa[i][0], fb[i][0]) + _hex_sim(fa[i][1], fb[i][1])) / 32.0
        for i in range(n)
    ]
    ratio = min(len(fa), len(fb)) / max(len(fa), len(fb))
    return 0.3 * ratio + 0.7 * (sum(sims) / n)


def check_media(
    frames: dict[str, list[tuple[int, int]]],
    pairs: list[dict],
    groups: dict[str, str],
    planted: list[tuple[str, str]],
) -> tuple[list[str], float]:
    problems = []
    scores = {}
    for p in pairs:
        want = media_score(frames[p["url_a"]], frames[p["url_b"]])
        if abs(want - p["score"]) > 1e-9:
            problems.append(f"media pair {p['url_a']} {p['url_b']} score {p['score']} != {want}")
        if p["score"] < 0.8:
            problems.append(f"media pair {p['url_a']} {p['url_b']} below threshold")
        scores[(p["url_a"], p["url_b"])] = p["score"]
    found = sum(1 for a, b in planted if scores.get((a, b), 0.0) >= 0.999)
    if found < len(planted):
        problems.append(f"{len(planted) - found} planted media pairs missing or < 0.999")
    problems += check_clusters(groups, list(scores))
    return problems, found / len(planted) if planted else 1.0


def check_semdedup(
    vecs: np.ndarray,
    cents: np.ndarray,
    members: list[dict],
    planted: list[tuple[int, int]],
    eps: float,
) -> tuple[list[str], float]:
    """``members``: (vec_id, cluster_id, cent_sim, is_kept) rows."""
    problems = []
    x = vecs.astype(np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    sims = xn @ cn.T
    cell = sims.argmax(axis=1)
    top2 = np.sort(sims, axis=1)[:, -2:]
    clear = (top2[:, 1] - top2[:, 0]) > 1e-9
    cent_sim = sims[np.arange(len(x)), cell]

    groups: dict[int, list[dict]] = defaultdict(list)
    for m in members:
        groups[m["cluster_id"]].append(m)
    thr = 1.0 - eps
    for cid, ms in groups.items():
        ids = np.array(sorted(m["vec_id"] for m in ms))
        if ids[0] != cid:
            problems.append(f"semdedup group {cid} is not named by its min vec_id")
        g = xn[ids] @ xn[ids].T >= thr - 1e-12
        seen, todo = {0}, [0]
        while todo:
            i = todo.pop()
            for j in np.nonzero(g[i])[0]:
                if int(j) not in seen:
                    seen.add(int(j))
                    todo.append(int(j))
        if len(seen) != len(ids):
            problems.append(f"semdedup group {cid} is not connected at cosine >= {thr}")
        kept = [m for m in ms if m["is_kept"]]
        if len(kept) != 1:
            problems.append(f"semdedup group {cid} keeps {len(kept)} members")
            continue
        want = min(ids, key=lambda i: (cent_sim[i], i))
        k = kept[0]["vec_id"]
        if k != want and abs(cent_sim[k] - cent_sim[want]) > 1e-9:
            problems.append(f"semdedup group {cid} keeps {k}, lowest centroid similarity is {want}")
    group_of = {m["vec_id"]: m["cluster_id"] for m in members}
    same_cell = [
        (a, b) for a, b in planted if cell[a] == cell[b] and clear[a] and clear[b]
    ]
    grouped = sum(
        1 for a, b in same_cell if a in group_of and group_of.get(a) == group_of.get(b)
    )
    if grouped < len(same_cell):
        problems.append(f"{len(same_cell) - grouped} same-cell planted vector pairs not grouped")
    return problems, grouped / len(planted) if planted else 1.0
