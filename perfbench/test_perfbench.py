"""Tests of the benchmark's own checks and input generation (no Spark).

    python3 -m pytest perfbench -q

Each correctness check must reject a deliberately corrupted output, and
input generation must be byte-identical for a seed and differ across
seeds.
"""

from __future__ import annotations

import hashlib
import random
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import checks, inputs  # noqa: E402
from perfbench.harness import Tracer  # noqa: E402


# -- similarity oracles -------------------------------------------------------


def _lcs_brute(a: str, b: str) -> int:
    best = 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                best = max(best, cur[j])
        prev = cur
    return best


def test_longest_common_span_matches_brute_force():
    rng = random.Random(5)
    words = ["ab", "cab", "b", "abc", "ca", "bca", "a", "tok1", "tok12"]

    def text(shared):
        pre = [rng.choice(words) for _ in range(rng.randint(0, 6))]
        post = [rng.choice(words) for _ in range(rng.randint(0, 6))]
        return " ".join(pre + shared + post)

    for _ in range(400):
        shared = [rng.choice(words) for _ in range(rng.randint(0, 5))]
        a, b = text(shared), text(shared)
        got, want = checks.longest_common_span(a, b), _lcs_brute(a, b)
        # a span without a whole word of both texts is at most
        # suffix + space + prefix of two words (<= 9 chars here)
        if want > 9:
            assert got == want, (a, b)
        else:
            assert got <= want, (a, b)


def test_jaccard_of_shingles():
    a = "a b c d e f g"
    assert checks.jaccard(a, a) == 1.0
    assert checks.jaccard(a, "a b c d e f h") == pytest.approx(2 / 4)
    assert checks.jaccard("x y", "x y") == 1.0  # shorter than k: one shingle


# -- crawl_dedup ----------------------------------------------------------------


def _crawl_fixture():
    pages = inputs.page_corpus(3, 150)
    texts = {p["url"]: p["text"] for p in pages}
    planted = inputs.planted_pairs(pages)
    oracle = checks.PairOracle(texts)
    counted = {(u, v) for u, v, _ in planted if oracle.is_dup(u, v)}
    # a correct output: exact copies as star edges, every other counted
    # planted pair verified as a duplicate
    exact_edges, pairs = [], []
    for u, v, kind in planted:
        if texts[u] == texts[v]:
            exact_edges.append((u, v))
        elif (u, v) in counted:
            a, b = sorted((u, v))
            pairs.append({"url_a": a, "url_b": b, "jaccard": checks.jaccard(texts[a], texts[b]),
                          "is_dup": True})
    clusters = checks.components(exact_edges + [(p["url_a"], p["url_b"]) for p in pairs])
    return texts, planted, counted, oracle, exact_edges, pairs, clusters


def test_crawl_check_accepts_correct_output():
    texts, planted, counted, oracle, edges, pairs, clusters = _crawl_fixture()
    problems, recall = checks.check_crawl(
        texts, planted, counted, oracle, dict(texts), pairs, edges, clusters
    )
    assert problems == [] and recall == 1.0


def test_crawl_check_rejects_dropped_planted_pair():
    texts, planted, counted, oracle, edges, pairs, _ = _crawl_fixture()
    pairs = pairs[1:]
    clusters = checks.components(edges + [(p["url_a"], p["url_b"]) for p in pairs])
    problems, recall = checks.check_crawl(
        texts, planted, counted, oracle, dict(texts), pairs, edges, clusters
    )
    assert recall < 0.99 and any("recall" in p for p in problems)


def test_crawl_check_rejects_wrong_cluster_id():
    texts, planted, counted, oracle, edges, pairs, clusters = _crawl_fixture()
    bad = dict(clusters)
    u = max(bad)
    bad[u] = u  # not the min url of its component
    problems, _ = checks.check_crawl(texts, planted, counted, oracle, dict(texts), pairs, edges, bad)
    assert any("wrong cluster_id" in p for p in problems)


def test_crawl_check_rejects_false_duplicate_and_bad_text():
    texts, planted, counted, oracle, edges, pairs, clusters = _crawl_fixture()
    urls = sorted(u for u in texts if u not in clusters)
    a, b = urls[0], urls[1]
    fake = pairs + [{"url_a": a, "url_b": b, "jaccard": 0.9, "is_dup": True}]
    clusters2 = checks.components(edges + [(p["url_a"], p["url_b"]) for p in fake])
    docs = dict(texts)
    docs[a] = docs[a] + " x"
    problems, _ = checks.check_crawl(texts, planted, counted, oracle, docs, fake, edges, clusters2)
    assert any("recomputes" in p for p in problems)
    assert any("differ from the input text" in p for p in problems)


def test_crawl_check_rejects_wrong_exact_edge():
    texts, planted, counted, oracle, edges, pairs, _ = _crawl_fixture()
    urls = sorted(texts)
    a = next(u for u in urls if texts[u] != texts[urls[0]])
    bad = edges + [(urls[0], a)]
    # clusters consistent with the wrong edge: only the edge check can object
    clusters = checks.components(bad + [(p["url_a"], p["url_b"]) for p in pairs])
    problems, _ = checks.check_crawl(texts, planted, counted, oracle, dict(texts), pairs, bad,
                                     clusters)
    assert any("exact edges join different texts" in p for p in problems)


# -- probe_stream -----------------------------------------------------------------


def _probe_fixture():
    store = inputs.page_corpus(4, 400, stream=1)
    batches = inputs.stream_batches(4, store, 2, 8)
    batch = batches[1]
    pairs = [{"new_url": d["url"], "other_url": d["src"]} for d in batch if d["src"]]
    return batch, pairs


def test_probe_check_accepts_correct_output():
    batch, pairs = _probe_fixture()
    assert {d["kind"] for d in batch} == {"copy", "near", "resend", "fresh"}
    assert checks.check_probe_batch(batch, pairs) == []


def test_probe_check_rejects_fresh_page_reported():
    batch, pairs = _probe_fixture()
    fresh = next(d for d in batch if d["kind"] == "fresh")
    bad = pairs + [{"new_url": fresh["url"], "other_url": batch[0]["src"]}]
    assert any("fresh" in p for p in checks.check_probe_batch(batch, bad))


def test_probe_check_rejects_missed_resend_and_bad_store():
    batch, pairs = _probe_fixture()
    resend = next(d for d in batch if d["kind"] == "resend")
    bad = [p for p in pairs if p["new_url"] != resend["url"]]
    assert any("resend" in p for p in checks.check_probe_batch(batch, bad))
    assert checks.check_store(["a", "b"], {"a", "b"}) == []
    assert checks.check_store(["a", "b", "b"], {"a", "b"})
    assert checks.check_store(["a"], {"a", "b"})


# -- payload_pairs ----------------------------------------------------------------


def _media_fixture():
    rng = np.random.default_rng(1)
    frames = {
        f"m{i}": [(int(x), int(y)) for x, y in rng.integers(-2**63, 2**63 - 1, size=(4, 2))]
        for i in range(4)
    }
    frames["m1"] = list(frames["m0"])
    frames["m3"] = list(frames["m2"][:3])
    pairs = [
        {"url_a": "m0", "url_b": "m1", "score": checks.media_score(frames["m0"], frames["m1"])},
        {"url_a": "m2", "url_b": "m3", "score": checks.media_score(frames["m2"], frames["m3"])},
    ]
    groups = {"m0": "m0", "m1": "m0", "m2": "m2", "m3": "m2"}
    return frames, pairs, groups, [("m0", "m1")]


def test_media_check_accepts_and_rejects_wrong_score():
    frames, pairs, groups, planted = _media_fixture()
    assert pairs[1]["score"] == pytest.approx(0.3 * 3 / 4 + 0.7)
    assert checks.check_media(frames, pairs, groups, planted) == ([], 1.0)
    bad = [dict(pairs[0]), dict(pairs[1], score=pairs[1]["score"] - 0.01)]
    problems, _ = checks.check_media(frames, bad, groups, planted)
    assert any("score" in p for p in problems)


def test_media_check_rejects_missing_planted_pair():
    frames, pairs, groups, planted = _media_fixture()
    problems, recall = checks.check_media(frames, pairs[1:], {"m2": "m2", "m3": "m2"}, planted)
    assert recall == 0.0 and problems


def _sem_fixture():
    vecs, planted = inputs.vectors(7, 200, dim=16)
    cents = np.eye(16)[:4]
    x = vecs.astype(np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sim = xn @ cents.T
    cell, cs = sim.argmax(1), sim.max(1)
    members = []
    for a, b in planted:
        if cell[a] != cell[b]:
            continue
        keep = min((a, b), key=lambda i: (cs[i], i))
        for i in (a, b):
            members.append({"vec_id": i, "cluster_id": a, "cent_sim": cs[i], "is_kept": i == keep})
    return vecs, cents, members, planted


def test_semdedup_check_accepts_and_rejects_two_kept():
    vecs, cents, members, planted = _sem_fixture()
    problems, _ = checks.check_semdedup(vecs, cents, members, planted, eps=0.01)
    assert problems == []
    bad = [dict(m, is_kept=True) for m in members]
    problems, _ = checks.check_semdedup(vecs, cents, bad, planted, eps=0.01)
    assert any("keeps 2 members" in p for p in problems)


def test_semdedup_check_rejects_wrong_keeper_and_unconnected_group():
    vecs, cents, members, planted = _sem_fixture()
    flipped = [dict(m, is_kept=not m["is_kept"]) for m in members]
    problems, _ = checks.check_semdedup(vecs, cents, flipped, planted, eps=0.01)
    assert any("lowest centroid similarity" in p for p in problems)
    g0 = members[0]["cluster_id"]
    far = max(range(len(vecs)), key=lambda i: -float(vecs[i] @ vecs[g0]))
    extra = members + [{"vec_id": far, "cluster_id": g0, "cent_sim": 0.0, "is_kept": False}]
    problems, _ = checks.check_semdedup(vecs, cents, extra, planted, eps=0.01)
    assert any("not connected" in p for p in problems)


# -- spans ------------------------------------------------------------------------


def test_span_nesting_check_rejects_overlap_escape_and_negative_self_time():
    tr = Tracer(enabled=False)
    op = tr.add("op", 0.0, 10.0, None)
    run = tr.add("run", 1.0, 9.0, op)
    tr.add("a", 1.0, 4.0, run)
    tr.add("b", 4.0, 8.0, run)
    assert tr.check_nesting(op) == []
    assert tr.self_time(op) + sum(tr.self_time(i) for i in (run, 2, 3)) == 10.0
    tr.add("c", 7.0, 9.5, run)  # overlaps b, ends after its parent
    problems = tr.check_nesting(op)
    assert any("overlap" in p for p in problems)
    assert any("outside its parent" in p for p in problems)
    assert any("negative self time" in p for p in problems)


# -- input generation -----------------------------------------------------------


def _digest(path: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(path.rglob("*.parquet")):
        h.update(f.read_bytes())
    return h.hexdigest()


def test_inputs_are_byte_identical_per_seed_and_differ_across_seeds(tmp_path):
    digests = {}
    for name, seed in (("a", 11), ("b", 11), ("c", 12)):
        d = tmp_path / name
        pages = inputs.page_corpus(seed, 120)
        inputs.write_pages(pages, d / "pages")
        inputs.write_pages(inputs.stream_batches(seed, pages, 2, 8)[1], d / "batch")
        urls, payloads, _ = inputs.media_items(seed, 40)
        inputs.write_media(urls, payloads, d / "media")
        inputs.write_vectors(inputs.vectors(seed, 50)[0], d / "vectors")
        digests[name] = {sub: _digest(d / sub) for sub in ("pages", "batch", "media", "vectors")}
    assert digests["a"] == digests["b"]
    for sub in digests["a"]:
        assert digests["a"][sub] != digests["c"][sub], sub
