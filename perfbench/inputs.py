"""Seeded input generation for the three workloads, cached on disk.

The generators live here, not in the program, so a later change to the
program's own fixture generators cannot move the benchmark's inputs. The
page corpus follows the FIXTURES.md taxonomy (F1/F2): after a prefix of
guaranteed-unique base pages, index ``i % 100`` picks the role — 10% exact
copies, 15% near copies (0.1-3% of tokens substituted), 5% substring
copies (a 90-200 word verbatim span inside unrelated text), 2% one shared
boilerplate text (the hot cluster), the rest unique. Every value is a pure
function of ``(seed, index)``.

Generation is never timed; its wall time is reported apart and excluded
from ``setup_s``.
"""

from __future__ import annotations

import json
import shutil
from datetime import datetime, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [f"tok{i:04d}" for i in range(4000)]
BOILERPLATE = (
    "this page intentionally left blank please enable javascript to continue " * 12
)
EPOCH_US = int(datetime(2025, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
FILES_PER_TABLE = 8  # several input files, so the scan splits across cores


def html_of(i: int, text: str) -> bytes:
    return (
        b"<html><head><title>t" + str(i).encode() + b"</title></head><body><p>"
        + text.encode("utf-8")
        + b"</p></body></html>"
    )


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[j] for j in rng.integers(0, len(VOCAB), size=n)]


def unique_text(seed: int, stream: int, i: int) -> str:
    rng = np.random.default_rng([seed, stream, i])
    return " ".join(_words(rng, int(rng.integers(50, 2001))))


def role_of(i: int, n: int) -> str:
    if i < max(4, n // 3):
        return "unique"
    r = i % 100
    if r < 10:
        return "exact"
    if r < 25:
        return "near"
    if r < 30:
        return "substring"
    if r < 32:
        return "boilerplate"
    return "unique"


def mutate(text: str, rng: np.random.Generator, rate: float) -> str:
    toks = text.split(" ")
    n_mut = max(1, int(len(toks) * rate))
    for p in rng.choice(len(toks), size=min(n_mut, len(toks)), replace=False):
        toks[int(p)] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(toks)


def page_corpus(seed: int, n: int, stream: int = 0) -> list[dict]:
    """``[{url, text, role, base}]``; ``base`` is the index of the page a
    planted copy was made from (None for unique and boilerplate pages)."""
    lo = max(4, n // 3)
    texts: list[str] = []
    out = []
    for i in range(n):
        role = role_of(i, n)
        rng = np.random.default_rng([seed, stream, i, 7])
        base = None
        if role in ("exact", "near", "substring"):
            base = int(rng.integers(0, lo))
        if role == "boilerplate":
            text = BOILERPLATE
        elif role == "exact":
            text = texts[base]
        elif role == "near":
            text = mutate(texts[base], rng, float(rng.uniform(0.001, 0.03)))
        elif role == "substring":
            src = texts[base].split(" ")
            span_len = int(rng.integers(90, 200))
            start = int(rng.integers(0, max(1, len(src) - span_len)))
            span = src[start : start + span_len]
            pre = _words(rng, int(rng.integers(80, 300)))
            suf = _words(rng, int(rng.integers(80, 300)))
            text = " ".join([*pre, *span, *suf])
        else:
            text = unique_text(seed, stream, i)
        texts.append(text)
        out.append(
            {"url": f"https://site{i % 10}.example/page/{i}", "text": text,
             "role": role, "base": base}
        )
    return out


def write_pages(pages: list[dict], path: Path, first_index: int = 0) -> None:
    """FIXTURES F1 ``pages`` table as several parquet files."""
    path.mkdir(parents=True, exist_ok=True)
    n = len(pages)
    per = max(1, -(-n // FILES_PER_TABLE))
    for f, lo in enumerate(range(0, n, per)):
        chunk = pages[lo : lo + per]
        idx = range(first_index + lo, first_index + lo + len(chunk))
        table = pa.table(
            {
                "url": pa.array([p["url"] for p in chunk], pa.string()),
                "warc_ts": pa.array(
                    [EPOCH_US + i * 1_000_000 for i in idx], pa.timestamp("us", tz="UTC")
                ),
                "html": pa.array([html_of(i, p["text"]) for i, p in zip(idx, chunk)], pa.binary()),
                "text": pa.array([p["text"] for p in chunk], pa.string()),
                "lang": pa.array(
                    ["de" if i % 20 == 18 else "fr" if i % 20 == 19 else "en" for i in idx],
                    pa.string(),
                ),
            }
        )
        pq.write_table(table, path / f"part-{f:05d}.parquet")


def planted_pairs(pages: list[dict]) -> list[tuple[str, str, str]]:
    """F2 truth: (copy url, source url, kind); boilerplate pages pair with
    the first boilerplate page."""
    out = []
    first_boiler = None
    for p in pages:
        if p["base"] is not None:
            out.append((p["url"], pages[p["base"]]["url"], p["role"]))
        elif p["role"] == "boilerplate":
            if first_boiler is None:
                first_boiler = p["url"]
            else:
                out.append((p["url"], first_boiler, "exact"))
    return out


# -- probe_stream -------------------------------------------------------------


def stream_batches(
    seed: int, store: list[dict], n_batches: int, batch_size: int
) -> list[list[dict]]:
    """A fixed sequence of micro-batches against ``store``. Each batch holds
    byte copies of store pages, near copies (1% of tokens substituted),
    re-sends of the previous batch's pages under new urls, and fresh
    pages; ``src`` names the url each planted page must be reported
    against. The first batch has no earlier batch, so its re-send share
    is fresh pages."""
    # long unique pages only: a 1% edit of a >= 300-word page keeps shingle
    # Jaccard near 0.9 and a long verbatim span, so the probe's recall on
    # near copies does not hinge on one LSH band colliding
    sources = [
        i for i, p in enumerate(store)
        if p["role"] == "unique" and p["text"].count(" ") >= 299
    ]
    rng = np.random.default_rng([seed, 99])
    picks = rng.choice(len(sources), size=n_batches * batch_size, replace=False)
    quarter = batch_size // 4
    batches: list[list[dict]] = []
    for b in range(n_batches):
        batch = []
        for j in range(batch_size):
            url = f"https://stream.example/b{b}/p{j}"
            src_page = store[sources[int(picks[b * batch_size + j])]]
            kind = ("copy", "near", "resend", "fresh")[min(j // max(1, quarter), 3)]
            if kind == "resend" and b == 0:
                kind = "fresh"
            if kind == "copy":
                batch.append({"url": url, "text": src_page["text"], "kind": kind,
                              "src": src_page["url"]})
            elif kind == "near":
                r = np.random.default_rng([seed, 98, b, j])
                batch.append({"url": url, "text": mutate(src_page["text"], r, 0.01),
                              "kind": kind, "src": src_page["url"]})
            elif kind == "resend":
                prev = batches[b - 1][int(rng.integers(0, batch_size))]
                batch.append({"url": url, "text": prev["text"], "kind": kind,
                              "src": prev["url"]})
            else:
                batch.append({"url": url, "text": unique_text(seed, 97, b * batch_size + j),
                              "kind": "fresh", "src": None})
        batches.append(batch)
    return batches


# -- payload_pairs --------------------------------------------------------------

DUP_EVERY = 10  # id % DUP_EVERY == 1 copies id - 1; == 2 perturbs id - 2


def media_items(seed: int, n: int) -> tuple[list[str], list[bytes], list[tuple[str, str]]]:
    """(urls, payloads, planted byte-identical pairs). Payloads are 2-10 KiB
    of seeded bytes; every ``DUP_EVERY``-th item is a byte copy of its
    predecessor (planted), and the one after a copy of the item two back
    with 64 bytes overwritten (scored, not planted)."""
    urls = [f"m://{i:09d}" for i in range(n)]
    payloads: list[bytes] = []
    planted = []
    for i in range(n):
        r = i % DUP_EVERY
        if r == 1 and i >= 1:
            payloads.append(payloads[i - 1])
            planted.append((urls[i - 1], urls[i]))
        elif r == 2 and i >= 2:
            rng = np.random.default_rng([seed, 3, i])
            buf = bytearray(payloads[i - 2])
            off = int(rng.integers(0, len(buf) - 64))
            buf[off : off + 64] = rng.integers(0, 256, size=64, dtype=np.uint8).tobytes()
            payloads.append(bytes(buf))
        else:
            rng = np.random.default_rng([seed, 2, i])
            size = int(rng.integers(2048, 10241))
            payloads.append(rng.integers(0, 256, size=size, dtype=np.uint8).tobytes())
    return urls, payloads, planted


def vectors(seed: int, n: int, dim: int = 64) -> tuple[np.ndarray, list[tuple[int, int]]]:
    """(n, dim) float32 vectors; every ``DUP_EVERY``-th is its predecessor
    plus uniform noise in [-0.01, 0.01] (cosine > 0.999, planted)."""
    rng = np.random.default_rng([seed, 4])
    v = rng.uniform(-1.0, 1.0, size=(n, dim)).astype(np.float32)
    planted = []
    for i in range(1, n):
        if i % DUP_EVERY == 1:
            noise = rng.uniform(-0.01, 0.01, size=dim).astype(np.float32)
            v[i] = v[i - 1] + noise
            planted.append((i - 1, i))
    return v, planted


def write_media(urls: list[str], payloads: list[bytes], path: Path) -> None:
    path.mkdir(parents=True, exist_ok=True)
    per = max(1, -(-len(urls) // FILES_PER_TABLE))
    for f, lo in enumerate(range(0, len(urls), per)):
        pq.write_table(
            pa.table({"url": pa.array(urls[lo : lo + per], pa.string()),
                      "html": pa.array(payloads[lo : lo + per], pa.binary())}),
            path / f"part-{f:05d}.parquet",
        )


def write_vectors(v: np.ndarray, path: Path) -> None:
    path.mkdir(parents=True, exist_ok=True)
    n, dim = v.shape
    per = max(1, -(-n // FILES_PER_TABLE))
    for f, lo in enumerate(range(0, n, per)):
        chunk = v[lo : lo + per]
        emb = pa.FixedSizeListArray.from_arrays(pa.array(chunk.ravel(), pa.float32()), dim)
        pq.write_table(
            pa.table({"vec_id": pa.array(np.arange(lo, lo + len(chunk)), pa.int64()),
                      "embedding": emb.cast(pa.list_(pa.float32()))}),
            path / f"part-{f:05d}.parquet",
        )


def cached(path: Path, build) -> Path:
    """Build ``path`` once per (workload, seed, size); a finished build is
    marked by ``_READY`` so an interrupted one is redone."""
    if (path / "_READY").exists():
        return path
    if path.exists():
        shutil.rmtree(path)
    path.mkdir(parents=True)
    build(path)
    (path / "_READY").write_text("ok")
    return path


def dump_json(path: Path, obj) -> None:
    path.write_text(json.dumps(obj))


def load_json(path: Path):
    return json.loads(path.read_text())
