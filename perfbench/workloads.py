"""The three workloads: crawl_dedup, probe_stream and payload_pairs.

Each workload makes its inputs from the seed (cached on disk), prepares
what the program needs once (``prepare``: the initial signature store for
probe_stream), and then runs *rounds*: a fixed list of timed operations.
A run always attempts whole rounds, so every run repeats the same
operations in the same order. After each operation its outputs are read
back with pyarrow (not through the program) and checked by ``checks``.

Spans: the benchmark brackets its own calls into the program. Pipeline
stage boundaries come from ``on_stage_start`` and ``PipelineResult.metrics``;
the probe/upsert split of a micro-batch comes from wrapping the public
calls ``SignatureStore.read``/``upsert_parts`` and the probe-output parquet
write while a traced operation runs. Lazy frames are timed with the action
that forces them.
"""

from __future__ import annotations

import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

from . import checks, inputs
from .harness import Tracer, cpu_sample

from .layers import STAGES


@dataclass
class Op:
    """One timed operation. ``body(op_sid)`` is timed; ``check()`` returns
    the problems found in its outputs; on a traced run ``add_spans`` adds
    spans observed during the body (before Spark jobs are charged to
    spans) and ``values`` returns its per-layer numbers."""

    items: int
    body: Callable[[int], None]
    check: Callable[[], list[str]]
    add_spans: Callable[[int], None] = lambda sid: None
    values: Callable[[int], dict] = lambda sid: {}


def _rows(path: Path, columns: list[str]) -> list[dict]:
    return pq.read_table(path, columns=columns).to_pylist()


def _dur(sp: dict) -> float:
    return sp["end"] - sp["start"]


def _py_cpu(sp: dict) -> float:
    if sp.get("py_cpu0") is None or sp.get("py_cpu1") is None:
        return 0.0
    return sp["py_cpu1"] - sp["py_cpu0"]


def _under(tr: Tracer, op_sid: int) -> dict[str, dict]:
    return {s["name"]: s for s in tr.spans if s["id"] != op_sid and tr._is_under(s["id"], op_sid)}


class Workload:
    name = ""

    def __init__(self, seed: int, work: Path, tracer: Tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.trace = tracer.enabled
        self.cache = work / "inputs"
        self.scratch = work / "runs" / self.name
        if self.scratch.exists():
            shutil.rmtree(self.scratch)
        self.scratch.mkdir(parents=True)
        self.recalls: list[float] = []

    def make_inputs(self) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> list[str]:
        """One-time preparation inside setup; returns problems found."""
        self.spark = spark
        return []

    def round(self) -> list[Op]:
        raise NotImplementedError

    def record(self) -> dict:
        """Input make-up and recall for the run record."""
        return {}


# -- crawl_dedup ------------------------------------------------------------------


class CrawlDedup(Workload):
    """One resumable batch run per operation: ``DedupPipeline.run`` into a
    fresh checkpoint directory (the shape of ``jobs/run_dedup.py
    --checkpoint-dir``) over a seeded FIXTURES-taxonomy page corpus."""

    name = "crawl_dedup"
    N_PAGES = 2000

    def make_inputs(self) -> None:
        pages = inputs.page_corpus(self.seed, self.N_PAGES)
        self.texts = {x["url"]: x["text"] for x in pages}
        self.oracle = checks.PairOracle(self.texts)

        def build(p: Path) -> None:
            inputs.write_pages(pages, p / "pages")
            planted = inputs.planted_pairs(pages)
            counted = [[u, v] for u, v, _ in planted if self.oracle.is_dup(u, v)]
            inputs.dump_json(p / "truth.json", {"planted": planted, "counted": counted})

        path = inputs.cached(self.cache / f"crawl-s{self.seed}-n{self.N_PAGES}", build)
        self.pages_path = str(path / "pages")
        truth = inputs.load_json(path / "truth.json")
        self.planted = [tuple(x) for x in truth["planted"]]
        self.counted = {tuple(x) for x in truth["counted"]}
        self.makeup = {}
        for x in pages:
            self.makeup[x["role"]] = self.makeup.get(x["role"], 0) + 1
        self.n_op = 0

    def record(self) -> dict:
        return {
            "pages": self.N_PAGES,
            "roles": self.makeup,
            "planted_pairs": len(self.planted),
            "counted_pairs": len(self.counted),
            "recall": min(self.recalls) if self.recalls else None,
        }

    def round(self) -> list[Op]:
        return [self._op()]

    def _op(self) -> Op:
        from video_duplicate_finder_python_spark import DedupConfig, DedupPipeline
        from video_duplicate_finder_python_spark.sources.pages import read_pages

        ck = self.scratch / f"ckpt{self.n_op}"
        self.n_op += 1
        tr = self.tracer
        state: dict = {"marks": []}

        def on_stage_start(stage: str) -> None:
            state["marks"].append((stage, time.time(), cpu_sample()["python"]))

        def body(op_sid: int) -> None:
            with tr.span("sources.read_pages"):
                pages = read_pages(self.spark, self.pages_path)
            with tr.span("pipeline.run") as run_sid:
                pipe = DedupPipeline(
                    self.spark,
                    DedupConfig(),
                    checkpoint_dir=str(ck),
                    on_stage_start=on_stage_start if self.trace else None,
                )
                state["metrics"] = pipe.run(pages).metrics
            state["run_sid"] = run_sid

        def check() -> list[str]:
            docs = {r["url"]: r["text"] for r in _rows(ck / "docs", ["url", "text"])}
            pairs = _rows(ck / "pairs", ["url_a", "url_b", "jaccard", "is_dup"])
            edges = [(r["u"], r["v"]) for r in _rows(ck / "exact_edges", ["u", "v"])]
            clusters = {
                r["url"]: r["cluster_id"]
                for r in _rows(ck / "clusters", ["url", "cluster_id"])
            }
            problems, recall = checks.check_crawl(
                self.texts, self.planted, self.counted, self.oracle,
                docs, pairs, edges, clusters,
            )
            self.recalls.append(recall)
            state["dup_pairs"] = sum(1 for p in pairs if p["is_dup"])
            shutil.rmtree(ck, ignore_errors=True)
            return problems

        def add_spans(op_sid: int) -> None:
            # stage span = [on_stage_start, + the stage's own wall_s]; what
            # the stage spans leave uncovered inside run() is unattributed
            run_sid = state["run_sid"]
            run = tr.spans[run_sid]
            marks = state["marks"]
            if marks:
                tr.add("pipeline.pre_stage", run["start"], marks[0][1], run_sid)
            metrics = state["metrics"]
            for k, (stage, t0, py0) in enumerate(marks):
                nxt = marks[k + 1] if k + 1 < len(marks) else None
                t1 = min(t0 + metrics[stage]["wall_s"], nxt[1] if nxt else run["end"])
                py1 = nxt[2] if nxt else run["py_cpu1"]
                tr.add(f"pipeline.{stage}", t0, t1, run_sid, py_cpu0=py0, py_cpu1=py1)

        def values(op_sid: int) -> dict:
            by = _under(tr, op_sid)
            metrics = state["metrics"]
            out: dict[str, float] = {}
            pre = by.get("pipeline.pre_stage")
            out["pipeline.pre_stage_s"] = _dur(pre) if pre else 0.0
            for stage in STAGES:
                sp = by.get(f"pipeline.{stage}")
                if sp is None:
                    continue
                jobs = sp.get("jobs", [])
                out[f"pipeline.{stage}.wall_s"] = _dur(sp)
                out[f"pipeline.{stage}.jobs"] = float(len(jobs))
                out[f"pipeline.{stage}.task_cpu_s"] = sum(j["task_cpu_s"] for j in jobs)
                out[f"pipeline.{stage}.python_cpu_s"] = _py_cpu(sp)
                out[f"pipeline.{stage}.shuffle_write_mb"] = sum(
                    j["shuffle_write_mb"] for j in jobs
                )
                out[f"pipeline.{stage}.spill_mb"] = sum(j["spill_mb"] for j in jobs)
            out["pipeline.unattributed_s"] = tr.self_time(state["run_sid"])
            cand = metrics["candidates"]["rows_out"]
            dup = state["dup_pairs"]
            out["pipeline.rep_docs_rows"] = float(metrics["rep_docs"]["rows_out"])
            out["pipeline.candidate_pairs"] = float(cand)
            out["pipeline.dup_pairs"] = float(dup)
            out["pipeline.cluster_members"] = float(metrics["clusters"]["rows_out"])
            out["pipeline.dropped_members"] = float(
                sum(metrics["candidates"].get("counters", {}).values())
            )
            out["verify.dup_ratio"] = dup / cand if cand else 0.0
            return out

        return Op(self.N_PAGES, body, check, add_spans, values)


# -- probe_stream -----------------------------------------------------------------


def _store_urls(store_dir: Path) -> list[str]:
    """Every url in a SignatureStore, read from its manifest and parquet
    files directly."""
    doc = inputs.load_json(store_dir / "_MANIFEST")
    urls: list[str] = []
    for part, rel in doc["parts"].items():
        if doc.get("rows", {}).get(part, 1) == 0:
            continue
        for f in sorted((store_dir / rel).glob("part-*.parquet")):
            urls.extend(pq.read_table(f, columns=["url"]).column("url").to_pylist())
    return urls


class ProbeStream(Workload):
    """A signature store built once in setup; each round copies it and
    passes a fixed sequence of micro-batches to
    ``StreamingSignatureIngest.process_batch`` with ``probe_dups_dir``:
    probe against the store, then upsert into it."""

    name = "probe_stream"
    N_STORE = 1200
    N_BATCHES = 2
    BATCH = 100
    N_PARTS = 16

    def make_inputs(self) -> None:
        def build(p: Path) -> None:
            store = inputs.page_corpus(self.seed, self.N_STORE, stream=1)
            inputs.write_pages(store, p / "store_pages")
            batches = inputs.stream_batches(self.seed, store, self.N_BATCHES, self.BATCH)
            for b, batch in enumerate(batches):
                inputs.write_pages(batch, p / f"batch{b}", first_index=self.N_STORE + b * self.BATCH)
            inputs.dump_json(p / "batches.json", batches)

        path = inputs.cached(
            self.cache / f"probe-s{self.seed}-n{self.N_STORE}-b{self.N_BATCHES}x{self.BATCH}",
            build,
        )
        self.path = path
        self.batches = inputs.load_json(path / "batches.json")
        store = inputs.page_corpus(self.seed, self.N_STORE, stream=1)
        self.base_urls = {x["url"] for x in store}
        self.n_round = 0

    def record(self) -> dict:
        kinds: dict[str, int] = {}
        for d in self.batches[-1]:
            kinds[d["kind"]] = kinds.get(d["kind"], 0) + 1
        return {
            "store_pages": self.N_STORE,
            "batches": self.N_BATCHES,
            "batch_pages": self.BATCH,
            "last_batch_kinds": kinds,
        }

    def _ingest(self, store_dir: Path, dups_dir: Path | None):
        from video_duplicate_finder_python_spark import DedupConfig
        from video_duplicate_finder_python_spark.streaming.ingest import (
            StreamingSignatureIngest,
        )

        return StreamingSignatureIngest(
            self.spark, str(store_dir), DedupConfig(), n_parts=self.N_PARTS,
            probe_dups_dir=str(dups_dir) if dups_dir else None,
        )

    def prepare(self, spark) -> list[str]:
        from video_duplicate_finder_python_spark.sources.pages import read_pages

        self.spark = spark
        self.base_store = self.scratch / "base_store"
        with self.tracer.span("ingest.store_build"):
            self._ingest(self.base_store, None).process_batch(
                read_pages(spark, str(self.path / "store_pages")), 0
            )
        return checks.check_store(_store_urls(self.base_store), self.base_urls)

    def round(self) -> list[Op]:
        from video_duplicate_finder_python_spark.sources.pages import read_pages

        store_dir = self.scratch / f"store{self.n_round}"
        dups_dir = self.scratch / f"dups{self.n_round}"
        self.n_round += 1
        for d in (store_dir, dups_dir):
            shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.base_store, store_dir)
        ingest = self._ingest(store_dir, dups_dir)
        shared = {
            "expected": set(self.base_urls),
            "manifest": inputs.load_json(store_dir / "_MANIFEST"),
        }
        return [
            self._op(ingest, store_dir, dups_dir, b, batch, shared, read_pages)
            for b, batch in enumerate(self.batches)
        ]

    def _op(self, ingest, store_dir, dups_dir, b, batch, shared, read_pages) -> Op:
        tr = self.tracer
        state: dict = {}
        batch_id = b + 1

        def body(op_sid: int) -> None:
            with tr.span("sources.read_pages"):
                df = read_pages(self.spark, str(self.path / f"batch{b}"))
            with tr.span("ingest.process_batch") as sid:
                if self.trace:
                    with _probe_marks(state, str(dups_dir)):
                        ingest.process_batch(df, batch_id)
                else:
                    ingest.process_batch(df, batch_id)
            state["batch_sid"] = sid

        def check() -> list[str]:
            pairs = _rows(dups_dir / f"batch_id={batch_id}", ["new_url", "other_url", "is_dup"])
            problems = checks.check_probe_batch(batch, pairs)
            shared["expected"].update(d["url"] for d in batch)
            problems += checks.check_store(_store_urls(store_dir), shared["expected"])
            state["dup_pairs"] = len(pairs)
            # partitions the upsert rewrote = manifest entries that changed
            doc = inputs.load_json(store_dir / "_MANIFEST")
            old = shared["manifest"]["parts"]
            changed = [p for p, rel in doc["parts"].items() if old.get(p) != rel]
            state["touched"] = len(changed)
            state["rows_rewritten"] = sum(doc["rows"].get(p, 0) for p in changed)
            shared["manifest"] = doc
            if self.trace:
                # counts behind the probe, from its retained lazy frames;
                # run after the timed body, so not charged to any span
                probe_pairs, overflow = state["probe_out"][:2]
                state["candidates"] = probe_pairs.count()
                state["overflow"] = overflow.count()
            if b == len(self.batches) - 1:
                shutil.rmtree(store_dir, ignore_errors=True)
                shutil.rmtree(dups_dir, ignore_errors=True)
            return problems

        def add_spans(op_sid: int) -> None:
            parent = state["batch_sid"]
            tr.add("probe", state["probe_t0"], state["probe_t1"], parent,
                   py_cpu0=state["probe_py0"], py_cpu1=state["probe_py1"])
            tr.add("ingest.upsert", state["upsert_t0"], state["upsert_t1"], parent)

        def values(op_sid: int) -> dict:
            by = _under(tr, op_sid)
            probe, upsert = by["probe"], by["ingest.upsert"]
            pj, uj = probe.get("jobs", []), upsert.get("jobs", [])
            cand = state["candidates"]
            return {
                "probe.wall_s": _dur(probe),
                "probe.input_mb": sum(j["input_mb"] for j in pj),
                "probe.python_cpu_s": _py_cpu(probe),
                "probe.shuffle_write_mb": sum(j["shuffle_write_mb"] for j in pj),
                "probe.candidates": float(cand),
                "probe.dup_pairs": float(state["dup_pairs"]),
                "probe.overflow_docs": float(state["overflow"]),
                "probe.dup_ratio": state["dup_pairs"] / cand if cand else 0.0,
                "ingest.upsert_wall_s": _dur(upsert),
                "ingest.touched_parts": float(state["touched"]),
                "ingest.rows_rewritten": float(state["rows_rewritten"]),
                "ingest.output_mb": sum(j["output_mb"] for j in uj),
                "ingest.other_s": tr.self_time(state["batch_sid"]),
            }

        return Op(len(batch), body, check, add_spans, values)


@contextmanager
def _probe_marks(state: dict, dups_dir: str):
    """Observe the probe/upsert boundaries of one ``process_batch`` call
    through the public calls it makes: the probe starts when the whole
    store is read (``SignatureStore.read()``) and ends when its pairs are
    written to ``probe_dups_dir``; the upsert runs from reading the touched
    partitions to ``upsert_parts`` returning."""
    import video_duplicate_finder_python_spark.operators.incremental_probe as ip
    from pyspark.sql.readwriter import DataFrameWriter
    from video_duplicate_finder_python_spark.streaming.ingest import SignatureStore

    orig = (SignatureStore.read, SignatureStore.upsert_parts, ip.probe_near_dups,
            DataFrameWriter.parquet)

    def read(self, parts=None):
        if parts is None:
            state["probe_t0"] = time.time()
            state["probe_py0"] = cpu_sample()["python"]
        else:
            state["upsert_t0"] = time.time()
        return orig[0](self, parts)

    def upsert_parts(self, df, parts):
        out = orig[1](self, df, parts)
        state["upsert_t1"] = time.time()
        return out

    def probe_near_dups(*a, **k):
        out = orig[2](*a, **k)
        state["probe_out"] = out
        return out

    def parquet(self, path, *a, **k):
        out = orig[3](self, path, *a, **k)
        if str(path).startswith(dups_dir):
            state["probe_t1"] = time.time()
            state["probe_py1"] = cpu_sample()["python"]
        return out

    SignatureStore.read, SignatureStore.upsert_parts = read, upsert_parts
    ip.probe_near_dups, DataFrameWriter.parquet = probe_near_dups, parquet
    try:
        yield
    finally:
        SignatureStore.read, SignatureStore.upsert_parts = orig[0], orig[1]
        ip.probe_near_dups, DataFrameWriter.parquet = orig[2], orig[3]


# -- payload_pairs ----------------------------------------------------------------


class PayloadPairs(Workload):
    """Perceptual-hash media dedup (frames → pairs → groups) followed by
    ``train_ivf_centroids`` + ``semdedup`` over seeded embeddings."""

    name = "payload_pairs"
    N_MEDIA = 2000
    N_VECS = 8000
    N_CENTROIDS = 32
    EPS = 0.01

    def make_inputs(self) -> None:
        def build(p: Path) -> None:
            urls, payloads, planted = inputs.media_items(self.seed, self.N_MEDIA)
            inputs.write_media(urls, payloads, p / "media")
            vecs, vplanted = inputs.vectors(self.seed, self.N_VECS)
            inputs.write_vectors(vecs, p / "vectors")
            np.save(p / "vectors.npy", vecs)
            inputs.dump_json(p / "truth.json", {"media": planted, "vectors": vplanted})

        path = inputs.cached(
            self.cache / f"payload-s{self.seed}-m{self.N_MEDIA}-v{self.N_VECS}", build
        )
        self.path = path
        truth = inputs.load_json(path / "truth.json")
        self.media_planted = [tuple(x) for x in truth["media"]]
        self.vec_planted = [tuple(x) for x in truth["vectors"]]
        self.vecs = np.load(path / "vectors.npy")
        self.vec_recalls: list[float] = []

    def record(self) -> dict:
        return {
            "videos": self.N_MEDIA,
            "vectors": self.N_VECS,
            "planted_media_pairs": len(self.media_planted),
            "planted_vector_pairs": len(self.vec_planted),
            "media_recall": min(self.recalls) if self.recalls else None,
            "vector_recall": min(self.vec_recalls) if self.vec_recalls else None,
        }

    def round(self) -> list[Op]:
        return [self._op()]

    def _op(self) -> Op:
        from pyspark.storagelevel import StorageLevel
        from video_duplicate_finder_python_spark.operators.ann import train_ivf_centroids
        from video_duplicate_finder_python_spark.operators.media_dedup import (
            media_dup_groups,
            media_dup_pairs,
            media_frame_hashes,
        )
        from video_duplicate_finder_python_spark.operators.semdedup import semdedup

        tr = self.tracer
        state: dict = {}

        def body(op_sid: int) -> None:
            with tr.span("sources.read_inputs"):
                media = self.spark.read.parquet(str(self.path / "media"))
                vecs = self.spark.read.parquet(str(self.path / "vectors"))
            with tr.span("media.frames"):
                # the explicit action isolates the frame-hash kernel in its
                # own span; media_dup_pairs(persist=True) reuses the cache
                frames = media_frame_hashes(media).persist(StorageLevel.MEMORY_AND_DISK)
                frames.count()
            with tr.span("media.pairs"):
                pairs, dropped, cached = media_dup_pairs(frames, persist=True)
                state["pairs"] = [r.asDict() for r in pairs.collect()]
                state["media_dropped"] = int(dropped.collect()[0][0] or 0)
            with tr.span("media.groups"):
                groups = media_dup_groups(pairs).collect()
                state["groups"] = {r["url"]: r["cluster_id"] for r in groups}
            with tr.span("semdedup.centroids"):
                cents = train_ivf_centroids(
                    vecs, n_centroids=self.N_CENTROIDS, train_size=min(self.N_VECS, 4096)
                )
            with tr.span("semdedup.run"):
                members, sdropped, scached = semdedup(vecs, cents, eps=self.EPS, persist=True)
                state["members"] = [r.asDict() for r in members.collect()]
                state["sem_dropped"] = int(sdropped.collect()[0][0] or 0)
            state.update(frames=frames, caches=[frames, *cached, *scached], cents=cents)

        def check() -> list[str]:
            frames = state["frames"]
            urls = sorted({u for p in state["pairs"] for u in (p["url_a"], p["url_b"])})
            fmap: dict[str, list] = {}
            if urls:
                from pyspark.sql import functions as F

                rows = frames.where(F.col("url").isin(urls)).collect()
                for r in sorted(rows, key=lambda r: (r["url"], r["frame_id"])):
                    fmap.setdefault(r["url"], []).append((r["phash"], r["dhash"]))
            for c in state.pop("caches"):
                c.unpersist()
            state.pop("frames")
            problems, recall = checks.check_media(
                fmap, state["pairs"], state["groups"], self.media_planted
            )
            self.recalls.append(recall)
            p2, vrecall = checks.check_semdedup(
                self.vecs, state["cents"], state["members"], self.vec_planted, self.EPS
            )
            self.vec_recalls.append(vrecall)
            return problems + p2

        def values(op_sid: int) -> dict:
            by = _under(tr, op_sid)
            med = [by["media.frames"], by["media.pairs"], by["media.groups"]]
            sem = [by["semdedup.centroids"], by["semdedup.run"]]
            members = state["members"]
            return {
                "media.frames_s": _dur(med[0]),
                "media.pairs_s": _dur(med[1]),
                "media.groups_s": _dur(med[2]),
                "media.python_cpu_s": sum(_py_cpu(s) for s in med),
                "media.shuffle_write_mb": sum(
                    j["shuffle_write_mb"] for s in med for j in s.get("jobs", [])
                ),
                "media.pairs": float(len(state["pairs"])),
                "media.dropped_members": float(state["media_dropped"]),
                "semdedup.centroids_s": _dur(sem[0]),
                "semdedup.wall_s": _dur(sem[1]),
                "semdedup.python_cpu_s": sum(_py_cpu(s) for s in sem),
                "semdedup.group_members": float(len(members)),
                "semdedup.kept": float(sum(1 for m in members if m["is_kept"])),
                "semdedup.dropped_members": float(state["sem_dropped"]),
            }

        return Op(self.N_MEDIA + self.N_VECS, body, check, values=values)


WORKLOADS = {w.name: w for w in (CrawlDedup, ProbeStream, PayloadPairs)}
