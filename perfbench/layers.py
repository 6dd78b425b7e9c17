"""Per-layer metric names and the traced run's per-layer table.

Layer names follow the package's modules: session, sources, functions
(inside the pipeline stages), operators, plans/pipeline and
streaming/ingest. A traced run reports every name below; a layer the
workload does not run reads 0.
"""

from __future__ import annotations

from .harness import Tracer, median

STAGES = ("docs", "rep_docs", "exact_edges", "signatures", "candidates", "pairs", "clusters")

PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    ("trace.batch_p50_s", "s", "lower"),
    ("trace.docs_per_s", "items/s", "higher"),
    ("pipeline.pre_stage_s", "s", "lower"),
]
for _st in STAGES:
    PER_LAYER += [
        (f"pipeline.{_st}.wall_s", "s", "lower"),
        (f"pipeline.{_st}.jobs", "count", "lower"),
        (f"pipeline.{_st}.task_cpu_s", "s", "lower"),
        (f"pipeline.{_st}.python_cpu_s", "s", "lower"),
        (f"pipeline.{_st}.shuffle_write_mb", "MB", "lower"),
        (f"pipeline.{_st}.spill_mb", "MB", "lower"),
    ]
PER_LAYER += [
    ("pipeline.unattributed_s", "s", "lower"),
    ("pipeline.rep_docs_rows", "count", "lower"),
    ("pipeline.candidate_pairs", "count", "lower"),
    ("pipeline.dup_pairs", "count", "higher"),
    ("pipeline.cluster_members", "count", "higher"),
    ("pipeline.dropped_members", "count", "lower"),
    ("verify.dup_ratio", "ratio", "higher"),
    ("probe.wall_s", "s", "lower"),
    ("probe.input_mb", "MB", "lower"),
    ("probe.python_cpu_s", "s", "lower"),
    ("probe.shuffle_write_mb", "MB", "lower"),
    ("probe.candidates", "count", "lower"),
    ("probe.dup_pairs", "count", "higher"),
    ("probe.overflow_docs", "count", "lower"),
    ("probe.dup_ratio", "ratio", "higher"),
    ("ingest.upsert_wall_s", "s", "lower"),
    ("ingest.touched_parts", "count", "lower"),
    ("ingest.rows_rewritten", "count", "lower"),
    ("ingest.output_mb", "MB", "lower"),
    ("ingest.other_s", "s", "lower"),
    ("media.frames_s", "s", "lower"),
    ("media.pairs_s", "s", "lower"),
    ("media.groups_s", "s", "lower"),
    ("media.python_cpu_s", "s", "lower"),
    ("media.shuffle_write_mb", "MB", "lower"),
    ("media.pairs", "count", "higher"),
    ("media.dropped_members", "count", "lower"),
    ("semdedup.centroids_s", "s", "lower"),
    ("semdedup.wall_s", "s", "lower"),
    ("semdedup.python_cpu_s", "s", "lower"),
    ("semdedup.group_members", "count", "higher"),
    ("semdedup.kept", "count", "higher"),
    ("semdedup.dropped_members", "count", "lower"),
]


def _subtree(tr: Tracer, sid: int) -> list[dict]:
    out = []
    for k in tr.children(sid):
        out.append(k)
        out.extend(_subtree(tr, k["id"]))
    return out


def print_layer_table(tr: Tracer, op_sids: list[int], workload: str) -> None:
    """Median wall and self time per span across the timed operations,
    then, per operation, its layer self times and unattributed remainder.
    These add up to the wall because the spans nest (no child outside its
    parent, no overlapping siblings, no negative self time), which
    ``Tracer.check_nesting`` verifies for every traced operation: a
    violation is a problem of the run."""
    rows: dict[str, dict[str, list[float]]] = {}
    for sid in op_sids:
        for sp in [tr.spans[sid], *_subtree(tr, sid)]:
            r = rows.setdefault(sp["name"], {"wall": [], "self": [], "jobs": [],
                                            "shuffle": []})
            r["wall"].append(sp["end"] - sp["start"])
            r["self"].append(tr.self_time(sp["id"]))
            jobs = sp.get("jobs", [])
            r["jobs"].append(len(jobs))
            r["shuffle"].append(sum(j["shuffle_write_mb"] for j in jobs))
    print(f"perfbench-layers {workload}: median over {len(op_sids)} traced operations")
    print(f"  {'span':<26}{'wall_s':>10}{'self_s':>10}{'jobs':>7}{'shuffle_mb':>12}")
    for name, r in rows.items():
        print(
            f"  {name:<26}{median(r['wall']):>10.3f}{median(r['self']):>10.3f}"
            f"{median(r['jobs']):>7.0f}{median(r['shuffle']):>12.3f}"
        )
    for k, sid in enumerate(op_sids):
        op = tr.spans[sid]
        wall = op["end"] - op["start"]
        parts = [tr.self_time(s["id"]) for s in _subtree(tr, sid)]
        unattributed = tr.self_time(sid)
        nesting = tr.check_nesting(sid)
        print(
            f"  op {k}: wall {wall:.3f} s = layer self times {sum(parts):.3f} s"
            f" + op unattributed {unattributed:.3f} s;"
            f" spans nest: {'yes' if not nesting else 'NO: ' + '; '.join(nesting)}"
        )
