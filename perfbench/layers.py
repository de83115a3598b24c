"""Per-layer metrics of a traced run: the counter hooks installed with the
spans, and the reduction of spans to the named ``per_layer`` metrics.

Every workload reports every metric; a layer a workload does not exercise
reads 0, which is the prediction for it on that workload.
"""

from __future__ import annotations

import os

from common import dir_bytes, median
from spans import layer_of

LAYERS = ["metadata", "plan", "deletes", "scan", "exec", "write", "commit",
          "maintain", "operators", "bench"]
OPERATORS = ["exact_dedup", "minhash_lsh_dedup", "contamination", "chunk_documents",
             "cosine_topk", "pq_topk", "bm25_search"]
GROUPS = ["read_pruned", "read_full", "write", "maintain", "plan", "operator"]

# (metric name, unit), in the order BENCHMARK.json lists them
PER_LAYER = (
    [(f"{layer}.self_s", "s") for layer in LAYERS]
    + [("metadata.load_s", "s"), ("metadata.json_bytes", "B"),
       ("metadata.snapshots", "count"), ("metadata.manifests", "count"),
       ("plan.busy_s", "s"), ("plan.calls", "count"), ("plan.files_live", "count"),
       ("plan.files_planned", "count"), ("plan.prune_ratio", "ratio"),
       ("plan.spark_jobs", "count"),
       ("deletes.plan_s", "s"), ("deletes.files_matched", "count"),
       ("deletes.apply_overhead_s", "s"),
       ("scan.build_s", "s"), ("exec.busy_s", "s"), ("exec.bytes_scanned", "B"),
       ("exec.mb_per_s", "MB/s"), ("exec.rows_out", "count"),
       ("exec.spark_tasks", "count")]
    + [(f"write.{w}.busy_s", "s") for w in
       ("append", "apply_changes.unique", "apply_changes.dup_heavy", "merge_into",
        "delete_where")]
    + [("write.files_added", "count"), ("write.files_removed", "count"),
       ("write.bytes_added", "B"), ("write.rewrite_ratio", "ratio"),
       ("commit.busy_s", "s"), ("commit.manifests_added", "count"),
       ("commit.metadata_bytes_added", "B")]
    + [(f"maintain.{m}.busy_s", "s") for m in
       ("rewrite_data_files", "expire_snapshots", "rewrite_manifests")]
    + [("maintain.bytes_rewritten", "B"), ("maintain.files_before", "count"),
       ("maintain.files_after", "count")]
    + [(f"operators.{fn}.{m}", u) for fn in OPERATORS
       for m, u in (("busy_s", "s"), ("rows_in", "count"), ("rows_out", "count"))]
    + [("dedup.survivor_ratio", "ratio"), ("spark.jobs", "count"),
       ("spark.tasks", "count"), ("driver.rss_mib", "MiB")]
    + [(f"{g}_p50_s", "s") for g in GROUPS]
    + [("bytes_written_per_row", "B/row"), ("bytes_stored_per_row", "B/row"),
       ("failed_op_ratio", "ratio"), ("trace.ops_per_s", "ops/s"),
       ("trace.untraced_ops_per_s", "ops/s"), ("trace.overhead_ops_per_s", "ops/s")]
)


# -- counter hooks -----------------------------------------------------------

def _summary(table) -> dict:
    snap = table.current_snapshot()
    return dict(snap.summary) if snap is not None else {}


def _files(table) -> int:
    return int(_summary(table).get("total-data-files", 0))


def _manifests(table) -> int:
    from iceberg_cpp_spark.core import manifests as mf

    snap = table.current_snapshot()
    return len(mf.read_manifest_list(snap.manifest_list)) if snap is not None else 0


def _plan_after(span, args, result, pre) -> None:
    scan = args[0]
    snap = scan.snapshot()
    live = int(snap.summary.get("total-data-files", 0)) if snap is not None else 0
    span.counters["plan.calls"] = 1.0
    span.counters["plan.files_live"] = float(live)
    if isinstance(result, list):
        span.counters["plan.files_planned"] = float(len(result))
        span.counters["plan.bytes_planned"] = float(
            sum(t.file_size_in_bytes for t in result))


def _plan_df_after(span, args, result, pre) -> None:
    # the planned-file count of a DataFrame plan is known only when the op
    # runs its action; the op adds it to plan.files_planned itself
    snap = args[0].snapshot()
    span.counters["plan.calls"] = 1.0
    span.counters["plan.files_live"] = float(
        int(snap.summary.get("total-data-files", 0)) if snap is not None else 0)


def _deletes_after(span, args, result, pre) -> None:
    span.counters["deletes.files_matched"] = float(len(result))


def _write_before(args) -> int:
    return _files(args[0])


def _write_after(span, args, result, pre) -> None:
    write_counters(span, args[0], pre)


def write_counters(span, table, files_before: int) -> None:
    """Counters of a write, from the snapshot it committed and the live
    data-file count before it."""
    s = _summary(table)
    added = int(s.get("added-data-files", 0))
    span.counters["write.files_added"] = float(added + int(s.get("added-delete-files", 0)))
    span.counters["write.files_removed"] = float(files_before + added - _files(table))
    span.counters["write.bytes_added"] = float(s.get("added-files-size", 0))
    span.counters["write.rows_added"] = float(s.get("added-records", 0))


def _commit_before(args):
    t = args[0]
    return _manifests(t), dir_bytes(os.path.join(t.location(), "metadata"))


def _commit_after(span, args, result, pre) -> None:
    t = args[0]
    span.counters["commit.manifests_added"] = float(_manifests(t) - pre[0])
    span.counters["commit.metadata_bytes_added"] = float(
        dir_bytes(os.path.join(t.location(), "metadata")) - pre[1])


def _maintain_before(args):
    return _files(args[0]), args[0].current_snapshot().snapshot_id


def _maintain_after(span, args, result, pre) -> None:
    t = args[0]
    span.counters["maintain.files_before"] = float(pre[0])
    span.counters["maintain.files_after"] = float(_files(t))
    snap = t.current_snapshot()
    if snap is not None and snap.snapshot_id != pre[1]:
        span.counters["maintain.bytes_rewritten"] = float(
            snap.summary.get("added-files-size", 0))


HOOKS = {
    "plan.plan_files": (None, _plan_after),
    "plan.plan_files_df": (None, _plan_df_after),
    "deletes.plan_deletes": (None, _deletes_after),
    "write.append": (_write_before, _write_after),
    "write.merge_into": (_write_before, _write_after),
    "write.delete_where": (_write_before, _write_after),
    "commit.commit_files_df": (_commit_before, _commit_after),
    "maintain.rewrite_data_files": (_maintain_before, _maintain_after),
    "maintain.expire_snapshots": (_maintain_before, _maintain_after),
    "maintain.rewrite_manifests": (_maintain_before, _maintain_after),
}


# -- reduction ---------------------------------------------------------------

def layer_metrics(tracer, spark_counts: dict, main_table) -> dict:
    """Reduce the traced spans to the per-layer metrics (without the
    latency, amplification and trace-rate entries, which the run adds)."""
    spans = tracer.spans
    by_idx = {s.idx: s for s in spans}
    out = {name: 0.0 for name, _ in PER_LAYER}

    def top_of_layer(s) -> bool:
        p = by_idx.get(s.parent)
        return p is None or layer_of(p.name) != layer_of(s.name)

    counters: dict[str, float] = {}
    for s in spans:
        layer = layer_of(s.name)
        layer = "bench" if layer == "op" else layer
        out[f"{layer}.self_s"] += s.self_s
        jobs, tasks = spark_counts.get(s.idx, (0, 0))
        out["spark.jobs"] += jobs
        out["spark.tasks"] += tasks
        out["driver.rss_mib"] = max(out["driver.rss_mib"], s.rss)
        if layer == "plan":
            out["plan.spark_jobs"] += jobs
        if layer == "exec":
            out["exec.spark_tasks"] += tasks
            out["exec.busy_s"] += s.dur
        if not top_of_layer(s):
            continue
        # a layer's counters come from its outermost spans, so a public
        # call nested in another of the same layer is not counted twice
        for k, v in s.counters.items():
            counters[k] = counters.get(k, 0.0) + v
        if s.name == "metadata.load":
            out["metadata.load_s"] += s.dur
        elif layer == "plan":
            out["plan.busy_s"] += s.dur
        elif layer == "deletes":
            out["deletes.plan_s"] += s.dur
        elif layer == "scan":
            out["scan.build_s"] += s.dur
        elif layer == "commit":
            out["commit.busy_s"] += s.dur
        elif layer == "write" or layer == "maintain":
            key = s.name + ".busy_s"
            if key in out:
                out[key] += s.dur
        elif layer == "operators":
            fn = s.name.split(".", 1)[1]
            out[f"operators.{fn}.busy_s"] += s.dur
        # planning under a scan is what the scan reads
        if s.name == "plan.plan_files":
            parent = by_idx.get(s.parent)
            if parent is not None and parent.name == "scan.to_df":
                out["exec.bytes_scanned"] += s.counters.get("plan.bytes_planned", 0.0)

    for k, v in counters.items():
        if k in out and not k.endswith("_s"):
            out[k] += v
    if counters.get("plan.files_live"):
        out["plan.prune_ratio"] = (counters.get("plan.files_planned", 0.0)
                                   / counters["plan.files_live"])
    if out["exec.busy_s"] > 0:
        out["exec.mb_per_s"] = out["exec.bytes_scanned"] / 1e6 / out["exec.busy_s"]
    if counters.get("write.batch_rows"):
        out["write.rewrite_ratio"] = (counters.get("write.rows_added", 0.0)
                                      / counters["write.batch_rows"])
    if counters.get("dedup.rows_in"):
        out["dedup.survivor_ratio"] = (counters.get("dedup.survivors", 0.0)
                                       / counters["dedup.rows_in"])
    meta = main_table.metadata_location
    out["metadata.json_bytes"] = float(os.path.getsize(meta))
    out["metadata.snapshots"] = float(len(main_table.snapshots()))
    out["metadata.manifests"] = float(_manifests(main_table))
    return out


def group_p50s(results) -> tuple[dict, dict]:
    """Median latency per end-to-end latency group. An op that timed its
    sub-steps (a write followed by a verifying read) contributes each part
    to its own group; other ops contribute their whole latency. Returns
    the medians and the sample counts."""
    samples: dict[str, list[float]] = {g: [] for g in GROUPS}
    for r in results:
        if not r.ok:
            continue
        if r.parts:
            for g, xs in r.parts.items():
                if g in samples:
                    samples[g].extend(xs)
        elif r.group in samples:
            samples[r.group].append(r.latency_s)
    return {f"{g}_p50_s": median(xs) for g, xs in samples.items()}, \
        {g: len(xs) for g, xs in samples.items()}
