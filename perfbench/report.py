"""Metric assembly: end-to-end metrics, the workload figures named in the
benchmark design, and the per-layer metrics of a traced run.

Per-layer counts and self times are per completed cycle, so a faster
program that fits more cycles into the phase does not read as more work.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import sparklog
from harness import OP_CLASS, pct

# the workload figures printed by name (human block and result file);
# "n/a" where a workload does not run the op the figure is about
NAMED = [
    ("setup_s", "s"), ("failed_op_share", "ratio"), ("peak_rss_mb", "MB"),
    ("ingest_mb_per_s", "MB/s"), ("maintain_mb_per_s", "MB/s"),
    ("write_amp", "B/B"), ("space_amp", "B/B"),
    ("merge_cow_p50_ms", "ms"), ("merge_mor_p50_ms", "ms"),
    ("lookup_p50_ms", "ms"), ("lookup_p90_ms", "ms"),
    ("scan_mb_per_s", "MB/s"), ("augment_mb_per_s", "MB/s"),
    ("plan_p50_ms", "ms"), ("plan_p90_ms", "ms"), ("commit_p50_ms", "ms"),
]

AUDIO_OPS = {
    "transcode": "transcode_clips", "speed_perturb": "speed_perturb_clips",
    "reverb": "reverb_clips", "pitch_shift": "pitch_shift_clips",
    "dup_pairs": "audio_dup_pairs",
}


def end_to_end(bench, session) -> dict[str, float]:
    durs = [o["s"] * 1000 for o in bench.ops]
    return {
        "setup_s": session["setup_s"],
        "op_p50_ms": pct(durs, 50),
        "op_p90_ms": pct(durs, 90),
        "ops_per_s": len(bench.ops) / bench.phase_s if bench.phase_s else 0.0,
        "space_amp": statistics.fmean(bench.amp_samples) if bench.amp_samples else 0.0,
    }


def per_layer(bench, tracer, session, events_dir, e2e, named) -> dict[str, float]:
    cyc = max(1, bench.cycles)
    spans = tracer.spans
    selfs = tracer.self_times()
    by_name = defaultdict(list)
    for sp in spans:
        by_name[sp.name].append(sp)
    ops = {o["id"]: o for o in bench.ops}
    m: dict[str, float] = {}

    def attr_sum(name, key):
        return sum(sp.attrs.get(key, 0) for sp in by_name[name])

    def calls_self(prefix, name):
        m[f"{prefix}.calls"] = len(by_name[name]) / cyc
        m[f"{prefix}.self_ms"] = sum(selfs[sp.sid] for sp in by_name[name]) * 1000 / cyc

    for fn in ("commit", "load_metadata", "read_manifest_list", "write_manifest_list"):
        calls_self(f"meta.snapshots.{fn}", f"meta.snapshots.{fn}")
    for fn in ("read_manifest", "write_manifest", "collect_file_stats"):
        calls_self(f"meta.manifests.{fn}", f"meta.manifests.{fn}")
    for fn in ("read_manifest", "write_manifest"):
        m[f"meta.manifests.{fn}.entries"] = attr_sum(f"meta.manifests.{fn}", "entries") / cyc

    # manifest entries read per day-filter plan, before and after
    # rewrite_manifests (metadata_scale)
    entries_by_op = defaultdict(int)
    for sp in by_name["meta.manifests.read_manifest"]:
        entries_by_op[sp.op] += sp.attrs.get("entries", 0)
    for stage, label in (("pre", "pre_rewrite"), ("post", "post_rewrite")):
        day_ops = [o for o in bench.ops if o["kind"] == "plan"
                   and o.get("shape") == "day" and o.get("stage") == stage]
        m[f"meta.manifests.read_manifest.day_plan_entries_{label}"] = (
            statistics.fmean(entries_by_op[o["id"]] for o in day_ops) if day_ops else 0.0
        )

    calls_self("meta.scan.plan_scan", "meta.scan.plan_scan")
    for key in ("candidate_files", "kept_files", "pruned_manifests"):
        m[f"meta.scan.plan_scan.{key}"] = attr_sum("meta.scan.plan_scan", key) / cyc
    plan_ids = {sp.sid for sp in by_name["meta.scan.plan_scan"]}
    m["meta.scan.plan_scan.manifests_opened"] = sum(
        1 for sp in by_name["meta.manifests.read_manifest"] if sp.parent in plan_ids
    ) / cyc
    cand = attr_sum("meta.scan.plan_scan", "candidate_files")
    m["meta.scan.plan_scan.kept_ratio"] = (
        attr_sum("meta.scan.plan_scan", "kept_files") / cand if cand else 0.0
    )
    m["meta.scan.read_plan.self_ms"] = sum(
        selfs[sp.sid] for sp in by_name["meta.scan.read_plan"]) * 1000 / cyc

    calls_self("ops.append.write_data_files", "ops.append.write_data_files")
    m["ops.append.write_data_files.files_out"] = attr_sum(
        "ops.append.write_data_files", "files_out") / cyc
    m["ops.append.write_data_files.mb_out"] = attr_sum(
        "ops.append.write_data_files", "bytes_out") / 1e6 / cyc
    m["ops.append.harvest_stats.self_ms"] = sum(
        selfs[sp.sid] for sp in by_name["ops.append.harvest_stats"]) * 1000 / cyc

    for mod in ("compact", "cluster"):
        name = f"ops.{mod}.{mod}"
        m[f"{name}.self_ms"] = sum(selfs[sp.sid] for sp in by_name[name]) * 1000 / cyc
        m[f"{name}.files_rewritten"] = attr_sum(name, "files_rewritten") / cyc
        m[f"{name}.files_created"] = attr_sum(name, "files_created") / cyc
        m[f"{name}.mb_rewritten"] = attr_sum(name, "bytes_rewritten") / 1e6 / cyc
    m["ops.compact.plan_bins.self_ms"] = sum(
        selfs[sp.sid] for sp in by_name["ops.compact.plan_bins"]) * 1000 / cyc

    for name in ("ops.merge.merge_into", "ops.merge.prune_files_by_key_bucket",
                 "ops.merge.probe_touched_files", "ops.mor.merge_into_mor",
                 "ops.mor.materialize_deletes", "ops.expire.expire_snapshots",
                 "ops.expire.remove_orphan_files",
                 "ops.rewrite_manifests.rewrite_manifests"):
        m[f"{name}.self_ms"] = sum(selfs[sp.sid] for sp in by_name[name]) * 1000 / cyc
    live = attr_sum("ops.merge.prune_files_by_key_bucket", "live_files")
    m["ops.merge.files_touched_ratio"] = (
        attr_sum("ops.merge.merge_into", "files_touched") / live if live else 0.0
    )
    src_rows = sum(o.get("src_rows", 0) for o in bench.ops if o["kind"] == "merge_cow")
    m["ops.merge.rows_written_per_source_row"] = (
        attr_sum("ops.merge.merge_into", "rows_written") / src_rows if src_rows else 0.0
    )
    pending = [
        sp.attrs.get("delete_files", 0) for sp in by_name["meta.scan.plan_scan"]
        if ops.get(sp.op, {}).get("kind") == "full_scan"
    ]
    m["ops.mor.pending_delete_files"] = statistics.fmean(pending) if pending else 0.0
    m["ops.expire.files_removed"] = attr_sum(
        "ops.expire.remove_orphan_files", "files_removed") / cyc
    for key in ("manifests_before", "manifests_after"):
        m[f"ops.rewrite_manifests.rewrite_manifests.{key}"] = attr_sum(
            "ops.rewrite_manifests.rewrite_manifests", key) / cyc

    for kind, fn in AUDIO_OPS.items():
        recs = [o for o in bench.ops if o["kind"] == kind]
        n = max(1, len(recs))
        m[f"audio.{fn}.wall_ms"] = sum(o["s"] for o in recs) * 1000 / n
        for key in ("mb_in", "mb_out", "null_outputs"):
            m[f"audio.{fn}.{key}"] = sum(o.get(key, 0) for o in recs) / n

    windows = [{"id": o["id"], "start_ms": o["start_ms"], "end_ms": o["end_ms"]}
               for o in bench.ops]
    per_op = sparklog.op_counters(sparklog.read_events(events_dir), windows)
    for cls in ("write", "maintain", "read", "augment"):
        for c in sparklog.COUNTERS:
            m[f"spark.{cls}.{c}"] = sum(
                per_op[o["id"]][c] for o in bench.ops if OP_CLASS[o["kind"]] == cls
            ) / cyc

    for key in ("host_probe_ms", "jvm_start_s", "warmup_s", "input_gen_s",
                "table_build_s"):
        m[f"session.{key}"] = session[key]
    m["session.peak_rss_mb"] = named["peak_rss_mb"]
    m["storage.write_amp"] = named.get("write_amp", 0.0)
    tops = [sp for sp in spans if sp.parent is None and sp.name.startswith("op.")]
    m["trace.span_coverage"] = (
        sum(sp.end - sp.start for sp in tops) / bench.phase_s if bench.phase_s else 0.0
    )
    m["trace.op_p50_ms"] = e2e["op_p50_ms"]
    m["trace.ops_per_s"] = e2e["ops_per_s"]
    return m


def build(args, bench, wl, session, peak_rss_mb, named, tracer, events_dir,
          wanted, error):
    e2e = end_to_end(bench, session)
    failed = sum(1 for o in bench.ops if not o["ok"])
    attempted = len(bench.ops)
    named = {
        **named,
        "setup_s": session["setup_s"],
        "failed_op_share": failed / attempted if attempted else 1.0,
        "peak_rss_mb": peak_rss_mb,
        "space_amp": e2e["space_amp"],
    }
    values = (per_layer(bench, tracer, session, events_dir, e2e, named)
              if tracer else e2e)
    missing = [w["name"] for w in wanted if w["name"] not in values]
    if missing:
        raise KeyError(f"metrics in BENCHMARK.json not computed: {missing}")
    metrics = {
        w["name"]: {"value": float(values[w["name"]]), "unit": w["unit"]}
        for w in wanted
    }
    correct = error is None and failed == 0 and all(c["ok"] for c in bench.checks)
    line = {"correct": correct, "attempted": max(1, attempted), "failed": failed,
            "metrics": metrics}
    by_kind = defaultdict(list)
    for o in bench.ops:
        by_kind[o["kind"]].append(o["s"] * 1000)
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "error": error, "sizes": wl.sizes,
        "cycles": bench.cycles, "phase_s": bench.phase_s,
        "shim_bindings": tracer.bindings if tracer else 0,
        "ops": attempted, "failed": failed,
        "checks": {"run": len(bench.checks),
                   "failed": [c for c in bench.checks if not c["ok"]]},
        "session": session,
        "op_ms": {k: {"n": len(v), "p50": pct(v, 50), "p90": pct(v, 90)}
                  for k, v in by_kind.items()},
        "named": {k: (named[k] if k in named else "n/a", u) for k, u in NAMED},
        "metrics": metrics,
    }
    return {"line": line, "details": details}


def print_human(d) -> None:
    print(f"# {d['workload']} seed={d['seed']} trace={d['trace']} "
          f"cycles={d['cycles']} ops={d['ops']} failed={d['failed']} "
          f"phase={d['phase_s']:.2f}s checks={d['checks']['run']} "
          f"sizes={d['sizes']}")
    for kind, s in d["op_ms"].items():
        print(f"#   op {kind:<18} n={s['n']:<4} p50={s['p50']:.1f} ms  p90={s['p90']:.1f} ms")
    for name, (value, unit) in d["named"].items():
        shown = value if isinstance(value, str) else f"{value:.4g}"
        print(f"#   {name:<20} {shown} {unit}")
