"""The benchmark's metric names, units and directions. ``BENCHMARK.json``
lists exactly these; ``tests/test_perfbench.py`` keeps the two in step."""

from __future__ import annotations

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
    "ops_per_s": ("1/s", "higher", 0.25),
}

# Calls made inside the timed loop of one workload or the other.
LOOP_CALLS = [
    "migration.run_migration",
    "migration.create_fn",
    "table_format.merge_into",
    "migration.sinks",
    "table_format.delete_where",
    "keyindex.refresh_key_index",
    "zonemap.refresh_zone_map",
    "table_format.read_changes",
    "textindex.bm25_probe",
    "ivfpqindex.probe_ivfpq_index",
    "lshindex.probe_lsh_index",
    "keyindex.point_lookup",
    "cbx_datasource.scan",
]
LOOP_STATS = {
    "s": "s", "jobs": "count", "tasks": "count",
    "shuffle_mb": "MB", "exec_cpu_s": "s",
}
STAGED_CALLS = [  # calls whose stage count an optimisation is likely to move
    "migration.run_migration",
    "table_format.merge_into",
    "migration.sinks",
    "keyindex.refresh_key_index",
    "textindex.bm25_probe",
    "ivfpqindex.probe_ivfpq_index",
    "lshindex.probe_lsh_index",
    "cbx_datasource.scan",
]
PROBES = [
    "textindex.bm25_probe",
    "ivfpqindex.probe_ivfpq_index",
    "lshindex.probe_lsh_index",
    "keyindex.point_lookup",
    "cbx_datasource.scan",
]
PLANNED = PROBES + ["migration.dry_run"]
BATCH_CALLS = {
    "migration.dry_run": ["s", "jobs", "tasks", "shuffle_mb", "exec_cpu_s"],
    "train.pipeline_clean": ["s", "jobs", "tasks", "shuffle_mb", "exec_cpu_s"],
    "train.pipeline_pack": ["s"],
}
SETUP_CALLS = [
    "session.start",
    "gen.inputs",
    "catalog.load_table",
    "table_format.create_table",
    "keyindex.create_key_index",
    "zonemap.create_zone_map",
    "textindex.build_text_index",
    "lshindex.build_lsh_index",
    "ivfpqindex.build_ivfpq_index",
]
CORPUS_STAGES = [
    "filter_langid_redact", "exact_dedup", "near_dedup", "decontaminate_checkpoint",
]
UNIT = {"s": "s", "jobs": "count", "stages": "count", "tasks": "count",
        "shuffle_mb": "MB", "exec_cpu_s": "s", "plan_s": "s",
        "build_s": "s", "exec_s": "s", "self_s": "s"}
EXTRA = {
    "migration.run_migration.self_s": "s",
    "migration.store_lag_s": "s",
    "migration.write_amp": "ratio",
    "migration.persisted_rdds": "count",
    "util.release_persisted.s": "s",
    "peak_rss_mb": "MB",
    "keyindex.point_lookup.read_frac": "ratio",
    "train.docs_out": "count",
    "op.samples": "count",
    "op.first_s": "s",
    "spark.failed_tasks": "count",
    "failed_ratio": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.cost_per_op_s": "s",
    "env.cpu_per_wall": "ratio",
}


# per-layer metrics where more is better; every other one is better lower
HIGHER = {"op.samples", "train.docs_out"}


def per_layer() -> dict[str, str]:
    """name -> unit, in a stable order."""
    out: dict[str, str] = {}
    for call in LOOP_CALLS:
        for stat, unit in LOOP_STATS.items():
            out[f"{call}.{stat}"] = unit
    for call in STAGED_CALLS:
        out[f"{call}.stages"] = "count"
    for call in PLANNED:
        out[f"{call}.plan_s"] = "s"
    for call in PROBES:
        out[f"{call}.build_s"] = "s"
        out[f"{call}.exec_s"] = "s"
    for call, stats in BATCH_CALLS.items():
        for stat in stats:
            out[f"{call}.{stat}"] = UNIT[stat]
    for stage in CORPUS_STAGES:
        out[f"train.{stage}.s"] = "s"
    for call in SETUP_CALLS:
        out[f"{call}.s"] = "s"
    out.update(EXTRA)
    return out
