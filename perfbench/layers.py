"""Per-layer metrics of one traced pass, from its spans and the Spark
counters of its operations.  Every name is always reported (0 where the
workload does not reach the layer), so traced runs of every workload print
the same set."""

from __future__ import annotations

from perfbench import stats, trace

#: operator modules the workloads reach; one calls/self_s/jobs triple each
OPERATOR_MODULES = ("dedup", "similarity")

ETL_FUNCTIONS = ("upsert_into_path", "merge_upsert", "atomic_overwrite", "compact_parquet")

SPARK_COUNTERS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("task_cpu_s", "s"),
    ("task_run_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("failed_tasks", "count"),
    ("python_bytes", "bytes"),
)


def _in(t: float, interval: tuple[float, float]) -> bool:
    return interval[0] <= t <= interval[1]


def _has_ancestor(span: dict, name: str, by_id: dict[int, dict]) -> bool:
    p = span["parent"]
    while p is not None:
        if by_id[p]["name"] == name:
            return True
        p = by_id[p]["parent"]
    return False


def pass_layers(p: dict, workload) -> dict[str, tuple[float, str]]:
    ops, spans = p["ops"], p["spans"]
    counters = [r["counters"] for r in ops]
    totals = trace.layer_totals(spans, [t for c in counters for t in c["job_times"]])
    by_id = {s["id"]: s for s in spans}

    def total(name: str, key: str) -> float:
        return totals.get(name, {}).get(key, 0)

    def summed(key: str) -> float:
        return sum(c[key] for c in counters)

    m: dict[str, tuple[float, str]] = {
        "queries.build_s": (sum(r["build"][1] - r["build"][0] for r in ops) / 1000.0, "s"),
        "queries.build_jobs": (
            sum(1 for r, c in zip(ops, counters) for t in c["job_times"] if _in(t, r["build"])),
            "count",
        ),
        "queries.exec_s": (sum(r["exec"][1] - r["exec"][0] for r in ops) / 1000.0, "s"),
        "queries.exec_jobs": (
            sum(1 for r, c in zip(ops, counters) for t in c["job_times"] if _in(t, r["exec"])),
            "count",
        ),
        "queries.driver_idle_s": (
            sum(stats.idle_time(r["start"], r["end"], c["stage_intervals"]) for r, c in zip(ops, counters))
            / 1000.0,
            "s",
        ),
    }
    for mod in OPERATOR_MODULES:
        prefix = f"operators.{mod}."
        rows = [t for name, t in totals.items() if name.startswith(prefix)]
        m[f"operators.{mod}.calls"] = (sum(t["calls"] for t in rows), "count")
        m[f"operators.{mod}.self_s"] = (sum(t["self_s"] for t in rows), "s")
        m[f"operators.{mod}.jobs"] = (sum(t["jobs"] for t in rows), "count")
    m["io.load_table.calls"] = (total("io.load_table", "calls"), "count")
    m["io.load_table_s"] = (total("io.load_table", "s"), "s")
    m["io.input_bytes"] = (summed("input_bytes"), "bytes")
    m["io.input_rows"] = (summed("input_rows"), "rows")
    m["io.output_bytes"] = (summed("output_bytes"), "bytes")
    m["io.output_rows"] = (summed("output_rows"), "rows")
    for fn in ETL_FUNCTIONS:
        m[f"etl.{fn}_s"] = (total(f"etl.{fn}", "s"), "s")
    source = getattr(workload, "source_bytes", 0)
    written = sum(c["output_bytes"] for r, c in zip(ops, counters) if r["name"].startswith("upsert_"))
    m["etl.write_amp"] = (written / source if source else 0.0, "ratio")
    m["etl.files_after"] = (getattr(workload, "files_after", 0), "count")
    m["streaming.stream_upsert_to_path_s"] = (total("streaming.stream_upsert_to_path", "s"), "s")
    m["streaming.batches"] = (
        sum(
            1
            for s in spans
            if s["name"] == "etl.atomic_overwrite"
            and _has_ancestor(s, "streaming.stream_upsert_to_path", by_id)
        ),
        "count",
    )
    for key, unit in SPARK_COUNTERS:
        m[f"spark.{key}"] = (summed(key), unit)
    return m
