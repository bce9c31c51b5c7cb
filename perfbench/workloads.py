"""The benchmark's workloads. Each drives only public package functions.

A workload is a class with ``generate`` (seeded inputs), ``setup``
(warm-up, part of the set-up time), ``op`` (one timed unit of work),
``check`` (output checks, untimed), ``summary`` (the workload's own
end-to-end figures) and ``layers`` (the traced run's per-layer figures).
Operations run in a closed loop with one client: each starts when the
previous one has returned.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time

import fixtures as fx

# Frozen query set, one query per operator family: relational aggregate,
# MinHash-LSH near-dup, and the iterative graph family (label-propagation
# communities, whose build is the heaviest). Sessionization, the other
# family the reference relies on, is loaded by granule_batch. Kept here,
# not imported from the repo's bench configuration, so that editing that
# configuration cannot change this benchmark.
CATALOG_QUERIES = (
    "q01_pricing_summary",
    "q32_minhash_lsh_neardup",
    "q121_neardup_graph_communities",
)

GRANULE_DAYS = [dt.date(2024, 3, 1)]
GRANULE_RUNS_PER_DAY = 10
GRID_RES = 20
GRID_METHOD = "linear"
EXPORT_TARGET = fx.MERGE_TARGET  # has pre and post slices on every day
EXPORT_QF = "post"


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, ignoring checksum and marker files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def warm_python_workers(spark) -> None:
    """Start one Python worker per task slot, with pandas and pyarrow
    loaded, the way the first Arrow UDF stage of a session would."""
    slots = spark.sparkContext.defaultParallelism
    spark.range(0, slots * 8, 1, slots).mapInPandas(
        lambda batches: batches, "id long"
    ).count()


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are fewer than eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    k = n - 11
    return 100.0 * (k + 1) / n, sorted(samples)[k]


class GranuleBatch:
    """The reference's unit of work: a granule-day → ``run_batch`` into an
    empty store → Zarr export of one target's post-QF slices."""

    name = "granule_batch"
    units = 1  # operations per iteration: one batch

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.reports: list[dict] = []
        self.checksums: list[str] = []

    def generate(self, out: str) -> dict:
        self.inputs = fx.write_granules(out, self.seed, GRANULE_DAYS, GRANULE_RUNS_PER_DAY)
        return self.inputs.sizes()

    def setup(self, spark) -> None:
        self.expected = fx.expected_slices(self.inputs.paths, self.inputs.targets)
        warm_python_workers(spark)

    def config(self, i: int):
        from oco3_data_transformer_spark.config import RunConfig

        return RunConfig(
            store_path=os.path.join(self.work, f"store{i}"),
            input_files=[{"path": p, "mission": "oco3"} for p in self.inputs.paths],
            grid_lat_res=GRID_RES, grid_lon_res=GRID_RES, grid_method=GRID_METHOD,
            targets={"oco3": self.inputs.targets_path},
        )

    def op(self, spark, i: int, tracer=None) -> None:
        from oco3_data_transformer_spark import main
        from oco3_data_transformer_spark.sinks import zarr_store

        cfg = self.config(i)
        report = main.run_batch(spark, cfg)
        b = self.inputs.targets[EXPORT_TARGET]["bbox"]
        bbox = (b["min_lon"], b["min_lat"], b["max_lon"], b["max_lat"])
        rows = spark.read.parquet(cfg.store_path)
        part = rows.filter((rows.target_id == EXPORT_TARGET) & (rows.qf == EXPORT_QF))
        zarr_store.export_zarr(
            part.drop("day"), os.path.join(self.work, f"zarr{i}"), GRID_RES, GRID_RES,
            bbox=bbox,
        )
        self.reports.append(report)

    def check(self, spark, i: int) -> list[str]:
        from oco3_data_transformer_spark.sinks import store

        cfg = self.config(i)
        errors = []
        dupes = self.reports[-1]["verify"]["duplicate_keys"]
        if dupes:
            errors.append(f"batch {i}: verify found {dupes} duplicate keys")
        got = {
            (r.target_id, r.qf, r.day)
            for r in spark.read.parquet(cfg.store_path)
            .select("target_id", "qf", "day").distinct().collect()
        }
        if got != self.expected:
            errors.append(
                f"batch {i}: stored slices differ from the numpy expectation: "
                f"{sorted(got ^ self.expected)[:5]}"
            )
        # Same inputs into an empty store must give the same store. The
        # digest is only worth its job when a run makes more than one batch.
        if i:
            if not self.checksums:
                self.checksums.append(store.checksum(spark, self.config(0).store_path))
            self.checksums.append(store.checksum(spark, cfg.store_path))
            if len(set(self.checksums)) > 1:
                errors.append(f"batch {i}: store checksum changed: {self.checksums}")
        return errors

    def summary(self, times: list[float]) -> dict:
        batch_s = statistics.median(times)
        _, store_b = dir_bytes(self.config(0).store_path)
        _, zarr_b = dir_bytes(os.path.join(self.work, "zarr0"))
        return {
            "batch_s": {"value": batch_s, "unit": "s"},
            "soundings_per_s": {"value": self.inputs.soundings / batch_s, "unit": "1/s"},
            "store_bytes_ratio": {
                "value": (store_b + zarr_b) / self.inputs.bytes, "unit": "ratio",
            },
        }

    # -- traced run -------------------------------------------------------
    def instrument(self, tracer) -> dict:
        from oco3_data_transformer_spark import main
        from oco3_data_transformer_spark.operators import filters, grid, joins
        from oco3_data_transformer_spark.plans import pipeline
        from oco3_data_transformer_spark.sinks import store, zarr_store
        from oco3_data_transformer_spark.sources import granules

        frames: dict = {}
        tracer.wrap(main, "run_batch", "main.run_batch")
        tracer.wrap(main, "mission_slices", "main.mission_slices")
        tracer.wrap(store, "append", "sinks.store.append")
        tracer.wrap(store, "verify", "sinks.store.verify")
        tracer.wrap(store, "write_attrs", "sinks.store.write_attrs")
        tracer.wrap(zarr_store, "export_zarr", "sinks.zarr_store.export")
        for mod, attr in (
            (granules, "read_granules"), (pipeline, "segment_oco3"),
            (joins, "target_lookup"), (filters, "drop_regions_without_good"),
            (grid, "grid_regions"), (pipeline, "process_oco3_granules"),
            (main, "drop_empty_slices"),
        ):
            tracer.capture(mod, attr, frames, attr)
        return frames

    def layers(self, tracer, frames: dict, op_groups: list[str]) -> dict:
        """Per-layer figures of the traced batch (operation 0). Lazy layers are
        timed by noop-sink runs of successive plan prefixes, each in a span
        of its own outside the operation: a layer's time is the difference
        between its prefix and the previous one, so a layer within the
        noise of its neighbours can read slightly negative. Row counts
        come from ``count()`` on the same frames, and pass ratios from the
        SQL metrics of the traced operation's own jobs. The melt is not a
        prefix of its own (it emits exactly one row per value column), so
        ``melt_s`` covers melt and drop-empty together."""
        from oco3_data_transformer_spark.main import VALUE_COLS

        prefixes = ("read_granules", "segment_oco3", "grid_regions",
                    "process_oco3_granules", "drop_empty_slices")
        t = {}
        for key in prefixes:
            with tracer.span(f"prefix.{key}"):
                t0 = time.perf_counter()
                frames[key].write.format("noop").mode("overwrite").save()
                t[key] = time.perf_counter() - t0
        n = {key: frames[key].count()
             for key in (*prefixes, "target_lookup", "drop_regions_without_good")}
        rows_in = frames["target_lookup.input"].count()
        decoded = tracer.sql_node_rows(op_groups, ("MapInPandas",), "run(")
        kernel = tracer.sql_node_rows(op_groups, ("MapInPandas",), "fit_partition(")
        files, store_b = dir_bytes(self.config(0).store_path)
        offered = n["drop_empty_slices"]
        written = self.reports[-1]["missions"]["oco3"]["rows_appended"]
        zarr_dir = os.path.join(self.work, "zarr0")
        _, zarr_b = dir_bytes(zarr_dir)
        ratio = lambda a, b: a / b if b else 0.0  # noqa: E731
        # wall time of each wrapped call, e.g. sinks.store.append_s
        calls = {}
        for s in tracer.spans:
            if s.group in op_groups and s.name != "op":
                calls[f"{s.name}_s"] = calls.get(f"{s.name}_s", 0.0) + s.duration
        return {
            **calls,
            "sources.granules.decode_s": t["read_granules"],
            "sources.granules.rows_out": n["read_granules"],
            "sources.granules.decode_passes": ratio(decoded, n["read_granules"]),
            "plans.pipeline.segment_s": t["segment_oco3"] - t["read_granules"],
            "plans.pipeline.regions_out": n["segment_oco3"],
            "operators.joins.target_keep_ratio": ratio(n["target_lookup"], rows_in),
            "operators.filters.qf_keep_ratio": ratio(
                n["drop_regions_without_good"], n["target_lookup"]),
            "operators.grid.grid_s": t["grid_regions"] - t["segment_oco3"],
            "operators.grid.cells_out": n["grid_regions"],
            "operators.grid.kernel_passes": ratio(kernel, n["grid_regions"]),
            "operators.grid.mask_s": t["process_oco3_granules"] - t["grid_regions"],
            "operators.grid.mask_keep_ratio": ratio(
                n["process_oco3_granules"], n["grid_regions"]),
            "sinks.export.melt_s": t["drop_empty_slices"] - t["process_oco3_granules"],
            "sinks.export.empty_drop_ratio": 1.0 - ratio(
                n["drop_empty_slices"], n["process_oco3_granules"] * len(VALUE_COLS["oco3"])),
            "sinks.store.rows_offered": offered,
            "sinks.store.rows_written": written,
            "sinks.store.dedup_drop_ratio": 1.0 - ratio(written, offered),
            "sinks.store.files_written": files,
            "sinks.store.bytes_written": store_b,
            # the batch writes into an empty store: the anti-join scans nothing
            "sinks.store.scan_files_ratio": 0.0,
            # every chunk file is named by its chunk coordinates, e.g. 0.0.0
            "sinks.zarr_store.chunks_written": sum(
                1 for root, _, names in os.walk(zarr_dir)
                for nm in names if nm[0].isdigit()),
            "sinks.zarr_store.bytes_written": zarr_b,
        }


class CatalogMix:
    """Analyst / LLM-pipeline query load: build and execute each frozen
    catalog query through the noop sink, in a warmed session."""

    name = "catalog_mix"
    units = len(CATALOG_QUERIES)  # operations per iteration: one per query

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.samples: list[dict] = []

    def generate(self, out: str) -> dict:
        self.data = out
        return fx.write_catalog_tables(out, self.seed)

    def setup(self, spark) -> None:
        """Size the session to the input as the repo bench does, then run
        the output check, which is also the warm-up pass: each query is
        built and collected once and its canonical rows compared with its
        DuckDB oracle's."""
        from oco3_data_transformer_spark.catalog import REGISTRY
        from oco3_data_transformer_spark.oracle_check import canonical_rows, duck_connection
        from oco3_data_transformer_spark.session import tune_for_input
        from oco3_data_transformer_spark.sources.registry import TABLES

        self.applied = tune_for_input(spark, [f"{self.data}/{t}.parquet" for t in TABLES])
        self.oracle_errors = []
        con = duck_connection(self.data)
        try:
            for q in CATALOG_QUERIES:
                got = REGISTRY[q].fn(spark, self.data).toPandas()
                want = con.execute(REGISTRY[q].sql).fetchdf()
                if sorted(got.columns) != sorted(want.columns):
                    self.oracle_errors.append(
                        f"{q}: columns {sorted(got.columns)} != {sorted(want.columns)}")
                elif canonical_rows(got) != canonical_rows(want):
                    self.oracle_errors.append(f"{q}: rows differ from the DuckDB oracle")
        finally:
            con.close()

    def op(self, spark, i: int, tracer=None) -> None:
        """Build each query and execute it through the noop sink."""
        from contextlib import nullcontext

        from oco3_data_transformer_spark.catalog import REGISTRY

        span = tracer.span if tracer is not None else (lambda name: nullcontext())
        for q in CATALOG_QUERIES:
            t0 = time.perf_counter()
            with span(f"catalog.build.{q}"):
                df = REGISTRY[q].fn(spark, self.data)
            t1 = time.perf_counter()
            with span(f"catalog.exec.{q}"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            self.samples.append({"pass": i, "query": q, "build_s": t1 - t0, "exec_s": t2 - t1})

    def check(self, spark, i: int) -> list[str]:
        """The oracle comparison ran once, in set-up; report it with the
        first pass."""
        return [] if i else list(self.oracle_errors)

    def summary(self, times: list[float]) -> dict:
        per_query = [s["build_s"] + s["exec_s"] for s in self.samples]
        out = {
            "catalog_pass_s": {"value": statistics.median(times), "unit": "s"},
            "query_p50_s": {"value": statistics.median(per_query), "unit": "s"},
        }
        tail = tail_percentile(per_query)
        if tail is not None:
            out["query_tail_s"] = {
                "value": tail[1], "unit": "s", "percentile": tail[0],
                "samples": len(per_query),
            }
        return out

    def instrument(self, tracer) -> dict:
        return {}

    def layers(self, tracer, frames: dict, op_groups: list[str]) -> dict:
        spans = [s for s in tracer.spans if s.name.startswith("catalog.")]
        builds = [s for s in spans if s.name.startswith("catalog.build.")]
        execs = [s for s in spans if s.name.startswith("catalog.exec.")]
        per_query = {}
        for s in builds + execs:
            kind, q = s.name.split(".")[1:3]
            d = per_query.setdefault(q, {})
            d[f"{kind}_s"] = s.duration
            if kind == "build":
                d["build_jobs"] = len(tracer.job_ids(s.group))
        return {
            "catalog.build_s": sum(s.duration for s in builds),
            "catalog.exec_s": sum(s.duration for s in execs),
            "catalog.build_jobs": sum(d["build_jobs"] for d in per_query.values()),
            "catalog.per_query": per_query,
        }


WORKLOADS = {w.name: w for w in (GranuleBatch, CatalogMix)}
