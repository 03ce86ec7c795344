"""The benchmark's workloads: inputs made from the seed, the reference
each output is checked against, and the engine calls one run makes.

Every workload offers the same attributes and methods:

- ``warmup_runs``: untimed runs made at the end of set-up, enough to get
  past the steepest part of the JVM's warm-up (its JIT compiler competes
  with the task threads for the same cores).
- ``prepared()``, ``prepare(spark)``: whether the one-time inputs shared
  by all seeds (the image pool) exist, and the work that makes them. It
  runs in a process of its own and is not part of set-up time.
- ``setup(spark, seed)``: stage the seed's inputs and compute the
  reference outputs.
- ``ops()``: the ``(name, fn)`` operations of one run, in order; each
  ``fn(spark, tracer)`` returns ``(rows, columns)`` of a fully
  collected result.
- ``check(name, rows, columns)``: whether a result equals its reference.
- ``attribute(spark, tracer, run_s, cores)``: traced-run layer metrics
  plus the results of any extra output checks.
"""

from __future__ import annotations

import os
import shutil
import statistics

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from cdr_analysis_tools_hadoop_spark import pipeline
from cdr_analysis_tools_hadoop_spark.functions import codec, geo
from cdr_analysis_tools_hadoop_spark.operators import spatial_join
from cdr_analysis_tools_hadoop_spark.plans import checkpoint
from cdr_analysis_tools_hadoop_spark.sources import synthetic
from tools.check_oracle import value_hash

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
# Copies of the sf0.1 documents and embeddings tables (generated with
# seed 42); read-only.
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

IMAGES_PER_RUN = 40_000
IMAGE_POOL = 2 * IMAGES_PER_RUN
IMAGE_FILES = 32
KERNEL_FILES = 8  # files (~10k images) the kernel callees are timed on
BASE_ZOOM = 14  # run_pipeline's default tile zoom
RESUME_CHUNKS = 8
RESUME_KILL_AFTER = 5

DOCS_PER_RUN = 1000  # of 5000 documents
VECS_PER_RUN = 1000  # of 2000 embeddings


def fingerprint(rows, columns) -> tuple:
    """Row count, column names and order-insensitive value hash."""
    return len(rows), sorted(columns), value_hash([tuple(r) for r in rows], columns)


def _fresh_dir(*parts: str) -> str:
    path = os.path.join(CACHE, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _noop_write(df) -> None:
    """Materialize every row and column of ``df`` without a sink."""
    df.write.format("noop").mode("overwrite").save()


class ImageRollup:
    """The fused image -> PIP -> tile rollup over the seed's images."""

    input_rows = IMAGES_PER_RUN
    warmup_runs = 3
    pool = os.path.join(CACHE, "pool", f"images-{IMAGE_POOL}")

    def prepared(self) -> bool:
        return os.path.exists(os.path.join(self.pool, "_SUCCESS"))

    def prepare(self, spark) -> None:
        synthetic.images_df(spark, IMAGE_POOL, partitions=IMAGE_FILES).write.mode(
            "overwrite"
        ).option("compression", "none").parquet(self.pool)

    def setup(self, spark, seed: int) -> None:
        # the seed picks which generated rows feed the run
        pool = pq.read_table(self.pool)
        rng = np.random.default_rng(seed)
        picked = pool.take(np.sort(rng.choice(pool.num_rows, IMAGES_PER_RUN, replace=False)))
        self.path = _fresh_dir("inputs", "images")
        per_file = -(-IMAGES_PER_RUN // IMAGE_FILES)
        for i in range(IMAGE_FILES):
            pq.write_table(
                picked.slice(i * per_file, per_file),
                os.path.join(self.path, f"part-{i:05d}.parquet"),
                compression="none",
            )
        staged = pipeline.run_pipeline_staged(spark, spark.read.parquet(self.path))
        self.reference = fingerprint(staged.collect(), staged.columns)

    def ops(self):
        return [("image_rollup", self._rollup)]

    def _rollup(self, spark, tracer):
        with tracer.span("pipeline.run_pipeline"):
            df = pipeline.run_pipeline(spark, spark.read.parquet(self.path))
        with tracer.span("collect"):
            rows = df.collect()
        return rows, df.columns

    def check(self, name, rows, columns) -> bool:
        return fingerprint(rows, columns) == self.reference

    def attribute(self, spark, tracer, run_s: float, cores: int) -> tuple[dict, list[bool]]:
        images = spark.read.parquet(self.path)
        narrow = images.select(
            "phash", F.length("caption").cast("long").alias("caption_len"), "bytes"
        )

        def identity(batches):
            yield from batches

        with tracer.span("sources.scan"):
            _noop_write(narrow)
        with tracer.span("pipeline.arrow_boundary"):
            _noop_write(narrow.mapInArrow(identity, narrow.schema))
        out = {
            "sources.scan_s": tracer.durations("sources.scan")[-1],
            "pipeline.arrow_boundary_s": tracer.durations("pipeline.arrow_boundary")[-1],
        }
        out.update(self._kernel_callees(spark, tracer))
        kernel_core_s = IMAGES_PER_RUN * 1e-6 * (
            out["pipeline.decode_gate_us_per_image"]
            + out["geo.encode_us_per_image"]
            + out["spatial_join.assign_zone_us_per_image"]
        )
        out["pipeline.unattributed_s"] = (
            cores * (run_s - out["pipeline.arrow_boundary_s"]) - kernel_core_s
        )
        out.update(self._staged_prefixes(spark, tracer, images))
        resume, checks = self._resume(spark, tracer)
        out.update(resume)
        return out, checks

    def _kernel_callees(self, spark, tracer) -> dict:
        """Per-image cost of the fused kernel's callees, timed on record
        batches read with pyarrow from the run's own input files."""
        bc, _ = pipeline.broadcast_polygon_index(spark)
        index = bc.value
        bc.unpersist()
        files = sorted(f for f in os.listdir(self.path) if f.endswith(".parquet"))
        n = 0
        for f in files[:KERNEL_FILES]:
            reader = pq.ParquetFile(os.path.join(self.path, f))
            for rb in reader.iter_batches(batch_size=10_000, columns=["phash", "caption", "bytes"]):
                blobs = rb.column(2).to_pylist()
                with tracer.span("codec.decode"):
                    for blob in blobs:
                        codec.decode(blob)
                with tracer.span("pipeline._decode_and_gate"):
                    pipeline._decode_and_gate(rb, want_luma=False)
                phash = rb.column(0).to_numpy().astype(np.int64)
                with tracer.span("geo.encode"):
                    lat = geo.anchor_lat_np(phash)
                    lon = geo.anchor_lon_np(phash)
                    cells = geo.cell_id_np(lat, lon, index.res)
                    geo.tile_xyz_np(lat, lon, BASE_ZOOM)
                with tracer.span("spatial_join.assign_zone_np"):
                    spatial_join.assign_zone_np(index, cells, lat, lon)
                n += rb.num_rows
        per_image = lambda span: 1e6 * sum(tracer.durations(span)) / n  # noqa: E731
        return {
            "codec.decode_us_per_image": per_image("codec.decode"),
            "pipeline.decode_gate_us_per_image": per_image("pipeline._decode_and_gate"),
            "geo.encode_us_per_image": per_image("geo.encode"),
            "spatial_join.assign_zone_us_per_image": per_image("spatial_join.assign_zone_np"),
        }

    def _staged_prefixes(self, spark, tracer, images) -> dict:
        """The staged operator chain run as cumulative prefixes; each
        layer is the increment over the previous prefix."""
        towers = synthetic.towers_np(25)
        polys = list(zip(towers[:, 0].astype(np.int64), synthetic.voronoi_polygons(towers)))
        decoded = pipeline.decode_validate(images)
        zoned = spatial_join.pip_join(pipeline.with_anchor(decoded), polys, out_col="zone_id")
        with tracer.span("pipeline.staged.decode_validate"):
            _noop_write(decoded)
        with tracer.span("pipeline.staged.pip_join"):
            _noop_write(zoned)
        with tracer.span("pipeline.staged.tile_agg"):
            pipeline.run_pipeline_staged(spark, images).collect()
        d1, d2, d3 = (
            tracer.durations(f"pipeline.staged.{s}")[-1]
            for s in ("decode_validate", "pip_join", "tile_agg")
        )
        return {
            "pipeline.staged.decode_validate_s": d1,
            "pipeline.staged.pip_join_s": d2 - d1,
            "pipeline.staged.tile_agg_s": d3 - d2,
        }

    def _resume(self, spark, tracer) -> tuple[dict, list[bool]]:
        """Kill-and-resume through the checkpointed pipeline: the first
        invocation stops after RESUME_KILL_AFTER chunks, the second skips
        them, and the re-aggregated partials must equal the rollup."""
        out_path = _fresh_dir("resume")
        with tracer.span("checkpoint.first_invocation"):
            first = pipeline.run_pipeline_resumable(
                spark, self.path, out_path, chunks=RESUME_CHUNKS, max_chunks=RESUME_KILL_AFTER
            )
        with tracer.span("checkpoint.resume"):
            second = pipeline.run_pipeline_resumable(
                spark, self.path, out_path, chunks=RESUME_CHUNKS
            )
        with tracer.span("checkpoint.result"):
            result = pipeline.resumable_result(spark, out_path)
            rows = result.collect()
        written = first["written"] + second["written"]
        rework = written / RESUME_CHUNKS
        size = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out_path) for f in fs
        )
        metrics = {
            "checkpoint.chunk_s": statistics.median(
                m["seconds"] for m in checkpoint.read_manifest(out_path)
            ),
            "checkpoint.chunks_written": written,
            "checkpoint.chunks_skipped": second["skipped"],
            "checkpoint.rework_ratio": rework,
            "checkpoint.bytes_written": size,
            "checkpoint.result_s": tracer.durations("checkpoint.result")[-1],
        }
        checks = [
            fingerprint(rows, result.columns) == self.reference,
            rework == 1.0 and second["skipped"] == RESUME_KILL_AFTER,
        ]
        return metrics, checks


class NearDup:
    """Near-duplicate and ANN contract queries from
    ``__spark_entry__.queries()`` over the seed's slice of the sf0.1
    documents and embeddings, each checked against its DuckDB
    ``oracle_sql()`` twin."""

    input_rows = DOCS_PER_RUN + VECS_PER_RUN
    warmup_runs = 2
    queries = (
        "dedup_minhash_lsh",
        "embedding_near_dup",
        "ann_cosine_topk_lsh",
        "prefix_jaccard",
    )

    def prepared(self) -> bool:
        return True

    def setup(self, spark, seed: int) -> None:
        # the seed picks which rows of the fixed tables feed the run
        self.sf_dir = _fresh_dir("inputs", "sf")
        rng = np.random.default_rng(seed)
        for table, k in (("documents", DOCS_PER_RUN), ("embeddings", VECS_PER_RUN)):
            full = pq.read_table(os.path.join(TABLES_DIR, f"{table}.parquet"))
            picked = full.take(np.sort(rng.choice(full.num_rows, k, replace=False)))
            pq.write_table(picked, os.path.join(self.sf_dir, f"{table}.parquet"))
        self.builders = entrymod.queries()
        oracles = entrymod.oracle_sql()
        con = duckdb.connect()
        try:
            for table in ("documents", "embeddings"):
                path = os.path.join(self.sf_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {}
            for q in self.queries:
                res = con.execute(oracles[q])
                self.expected[q] = fingerprint(res.fetchall(), [d[0] for d in res.description])
        finally:
            con.close()

    def ops(self):
        return [(q, self._op(q)) for q in self.queries]

    def _op(self, query: str):
        def run(spark, tracer):
            with tracer.span("entry.build"):
                df = self.builders[query](spark, self.sf_dir)
            with tracer.span("collect"):
                rows = df.collect()
            return rows, df.columns

        return run

    def check(self, name, rows, columns) -> bool:
        return fingerprint(rows, columns) == self.expected[name]

    def attribute(self, spark, tracer, run_s: float, cores: int) -> tuple[dict, list[bool]]:
        return {}, []


WORKLOADS = {"image_rollup": ImageRollup, "near_dup": NearDup}
