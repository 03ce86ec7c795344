"""One scaling-bench level, launched via spark-submit --py-files.

This is the north rule's deployment shape verbatim:

  taskset -c <N cpus> spark-submit --master local[N] \
      --driver-memory 24g --py-files dist/engine.zip \
      tools/scale_level.py <images_parquet> <repeats> <max_attempts>

The engine package is imported FROM THE ZIP, not the repo checkout:
this file lives in tools/ (which contains no package), so a successful
import proves dist/engine.zip is complete and self-contained — the
import origin is asserted and printed so the bench report can record
it. Timing: 2 warm-ups, then tools/timing.py's steal-gated protocol
(imported from this directory, which holds no engine code); prints
one ``RESULT`` JSON line with the attempts, the summary seconds and the
dirty flag.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession

import timing


def main(img_path: str, repeats: int, max_attempts: int) -> None:
    import cdr_analysis_tools_hadoop_spark as engine
    from cdr_analysis_tools_hadoop_spark import pipeline
    from cdr_analysis_tools_hadoop_spark.session import engine_conf

    # prove the engine came from --py-files, not a checkout on the path
    origin = engine.__file__ or ""
    if ".zip" not in origin:
        raise AssertionError(
            f"engine imported from {origin!r}, not the --py-files zip — "
            "the packaged artifact was not what ran"
        )
    print(f"ENGINE_ORIGIN {origin}")

    # master + driver memory come from the spark-submit command line;
    # shuffle width follows the granted cores, as build_session does
    spark = SparkSession.builder.getOrCreate()
    cores = int(spark.sparkContext.defaultParallelism)
    for k, v in engine_conf(max(2 * cores, 8)).items():
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("ERROR")

    images = spark.read.parquet(img_path)
    for _ in range(2):
        pipeline.run_pipeline(spark, images).count()

    attempts, sec, dirty = timing.timed_clean(
        lambda: pipeline.run_pipeline(spark, images).count(),
        repeats,
        max_attempts,
    )
    print("RESULT " + json.dumps({"attempts": attempts, "sec": sec, "dirty": dirty}))


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
