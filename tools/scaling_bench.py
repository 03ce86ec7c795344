"""Two-parallelism-level scaling benchmark (BENCH/BASELINE.md protocol).

North-rule evidence: the same flagship job (pipeline.run_pipeline over
the SAME on-disk images table) at N and 4N cores, fresh JVM per level,
each level CPU-PINNED with taskset so "N cores" really means N cores
(an unpinned local[N] JVM borrows 40-75% extra CPU through GC/netty/
parquet threads and corrupts the ratio).

The levels follow the host: N is a quarter (rounded down) of the
cores this process may run on, so 4N is all of them on a host whose
core count divides by four (1 -> 4 on a 4-core box, 8 -> 32 on a
32-core box). Each level pins to the first N or 4N cores of this
process's affinity set.

Per level: 2 warm-up runs, then tools/timing.py's steal-gated protocol
(per-run host-steal telemetry, backoff after a dirty run, median
of clean runs, every attempt printed).

Usage:  python tools/scaling_bench.py [n_images] [repeats]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime, timezone

import timing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_ATTEMPTS = int(os.environ.get("SCALING_MAX_ATTEMPTS", "12"))


def _spark_submit() -> str:
    """The spark-submit that matches the installed pyspark (version-
    consistent with the library the engine zip was built against)."""
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def build_engine_zip() -> str:
    """Package the engine for --py-files (tools/make_pyfiles.sh)."""
    subprocess.run(
        ["sh", os.path.join(ROOT, "tools", "make_pyfiles.sh")],
        check=True,
        capture_output=True,
    )
    return os.path.join(ROOT, "dist", "engine.zip")


def run_level(cpus: list[int], img_path: str, repeats: int, zip_path: str) -> dict:
    """One level = one spark-submit --py-files run (the north rule's
    deployment shape) pinned to ``cpus``: fresh JVM, master from the
    command line, the engine imported from dist/engine.zip
    (tools/scale_level.py asserts the import origin and prints it)."""
    cores = len(cpus)
    cmd = [
        "taskset",
        "-c",
        ",".join(map(str, cpus)),
        _spark_submit(),
        "--master",
        f"local[{cores}]",
        "--driver-memory",
        "24g",
        "--conf",
        "spark.ui.enabled=false",
        "--py-files",
        zip_path,
        os.path.join(ROOT, "tools", "scale_level.py"),
        img_path,
        str(repeats),
        str(MAX_ATTEMPTS),
    ]
    out = subprocess.run(
        cmd, capture_output=True, text=True, check=True
    ).stdout
    result = json.loads(
        [ln for ln in out.splitlines() if ln.startswith("RESULT ")][-1][7:]
    )
    origin = [
        ln.split(" ", 1)[1]
        for ln in out.splitlines()
        if ln.startswith("ENGINE_ORIGIN ")
    ][-1]
    attempts = result["attempts"]
    return {
        "cores": cores,
        "cpus": ",".join(map(str, cpus)),
        "attempts": attempts,
        "n_clean": sum(a["clean"] for a in attempts),
        "dirty": result["dirty"],
        "sec": round(result["sec"], 2),
        "engine_origin": origin,
    }


def main() -> None:
    n_images = int(sys.argv[1]) if len(sys.argv) > 1 else 480000
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    host_cpus = sorted(os.sched_getaffinity(0))
    n = len(host_cpus) // 4
    if n < 1:
        raise SystemExit(f"N -> 4N needs at least 4 cores; this host has {len(host_cpus)}")

    sys.path.insert(0, ROOT)
    import bench

    img_path = f"/tmp/spark_graft_bench/images_{bench.IMAGES_LAYOUT}_{n_images}"
    if not os.path.exists(os.path.join(img_path, "_SUCCESS")):
        from cdr_analysis_tools_hadoop_spark.session import build_session

        spark = build_session("gen", master=f"local[{len(host_cpus)}]")
        spark.sparkContext.setLogLevel("ERROR")
        bench.ensure_images(spark, n_images, img_path)
        spark.stop()

    zip_path = build_engine_zip()
    low, high = (
        run_level(host_cpus[:k], img_path, repeats, zip_path) for k in (n, 4 * n)
    )
    for lv in (low, high):
        lv["images_per_sec"] = round(n_images / lv["sec"], 1)
        print(json.dumps(lv))
    eff = high["images_per_sec"] / (4 * low["images_per_sec"])

    # headline analytics via bench.py at the 4N core count
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(high["cores"]),
               SPARK_GRAFT_BENCH_IMAGES=str(n_images),
               SPARK_GRAFT_BENCH_REPEATS="3")
    out = subprocess.run([sys.executable, os.path.join(ROOT, "bench.py")],
                         env=env, capture_output=True, text=True, check=True).stdout
    headline = json.loads([ln for ln in out.strip().splitlines() if ln.startswith("{")][-1])

    def row(label, lv):
        attempts = ", ".join(
            f"{a['sec']}s@{a['steal_pct']}%st" for a in lv["attempts"]
        )
        # a DIRTY level had too few steal-clean attempts; its number is
        # the minimum over all attempts, not a clean median
        sec = f"{lv['sec']}" + (" **DIRTY**" if lv["dirty"] else "")
        return (
            f"| {label} | {lv['cores']} | taskset {lv['cpus']} | {attempts} "
            f"| {lv['n_clean']} | {sec} | {lv['images_per_sec']} |"
        )

    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    md = os.path.join(ROOT, "BENCH", "BASELINE.md")
    with open(md, "w") as f:
        f.write(f"""# BENCH/BASELINE — two-parallelism-level scaling evidence

Generated {datetime.now(timezone.utc).isoformat(timespec='seconds')} by
`python tools/scaling_bench.py {n_images} {repeats}`. Identical input
for every level: {n_images} deterministic synthetic images (seeded,
256 uncompressed parquet files, written once). Each level is ONE
`spark-submit --master local[cores] --py-files dist/engine.zip
tools/scale_level.py` run — the north rule's deployment shape — with
the engine imported from the zip, asserted and recorded per level
(import origin: `{low['engine_origin']}`); fresh JVM per level,
2 warm-up runs, then timed runs with per-run hypervisor-steal
telemetry (tools/timing.py): this shared host gets
multi-minute co-tenant bursts that slow identical runs 2-4x, so a run
counts as CLEAN when steal <= {timing.STEAL_MAX_PCT}% of its busy
time; each level samples until {repeats} clean runs (max
{MAX_ATTEMPTS} attempts, {timing.DIRTY_BACKOFF_S}s backoff after a
dirty run) and reports the median of clean runs. A level that cannot
collect 2 clean runs is flagged **DIRTY** and reports the minimum over
all attempts — do not read it as a clean number. ALL attempts incl.
steal are listed below — nothing is hidden.

Job (pipeline.run_pipeline, ONE fused Arrow stage + one tiny
shuffle): decode-validate (zlib + PSNR>=40dB gate) -> phash->anchor
-> hierarchical cell encode -> broadcast PIP vs 25 tower-Voronoi
polygons (interior cells via searchsorted, boundary via vectorized
ray cast) -> z14 tile assignment -> zone/tile aggregate.

| level | cores | pinned | attempts (sec @ steal) | clean | sec | images/sec |
|---|---|---|---|---|---|---|
{row("A (N)", low)}
{row("B (4N)", high)}

**Scaling efficiency N->4N ({low['cores']} -> {high['cores']} cores)** =
{high['images_per_sec']} / (4 x {low['images_per_sec']}) = **{eff:.3f}**
(north-rule target >= 0.8)

Spark conf (all levels, session.py): AQE on, shuffle.partitions =
2 x cores, Arrow UDFs only (mapInArrow + scalar pandas UDF; zero
per-row Python), maxPartitionBytes=16m, broadcast joins for all
dimension tables.

Headline analytics at sf={headline['sf']} on {high['cores']} cores (seconds):
{json.dumps(headline['queries'], indent=2)}

Raw bench.py line: `{json.dumps(headline)}`
""")
    print(json.dumps({"eff_n_4n": round(eff, 3)}))
    print(f"wrote {md}")


if __name__ == "__main__":
    main()
