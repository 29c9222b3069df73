"""CLI parity with the reference binary.

The reference's client mode is ``main client <input_dir> {wc|ii}``
(main.go:82-89): stream every file in ``input_dir`` to the cluster,
run the named job, collect ``key: value`` text into ``./output/``.
Here the same contract is::

    python -m grpc_map_reduce_spark client <input_dir> {wc|ii} [output_dir]
                                    [--partitions N]

``output_dir`` defaults to ``./output`` like the reference
(master.go:198-229).  ``--partitions N`` is the analog of the
reference's ``nReducers`` knob (config.json:3-4): it sets the job's
shuffle-partition count AND caps the sink at N output files — the
reference's one-file-per-reducer layout.  Unset, Spark decides (the
right default: the reference's fixed worker counts are exactly what a
scheduler should own).  The reference's other entry points
(``master``, ``mapper``, ``reducer`` — hand-rolled cluster lifecycle
over fixed ports, main.go:39-68) have no CLI equivalent on purpose:
Spark's driver/executor lifecycle replaces all three (session.py).
"""

from __future__ import annotations

import sys

USAGE = (
    "usage: python -m grpc_map_reduce_spark client <input_dir> {wc|ii} "
    "[output_dir] [--partitions N]\n"
)


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    partitions: int | None = None
    if "--partitions" in argv:
        i = argv.index("--partitions")
        try:
            partitions = int(argv[i + 1])
            if partitions <= 0:
                raise ValueError
        except (IndexError, ValueError):
            sys.stderr.write(USAGE)
            return 2
        argv = argv[:i] + argv[i + 2:]
    if len(argv) < 3 or argv[0] != "client" or argv[2] not in ("wc", "ii"):
        sys.stderr.write(USAGE)
        return 2
    input_dir, fn = argv[1], argv[2]
    output_dir = argv[3] if len(argv) > 3 else "./output"

    from grpc_map_reduce_spark.session import get_spark, sql_conf
    from grpc_map_reduce_spark.sinks.text import run_reference_job

    spark = get_spark("grpc-map-reduce-spark-cli")
    # --partitions is session-level so the job's one shuffle (the
    # groupBy) uses it, and scoped: getOrCreate may have reused a live
    # session, which must not keep the override for later jobs (ADVICE r5).
    confs = {} if partitions is None else {"spark.sql.shuffle.partitions": str(partitions)}
    with sql_conf(spark, confs):
        run_reference_job(spark, input_dir, fn, output_dir,
                          num_files=partitions)
    print(f"{fn} output written to {output_dir}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
