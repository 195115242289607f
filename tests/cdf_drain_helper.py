"""Same-checkpoint restart loop for ``table_cdf`` consumers under
schema evolution, shared by the table-model fuzz and the CDF source
tests."""

from __future__ import annotations


def table_cdf_resilient_drain(
    spark,
    table_path: str,
    checkpoint_dir: str,
    sink,
    starting_version: int | None = None,
    max_restarts: int = 4,
) -> int:
    """Drain all available ``table_cdf`` changes, auto-restarting
    across schema-evolution commits — Delta's schemaTrackingLocation
    recipe as code (round 11).

    A RUNNING table_cdf query pins its declared schema at start, so a
    rename or widen of a declared column mid-stream fails it loudly
    (sources/table_cdf.py's classification). The loss-free recovery is
    a SAME-CHECKPOINT restart: the new run re-derives the schema from
    the current version (rename-stable physical names, widened read
    types, null-backfilled adds), and the engine's offsets replay the
    pending window exactly-once — including the window's
    pre-evolution commits, which a fresh checkpoint "from the named
    version" would silently skip. This helper is that loop. Note the
    consequence the consumer owns: batches delivered after a restart
    carry the NEW schema (renamed column names / widened types) even
    for replayed pre-evolution commits.

    Returns the number of restarts taken (0 = clean drain). Errors
    other than the source's evolution raise propagate unchanged."""
    restarts = 0
    while True:
        reader = spark.readStream.format("table_cdf").option(
            "path", table_path
        )
        if starting_version is not None:
            reader = reader.option("starting_version", starting_version)
        q = (
            reader.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
        try:
            q.processAllAvailable()
            q.stop()
            return restarts
        except Exception as e:  # noqa: BLE001 — classify, then re-raise
            q.stop()
            if "restart the query on the SAME checkpoint" not in str(e):
                raise
            restarts += 1
            if restarts > max_restarts:
                raise
