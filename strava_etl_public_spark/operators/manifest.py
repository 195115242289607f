"""File-statistics manifests in two representations — JSON and parquet.

VERDICT r9 named the managed table's one remaining metadata ceiling:
every version's zone-map manifest was a single ``_manifest.json``
built from a driver-side ``collect()`` of per-file stat rows. O(files)
driver state is the right asymptotic, but the CONSTANT is wrong at
100 TB — 10⁵–10⁶ files per version extrapolate to a ~170 MB JSON the
driver must materialize on EVERY commit and re-parse on EVERY pruned
scan. Delta hit the same wall with its JSON transaction log and
solved it with parquet checkpoints of the file list; this module is
that treatment for this format's manifests:

* below ``PARQUET_MANIFEST_THRESHOLD`` files the manifest stays a
  single JSON — one driver dict, no read-side Spark job, the right
  cost for the overwhelmingly common small-table case;
* at/above the threshold the per-file stats are written as a PARQUET
  relation (``_manifest_pq/``, an ``_``-prefixed dir, so data reads
  ignore it) by the executors — the driver never materializes the
  file list. Pruning becomes a Spark filter ON the manifest relation:
  the driver receives only the SURVIVING file names, O(selectivity),
  never O(files). ``_manifest.json`` remains the single entry point —
  in parquet mode it shrinks to a pointer record
  ``{"format": "parquet", "stat_cols": [...], "n_files": N}``.

The two representations are interchangeable by construction: one
writer builds both from the SAME single-pass grouped aggregate, and
one reader (:func:`stats_survivors`) applies the SAME conservative
keep rule (NULL stats → keep; range-intersect otherwise), so every
existing pruning proof carries over. File entries key BASENAMES in
both formats (staging-rename- and relocation-proof, the r10 advisor
contract).

Scale measurement (scripts/scale.py manifest, local[32],
recorded in SCALE.md): at 10⁶ file entries the JSON manifest is
103 MB serialized in 13.7 s of driver time per commit and re-parsed
(1.3 s, 10⁶ dict rows) on every pruned scan; the parquet manifest is
15 MB written distributed in 1.3 s, and a 1%-selective prune decides
in 0.7 s shipping only the 10⁴ survivor names. At 10⁴ entries JSON
still wins the prune (0.02 s dict walk vs 0.9 s of Spark job fixed
cost) — which is why auto mode keeps JSON below the threshold.

Reference: the reference keeps no file-level metadata at all (its
store is Firestore documents, firestore_sink.py) — this layer exists
for the 100 TB translation of its keyed-store contract.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Above this many files per version, a JSON manifest is the wrong
# representation: the driver materializes every entry on each commit
# AND each scan. Measured (scripts/scale.py manifest): at 10⁴
# entries the JSON dict walk still beats the Spark job's fixed cost
# (0.02 s vs 0.9 s prune), at 10⁵ the two are within 2× of each other
# (~7 MB JSON), at 10⁶ parquet wins on every axis (build 13.7 s →
# 1.3 s, bytes 103 MB → 15 MB, prune ships 10⁶ rows → survivors
# only). 65536 sits in the flat part of that crossover with the JSON
# manifest still ≤ ~7 MB of driver state.
PARQUET_MANIFEST_THRESHOLD = 65536

# Entries per parquet manifest file: 256k rows × ~40 B ≈ 10 MB —
# big enough that a 10⁶-file manifest is 4 well-sized files, small
# enough that a selective prune parallelizes.
_ROWS_PER_MANIFEST_FILE = 262_144


def stats_relation(
    df: DataFrame, file_col: Column, stat_cols: list[str]
) -> DataFrame:
    """The single-pass per-file stats aggregate BOTH representations
    serialize: min/max of each stat column + row count, grouped by
    ``file_col`` (a basename expression). Map-side combined by
    Catalyst — one scan of the written data regardless of file
    count."""
    aggs = []
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(file_col.alias("file")).agg(
        *aggs, F.count(F.lit(1)).alias("n_rows")
    )


def write_stats_manifest(
    vdir: str,
    df: DataFrame,
    file_col: Column,
    stat_cols: list[str],
    fmt: str = "auto",
    threshold: int = PARQUET_MANIFEST_THRESHOLD,
) -> None:
    """Write the version's zone-map manifest into ``vdir`` in the
    representation its file count calls for. ``fmt``: ``"json"`` /
    ``"parquet"`` force a representation; ``"auto"`` (the default)
    switches on ``threshold``. Always writes ``_manifest.json`` as
    the reader's single entry point; parquet mode adds the
    ``_manifest_pq/`` relation next to it. Runs on a STAGING dir or
    verified scratch (the caller's contract) — both artifacts publish
    atomically with the version's rename."""
    write_stats_relation(
        vdir, stats_relation(df, file_col, stat_cols), stat_cols, fmt, threshold
    )


def write_stats_relation(
    vdir: str,
    stats: DataFrame,
    stat_cols: list[str],
    fmt: str = "auto",
    threshold: int = PARQUET_MANIFEST_THRESHOLD,
) -> None:
    """Serialize an ALREADY-AGGREGATED per-file stats relation (the
    shape :func:`stats_relation` produces) — the seam the scale smoke
    measures through without writing real data files."""
    if fmt == "json":
        _write_json(vdir, stats, stat_cols)
        return
    if fmt == "parquet":
        stats = stats.persist()
        try:
            _write_parquet(vdir, stats, stat_cols, stats.count())
        finally:
            stats.unpersist()
        return
    # auto: decide from the file count WITHOUT collecting the rows —
    # persist the aggregate so count + serialize is still one pass
    # over the data
    stats = stats.persist()
    try:
        n = stats.count()
        if n >= threshold:
            _write_parquet(vdir, stats, stat_cols, n)
        else:
            _write_json(vdir, stats, stat_cols)
    finally:
        stats.unpersist()


def _write_json(vdir: str, stats: DataFrame, stat_cols: list[str]) -> None:
    rows = stats.collect()
    manifest = {
        "stat_cols": list(stat_cols),
        "files": [r.asDict() for r in rows],
    }
    with open(os.path.join(vdir, "_manifest.json"), "w") as f:
        json.dump(manifest, f)


def _write_parquet(
    vdir: str, stats: DataFrame, stat_cols: list[str], n: int
) -> None:
    files = max(1, math.ceil(n / _ROWS_PER_MANIFEST_FILE))
    stats.coalesce(files).write.mode("overwrite").parquet(
        os.path.join(vdir, "_manifest_pq")
    )
    with open(os.path.join(vdir, "_manifest.json"), "w") as f:
        json.dump(
            {"format": "parquet", "stat_cols": list(stat_cols), "n_files": n},
            f,
        )


def manifest_entry(vdir: str) -> dict:
    """The version's ``_manifest.json`` — either the inline JSON
    manifest (``files`` present) or the parquet pointer record
    (``format == "parquet"``)."""
    with open(os.path.join(vdir, "_manifest.json")) as f:
        return json.load(f)


def manifest_rows(vdir: str) -> list[dict] | None:
    """The per-file stat rows of the manifest at ``vdir`` (None = no
    manifest), for EITHER representation, without Spark: inline JSON
    yields its dict rows directly; a parquet-mode manifest is read
    with pyarrow (metadata-sized — the relation holds O(files) stat
    rows, not data). The pyarrow batch source's zone-map input."""
    p = os.path.join(vdir, "_manifest.json")
    if not os.path.isfile(p):
        return None
    meta = manifest_entry(vdir)
    if meta.get("format") == "parquet":
        import pyarrow.parquet as pq

        return pq.read_table(os.path.join(vdir, "_manifest_pq")).to_pylist()
    return meta.get("files")


def stats_survivors(
    spark: SparkSession,
    vdir: str,
    data_dir: str,
    col: str,
    lo,
    hi,
) -> tuple[list[str], int]:
    """Files of the manifest at ``vdir`` whose [min,max] of ``col``
    may intersect [lo, hi] — the ONE keep rule for both
    representations (NULL stats keep, conservatively; otherwise range
    intersection), resolved against ``data_dir``. Returns
    (keep_paths, files_total). JSON mode decides on the driver from
    the already-parsed dict; parquet mode runs the filter as a Spark
    job on the manifest relation and ships ONLY the survivors back —
    the 10⁶-file path where the driver never sees the full file
    list."""
    from .layout import _resolve_manifest_file

    meta = manifest_entry(vdir)
    if meta.get("format") == "parquet":
        mdf = spark.read.parquet(os.path.join(vdir, "_manifest_pq"))
        mn, mx = F.col(f"min_{col}"), F.col(f"max_{col}")
        surv = mdf.filter(
            mn.isNull() | mx.isNull() | ~((mx < F.lit(lo)) | (mn > F.lit(hi)))
        )
        keep = [
            _resolve_manifest_file(data_dir, r["file"])
            for r in surv.select("file").collect()
        ]
        return keep, int(meta["n_files"])

    def _keep(r: dict) -> bool:
        mn, mx = r.get(f"min_{col}"), r.get(f"max_{col}")
        if mn is None or mx is None:
            return True
        try:
            return not (mx < lo or mn > hi)
        except TypeError as e:  # stringified (e.g. date) stats vs numeric
            raise ValueError(
                f"manifest stats for {col!r} are {type(mn).__name__}, "
                f"bounds are {type(lo).__name__} — stat column must be "
                "numeric or bounds must match its serialized type"
            ) from e

    keep = [
        _resolve_manifest_file(data_dir, r["file"])
        for r in meta["files"]
        if _keep(r)
    ]
    return keep, len(meta["files"])

# ---------------------------------------------------------------------------
# Bloom manifests — the same two-representation treatment. A per-file
# bloom entry is the SET-BIT POSITIONS of that file's filter, so the
# JSON grows with distinct keys per file × file count — at 10⁶ files
# it hits the identical driver-materialization wall the zone maps did,
# and gets the identical fix: a _bloom_pq/ parquet relation of
# (file, positions array<int>) rows, probed by a Spark filter that
# ships only the ≤handful of candidate file names to the driver.
# ---------------------------------------------------------------------------


def write_bloom_manifest(
    spark: SparkSession,
    vdir: str,
    col: str,
    m: int,
    k: int,
    fmt: str = "auto",
    threshold: int = PARQUET_MANIFEST_THRESHOLD,
) -> None:
    """Per-file bloom manifest over an already-written parquet dir —
    one pass grouped by file basename (build_bloom_manifest's
    aggregate), serialized per ``fmt`` like the zone maps."""
    from .sketch import _bloom_positions

    back = spark.read.parquet(vdir)
    stats = (
        back.select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
            F.explode(_bloom_positions(col, m, k)).alias("pos"),
        )
        .groupBy("file")
        .agg(F.sort_array(F.collect_set("pos")).alias("positions"))
    )
    if fmt == "json":
        _write_bloom_json(vdir, stats, col, m, k)
        return
    stats = stats.persist()
    try:
        n = stats.count()
        if fmt == "parquet" or n >= threshold:
            files = max(1, math.ceil(n / _ROWS_PER_MANIFEST_FILE))
            stats.coalesce(files).write.mode("overwrite").parquet(
                os.path.join(vdir, "_bloom_pq")
            )
            with open(os.path.join(vdir, "_bloom.json"), "w") as f:
                json.dump(
                    {
                        "format": "parquet",
                        "col": col,
                        "m": m,
                        "k": k,
                        "n_files": n,
                    },
                    f,
                )
        else:
            _write_bloom_json(vdir, stats, col, m, k)
    finally:
        stats.unpersist()


def _write_bloom_json(
    vdir: str, stats: DataFrame, col: str, m: int, k: int
) -> None:
    rows = stats.collect()
    manifest = {
        "col": col,
        "m": m,
        "k": k,
        "files": {r["file"]: list(r["positions"]) for r in rows},
    }
    with open(os.path.join(vdir, "_bloom.json"), "w") as f:
        json.dump(manifest, f)


def _bloom_hits(meta: dict, value) -> list[str]:
    """Basenames of an inline JSON bloom manifest whose filter MAY
    contain ``value`` — all k positions set (layout's one
    Kirsch-Mitzenmacher position definition)."""
    from .layout import _bloom_positions_py

    want = set(_bloom_positions_py(value, meta["m"], meta["k"]))
    return [fn for fn, pos in meta["files"].items() if want <= set(pos)]


def bloom_keep(vdir: str, col: str, values) -> set[str] | None:
    """Basenames whose bloom on ``col`` MAY contain any of ``values``,
    without Spark — None when the version has no bloom manifest on
    ``col`` (no pruning). Parquet mode reads the ``_bloom_pq``
    relation with pyarrow. The pyarrow batch source's equality prune;
    the same probe as :func:`bloom_survivors`."""
    p = os.path.join(vdir, "_bloom.json")
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        meta = json.load(f)
    if meta["col"] != col:
        return None
    if meta.get("format") != "parquet":
        return {fn for v in values for fn in _bloom_hits(meta, v)}
    import pyarrow.parquet as pq

    from .layout import _bloom_positions_py

    wants = [set(_bloom_positions_py(v, meta["m"], meta["k"])) for v in values]
    return {
        r["file"]
        for r in pq.read_table(os.path.join(vdir, "_bloom_pq")).to_pylist()
        if any(w <= set(r["positions"]) for w in wants)
    }


def bloom_survivors(
    spark: SparkSession, vdir: str, data_dir: str, value
) -> tuple[list[str], int]:
    """Files whose bloom MAY contain ``value`` (all k positions set —
    no false negatives; a false positive costs one file read, never a
    wrong row), for either representation. Parquet mode probes with a
    Spark filter on the manifest relation — ``array_intersect`` of the
    stored positions with the k probe positions must cover the probe
    set — so the driver receives only candidate names."""
    from .layout import _bloom_positions_py, _resolve_manifest_file

    with open(os.path.join(vdir, "_bloom.json")) as f:
        meta = json.load(f)
    want = sorted(set(_bloom_positions_py(value, meta["m"], meta["k"])))
    if meta.get("format") == "parquet":
        mdf = spark.read.parquet(os.path.join(vdir, "_bloom_pq"))
        probe = F.array(*[F.lit(p) for p in want])
        surv = mdf.filter(
            F.size(F.array_intersect(F.col("positions"), probe)) == len(want)
        )
        keep = [
            _resolve_manifest_file(data_dir, r["file"])
            for r in surv.select("file").collect()
        ]
        return keep, int(meta["n_files"])
    keep = [
        _resolve_manifest_file(data_dir, fname)
        for fname in _bloom_hits(meta, value)
    ]
    return keep, len(meta["files"])
