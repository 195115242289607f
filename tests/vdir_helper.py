"""Mode-agnostic version-dir resolution for layout-probing tests
(r13, verdict #1): tests that assert on a version's PHYSICAL
directory must resolve it the way every reader does — through
``dataset_dir`` — so the same assertion holds in normal mode (where
the dir is ``v{n}``) and in no-rename object-store mode (where it
keeps its staged name forever)."""

from __future__ import annotations

import os


def vd(table_path, v) -> str:
    from strava_etl_public_spark.operators.table_log import dataset_dir

    return dataset_dir(str(table_path), int(v)) or os.path.join(
        str(table_path), f"v{int(v)}"
    )


def norename() -> bool:
    return os.environ.get("SPARK_GRAFT_NO_RENAME", "") == "1"


def stage_litter(table_path) -> list[str]:
    """Staged dirs that are NOT a committed version's data — the only
    kind a clean commit path may leave behind. In normal mode every
    committed staging was renamed away, so this equals the raw
    ``_stage_*`` listing; in no-rename mode committed versions LIVE
    at their staged names and must not count as litter."""
    import json

    table_path = str(table_path)
    cdir = os.path.join(table_path, "_commits")
    referenced: set[str] = set()
    if os.path.isdir(cdir):
        for f in os.listdir(cdir):
            if f.endswith(".json") and f[0].isdigit():
                try:
                    with open(os.path.join(cdir, f)) as fh:
                        st = json.load(fh).get("staged")
                except (OSError, ValueError):
                    continue
                if st:
                    referenced.add(st)
    return [
        p
        for p in os.listdir(table_path)
        if p.startswith("_stage_") and p not in referenced
    ]
