"""Fault injection for the manifest seam.

The r6 manifest tz bug showed where silent row loss hides: the window
between "data landed" and "commit made it visible". A table dir that
holds a crashed job's leftovers must get a manifest that references
only the committed parts, so nothing half-written ever becomes visible
to a pruned read (write_manifest, sources/manifest.py).
"""

from __future__ import annotations

import json
import os

from yahoofinancedatalake_spark.sources.manifest import (
    MANIFEST_NAME,
    read_pruned,
    write_manifest,
)


# ---------------------------------------------------------------------------
# write_manifest: crashed-job leftovers must never enter the manifest
# ---------------------------------------------------------------------------


def test_manifest_never_references_crashed_job_orphans(spark, tmp_path):
    """A table dir holding FileOutputCommitter-style leftovers
    (_temporary attempt dirs, dot-hidden files, _-prefixed markers)
    gets a manifest referencing ONLY the committed visible parts, and
    pruned reads stay exactly equal to plain reads."""
    path = str(tmp_path / "t")
    spark.range(0, 100, 1, 2).selectExpr("id", "id * 2 as v").write.parquet(
        path
    )
    parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(parts) == 2

    # crashed-job leftovers, each a REAL parquet file so any listing
    # bug would happily read them
    tmpdir = os.path.join(path, "_temporary", "job1")
    os.makedirs(tmpdir)
    src = os.path.join(path, parts[0])
    with open(src, "rb") as f:
        blob = f.read()
    for orphan in (
        os.path.join(tmpdir, "part-orphan.parquet"),
        os.path.join(path, ".part-attempt.parquet"),
        os.path.join(path, "_committing-0.parquet"),
    ):
        with open(orphan, "wb") as f:
            f.write(blob)

    manifest = write_manifest(path, ["id"])
    assert set(manifest["files"]) == set(parts)

    # manifest on disk agrees, and pruned read == plain read (the
    # plain read ignores the same leftovers via Spark's own listing)
    with open(os.path.join(path, MANIFEST_NAME)) as f:
        assert set(json.load(f)["files"]) == set(parts)
    got = read_pruned(spark, path, "id", lo=0, hi=49).filter("id <= 49")
    want = spark.read.parquet(path).filter("id <= 49")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
