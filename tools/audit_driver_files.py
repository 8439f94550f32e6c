"""Driver-side O(files) audit at a synthetic 100k-file fixture
(round-15 verdict item 5): time every metadata entry point that walks
a manifest's file list on the DRIVER, so O(files) serial loops are a
recorded number instead of a code-reading argument.

The fixture is fabricated metadata — empty ``.parquet`` names plus
hand-written ``_stats.json`` sidecars carrying rows + key bounds —
committed through the REAL ``_commit`` (so ``_footer_rows``, the
manifest-list offload, and the stats-column embed run their production
code). No Spark session is created: every path measured here is
driver-side by construction.

Usage: python tools/audit_driver_files.py [n_files] [n_dirs]
Writes DRIVER_FILES_AUDIT.json next to this script's repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lazy_frame_spark.sources import filestats, versioned as V  # noqa: E402

SCHEMA_JSON = json.dumps({
    "type": "struct",
    "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "double", "nullable": True, "metadata": {}},
    ],
})


def build_fixture(root: str, n_files: int, n_dirs: int) -> list[str]:
    """A data layout of ``n_files`` empty parquet names over ``n_dirs``
    directories, each with a sidecar recording rows + k-bounds, and ONE
    committed manifest referencing all of them."""
    shutil.rmtree(root, ignore_errors=True)
    per = n_files // n_dirs
    rels: list[str] = []
    for d in range(n_dirs):
        dname = os.path.join("data", f"{1:08d}-{d:08x}")
        dabs = os.path.join(root, dname)
        os.makedirs(dabs)
        sidecar: dict = {}
        for i in range(per):
            base = f"part-{i:05d}.parquet"
            # empty file: listing/stat() walks are real, footer opens
            # would fail — exactly what the sidecar-first paths avoid
            with open(os.path.join(dabs, base), "wb"):
                pass
            lo = (d * per + i) * 10
            sidecar[base] = {
                "rows": 100,
                "cols": {"k": {"lo": {"t": "i", "v": lo},
                               "hi": {"t": "i", "v": lo + 9},
                               "nulls": 0}},
            }
            rels.append(os.path.join(dname, base))
        with open(os.path.join(dabs, filestats.STATS_SIDECAR), "w") as fh:
            json.dump({"version": 1, "files": sidecar}, fh)
    return rels


def timed(label, fn, out, reps=1):
    best = None
    val = None
    for _ in range(reps):
        t0 = time.perf_counter()
        val = fn()
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    out[label] = round(best, 4)
    print(f"  {best:8.4f} s  {label}")
    return val


def main() -> int:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_dirs = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    root = f"/tmp/lfs_driver_audit_{n_files}"
    print(f"building fixture: {n_files} files / {n_dirs} dirs at {root}")
    t0 = time.perf_counter()
    rels = build_fixture(root, n_files, n_dirs)
    print(f"  fixture built in {time.perf_counter() - t0:.2f} s")

    out: dict = {"n_files": n_files, "n_dirs": n_dirs}
    # the COMMIT itself: _footer_rows (sidecar fold) + offloaded
    # manifest-list write + per-file stats embed
    timed("commit_100k_files", lambda: V._commit(
        root, "overwrite", rels, SCHEMA_JSON, parent=None), out)
    # a second commit carrying the same files (steady state: stats
    # seeded from the parent's offloaded list)
    timed("commit_carry_all", lambda: V._commit(
        root, "append", rels, SCHEMA_JSON, parent=1), out)
    V._MANIFEST_LIST_CACHE.clear()
    timed("read_manifest_cold", lambda: len(
        V._read_manifest(root, 2)["files"]), out)
    timed("read_manifest_cached", lambda: len(
        V._read_manifest(root, 2)["files"]), out, reps=3)
    timed("read_manifest_meta", lambda: V._read_manifest_meta(
        root, 2).get("files_count"), out, reps=3)
    timed("latest_version", lambda: V.latest_version(root), out, reps=3)
    kept = timed("prune_files_selective", lambda: filestats.prune_files(
        root, rels, [("k", "between", (0, 999))]), out)
    out["prune_files_kept"] = len(kept)
    timed("prune_files_keep_all", lambda: filestats.prune_files(
        root, rels, [("k", ">=", 0)]), out)
    timed("table_detail", lambda: V.table_detail(root), out)
    timed("footer_rows_sidecar", lambda: V._footer_rows(root, rels), out)
    timed("vacuum_dry_run", lambda: V.vacuum_versioned(
        root, keep_last=1, dry_run=True), out)
    timed("vacuum_real_keep1", lambda: V.vacuum_versioned(
        root, keep_last=1), out)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "DRIVER_FILES_AUDIT.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print("wrote DRIVER_FILES_AUDIT.json")
    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
