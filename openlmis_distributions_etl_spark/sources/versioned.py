"""Minimal versioned table format (Delta/Iceberg-lite).

A table directory holds immutable parquet data files plus a JSON
manifest log; every commit writes its data under a fresh subdirectory
and then publishes a manifest that lists the COMPLETE file set for the
new version (snapshot isolation — readers of version N never see a
partial commit or later files). The manifest is created with O_EXCL,
so two concurrent writers racing to the same version number cannot
both win: the loser gets a VersionConflictError and retries against
the new latest (optimistic concurrency, the Delta commit protocol in
miniature).

What this deliberately does NOT do (and a production format adds):
compaction of the manifest log, file-level column statistics for data
skipping, and schema evolution rules. The foreachBatch snapshot upsert
in streaming/jobs.py is the streaming producer of the same pattern.

Layout:
    <table>/_log/v00000042.json   # {"version", "files", "mode"}
    <table>/data/v00000042-<uuid>/part-*.parquet
"""

from __future__ import annotations

import json
import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_LOG = "_log"
_DATA = "data"


class VersionConflictError(RuntimeError):
    """Another writer committed this version first; re-read and retry."""


def _log_dir(path: str) -> Path:
    return Path(path) / _LOG


def versions(path: str) -> list[int]:
    """Committed versions, ascending; [] for a nonexistent table."""
    d = _log_dir(path)
    if not d.is_dir():
        return []
    return sorted(int(p.stem[1:]) for p in d.glob("v*.json"))


def _read_manifest(path: str, version: int) -> dict:
    with open(_log_dir(path) / f"v{version:08d}.json", encoding="utf-8") as f:
        return json.load(f)


def write_versioned(df: DataFrame, path: str, mode: str = "append",
                    base_version: int | None = None,
                    txn: str | None = None) -> int:
    """Commit ``df`` as a new version; returns the version number.

    ``overwrite`` replaces the visible file set; ``append`` extends
    it. Data files land under an uncommitted uuid directory first, so
    a crash before the manifest publish leaves garbage, never a
    half-visible version.

    ``base_version`` pins the snapshot this commit was derived from
    (the optimistic-concurrency protocol: a transactional writer reads
    version N, transforms, and commits N+1). If another writer
    published N+1 first, the O_EXCL manifest create loses and raises
    VersionConflictError — re-read and retry. When omitted, the
    current latest at call time is the base (last-writer-wins for
    independent appends).

    ``txn`` is an idempotence token: if any committed manifest already
    records it, the write is a no-op returning that version — this is
    how a replayed streaming micro-batch (checkpoint recovery re-runs
    the last batch) avoids double-appending.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    existing = versions(path)
    # schema evolution contract: an append may ADD columns (readers
    # see typed NULLs for old files via mergeSchema) but may not
    # CHANGE a shared column's type — that would silently corrupt
    # every existing file's reads, so it fails loudly here
    if mode == "append" and existing:
        prev = _read_manifest(path, existing[-1]).get("schema")
        if prev is not None:
            prev_types = {f["name"]: f["type"]
                          for f in json.loads(prev)["fields"]}
            for f in json.loads(df.schema.json())["fields"]:
                if (f["name"] in prev_types
                        and f["type"] != prev_types[f["name"]]):
                    raise TypeError(
                        f"schema evolution: column {f['name']!r} "
                        f"changes type {prev_types[f['name']]!r} -> "
                        f"{f['type']!r}; only ADDING columns is a "
                        "safe widening")
    if txn is not None:
        for v in existing:
            if _read_manifest(path, v).get("txn") == txn:
                return v
    if base_version is None:
        new_version = (existing[-1] + 1) if existing else 0
    else:
        if base_version not in existing:
            raise ValueError(
                f"base_version {base_version} not committed (have {existing})")
        new_version = base_version + 1
    commit_dir = f"{_DATA}/v{new_version:08d}-{uuid.uuid4().hex[:8]}"
    df.write.mode("errorifexists").parquet(f"{path}/{commit_dir}")
    new_files = sorted(
        f"{commit_dir}/{p.name}"
        for p in (Path(path) / commit_dir).glob("part-*.parquet"))
    base = base_version if base_version is not None else \
        (existing[-1] if existing else None)
    files = new_files if mode == "overwrite" or base is None else \
        _read_manifest(path, base)["files"] + new_files
    _log_dir(path).mkdir(parents=True, exist_ok=True)
    manifest = _log_dir(path) / f"v{new_version:08d}.json"
    try:
        # O_EXCL publish: exactly one writer can commit this version
        with open(manifest, "x", encoding="utf-8") as f:
            json.dump({"version": new_version, "mode": mode,
                       "files": files, "txn": txn,
                       "schema": df.schema.json()}, f)
    except FileExistsError as e:
        raise VersionConflictError(
            f"version {new_version} of {path} was committed concurrently; "
            f"re-read the table and retry") from e
    return new_version


def read_versioned(spark: SparkSession, path: str,
                   version: int | None = None) -> DataFrame:
    """Read the table at ``version`` (default: latest) — time travel
    is just resolving an older manifest's file list."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {path}")
    if version is None:
        version = vs[-1]
    elif version not in vs:
        raise ValueError(f"version {version} not in {vs}")
    m = _read_manifest(path, version)
    files = m["files"]
    # mergeSchema: additive schema evolution — a version whose appends
    # carry new columns reads as the union schema, with older files
    # null-filling the new columns (footer-level merge, no data rewrite)
    return (spark.read.option("mergeSchema", "true")
            .parquet(*[f"{path}/{f}" for f in files]))


def vacuum_versioned(path: str, keep_versions: int = 1) -> dict:
    """Retention maintenance: keep the newest ``keep_versions``
    manifests, delete older manifests and every data file no kept
    version references. Time travel shortens to the retention window;
    storage stops growing with history — the periodic job every
    log-structured table needs (Delta VACUUM).

    Pure driver-side filesystem metadata work: no Spark job, no data
    read. Returns {"kept_versions", "removed_manifests",
    "removed_files"}.
    """
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    vs = versions(path)
    keep = vs[-keep_versions:]
    drop = [v for v in vs if v not in keep]
    referenced = {f for v in keep for f in _read_manifest(path, v)["files"]}
    removed_files = 0
    data_root = Path(path) / _DATA
    if data_root.is_dir():
        for p in sorted(data_root.rglob("*.parquet")):
            rel = str(p.relative_to(Path(path)))
            if rel not in referenced:
                p.unlink()
                removed_files += 1
        for d in sorted(data_root.iterdir()):
            if d.is_dir() and not any(d.iterdir()):
                d.rmdir()
    for v in drop:
        (_log_dir(path) / f"v{v:08d}.json").unlink()
    return {"kept_versions": keep, "removed_manifests": len(drop),
            "removed_files": removed_files}


def table_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY: one dict per committed version, ascending —
    (version, mode, txn, n_files, n_files_added vs the previous
    manifest) — the audit view every table format exposes; pure
    manifest reads, no data files touched."""
    out = []
    prev: set[str] = set()
    for v in versions(path):
        m = _read_manifest(path, v)
        cur = set(m["files"])
        out.append({"version": v, "mode": m.get("mode"),
                    "txn": m.get("txn"),
                    "n_files": len(cur),
                    "n_files_added": len(cur - prev)})
        prev = cur
    return out


def _file_stats(table_path: str, rel_file: str,
                stat_cols: tuple[str, ...]) -> dict:
    """Per-file min/max from the parquet footer (driver-side metadata
    read — no data pages touched)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(str(Path(table_path) / rel_file)).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out = {}
    for c in stat_cols:
        if c not in idx:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            out[c] = [lo, hi]
    return out


def collect_stats(path: str, version: int | None = None,
                  stat_cols: tuple[str, ...] = ()) -> None:
    """Attach per-file min/max stats for ``stat_cols`` to a committed
    manifest (rewrites the manifest in place — stats are derived
    metadata, not part of the commit protocol). Run after write, or
    periodically like vacuum."""
    vs = versions(path)
    version = vs[-1] if version is None else version
    m = _read_manifest(path, version)
    m["stats"] = {f: _file_stats(path, f, stat_cols) for f in m["files"]}
    tmp = _log_dir(path) / f".v{version:08d}.json.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(m, f)
    os.replace(tmp, _log_dir(path) / f"v{version:08d}.json")


def read_versioned_pruned(spark: SparkSession, path: str, column: str,
                          lo, hi, version: int | None = None) -> DataFrame:
    """Manifest-level data skipping: read only the files whose
    [min, max] range for ``column`` intersects [lo, hi] — pruning
    happens BEFORE Spark lists or opens anything, the Iceberg/Delta
    scan-planning step that makes a selective query on a 100 TB table
    touch 100 GB. Files without stats are conservatively read.
    Returns an empty-but-typed frame when every file prunes away."""
    vs = versions(path)
    version = vs[-1] if version is None else version
    m = _read_manifest(path, version)
    stats = m.get("stats", {})
    keep = []
    for f in m["files"]:
        rng = stats.get(f, {}).get(column)
        if rng is None or (rng[0] <= hi and lo <= rng[1]):
            keep.append(f)
    if not keep:
        return _empty_like(spark, path, m)
    return spark.read.parquet(*[f"{path}/{f}" for f in keep])


def _empty_like(spark: SparkSession, path: str, manifest: dict) -> DataFrame:
    """Zero-row frame with the table's schema (footer-only read)."""
    return (spark.read.parquet(f"{path}/{manifest['files'][0]}")
            .where("false"))


def changed_files(path: str, since_version: int,
                  to_version: int | None = None) -> list[str]:
    """Change feed: data files ADDED after ``since_version`` up to
    ``to_version`` (default latest) — the incremental-consumer
    primitive (backfills, downstream syncs) that reads only the delta,
    never the whole table. Overwrites start a new lineage, so their
    files appear as additions."""
    vs = versions(path)
    to_version = vs[-1] if to_version is None else to_version
    base = set(_read_manifest(path, since_version)["files"])
    now = _read_manifest(path, to_version)["files"]
    return [f for f in now if f not in base]


def read_changes(spark: SparkSession, path: str, since_version: int,
                 to_version: int | None = None) -> DataFrame:
    """Read only the rows added after ``since_version`` (see
    changed_files)."""
    files = changed_files(path, since_version, to_version)
    if not files:
        m = _read_manifest(path, versions(path)[-1])
        return _empty_like(spark, path, m)
    return spark.read.parquet(*[f"{path}/{f}" for f in files])


def merge_upsert_versioned(spark: SparkSession, path: str,
                           updates: DataFrame, key_cols: list[str],
                           base_version: int | None = None) -> int:
    """MERGE: upsert ``updates`` into the table by key — matched rows
    replaced, new keys inserted — committed as one new version derived
    from ``base_version`` (default latest), so a concurrent commit in
    between raises VersionConflictError instead of silently losing
    either write (the lost-update anomaly OCC exists to prevent).

    Shape: one left_anti join of current rows against update keys
    (update keys broadcast when small) + a union — the copy-on-write
    MERGE a production format executes per touched file; here the
    whole snapshot rewrites, which is the documented simplification."""
    from pyspark.sql import functions as F

    vs = versions(path)
    base = vs[-1] if base_version is None else base_version
    current = read_versioned(spark, path, version=base)
    keys = updates.select(*key_cols).distinct()
    survivors = current.join(F.broadcast(keys), key_cols, "left_anti")
    merged = survivors.unionByName(updates)
    return write_versioned(merged, path, mode="overwrite",
                           base_version=base)


ZORDER_BITS = 8


def zorder_rewrite(spark: SparkSession, path: str, cols: list[str],
                   target_files: int = 4, bits: int = ZORDER_BITS,
                   base_version: int | None = None) -> int:
    """OPTIMIZE ... ZORDER BY: rewrite the current snapshot clustered
    on the Z-value (bit-interleaved bucket ids) of ``cols``, then
    refresh file stats — so `read_versioned_pruned` skips files for
    selective predicates on ANY of the clustered columns, not just the
    first one a linear sort favors. This is the Delta/Iceberg
    multi-dimensional clustering maintenance pass; at 100 TB it is what
    keeps two different dashboards (one filtering user, one filtering
    value) both reading ~1/target_files of the table.

    Each column is linearly bucketed to 2^bits cells between its
    min/max (one tiny agg job for the ranges; NULLs cluster at cell 0),
    and the Z-value interleaves the cells' bits. The rewrite itself is
    ONE range shuffle on the Z-value + per-partition sort — the same
    plan shape as `write_sorted_parquet`, no global sort.

    Committed as an overwrite version derived from ``base_version``
    (default latest) under the usual OCC protocol; returns the new
    version number.
    """
    from pyspark.sql import functions as F

    vs = versions(path)
    base = vs[-1] if base_version is None else base_version
    df = read_versioned(spark, path, version=base)
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"lo_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"hi_{c}")]
    rng = df.agg(*aggs).collect()[0]
    n, cells = len(cols), 1 << bits
    buckets = []
    for c in cols:
        lo, hi = rng[f"lo_{c}"], rng[f"hi_{c}"]
        span = (hi - lo) if (hi is not None and hi > lo) else 1.0
        cell = F.floor((F.col(c).cast("double") - F.lit(lo))
                       / F.lit(span) * cells).cast("long")
        buckets.append(F.coalesce(
            F.greatest(F.lit(0), F.least(F.lit(cells - 1), cell)),
            F.lit(0)))
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, bk in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(bk, j).bitwiseAND(F.lit(1)), j * n + i)
    clustered = (df.withColumn("__z", z)
                 .repartitionByRange(target_files, "__z")
                 .sortWithinPartitions("__z")
                 .drop("__z"))
    version = write_versioned(clustered, path, mode="overwrite",
                              base_version=base)
    collect_stats(path, version=version, stat_cols=tuple(cols))
    return version


def clone_versioned(src: str, dst: str) -> int:
    """Shallow (zero-copy) clone: ``dst`` becomes a new table whose
    v0 manifest references ``src``'s current data files by relative
    path — no data copied, no Spark job, pure manifest metadata (the
    Delta SHALLOW CLONE primitive: instant dev/test copies of a
    100 TB table). The clone then evolves independently — appends and
    overwrites land under ``dst``'s own data directory.

    Hazard (same as Delta's): VACUUM on the SOURCE can delete files
    the clone still references; clones are for short-lived forks, or
    pair them with source retention that outlives them. ``dst``'s own
    vacuum never touches files outside its directory.
    """
    vs = versions(src)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {src}")
    m = _read_manifest(src, vs[-1])
    files = [os.path.relpath(str(Path(src) / f), dst) for f in m["files"]]
    _log_dir(dst).mkdir(parents=True, exist_ok=True)
    manifest = _log_dir(dst) / "v00000000.json"
    try:
        with open(manifest, "x", encoding="utf-8") as f:
            json.dump({"version": 0, "mode": "overwrite", "files": files,
                       "txn": None,
                       "cloned_from": {"table": str(src),
                                       "version": vs[-1]}}, f)
    except FileExistsError as e:
        raise VersionConflictError(
            f"{dst} already has a version 0; clone targets must be "
            "fresh paths") from e
    return 0


def _publish(path: str, manifest: dict) -> None:
    """O_EXCL manifest publish (exactly one writer per version)."""
    _log_dir(path).mkdir(parents=True, exist_ok=True)
    target = _log_dir(path) / f"v{manifest['version']:08d}.json"
    try:
        with open(target, "x", encoding="utf-8") as f:
            json.dump(manifest, f)
    except FileExistsError as e:
        raise VersionConflictError(
            f"version {manifest['version']} of {path} was committed "
            f"concurrently; re-read the table and retry") from e


def delete_versioned(spark: SparkSession, path: str, predicate: str,
                     base_version: int | None = None) -> dict:
    """Row-level DELETE with FILE-PRUNED copy-on-write — the Delta
    DELETE execution shape: (1) one scan with the predicate pushed
    down finds WHICH files contain matching rows (driver sees only
    distinct file names, ≤ |files|); (2) only those files are
    rewritten without the matching rows; every untouched file is
    carried into the new manifest BY REFERENCE — at 100 TB a
    selective delete rewrites the few files it touches, not the
    table. Rows where the predicate is NULL are kept (SQL DELETE
    semantics). Untouched files keep their stats metadata.

    Returns {"version", "rewritten_files", "carried_files"};
    version is the base when no file matched (no-op, no commit)."""
    from pyspark.sql import functions as F

    vs = versions(path)
    base = vs[-1] if base_version is None else base_version
    m = _read_manifest(path, base)
    files = m["files"]
    df = (spark.read.option("mergeSchema", "true")
          .parquet(*[f"{path}/{f}" for f in files]))
    hit_rows = (df.where(F.expr(predicate))
                .select(F.input_file_name().alias("f"))
                .distinct().collect())
    hit = {r["f"] for r in hit_rows}
    touched = [f for f in files if any(h.endswith(f) for h in hit)]
    if not touched:
        return {"version": base, "rewritten_files": 0,
                "carried_files": len(files)}
    new_version = base + 1
    commit_dir = f"{_DATA}/v{new_version:08d}-{uuid.uuid4().hex[:8]}"
    keep = ~F.coalesce(F.expr(predicate), F.lit(False))
    (spark.read.option("mergeSchema", "true")
     .parquet(*[f"{path}/{f}" for f in touched])
     .where(keep)
     .write.mode("errorifexists").parquet(f"{path}/{commit_dir}"))
    new_files = sorted(
        f"{commit_dir}/{p.name}"
        for p in (Path(path) / commit_dir).glob("part-*.parquet"))
    carried = [f for f in files if f not in touched]
    manifest = {"version": new_version, "mode": "delete",
                "files": carried + new_files, "txn": None,
                "predicate": predicate}
    old_stats = m.get("stats", {})
    if old_stats:
        manifest["stats"] = {f: old_stats[f] for f in carried
                             if f in old_stats}
    _publish(path, manifest)
    return {"version": new_version, "rewritten_files": len(touched),
            "carried_files": len(carried)}


# -- per-file Bloom index for point lookups ---------------------------

BLOOM_IDX_BITS = 1 << 16      # 8 KB per file
BLOOM_IDX_WORDS = BLOOM_IDX_BITS // 64
BLOOM_IDX_K = 4


def _bloom_idx_pos(col, j: int):
    """Bit position j for a key value: md5-derived (engine-portable;
    the driver-side probe recomputes it with hashlib)."""
    from pyspark.sql import functions as F

    return (F.conv(F.substring(
        F.md5(F.concat(F.lit(f"bl{j}|"), col).cast("binary")), 1, 8),
        16, 10).cast("long") % BLOOM_IDX_BITS)


def _bloom_idx_pos_py(value, j: int) -> int:
    import hashlib

    h = hashlib.md5(f"bl{j}|{value}".encode()).hexdigest()[:8]
    return int(h, 16) % BLOOM_IDX_BITS


def collect_bloom(spark: SparkSession, path: str, column: str,
                  version: int | None = None) -> None:
    """Attach a per-file Bloom filter over ``column`` to a committed
    manifest — the point-lookup index (Delta's BLOOM FILTER INDEX /
    Parquet bloom in spirit, stored at the manifest level so pruning
    needs no file opens at all). ONE Spark job builds every file's
    8 KB filter: per-(file, word) bit_or partial-aggregates map-side,
    so the shuffle is ≤ |files|·1024 rows regardless of row count."""
    from pyspark.sql import functions as F

    vs = versions(path)
    version = vs[-1] if version is None else version
    m = _read_manifest(path, version)
    df = (spark.read.option("mergeSchema", "true")
          .parquet(*[f"{path}/{f}" for f in m["files"]])
          .select(F.input_file_name().alias("f"),
                  F.col(column).cast("string").alias("v"))
          .where(F.col("v").isNotNull()))
    pos = df.select("f", F.explode(F.array(
        *[_bloom_idx_pos(F.col("v"), j)
          for j in range(BLOOM_IDX_K)])).alias("pos"))
    words = (pos.groupBy("f", (F.col("pos") / 64).cast("long").alias("w"))
             .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), "
                         "CAST(pos % 64 AS INT)))").alias("bits")))
    dense = (words.groupBy("f")
             .agg(F.map_from_entries(
                 F.collect_list(F.struct("w", "bits"))).alias("wm"))
             .select("f", F.expr(
                 f"transform(sequence(0, {BLOOM_IDX_WORDS - 1}), "
                 "i -> coalesce(wm[CAST(i AS BIGINT)], "
                 "CAST(0 AS BIGINT)))").alias("bitmap")))
    per_file: dict[str, list[int]] = {}
    for r in dense.collect():
        rel = next((f for f in m["files"] if r["f"].endswith(f)), None)
        if rel is not None:
            per_file[rel] = list(r["bitmap"])
    m.setdefault("bloom", {})[column] = per_file
    tmp = _log_dir(path) / f".v{version:08d}.json.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(m, f)
    os.replace(tmp, _log_dir(path) / f"v{version:08d}.json")


def read_versioned_point(spark: SparkSession, path: str, column: str,
                         value, version: int | None = None) -> DataFrame:
    """Point lookup through the manifest indexes: a file is read only
    if (a) its Bloom filter for ``column`` has all K bits of the
    probe value (no false negatives — a file without a filter is
    conservatively read), and (b) its min/max stats admit the value.
    Pruning is pure driver-side manifest metadata — a needle query on
    a 100 TB table opens the handful of files that can contain the
    key, with the final exact predicate pushed into the scan."""
    from pyspark.sql import functions as F

    vs = versions(path)
    version = vs[-1] if version is None else version
    m = _read_manifest(path, version)
    bloom = m.get("bloom", {}).get(column, {})
    stats = m.get("stats", {})
    probe = [_bloom_idx_pos_py(value, j) for j in range(BLOOM_IDX_K)]
    keep = []
    for f in m["files"]:
        arr = bloom.get(f)
        if arr is not None and not all(
                (arr[p // 64] >> (p % 64)) & 1 for p in probe):
            continue
        rng = stats.get(f, {}).get(column)
        if rng is not None and not (rng[0] <= value <= rng[1]):
            continue
        keep.append(f)
    if not keep:
        return _empty_like(spark, path, m).where(
            F.col(column) == F.lit(value))
    return (spark.read.option("mergeSchema", "true")
            .parquet(*[f"{path}/{f}" for f in keep])
            .where(F.col(column) == F.lit(value)))


def optimize_versioned(spark: SparkSession, path: str,
                       zorder_cols: list[str] | None = None,
                       target_files: int = 4,
                       keep_versions: int = 2) -> dict:
    """One-call table maintenance (the nightly OPTIMIZE job): rewrite
    the current snapshot into ``target_files`` files — Z-order
    clustered when ``zorder_cols`` is given, plain coalesce otherwise
    — then VACUUM history down to ``keep_versions``. Compaction and
    clustering are the same rewrite (both publish one new version),
    so small-file cleanup is free whenever clustering runs. Returns
    {"version", "n_files_before", "n_files_after", plus the vacuum
    counters}."""
    before = len(_read_manifest(path, versions(path)[-1])["files"])
    if zorder_cols:
        v = zorder_rewrite(spark, path, zorder_cols,
                           target_files=target_files)
    else:
        df = read_versioned(spark, path).coalesce(target_files)
        v = write_versioned(df, path, mode="overwrite")
    after = len(_read_manifest(path, v)["files"])
    out = vacuum_versioned(path, keep_versions=keep_versions)
    out.update({"version": v, "n_files_before": before,
                "n_files_after": after})
    return out


def diff_versions(spark: SparkSession, path: str, v_from: int,
                  v_to: int, keys: list[str]) -> DataFrame:
    """Row-level semantic diff between two snapshots of a versioned
    table: one row per changed key with change_type ∈ {'inserted',
    'deleted', 'updated'} — the audit view behind "what did last
    night's pipeline actually change" and the input to downstream
    incremental consumers that predate the change feed.

    MANIFEST-PRUNED: a data file carried by reference between the two
    manifests contributes byte-identical rows to both sides, so only
    files present in exactly ONE manifest are scanned — at 100 TB a
    diff across a selective delete/upsert reads the few rewritten
    files, never the table. Within the scanned slice, rows that moved
    files unchanged (copy-on-write rewrites) cancel via an xxhash64
    row fingerprint over the non-key columns (column order pinned by
    name sort, both sides same engine). ``keys`` must be unique per
    snapshot (the table's logical primary key).

    Shape: two pruned scans → one full-outer equi-join on the key
    (hash-partitioned on the same key both sides) → one projection.
    No window, no driver data."""
    from pyspark.sql import functions as F

    ma, mb = _read_manifest(path, v_from), _read_manifest(path, v_to)
    fa, fb = set(ma["files"]), set(mb["files"])
    only_a, only_b = sorted(fa - fb), sorted(fb - fa)

    def side(files: list[str], manifest: dict) -> DataFrame:
        if not files:
            base = _empty_like(spark, path, manifest)
        else:
            base = (spark.read.option("mergeSchema", "true")
                    .parquet(*[f"{path}/{f}" for f in files]))
        non_key = sorted(c for c in base.columns if c not in keys)
        return base.select(
            *keys,
            F.xxhash64(*[F.col(c) for c in non_key]).alias("_h"))

    a = side(only_a, ma).withColumnsRenamed({"_h": "_ha"})
    b = side(only_b, mb).withColumnsRenamed({"_h": "_hb"})
    j = a.join(b, keys, "full_outer")
    ct = (F.when(F.col("_ha").isNull(), F.lit("inserted"))
          .when(F.col("_hb").isNull(), F.lit("deleted"))
          .when(F.col("_ha") != F.col("_hb"), F.lit("updated")))
    return (j.select(*keys, ct.alias("change_type"))
            .where(F.col("change_type").isNotNull()))


def restore_versioned(path: str, version: int) -> int:
    """RESTORE (Delta-style rollback): publish a NEW version whose
    file list is exactly the target version's — history is preserved
    (the bad versions stay time-travelable for forensics) and the
    operation is metadata-only: no data files move, the new manifest
    references the old files. Returns the new version number.
    Fails loudly if the target's files have been vacuumed away."""
    vs = versions(path)
    if version not in vs:
        raise ValueError(f"version {version} not in {vs}")
    m = _read_manifest(path, version)
    for f in m["files"]:
        if not (Path(path) / f).exists():
            raise FileNotFoundError(
                f"cannot restore to v{version}: data file {f} was "
                f"vacuumed; restore targets must be within the "
                f"retention window")
    new_version = vs[-1] + 1
    manifest = {"version": new_version, "mode": "restore",
                "files": list(m["files"]), "txn": None,
                "restored_from": version}
    if "stats" in m:
        manifest["stats"] = m["stats"]
    if "schema" in m:
        manifest["schema"] = m["schema"]
    _publish(path, manifest)
    return new_version
