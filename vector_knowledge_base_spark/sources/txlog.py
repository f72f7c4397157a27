"""Minimal transactional table layer: versioned manifests over parquet.

The reference mutates its stores in place (Qdrant collection upserts /
deletes, ``backend/document_registry.py``); this repo's ``delete_where``
/ ``reset_table`` are crash-safe whole-directory parquet rewrites. At
100 TB a whole-directory rewrite for a 0.1% delete is the wrong cost
model — mutations must be METADATA operations plus copy-on-write of
only the touched files. That is the core public idea behind Delta Lake
/ Apache Iceberg (a numbered log of file-list manifests whose atomic
creation is the commit point); this module implements the smallest
honest version of it on plain parquet + POSIX link, with no external
library.

Layout::

    table/
      _txlog/
        00000000.json     {"version":0,"op":"create","files":[...],...}
        00000001.json     {"version":1,"op":"append",
                           "delta":{"base":0,"add":[...],"remove":[],
                                    "stats_add":{...}}}
        _batchids.json    batch ids whose manifests were vacuumed
      data/
        b0/part-*.parquet  (immutable once committed)
        b1/part-*.parquet

Guarantees:

- The manifest CREATION is the COMMIT POINT, and it is a compare-and-
  swap: the numbered slot is claimed with ``os.link`` (atomic create-
  exclusive on POSIX), so two concurrent writers racing for the same
  version can never both win — the loser gets ``TxConflict`` and
  OPTIMISTICALLY RETRIES against the new latest snapshot (the Delta
  Lake conflict model, public). Appends always commute (their files are
  brand new and they remove nothing), so a retried append just rebases
  its file list; delete/merge/compact recompute their affected set from
  the winner's snapshot before recommitting, which re-validates that
  the loser's file set doesn't overlap anything the winner removed. A
  crash anywhere before the commit point leaves orphan data files
  (ignored by every reader — readers only trust manifest file lists),
  never a corrupt or half-visible table.
- Data files are immutable; every version's file list remains readable
  forever → time travel (``read_table(version=...)``) and file-level
  CDC (``table_diff``) come free from the log.
- ``delete_where`` reads the predicate ONCE to find affected files
  (input_file_name projection), rewrites ONLY those files without the
  matching rows, and commits a manifest swapping old→new. Untouched
  files are carried by reference — a 0.1% delete touches 0.1% of files.
- Manifests store paths RELATIVE to the table root (tables are
  relocatable — move/rsync the directory and every version still
  reads; pre-r6 absolute-path manifests remain readable), plus
  PER-FILE STATISTICS (row count, per-column min/max from the parquet
  footers) used to SKIP stats-disjoint files in ``read_table`` /
  ``delete_where`` when the caller passes the declarative filter DSL —
  the manifest-level analog of parquet row-group pruning, and the
  reason a point delete on a clustered key touches O(1) files instead
  of scanning the table.
- Streaming exactly-once: ``append_table(batch_id=...)`` is idempotent
  on the batch id; ``compact_log`` carries the batch ids of vacuumed
  manifests forward into ``_batchids.json`` (atomic rewrite BEFORE the
  manifests are deleted), so a checkpoint replay older than the
  retention window still lands exactly once — the Delta txn app-id
  retention idea.

- Commit metadata is O(TOUCHED files), not O(table files): a manifest
  is stored as a DELTA against its parent ({base, add, remove,
  stats_add}) whenever that is smaller, with every 8th version stored
  FULL to bound the resolution chain (the Delta-Lake action-log +
  checkpoint idea; Iceberg's manifest reuse). A 1-file append to a
  million-file table writes a 1-entry manifest. ``_read_manifest``
  materializes transparently — no caller ever sees the delta form —
  and ``compact_log`` rewrites retained deltas to full before vacuuming
  their bases, so retention never breaks a chain.

Scale notes: version resolution is one directory listing of _txlog —
O(versions), kept small by compact_log; manifest resolution walks at
most _FULL_MANIFEST_INTERVAL files.
"""

from __future__ import annotations

from vector_knowledge_base_spark.sources.localframe import local_df as _local_df

import json
import os
import shutil
import time
import uuid
from functools import lru_cache
from typing import Any, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG_DIR = "_txlog"
_DATA_DIR = "data"
_BATCHIDS_FILE = "_batchids.json"
_MAX_COMMIT_RETRIES = 20


_FULL_MANIFEST_INTERVAL = 8


class TxConflict(RuntimeError):
    """Another writer claimed the version slot this commit targeted.

    Raised by ``_commit``; every public writer catches it and retries
    against the new latest snapshot (optimistic concurrency). Surfaced
    to callers only after ``_MAX_COMMIT_RETRIES`` consecutive losses.
    """


class TxConstraintViolation(RuntimeError):
    """A write batch carried rows violating a table CHECK constraint
    (``add_constraint``); the commit was refused before any manifest
    changed. Carries the constraint name and a sample violating row."""


def _log_path(path: str) -> str:
    return os.path.join(path, _LOG_DIR)


def _manifest_file(path: str, version: int) -> str:
    return os.path.join(_log_path(path), f"{version:08d}.json")


def _list_versions(path: str) -> list[int]:
    d = _log_path(path)
    if not os.path.isdir(d):
        return []
    out = []
    for n in os.listdir(d):
        if n.endswith(".json") and not n.startswith((".", "_")):
            try:
                out.append(int(n[:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    """Read manifest ``version`` with its file list MATERIALIZED.

    A manifest is stored either FULL (explicit ``files`` + ``stats``)
    or as a DELTA against an earlier version (``delta`` = {base, add,
    remove, stats_add}) — the Delta-Lake/Iceberg log idea that keeps a
    commit's metadata cost O(touched files), not O(table files): a
    1-file append to a million-file table must not rewrite a
    million-entry list. Resolution walks the base chain (bounded by
    ``_FULL_MANIFEST_INTERVAL`` — every interval-th version is stored
    full, the checkpoint role of Delta's _last_checkpoint) and returns
    the same dict shape every caller has always seen: ``files`` and
    ``stats`` fully materialized, per-commit fields (op, batch_id,
    schema, parent) untouched."""
    with open(_manifest_file(path, version)) as f:
        m = json.load(f)
    d = m.get("delta")
    if d is None:
        return m
    base = _read_manifest(path, d["base"])  # chain ≤ interval deep
    removed = set(d["remove"])
    files = [e for e in base["files"] if e not in removed] + d["add"]
    fileset = set(files)
    stats = {
        e: s
        for e, s in {**(base.get("stats") or {}), **d["stats_add"]}.items()
        if e in fileset
    }
    m["files"], m["stats"] = files, stats
    return m


def _rel(path: str, f: str) -> str:
    """Manifest entry for an absolute data-file path: relative to the
    table root, so the table directory is relocatable as a unit."""
    return os.path.relpath(f, path)


def _resolve(path: str, entry: str) -> str:
    """Absolute path for a manifest entry. Absolute entries (pre-r6
    manifests) pass through — old logs stay readable."""
    return entry if os.path.isabs(entry) else os.path.join(path, entry)


def _manifest_files(path: str, m: dict) -> list[str]:
    return [_resolve(path, e) for e in m["files"]]


def _data_files(path: str) -> list[str]:
    """Every .parquet under the table's data/ dir, recursive —
    partitioned batches nest ``_pt_*=...`` hive dirs inside the batch
    dir, so a 2-level listdir misses their files."""
    data = os.path.join(path, _DATA_DIR)
    if not os.path.isdir(data):
        return []
    return [
        os.path.join(r, n)
        for r, _dirs, names in os.walk(data)
        for n in names
        if n.endswith(".parquet")
    ]


# every DV sidecar batch has exactly this shape; passing it explicitly
# saves one schema-inference job per spark.read of a sidecar (r14,
# guide §1.2 — the inference footer read is a full driver round-trip
# per call, and DV-aware reads open every covering batch).
# ADVICE r14 trade-off, stated: the explicit schema null-fills a
# drifted sidecar (renamed/retyped column) instead of erroring on
# shape mismatch. Acceptable because the format is internal and fixed
# — only _delete_where_dv writes sidecars, with exactly these two
# columns — and a null entry matches no file in _dv_deleted_df, so a
# hypothetical drifted batch degrades to "deletes ignored", which the
# materialization/equality audits (txlog_deletion_vectors) would trip.
_DV_SIDECAR_SCHEMA = "entry STRING, row_index BIGINT"


def _dv_kept(path: str, m: dict, removed_abs: set) -> dict:
    """The manifest ``dv`` map minus entries for files a rewrite
    removed — their deletions are MATERIALIZED by the rewrite."""
    return {
        e: v
        for e, v in (m.get("dv") or {}).items()
        if _resolve(path, e) not in removed_abs
    }


def _dv_dirs(path: str, m: dict) -> list[str]:
    """Absolute deletion-vector batch dirs a manifest references."""
    dv = m.get("dv") or {}
    return sorted({_resolve(path, d) for lst in dv.values() for d in lst})


def _dv_files(path: str, m: dict) -> list[str]:
    """Absolute parquet files of every DV batch a manifest references
    (for fsck/vacuum liveness — a live DV file must never be collected
    as an orphan)."""
    out: list[str] = []
    for d in _dv_dirs(path, m):
        if os.path.isdir(d):
            out.extend(
                os.path.join(d, n)
                for n in os.listdir(d)
                if n.endswith(".parquet")
            )
    return out


def _pct_decode(col: Column) -> Column:
    """Decode %XX escapes ONLY, plus-safe: ``F.url_decode`` implements
    application/x-www-form-urlencoded and turns a literal ``+`` into a
    space, but file-path percent-encoding leaves ``+`` unescaped — so a
    table path (or string partition value) containing ``+`` would break
    the row↔file identity join (ADVICE r7). Pre-encoding ``+`` as
    ``%2B`` makes url_decode round-trip it, matching the
    ``urllib.parse.unquote`` convention the CoW paths use."""
    return F.url_decode(F.replace(col, F.lit("+"), F.lit("%2B")))


def _entry_expr(path: str) -> Column:
    """Manifest-entry column computed from ``_metadata.file_path`` —
    the join key between physical rows and deletion-vector rows.
    ``file_path`` is a ``file:`` URI with the on-disk name
    percent-encoded (a literal ``%`` re-encodes to ``%25``), so one
    %XX-decode after stripping the scheme recovers the on-disk path
    exactly; stripping the table root then yields the relative entry.
    Borrowed (shallow-clone) files live outside the root, so the strip
    is a no-op and the absolute path remains — which is exactly how a
    clone's manifest keys them."""
    root = os.path.abspath(path)
    fp = _pct_decode(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
    )
    return F.replace(fp, F.lit(root + os.sep), F.lit(""))


def _file_abs_expr() -> Column:
    """The normalized ABSOLUTE on-disk path of the file behind each
    row (``_metadata.file_path`` minus scheme, %XX-decoded) — the
    portable join key between physical rows and deletion vectors:
    relative entries resolve differently for a table and its shallow
    clone, but the absolute path is one identity."""
    return _pct_decode(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
    )


def _dv_deleted_df(
    spark: SparkSession, path: str, m: dict, files: list[str]
):
    """The (abs_file, row_index) soft-delete pairs covering ``files``,
    or None when no deletion vector applies to them. DV rows store
    entries RELATIVE to the table that wrote them (relocatability);
    each batch's base root is derivable from its own location
    (``<root>/data/dvX``), so a clone reading borrowed vectors
    resolves them against the SOURCE root — no translation stored."""
    dv = m.get("dv") or {}
    if not dv:
        return None
    fileset = set(files)
    dirs = sorted(
        {
            os.path.abspath(_resolve(path, d))
            for e, lst in dv.items()
            if _resolve(path, e) in fileset
            for d in lst
        }
    )
    if not dirs:
        return None
    from functools import reduce as _reduce

    parts = []
    for d in dirs:
        base = os.path.dirname(os.path.dirname(d))  # <root>/data/dvX
        parts.append(
            spark.read.schema(_DV_SIDECAR_SCHEMA).parquet(d).select(
                F.when(
                    F.col("entry").startswith(os.sep), F.col("entry")
                )
                .otherwise(F.concat(F.lit(base + os.sep), F.col("entry")))
                .alias("abs_file"),
                "row_index",
            )
        )
    return _reduce(lambda x, y: x.unionAll(y), parts)


def _anti_join_dv(tagged: DataFrame, deleted: DataFrame) -> DataFrame:
    """Drop rows whose (_dv_abs, _dv_ri) appear in the deletion
    vectors. The DV side is churn-sized and broadcast; no shuffle."""
    return tagged.join(
        F.broadcast(deleted),
        on=(F.col("_dv_abs") == F.col("abs_file"))
        & (F.col("_dv_ri") == F.col("row_index")),
        how="left_anti",
    )


def _apply_dv(
    spark: SparkSession,
    path: str,
    m: dict,
    df: DataFrame,
    files: list[str],
) -> DataFrame:
    """Filter out deletion-vector rows (merge-on-read): anti-join the
    scan against the (abs_file, row_index) pairs of every DV batch
    covering the files in scope. The scan side adds two derived
    columns; no DV in scope → the plan is untouched."""
    deleted = _dv_deleted_df(spark, path, m, files)
    if deleted is None:
        return df
    out_cols = df.columns
    tagged = df.withColumn("_dv_abs", _file_abs_expr()).withColumn(
        "_dv_ri", F.col("_metadata.row_index")
    )
    return _anti_join_dv(tagged, deleted).select(*out_cols)


def _owned(path: str, f: str) -> bool:
    """True iff ``f`` lives under this table's OWN data/ directory. A
    shallow clone references the source table's files by ABSOLUTE
    path; those are borrowed, not owned — the clone's vacuum/compact
    must never delete them (the Delta shallow-clone ownership rule).
    Scoped to data/ (not the whole root) so a table whose root nests
    another table's directory tree never claims the inner table's
    files as its own (ADVICE r6)."""
    data_root = os.path.join(os.path.realpath(path), _DATA_DIR)
    return os.path.realpath(f).startswith(data_root + os.sep)


def _entry(path: str, f: str) -> str:
    """Manifest entry for a data file: root-relative when owned (the
    table stays relocatable), absolute when borrowed from another
    table (shallow-clone references)."""
    return _rel(path, f) if _owned(path, f) else f


def _delta_encode(path: str, manifest: dict) -> dict:
    """Shrink a commit's stored form to a DELTA against its parent when
    that is smaller than the full file list — the property that keeps a
    commit O(touched files) at 100 TB (a 1-file append to a million-file
    table stores 1 entry, a 0.1% delete stores 0.2%). Every
    ``_FULL_MANIFEST_INTERVAL``-th version stays full, bounding the
    resolution chain (the checkpoint role). Encoding is lossless:
    ``_read_manifest`` materializes back to the identical dict. Falls
    back to full whenever the parent is unreadable or the delta would
    not be smaller (rewrites, compactions, the empty-table state)."""
    parent = manifest.get("parent")
    if (
        not isinstance(parent, int)
        or manifest["version"] % _FULL_MANIFEST_INTERVAL == 0
    ):
        return manifest
    try:
        base = _read_manifest(path, parent)
    except (OSError, KeyError, ValueError):
        return manifest
    prev_files, new_files = base.get("files"), manifest["files"]
    if prev_files is None:
        return manifest
    prev_set, new_set = set(prev_files), set(new_files)
    add = [e for e in new_files if e not in prev_set]
    remove = [e for e in prev_files if e not in new_set]
    if len(add) + len(remove) >= len(new_files):
        return manifest
    stats = manifest.get("stats") or {}
    base_stats = base.get("stats") or {}
    # carry only stats the base cannot supply (new files, plus any
    # carried entry whose value differs — stats are footer-derived and
    # files immutable, so in practice that is just the adds)
    stats_add = {
        e: s for e, s in stats.items() if base_stats.get(e) != s
    }
    stored = {
        k: v for k, v in manifest.items() if k not in ("files", "stats")
    }
    stored["delta"] = {
        "base": parent,
        "add": add,
        "remove": remove,
        "stats_add": stats_add,
    }
    return stored


def _commit(path: str, manifest: dict) -> int:
    """Compare-and-swap commit: write to a dot-temp in _txlog, fsync,
    then claim the numbered slot with ``os.link`` — atomic create-
    exclusive, so exactly one writer wins a given version. Readers see
    the old latest or the new latest, never a partial file. Raises
    ``TxConflict`` if the slot is already taken (caller retries against
    the new snapshot). Pure-metadata-wise the stored form may be a
    delta against the parent (``_delta_encode``); callers and readers
    only ever see the materialized shape."""
    os.makedirs(_log_path(path), exist_ok=True)
    version = manifest["version"]
    # partitioning is a create-time table property: carry it forward
    # automatically so no commit path can silently drop it
    parent_m: dict | None = None
    if isinstance(manifest.get("parent"), int):
        try:
            parent_m = _read_manifest(path, manifest["parent"])
        except (OSError, KeyError, ValueError):
            parent_m = {}
    if parent_m is not None and (
        "partition_by" not in manifest
        or "constraints" not in manifest
        or "dv" not in manifest
        or "colmap" not in manifest
        or "bloom_cols" not in manifest
    ):
        manifest.setdefault("partition_by", parent_m.get("partition_by"))
        manifest.setdefault("constraints", parent_m.get("constraints"))
        # column mapping is a table property like partition_by: carried
        # by every commit, changed only by rename/drop/add paths
        manifest.setdefault("colmap", parent_m.get("colmap"))
        # bloom-indexed columns are a create-time property too
        manifest.setdefault("bloom_cols", parent_m.get("bloom_cols"))
        # deletion vectors carry by default (append/metadata commits);
        # every op that REWRITES files sets "dv" explicitly (cleared or
        # kept-files-only) — inheriting would resurrect deleted rows
        manifest.setdefault("dv", parent_m.get("dv"))
    # commit wall-time (epoch seconds) — the key TIMESTAMP AS OF time
    # travel resolves against; recorded once, never rewritten. Clamped
    # to at-or-after the parent's stamp (Delta does the same): under
    # multi-writer clock skew a raw clock could stamp v5 EARLIER than
    # v4, and version_at_timestamp — which picks the latest version
    # with ts <= target — would skip the later version entirely.
    if manifest.get("ts") is None:
        ts = time.time()
        p_ts = (parent_m or {}).get("ts")
        if p_ts is not None:
            ts = max(ts, float(p_ts))
        manifest["ts"] = ts
    manifest = _delta_encode(path, manifest)
    final = _manifest_file(path, version)
    tmp = os.path.join(_log_path(path), f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)  # the CAS: fails iff the slot exists
    except FileExistsError:
        os.remove(tmp)
        raise TxConflict(
            f"txlog: version {version} already committed at {path} "
            "by a concurrent writer"
        ) from None
    os.remove(tmp)
    return version


def _write_batch(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    colmap: dict | None = None,
) -> list[str]:
    """Write a new immutable data batch; return its parquet file list
    (absolute). The batch dir is invisible to readers until a manifest
    references it (crash → orphan files, never a visible partial
    write; a conflict-retry loser's abandoned batch is the same kind
    of orphan and compact_log vacuums it).

    Partitioned tables write hive-style ``_pt_<col>=<value>`` dirs
    INSIDE the batch dir, but the partition columns are DUPLICATED
    into the dir key (``_pt_`` copies) rather than stripped from the
    file contents — so every file remains self-contained and the
    explicit-file-list read path (time travel, CDC, the streaming
    source) needs no basePath reconstruction. The dirs cost bytes in
    paths only; what they buy is a per-file partition VALUE recorded
    in the manifest (``_file_stats`` parses it back), which makes
    partition-predicate pruning and dynamic partition overwrite EXACT
    by construction instead of inferred from footer min/max."""
    if colmap:
        # column mapping: files store PHYSICAL names (one select, no
        # sequential-rename collision hazard); partition columns are
        # barred from mapping so the _pt_ dir keys stay stable
        df = df.select(
            *[F.col(c).alias(colmap.get(c, c)) for c in df.columns]
        )
    batch = os.path.join(path, _DATA_DIR, f"b{uuid.uuid4().hex[:12]}")
    if partition_by:
        out = df
        for c in partition_by:
            out = out.withColumn(f"_pt_{c}", F.col(c))
        out.write.mode("error").partitionBy(
            *[f"_pt_{c}" for c in partition_by]
        ).parquet(batch)
        return sorted(
            os.path.join(r, n)
            for r, _dirs, names in os.walk(batch)
            for n in names
            if n.endswith(".parquet")
        )
    df.write.mode("error").parquet(batch)
    return sorted(
        os.path.join(batch, n)
        for n in os.listdir(batch)
        if n.endswith(".parquet")
    )


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _pvals_from_path(f: str) -> dict:
    """Partition values encoded in a file's path (``_pt_<col>=<val>``
    segments, hive escaping) → {col: string-value-or-None}. Empty for
    unpartitioned files."""
    from urllib.parse import unquote

    out = {}
    for seg in f.split(os.sep):
        if seg.startswith("_pt_") and "=" in seg:
            k, v = seg[4:].split("=", 1)
            v = unquote(v)
            out[k] = None if v == _HIVE_NULL else v
    return out


def _pval_str(v, json_type) -> str | None:
    """Normalize a filter value to the path-string form Spark writes
    for that column type, or None when it cannot be normalized (then
    pvals pruning abstains and footer stats decide)."""
    try:
        if json_type in ("byte", "short", "integer", "long"):
            return str(int(v))
        if json_type in ("float", "double"):
            return str(float(v))
        if json_type == "boolean":
            if isinstance(v, bool):
                return "true" if v else "false"
            s = str(v).lower()
            return s if s in ("true", "false") else None
        return str(v)
    except (TypeError, ValueError):
        return None


def _pval_matches(pv: str, cand: list, jt: str) -> bool | None:
    """Does the RECORDED partition-dir value ``pv`` match any candidate
    eq/IN filter value? float/double columns compare NUMERICALLY —
    Java's Double.toString writes ``1.0E-7`` where Python ``str()``
    writes ``1e-07``, so string normalization would prune a file that
    actually matches (ADVICE r7). Other types compare on the
    ``_pval_str``-normalized string. Returns None to ABSTAIN (a value
    that cannot be normalized/parsed) — the caller then falls back to
    footer min/max stats."""
    if jt in ("float", "double"):
        try:
            pvf = float(pv)
        except (TypeError, ValueError):
            return None
        hits = []
        for v in cand:
            try:
                hits.append(float(v) == pvf)
            except (TypeError, ValueError):
                return None  # one unparseable candidate → abstain
        return any(hits)
    norm = {_pval_str(v, jt) for v in cand} - {None}
    return (pv in norm) if norm else None


def _partition_types(m: dict) -> dict:
    """{partition_col: schema-json type} for exact pvals pruning; empty
    when the table is unpartitioned or pre-schema."""
    pby = m.get("partition_by") or []
    logged = m.get("schema")
    if not pby or not logged:
        return {}
    types = {f["name"]: f["type"] for f in logged.get("fields", [])}
    return {c: types[c] for c in pby if c in types and isinstance(types[c], str)}


def _json_safe(v):
    if isinstance(v, (bool, int, float, str)) or v is None:
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return str(v)  # dates/timestamps → ISO strings (orderable)


def _parquet_rows(files: list[str]) -> int:
    """Driver-side total row count of freshly-written parquet files
    from their footers — no Spark job (r14, guide §1.2: the write
    already computed the rows; re-counting them with a second scan
    job is a pure dispatch tax). Same source of truth as
    ``_file_stats``'s ``rows``."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _dir_parquet_files(dirpath: str) -> list[str]:
    """All parquet data files under a just-written batch directory."""
    return sorted(
        os.path.join(r, n)
        for r, _dirs, names in os.walk(dirpath)
        for n in names
        if n.endswith(".parquet")
    )


def _file_stats(path: str, files: list[str]) -> dict:
    """Per-file stats from the parquet footers (no data read): row
    count + per-top-level-column min/max, keyed by the manifest entry
    (relative path). Non-orderable / nested / undecodable columns are
    simply absent — pruning treats absence as 'cannot skip'."""
    import pyarrow.parquet as pq

    out = {}
    for f in files:
        pf = pq.ParquetFile(f)
        md = pf.metadata
        cols = list(pf.schema_arrow.names)
        mins: dict[str, Any] = {}
        maxs: dict[str, Any] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:
                    continue  # nested leaf — not a top-level column
                st = col.statistics
                if st is None or not st.has_min_max:
                    mins.pop(name, None), maxs.pop(name, None)
                    continue
                mn, mx = _json_safe(st.min), _json_safe(st.max)
                if mn is None or mx is None:
                    continue
                try:
                    mins[name] = mn if name not in mins else min(mins[name], mn)
                    maxs[name] = mx if name not in maxs else max(maxs[name], mx)
                except TypeError:
                    mins.pop(name, None), maxs.pop(name, None)
        out[_rel(path, f)] = {
            "rows": md.num_rows,
            "min": mins,
            "max": maxs,
            "cols": cols,
        }
        pvals = _pvals_from_path(f)
        if pvals:  # partitioned batch: record the EXACT per-file values
            out[_rel(path, f)]["pvals"] = pvals
    return out


# -- bloom-filter file skipping (wave 100, r10) ------------------------------
#
# min/max footer stats cannot prune a POINT LOOKUP on a high-cardinality
# column whose values interleave across files (every file's [min,max]
# spans the whole id range — the normal state of an id column under
# hash-partitioned writes). Delta Lake and Iceberg answer with per-file
# bloom filter indexes; this is that idea on the txlog: a write-time
# per-file bloom sidecar (`<file>.bloom.json`, immutable beside its data
# file, vacuumed with its batch dir) that `_prune_files` probes for
# eq/IN filters — a definite "value absent" skips the file, a maybe
# keeps it (false positives only cost a read; never a wrong answer).
#
# The BUILD is one column-pruned distributed pass over ONLY the freshly
# written files, zero UDF: md5 → two 60-bit halves (JVM codegen
# conv/substring), k=7 double-hashed positions exploded in-plan, and the
# bit array aggregated as 64-bit words via shiftleft + BIT_OR — a
# mergeable hash-agg, the same cost class as the sketch family. Probing
# is pure driver-side Python (hashlib.md5 reproduces the JVM hash
# because both sides hash the CAST-to-string form).

_BLOOM_K = 7  # ~1% fpp at 10 bits/key
_BLOOM_BITS_PER_KEY = 10

# Bloom sidecars hash CAST(col AS STRING) at build time and the probe
# re-hashes the Python value's str() form — only integral and string
# types round-trip those two forms identically. A double/decimal column
# writes '5.0'/'5.00' while a Python probe {col: 5} hashes '5': a false
# "definitely absent" that WRONGLY prunes files the residual predicate
# col == 5 would match. Declaring such a column is rejected up front
# (create_table / add_bloom_index) rather than abstained probe-side.
_BLOOM_OK_TYPES = {"byte", "short", "integer", "long", "string"}


def _check_bloom_types(columns: list[str], types: Mapping[str, Any]) -> None:
    """Raise unless every bloom column's logical type (Spark typeName /
    schema-JSON type string) is integral or string. Unknown columns are
    the caller's missing-column error, not ours."""
    bad = [
        c
        for c in columns
        if c in types
        and not (isinstance(types[c], str) and types[c] in _BLOOM_OK_TYPES)
    ]
    if bad:
        raise ValueError(
            "txlog: bloom_filter_columns must be integral or string "
            f"typed; {bad} are not (CAST-to-string hashing does not "
            "round-trip floats/decimals/bools/dates between the JVM "
            "build and the Python probe)"
        )


def _bloom_hash_pair(s: str) -> tuple[int, int]:
    """The (h1, h2) double-hash base from md5 hex — MUST mirror the
    JVM build expressions: conv(substring(md5, 1, 15), 16, 10) and
    conv(substring(md5, 17, 15), 16, 10) | 1."""
    import hashlib

    d = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(d[0:15], 16), int(d[16:31], 16) | 1


def _bloom_value_str(v) -> str | None:
    """Canonical string form of a filter value — must equal what Spark's
    CAST(col AS STRING) wrote at build time. ints and strings round-trip
    exactly; bools/floats/dates differ between Java and Python string
    forms, so the probe ABSTAINS on them (stats still apply)."""
    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return v
    return None


def _attach_blooms(
    spark: SparkSession, path: str, files: list[str], stats: dict,
    bloom_cols: list[str],
) -> None:
    """Build per-file bloom sidecars for ``bloom_cols`` over the given
    freshly-written files and flag each file's stats entry with the
    indexed columns. One distributed pass over all the columns: read
    ONLY these files, project ONLY the bloom columns, tag each value
    with its column, hash/explode/aggregate 64-bit words per (column,
    file, word) JVM-side (codegen; no UDF, no join: each file's bit
    count comes from a literal map), collect once (≤ rows·10/64 words
    per file and column — a 1M-row file's bloom is ~1.25 MB) and write
    one immutable sidecar per data file. The scan's schema is taken
    from the footers on the driver, so no schema-inference job runs."""
    import base64

    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    per_file: dict[str, dict] = {}
    m_bits: dict[str, int] = {}
    # key = the file's path RELATIVE TO THE TABLE ROOT (the manifest
    # entry) — unique per file by construction. Anything shorter is
    # not: a partitioned write reuses the SAME part-file basename under
    # every partition dir (one task uuid), and with >=2 partition
    # columns even dir+basename collides (…/_pt_a=1/_pt_b=x/part-0 vs
    # …/_pt_a=2/_pt_b=x/part-0 share their last two segments) — a
    # collision MERGES two files' blooms into one and leaves the other
    # an all-zero sidecar whose every probe says "definitely absent",
    # i.e. filtered reads silently drop real rows.
    root = os.path.abspath(path)
    keys: dict[str, str] = {}
    for f in files:
        e = _rel(path, f)
        st = stats.get(e) or {}
        rows = int(st.get("rows") or 0)
        present = [c for c in bloom_cols if c in (st.get("cols") or [])]
        if not present or rows == 0:
            continue
        m_bits[f] = max(64, ((rows * _BLOOM_BITS_PER_KEY + 63) // 64) * 64)
        keys[os.path.relpath(os.path.abspath(f), root)] = f
        per_file[f] = {}
    if not per_file:
        return
    need = {
        c: [f for f in per_file if c in _col_list(stats, path, f)]
        for c in bloom_cols
    }
    cols = [c for c in dict.fromkeys(bloom_cols) if need[c]]
    # each column's type from the footer of one file holding it; a file
    # written before the column existed reads it as nulls, which add no
    # bits
    schema = T.StructType(
        [
            T.StructField(
                c, from_arrow_type(pq.read_schema(need[c][0]).field(c).type)
            )
            for c in cols
        ]
    )
    m_of = F.create_map(
        *[
            x
            for k, f in keys.items()
            for x in (F.lit(k), F.lit(m_bits[f]).cast("long"))
        ]
    )
    # _metadata.file_path is a URI (file:/… or file:///…): strip the
    # scheme down to a plain absolute path, then take the suffix after
    # "<table root>/" — exactly the Python-side key.
    norm = F.regexp_replace(
        F.col("_metadata.file_path"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/+", "/"
    )
    tagged = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("_c"), F.col(c).cast("string").alias("_v")
                )
                for i, c in enumerate(cols)
            ]
        )
    )
    src = (
        spark.read.schema(schema)
        .parquet(*per_file)
        .select(
            F.substring(norm, len(root) + 2, 1 << 30).alias("_key"),
            tagged.alias("_t"),
        )
        .select("_key", "_t._c", "_t._v", m_of[F.col("_key")].alias("_m"))
        .where(F.col("_v").isNotNull())
    )
    h = F.md5(F.col("_v"))
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 17, 15), 16, 10).cast("long").bitwiseOR(
        F.lit(1)
    )
    pos = F.explode(
        F.array(
            *[(h1 + F.lit(i) * h2) % F.col("_m") for i in range(_BLOOM_K)]
        )
    ).alias("_pos")
    words = (
        src.select("_c", "_key", pos)
        .groupBy("_c", "_key", F.expr("_pos DIV 64").alias("_w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(1L, CAST(_pos % 64 AS INT)))"
            ).alias("_bits")
        )
        .collect()
    )
    arrays = {
        (c, f): np.zeros(m_bits[f] // 64, dtype="<u8")
        for c in cols
        for f in need[c]
    }
    for r in words:
        arrays[cols[r["_c"]], keys[r["_key"]]][int(r["_w"])] = np.uint64(
            r["_bits"] & 0xFFFFFFFFFFFFFFFF
        )
    for c in cols:
        for f in need[c]:
            # defense-in-depth (r11, after the multi-partition keying
            # bug): NEVER write an all-zero bloom for a row-carrying
            # file. A zero array means either an all-NULL column
            # (abstaining only forgoes a legitimate skip) or a build
            # defect (a keying/join regression would zero EVERY file
            # and silently prune real rows on every probe) — absence
            # of the entry makes the probe abstain, degrading any such
            # regression to no-pruning instead of wrong answers.
            if not arrays[c, f].any():
                continue
            per_file[f][c] = {
                "m": m_bits[f],
                "k": _BLOOM_K,
                "b64": base64.b64encode(arrays[c, f].tobytes()).decode(
                    "ascii"
                ),
            }
    for f, blooms in per_file.items():
        if not blooms:
            continue
        side = f + ".bloom.json"
        tmp = side + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(blooms, fh)
        os.replace(tmp, side)
        stats[_rel(path, f)]["bloom"] = sorted(blooms)


def _col_list(stats: dict, path: str, f: str) -> list[str]:
    return (stats.get(_rel(path, f)) or {}).get("cols") or []


@lru_cache(maxsize=8192)
def _load_bloom_sidecar(side_path: str):
    """Parsed sidecar (or None) — cached: batch files are immutable, so
    a sidecar never changes once written (and vacuum removes the whole
    batch dir, after which the path is never asked for again)."""
    try:
        with open(side_path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _bloom_maybe_contains(info: dict, s: str) -> bool:
    import base64

    h1, h2 = _bloom_hash_pair(s)
    m = info["m"]
    bits = base64.b64decode(info["b64"])
    for i in range(info["k"]):
        p = (h1 + i * h2) % m
        if not (bits[p // 8] >> (p % 8)) & 1:
            return False
    return True


def add_bloom_index(
    spark: SparkSession, path: str, columns: list[str]
) -> int:
    """Retrofit bloom indexing onto an EXISTING table: build sidecars
    for every current file (one column-pruned distributed pass — same
    build as write time) and commit the property + per-file flags as a
    new version. ZERO data files move — the advantage of sidecar-based
    indexing over formats that re-encode the index into the files (a
    Delta bloom index only covers files written after it's declared;
    this covers the whole table at declaration). Columns are LOGICAL
    names; under column mapping the sidecar keys follow the immutable
    physical names, so later renames keep pruning. Appends after this
    commit build sidecars automatically (the property carries)."""
    if not columns:
        raise ValueError("add_bloom_index: no columns given")
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(path)
        if not versions:
            raise RuntimeError(f"txlog: no table at {path}")
        latest = versions[-1]
        m = _read_manifest(path, latest)
        logged = m.get("schema") or {}
        names = {f["name"] for f in logged.get("fields", [])}
        missing = [c for c in columns if names and c not in names]
        if missing:
            raise ValueError(
                f"txlog: add_bloom_index columns {missing} not in the "
                f"table schema {sorted(names)}"
            )
        _check_bloom_types(
            columns,
            {f["name"]: f.get("type") for f in logged.get("fields", [])},
        )
        colmap = m.get("colmap") or {}
        phys = [colmap.get(c, c) for c in columns]
        import copy as _copy

        stats = _copy.deepcopy(m.get("stats") or {})
        cols = sorted(set(m.get("bloom_cols") or []) | set(phys))
        _attach_blooms(spark, path, _manifest_files(path, m), stats, cols)
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "add_bloom",
                    "files": m["files"],
                    "stats": stats,
                    "parent": latest,
                    "schema": m.get("schema"),
                    "bloom_cols": cols,
                },
            )
        except TxConflict:
            continue
    raise TxConflict(
        f"txlog: add_bloom_index on {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def _bloom_can_skip(path: str, stats_e: dict | None, entry: str,
                    filters: Mapping[str, Any]) -> bool:
    """True iff some eq/IN filter's EVERY candidate value is provably
    absent from this file's bloom for that column. Range filters and
    non-canonicalizable values abstain; a missing/unreadable sidecar
    abstains (pruning must never invent rows, only skip proven-empty
    files)."""
    if not stats_e:
        return False
    bcols = stats_e.get("bloom")
    if not bcols:
        return False
    side = None
    for key, value in filters.items():
        if key not in bcols or isinstance(value, Mapping):
            continue
        cand = (
            list(value) if isinstance(value, (list, tuple, set)) else [value]
        )
        strs = [_bloom_value_str(v) for v in cand]
        if not strs or any(s is None for s in strs):
            continue
        if side is None:
            side = _load_bloom_sidecar(_resolve(path, entry) + ".bloom.json")
        info = (side or {}).get(key)
        if not info:
            continue
        if all(not _bloom_maybe_contains(info, s) for s in strs):
            return True
    return False


def _physical_struct(logged: dict, colmap: dict):
    """The logged (logical) schema with field names swapped for their
    PHYSICAL parquet names through the column mapping — what the scan
    must request so renamed columns resolve in old and new files
    alike (physical names never change after a column is born)."""
    from pyspark.sql import types as T

    st = T.StructType.fromJson(logged)
    return T.StructType(
        [
            T.StructField(
                colmap.get(f.name, f.name), f.dataType, f.nullable, f.metadata
            )
            for f in st.fields
        ]
    )


def _read_files(
    spark: SparkSession,
    m: dict,
    files: list[str],
    path: str | None = None,
    dv_m: dict | None = None,
    tag: str | None = None,
) -> DataFrame:
    """Read manifest data files WITH the logged schema (when recorded):
    files written before a schema evolution physically lack the evolved
    columns, and supplying the schema makes Spark null-fill them — the
    read-side half of merge_schema appends. Also skips footer schema
    inference (one less listing pass). Pre-schema manifests read plain.

    With ``path`` given, DELETION VECTORS apply (merge-on-read): rows a
    ``delete_where(mode='dv')`` soft-deleted are anti-joined away
    (``dv_m`` overrides WHICH manifest's vectors apply — table_diff
    reads v_from's files under v_to's schema but v_from's vectors).
    Every consumer that can observe deleted rows must pass ``path``;
    the raw form (path=None) exists for readers of freshly-ADDED files
    only (the streaming source), which can carry no DV by construction.

    With ``tag`` (a table root), the row↔file identity columns
    ``_dv_entry`` / ``_dv_abs`` / ``_dv_ri`` are attached for DML
    (update/delete/merge) — attached HERE because ``_metadata`` is
    only resolvable on the scan output, before any renaming
    projection.

    COLUMN MAPPING (r8, the Delta columnMapping.mode=name idea): when
    the manifest carries ``colmap`` ({logical: physical}), the scan
    requests PHYSICAL names and the result is aliased back to logical
    — a renamed column reads correctly across files written before
    and after the rename, because the physical name is immutable."""
    logged = m.get("schema")
    colmap = m.get("colmap") or {}
    if logged is None:
        df = spark.read.parquet(*files)
    else:
        from pyspark.sql import types as T

        schema = (
            _physical_struct(logged, colmap)
            if colmap
            else T.StructType.fromJson(logged)
        )
        df = spark.read.schema(schema).parquet(*files)
    if tag is not None:
        df = df.select(
            "*",
            _entry_expr(tag).alias("_dv_entry"),
            _file_abs_expr().alias("_dv_abs"),
            F.col("_metadata.row_index").alias("_dv_ri"),
        )
    if path is not None:
        use_m = dv_m if dv_m is not None else m
        if tag is not None:
            # the identity columns double as the anti-join keys —
            # _apply_dv would re-derive (and name-clash with) them
            deleted = _dv_deleted_df(spark, path, use_m, files)
            if deleted is not None:
                df = _anti_join_dv(df, deleted)
        else:
            df = _apply_dv(spark, path, use_m, df, files)
    if colmap and logged is not None:
        from pyspark.sql import types as T

        out = [
            F.col(colmap.get(f.name, f.name)).alias(f.name)
            for f in T.StructType.fromJson(logged).fields
        ]
        if tag is not None:
            out += [F.col("_dv_entry"), F.col("_dv_abs"), F.col("_dv_ri")]
        df = df.select(*out)
    return df


def _as_predicate(predicate, verb: str) -> Column:
    """Normalize a DML predicate at entry: a SQL string becomes
    ``F.expr`` (SQL DELETE/UPDATE ... WHERE parity); a Column passes
    through; anything else is an immediate TypeError. Before r9, CoW
    mode accepted a bare string at the match step but crashed at the
    survivors filter (``F.coalesce`` treats a string as a column NAME)
    while dv mode accepted it fine — mode-inconsistent API, VERDICT r8
    What's-wrong #3."""
    if isinstance(predicate, str):
        return F.expr(predicate)
    if isinstance(predicate, Column):
        return predicate
    raise TypeError(
        f"{verb}: predicate must be a Column or a SQL string, got "
        f"{type(predicate).__name__}"
    )


def _filters_to_column(filters: Mapping[str, Any]) -> Column:
    """The declarative filter DSL (same shapes as functions/filters.py
    F1, per-column): scalar → eq, list → IN, {'gte','lte'} → range."""
    cond = F.lit(True)
    for key, value in filters.items():
        if isinstance(value, Mapping):
            gte, lte = value.get("gte"), value.get("lte")
            if gte is not None:
                cond = cond & (F.col(key) >= F.lit(gte))
            if lte is not None:
                cond = cond & (F.col(key) <= F.lit(lte))
        elif isinstance(value, (list, tuple, set)):
            cond = cond & F.col(key).isin(list(value))
        else:
            cond = cond & (F.col(key) == F.lit(value))
    return cond


def _file_can_skip(
    stats: dict, filters: Mapping[str, Any], ptypes: Mapping[str, str] | None = None
) -> bool:
    """True iff the filters PROVE the file holds no matching row (its
    [min,max] is disjoint from the filter on some ANDed key). Missing
    stats → cannot skip. Comparisons across unlike types → cannot skip.
    A column PHYSICALLY ABSENT from the file (written before a schema
    evolution added it) reads as all-NULL, and NULL never satisfies an
    eq/IN/range filter — provably skippable.

    Partition columns additionally check the EXACT per-file partition
    value (``pvals``) for eq/IN filters — definitional membership, not
    footer inference: it covers the two cases stats cannot (a NULL
    partition value, where footers record nothing, and string columns
    whose footer min/max an implementation may truncate). Range
    filters stay on the typed footer stats (a single-valued partition
    column has min == max == value, so they are exact there too)."""
    cols = stats.get("cols")
    pvals = stats.get("pvals") or {}
    for key, value in filters.items():
        if cols is not None and key not in cols:
            return True
        if key in pvals and not isinstance(value, Mapping):
            pv = pvals[key]
            if pv is None:
                return True  # eq/IN never matches a NULL partition
            jt = (ptypes or {}).get(key)
            if jt is not None:
                cand = (
                    list(value)
                    if isinstance(value, (list, tuple, set))
                    else [value]
                )
                if _pval_matches(pv, cand, jt) is False:
                    return True
        mn = stats.get("min", {}).get(key)
        mx = stats.get("max", {}).get(key)
        if mn is None or mx is None:
            continue
        try:
            if isinstance(value, Mapping):
                gte, lte = value.get("gte"), value.get("lte")
                if gte is not None and mx < gte:
                    return True
                if lte is not None and mn > lte:
                    return True
            elif isinstance(value, (list, tuple, set)):
                if value and all(v < mn or v > mx for v in value):
                    return True
            else:
                if value < mn or value > mx:
                    return True
        except TypeError:
            continue
    return False


def _prune_files(
    path: str, m: dict, filters: Mapping[str, Any] | None
) -> list[str]:
    """The manifest entries that COULD contain a matching row, resolved
    to absolute paths. With no filters (or no stats — pre-r6
    manifests), every file survives."""
    if not filters:
        return _manifest_files(path, m)
    stats = m.get("stats") or {}
    ptypes = _partition_types(m)
    colmap = m.get("colmap") or {}
    if colmap:
        # stats are keyed by PHYSICAL column names (parquet footers);
        # translate the logical filter keys before comparing. Partition
        # columns are barred from mapping, so pvals keys stay logical.
        filters = {colmap.get(k, k): v for k, v in filters.items()}
    return [
        _resolve(path, e)
        for e in m["files"]
        if (e not in stats or not _file_can_skip(stats[e], filters, ptypes))
        and not _bloom_can_skip(path, stats.get(e), e, filters)
    ]


def _schema_key(schema) -> list:
    """(name, type) pairs — the drift-detection identity; nullability
    and column metadata are deliberately excluded."""
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _logged_schema_key(logged: dict) -> list:
    from pyspark.sql import types as T

    return _schema_key(T.StructType.fromJson(logged))


def table_schema(path: str):
    """The logged StructType of the latest version (None if the log
    predates schema recording)."""
    from pyspark.sql import types as T

    versions = _list_versions(path)
    if not versions:
        raise RuntimeError(f"txlog: no table at {path}")
    logged = _read_manifest(path, versions[-1]).get("schema")
    return None if logged is None else T.StructType.fromJson(logged)


def _carried_batch_ids(path: str) -> set:
    f = os.path.join(_log_path(path), _BATCHIDS_FILE)
    if not os.path.exists(f):
        return set()
    with open(f) as fh:
        return set(json.load(fh)["batch_ids"])


def _committed_batch_ids(path: str) -> set:
    """Every batch id this table has ever committed: ids in retained
    manifests plus ids carried forward by compact_log — so the
    exactly-once check survives log vacuuming."""
    ids = _carried_batch_ids(path)
    for v in _list_versions(path):
        b = _read_manifest(path, v).get("batch_id")
        if b is not None:
            ids.add(b)
    return ids


def _enforce_constraints(m: dict, df: DataFrame, op: str) -> None:
    """Refuse the write if any batch row VIOLATES a CHECK constraint
    (SQL semantics: a violation is the expression evaluating FALSE —
    NULL passes, as in the standard and Delta). One predicate scan of
    the batch with an early-exit limit(1); rows already in the table
    were validated when written, so only the incoming batch is read."""
    constraints = m.get("constraints") or {}
    for name, expr in constraints.items():
        bad = df.where(~F.coalesce(F.expr(expr), F.lit(True))).limit(1)
        rows = bad.collect()
        if rows:
            raise TxConstraintViolation(
                f"txlog: {op} violates CHECK constraint {name!r} "
                f"({expr}); sample row: {rows[0].asDict()}"
            )


def create_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    batch_id: int | None = None,
    partition_by: list[str] | None = None,
    bloom_filter_columns: list[str] | None = None,
) -> int:
    """Create version 0 from ``df``. Fails if the table exists (a lost
    CAS race against another creator surfaces as the same error).

    ``partition_by`` makes the table hive-partitioned (a CREATE-time
    property carried by every later commit): each batch lays its files
    out one-partition-value-per-file, the manifest records the exact
    per-file values, eq/IN filters on partition columns prune files
    definitionally, and ``overwrite_partitions`` gains dynamic
    partition overwrite. Partition columns stay present in the data
    files, so every read path (time travel, CDC, streaming source) is
    unchanged.

    ``bloom_filter_columns`` (r10, the Delta/Iceberg bloom-index idea)
    makes eq/IN POINT LOOKUPS on the named high-cardinality columns
    file-prunable where min/max stats cannot help (interleaved values
    span every file's range): each bulk write (create/append/compact)
    also builds a per-file bloom sidecar the reader probes before
    opening the file. A create-time property carried by every commit;
    DML rewrite files simply lack sidecars until the next compaction
    (pruning degrades to stats-only on them, never wrong)."""
    if _list_versions(path):
        raise RuntimeError(f"txlog: table already exists at {path}")
    if partition_by:
        missing = [c for c in partition_by if c not in df.columns]
        if missing:
            raise ValueError(
                f"txlog: partition_by columns {missing} not in the "
                f"dataframe columns {df.columns}"
            )
    if bloom_filter_columns:
        missing = [c for c in bloom_filter_columns if c not in df.columns]
        if missing:
            raise ValueError(
                f"txlog: bloom_filter_columns {missing} not in the "
                f"dataframe columns {df.columns}"
            )
        _check_bloom_types(
            list(bloom_filter_columns),
            {f.name: f.dataType.typeName() for f in df.schema.fields},
        )
    files = _write_batch(df, path, partition_by)
    stats = _file_stats(path, files)
    if bloom_filter_columns:
        _attach_blooms(spark, path, files, stats, list(bloom_filter_columns))
    try:
        return _commit(
            path,
            {
                "version": 0,
                "op": "create",
                "files": [_rel(path, f) for f in files],
                "stats": stats,
                "parent": None,
                "batch_id": batch_id,
                "schema": df.schema.jsonValue(),
                "partition_by": list(partition_by) if partition_by else None,
                "bloom_cols": (
                    list(bloom_filter_columns) if bloom_filter_columns else None
                ),
            },
        )
    except TxConflict:
        raise RuntimeError(
            f"txlog: table already exists at {path} (lost create race)"
        ) from None


def append_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    batch_id: int | None = None,
    merge_schema: bool = False,
) -> int:
    """Append ``df`` as a new version: new files + carried references.
    The table data already on disk is NOT read or rewritten.

    ``merge_schema`` (r6, the Delta mergeSchema=true idea): an opted-in
    append may ADD columns (the logged schema becomes the union; files
    written earlier null-fill the new columns at read time via the
    logged-schema read) and may OMIT logged columns (its files null-fill
    them the same way). Changing an EXISTING column's type is refused
    either way — silent type drift poisons every read. Evolution is a
    pure metadata operation: zero existing bytes move, which is the only
    acceptable cost for adding a column to a 100 TB table.

    ``batch_id`` (optional) makes the append IDEMPOTENT for streaming
    sinks: if this id was ever committed (retained manifest OR the
    carried-forward set compact_log maintains), the call is a no-op
    returning the current version — foreachBatch re-delivery after a
    crash-before-checkpoint lands exactly once (the standard
    transactional-sink contract; the engine guarantees a replayed batch
    has the same id and the same data).

    Concurrency: an append's files are brand new and it removes
    nothing, so it commutes with any concurrent commit — a lost CAS
    just rebases onto the winner's file list and retries (data files
    are written once; only the manifest is recommitted)."""
    new_files: list[str] | None = None
    new_stats: dict = {}
    validated_constraints: dict | None = None
    written_colmap: dict | None = None
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(path)
        if not versions:
            raise RuntimeError(f"txlog: no table at {path}")
        if batch_id is not None and batch_id in _committed_batch_ids(path):
            return versions[-1]  # already committed: replay is a no-op
        latest = versions[-1]
        m = _read_manifest(path, latest)
        # CHECK constraints: validate the batch once, re-validate only
        # if a concurrent add_constraint changed the set mid-retry
        cons = m.get("constraints") or {}
        if cons != validated_constraints:
            _enforce_constraints(m, df, "append")
            validated_constraints = cons
        # schema ENFORCEMENT (not evolution): an append whose columns or
        # types drift from the logged schema is refused — silent drift
        # poisons every future read (parquet takes the first file's
        # footer); evolving the schema is an explicit overwrite_table.
        # Compared on (name, type) only — nullability/metadata
        # differences are benign (an embed stage and an inline frame
        # disagree on nullable flags)
        logged = m.get("schema")
        commit_schema = df.schema.jsonValue()
        if logged is not None:
            from pyspark.sql import types as T

            if not merge_schema:
                if _schema_key(df.schema) != _logged_schema_key(logged):
                    want = T.StructType.fromJson(logged).simpleString()
                    raise RuntimeError(
                        f"txlog: append schema {df.schema.simpleString()} "
                        f"does not match the table schema {want}; pass "
                        "merge_schema=True to add columns, or "
                        "overwrite_table to change types"
                    )
                commit_schema = logged  # carry nullability as logged
            else:
                logged_st = T.StructType.fromJson(logged)
                logged_types = dict(_schema_key(logged_st))
                conflicts = [
                    (n, t, logged_types[n])
                    for n, t in _schema_key(df.schema)
                    if n in logged_types and logged_types[n] != t
                ]
                if conflicts:
                    n, t, want_t = conflicts[0]
                    raise RuntimeError(
                        f"txlog: merge_schema cannot change column {n!r} "
                        f"from {want_t} to {t}; use overwrite_table"
                    )
                union = list(logged_st.fields)
                for fld in df.schema.fields:
                    if fld.name not in logged_types:
                        union.append(
                            T.StructField(fld.name, fld.dataType, True)
                        )
                commit_schema = T.StructType(union).jsonValue()
        # column mapping: a merge_schema append that ADDS columns to a
        # mapped table must give each a physical name that collides
        # with no LIVE file's physical columns — otherwise re-adding a
        # previously-dropped name would resurrect its old data
        commit_colmap = m.get("colmap")
        cm = dict(commit_colmap or {})
        if cm and merge_schema:
            live_phys = set(cm.values())
            for st_ in (m.get("stats") or {}).values():
                live_phys.update(st_.get("cols") or [])
            added_names = [
                c for c in df.columns if c not in cm
            ]
            for c in added_names:
                phys = c
                if phys in live_phys:
                    phys = f"{c}_p{uuid.uuid4().hex[:8]}"
                cm[c] = phys
                live_phys.add(phys)
            if added_names:
                commit_colmap = cm
        if new_files is not None and written_colmap != cm:
            new_files = None  # concurrent rename: stale physical names
        if new_files is None:
            new_files = _write_batch(df, path, m.get("partition_by"), cm)
            written_colmap = cm
            new_stats = _file_stats(path, new_files)
            if m.get("bloom_cols"):
                _attach_blooms(
                    spark, path, new_files, new_stats, m["bloom_cols"]
                )
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "append",
                    "files": m["files"] + [_rel(path, f) for f in new_files],
                    "stats": {
                        **(m.get("stats") or {}),
                        **new_stats,
                    },
                    "parent": latest,
                    "batch_id": batch_id,
                    "schema": commit_schema,
                    **(
                        {"colmap": commit_colmap}
                        if commit_colmap is not None
                        else {}
                    ),
                },
            )
        except TxConflict:
            continue  # rebase onto the winner's snapshot
    raise TxConflict(
        f"txlog: append to {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def overwrite_table(spark: SparkSession, path: str, df: DataFrame) -> int:
    """Replace the table contents as a NEW VERSION (op='rewrite'): the
    manifest references only the new batch; prior versions stay
    readable until compact_log vacuums them. The transactional form of
    a full-table rewrite (e.g. clustering label write-back) — readers
    concurrent with the rewrite keep a consistent old snapshot, and a
    crash mid-write leaves the old version intact (the manifest CAS is
    still the only commit point). A lost race retries at the next slot
    (overwrite-vs-anything serializes as last-writer-wins by design)."""
    versions = _list_versions(path)
    if not versions:
        return create_table(spark, path, df)
    new_files: list[str] | None = None
    validated_constraints: dict | None = None
    written_colmap: tuple = (None, None)  # (base cm, reconciled cm)
    for _ in range(_MAX_COMMIT_RETRIES):
        latest = _list_versions(path)[-1]
        m_latest = _read_manifest(path, latest)
        # re-validate per retry when a concurrent add_constraint changed
        # the set mid-loop (ADVICE r7) — same caching as append_table
        cons = m_latest.get("constraints") or {}
        if cons != validated_constraints:
            _enforce_constraints(m_latest, df, "overwrite")
            validated_constraints = cons
        cm = m_latest.get("colmap") or {}
        # reconcile the mapping with the NEW schema BEFORE writing:
        # persisting logical names keep their stable physical names,
        # dropped ones leave the map, brand-new columns map to
        # themselves — unless that collides with a kept physical name
        # (e.g. overwriting with both the old and the new name after a
        # rename aliased both to one physical column and broke the
        # parquet write — ADVICE r8 low). Collisions get a fresh
        # suffixed physical name, same rule as append_table's
        # merge_schema path.
        if cm:
            new_cm = {c: cm[c] for c in df.columns if c in cm}
            used = set(new_cm.values())
            for c in df.columns:
                if c in new_cm:
                    continue
                phys = c if c not in used else f"{c}_p{uuid.uuid4().hex[:8]}"
                new_cm[c] = phys
                used.add(phys)
        else:
            new_cm = None
        if new_files is not None and written_colmap[0] != cm:
            new_files = None  # concurrent rename: stale physical names
        if new_files is None:
            new_files = _write_batch(
                df, path, m_latest.get("partition_by"), new_cm or {}
            )
            written_colmap = (cm, new_cm)
        else:
            # reuse the already-written batch: commit the colmap its
            # files were actually written with (a regenerated suffix
            # would orphan the batch's physical names)
            new_cm = written_colmap[1]
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "rewrite",
                    "dv": {},
                    "files": [_rel(path, f) for f in new_files],
                    "stats": _file_stats(path, new_files),
                    "parent": latest,
                    "schema": df.schema.jsonValue(),
                    "colmap": new_cm,
                },
            )
        except TxConflict:
            continue
    raise TxConflict(
        f"txlog: overwrite of {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def overwrite_partitions(spark: SparkSession, path: str, df: DataFrame) -> int:
    """DYNAMIC PARTITION OVERWRITE (Spark's
    ``partitionOverwriteMode=dynamic`` / Hive INSERT OVERWRITE
    semantics, as one atomic commit): replace EXACTLY the partitions
    present in ``df``; every untouched partition's files are carried
    by reference — zero bytes of them move, the only acceptable cost
    for refreshing one day of a 100 TB date-partitioned table.

    The replaced set is derived from the files the write itself
    produced (their manifest ``pvals``), so membership is definitional
    — no predicate scan, no stats inference. Requires a table created
    with ``partition_by``. A lost CAS race recomputes the kept set
    against the winner's snapshot (a concurrent append into an
    untouched partition survives; one into a replaced partition is
    overwritten, the documented last-writer-wins of INSERT
    OVERWRITE)."""
    versions = _list_versions(path)
    if not versions:
        raise RuntimeError(f"txlog: no table at {path}")
    m0 = _read_manifest(path, versions[-1])
    pby = m0.get("partition_by")
    if not pby:
        raise RuntimeError(
            "txlog: overwrite_partitions requires a partitioned table "
            "(create_table(..., partition_by=[...])); use replace_where "
            "for predicate-scoped overwrites of unpartitioned tables"
        )
    logged = m0.get("schema")
    if logged is not None and _schema_key(df.schema) != _logged_schema_key(
        logged
    ):
        raise RuntimeError(
            f"txlog: overwrite_partitions schema "
            f"{df.schema.simpleString()} does not match the table schema"
        )
    _enforce_constraints(m0, df, "overwrite_partitions")
    new_files = _write_batch(df, path, pby, m0.get("colmap"))
    new_stats = _file_stats(path, new_files)
    touched = {
        tuple((st.get("pvals") or {}).get(c) for c in pby)
        for st in new_stats.values()
    }

    def _entry_pvals(m: dict, e: str) -> tuple:
        st = (m.get("stats") or {}).get(e) or {}
        pv = st.get("pvals")
        if pv is None:
            raise RuntimeError(
                f"txlog: manifest entry {e} has no partition values — "
                "the table's partition invariant is broken (fsck it)"
            )
        return tuple(pv.get(c) for c in pby)

    for _ in range(_MAX_COMMIT_RETRIES):
        latest = _list_versions(path)[-1]
        m = _read_manifest(path, latest)
        kept = [e for e in m["files"] if _entry_pvals(m, e) not in touched]
        kept_set = set(kept)
        stats = {
            k: v for k, v in (m.get("stats") or {}).items() if k in kept_set
        }
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "overwrite_partitions",
                    "dv": _dv_kept(
                        path,
                        m,
                        {
                            _resolve(path, e)
                            for e in m["files"]
                            if e not in kept_set
                        },
                    ),
                    "files": kept + [_rel(path, f) for f in new_files],
                    "stats": {**stats, **new_stats},
                    "parent": latest,
                    "rewritten": sorted(
                        e for e in m["files"] if e not in kept_set
                    ),
                    "schema": m.get("schema"),
                    "partition_by": pby,
                },
            )
        except TxConflict:
            continue  # recompute the kept set against the winner
    raise TxConflict(
        f"txlog: overwrite_partitions of {path} lost "
        f"{_MAX_COMMIT_RETRIES} CAS races"
    )


def add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """Delta-style CHECK constraint (ALTER TABLE ADD CONSTRAINT ...
    CHECK): validates that the CURRENT table satisfies ``expr`` (one
    scan with an early-exit limit — exactly Delta's add-time
    validation), then commits a metadata-only op recording it. Every
    subsequent append / merge / overwrite / replace_where /
    overwrite_partitions validates its incoming batch and REFUSES the
    commit (named ``TxConstraintViolation``) if any row evaluates the
    expression to FALSE — NULL passes, per SQL CHECK semantics. The
    constraint rides the manifests (carried by ``_commit`` itself like
    partition_by, so no op can drop it silently) and is enforced by
    every writer process that reads the log — multi-writer safe by
    construction."""
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(path)
        if not versions:
            raise RuntimeError(f"txlog: no table at {path}")
        latest = versions[-1]
        m = _read_manifest(path, latest)
        cons = dict(m.get("constraints") or {})
        if name in cons:
            raise RuntimeError(
                f"txlog: constraint {name!r} already exists on {path}"
            )
        existing = read_table(spark, path, latest)
        bad = existing.where(
            ~F.coalesce(F.expr(expr), F.lit(True))
        ).limit(1).collect()
        if bad:
            raise TxConstraintViolation(
                f"txlog: cannot add CHECK constraint {name!r} ({expr}) — "
                f"existing rows violate it; sample: {bad[0].asDict()}"
            )
        cons[name] = expr
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "add_constraint",
                    "files": m["files"],
                    "stats": m.get("stats") or {},
                    "parent": latest,
                    "schema": m.get("schema"),
                    "partition_by": m.get("partition_by"),
                    "constraints": cons,
                },
            )
        except TxConflict:
            continue  # re-validate against the winner's snapshot
    raise TxConflict(
        f"txlog: add_constraint on {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def drop_constraint(spark: SparkSession, path: str, name: str) -> int:
    """Metadata-only removal of a CHECK constraint."""
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(path)
        if not versions:
            raise RuntimeError(f"txlog: no table at {path}")
        latest = versions[-1]
        m = _read_manifest(path, latest)
        cons = dict(m.get("constraints") or {})
        if name not in cons:
            raise RuntimeError(
                f"txlog: no constraint {name!r} on {path} "
                f"(have {sorted(cons)})"
            )
        cons.pop(name)
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "drop_constraint",
                    "files": m["files"],
                    "stats": m.get("stats") or {},
                    "parent": latest,
                    "schema": m.get("schema"),
                    "partition_by": m.get("partition_by"),
                    "constraints": cons,
                },
            )
        except TxConflict:
            continue
    raise TxConflict(
        f"txlog: drop_constraint on {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def _guard_col_ddl(m: dict, col: str, op: str) -> None:
    """Shared refusals for column DDL: partition columns anchor the
    on-disk dir layout and the pvals pruning keys, and CHECK
    constraint expressions are SQL strings over logical names — both
    would silently break under a rename/drop (Delta refuses the same
    two; the workaround is drop-constraint / repartition-overwrite
    first)."""
    import re as _re

    if col in (m.get("partition_by") or []):
        raise RuntimeError(
            f"txlog: cannot {op} partition column {col!r} — the hive "
            "dir layout and pvals pruning key it; overwrite the table "
            "with a new partition spec instead"
        )
    for name, expr in (m.get("constraints") or {}).items():
        if _re.search(rf"\b{_re.escape(col)}\b", expr):
            raise RuntimeError(
                f"txlog: cannot {op} column {col!r} — CHECK constraint "
                f"{name!r} ({expr}) references it; drop the constraint "
                "first"
            )


def rename_column(
    spark: SparkSession, path: str, old: str, new: str
) -> int:
    """ALTER TABLE ... RENAME COLUMN as a METADATA-ONLY commit — the
    Delta ``columnMapping.mode=name`` idea (public): the logged schema
    names are LOGICAL, each mapped to an immutable PHYSICAL parquet
    name recorded in the manifest's ``colmap``. A rename changes the
    logical name and remaps it to the same physical name — zero data
    bytes move (the only acceptable cost at 100 TB), and files written
    before and after the rename read identically because the scan
    requests physical names and aliases back. Time travel keeps each
    version's own naming; CDC across the rename lines columns up via
    physical identity.

    Refused for partition columns and constraint-referenced columns
    (same refusals as Delta — see ``_guard_col_ddl``)."""
    from pyspark.sql import types as T

    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(path)
        if not versions:
            raise RuntimeError(f"txlog: no table at {path}")
        latest = versions[-1]
        m = _read_manifest(path, latest)
        logged = m.get("schema")
        if logged is None:
            raise RuntimeError(
                f"txlog: table at {path} has no logged schema — "
                "rename_column needs one"
            )
        st = T.StructType.fromJson(logged)
        names = [f.name for f in st.fields]
        if old not in names:
            raise RuntimeError(
                f"txlog: no column {old!r} to rename (have {names})"
            )
        if new in names:
            raise RuntimeError(
                f"txlog: cannot rename {old!r} to {new!r} — column "
                "exists"
            )
        _guard_col_ddl(m, old, "rename")
        # initialize the mapping lazily (identity for every existing
        # column — their physical names ARE their current names)
        cm = dict(m.get("colmap") or {c: c for c in names})
        cm[new] = cm.pop(old)
        new_fields = [
            T.StructField(new, f.dataType, f.nullable, f.metadata)
            if f.name == old
            else f
            for f in st.fields
        ]
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "rename_column",
                    "files": m["files"],
                    "stats": m.get("stats") or {},
                    "parent": latest,
                    "schema": T.StructType(new_fields).jsonValue(),
                    "colmap": cm,
                },
            )
        except TxConflict:
            continue
    raise TxConflict(
        f"txlog: rename_column on {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def drop_column(spark: SparkSession, path: str, col: str) -> int:
    """ALTER TABLE ... DROP COLUMN as a METADATA-ONLY commit: the
    column leaves the logged schema and the mapping; its physical
    bytes stay in existing files (invisible — the scan requests only
    mapped physical names) until natural rewrites age them out, which
    is exactly Delta's drop semantics. Initializes the column mapping
    if absent, so a LATER merge_schema re-add of the same name gets a
    fresh physical name and can never resurrect the dropped data."""
    from pyspark.sql import types as T

    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(path)
        if not versions:
            raise RuntimeError(f"txlog: no table at {path}")
        latest = versions[-1]
        m = _read_manifest(path, latest)
        logged = m.get("schema")
        if logged is None:
            raise RuntimeError(
                f"txlog: table at {path} has no logged schema — "
                "drop_column needs one"
            )
        st = T.StructType.fromJson(logged)
        names = [f.name for f in st.fields]
        if col not in names:
            raise RuntimeError(
                f"txlog: no column {col!r} to drop (have {names})"
            )
        if len(names) == 1:
            raise RuntimeError(
                f"txlog: cannot drop the only column {col!r}"
            )
        _guard_col_ddl(m, col, "drop")
        cm = dict(m.get("colmap") or {c: c for c in names})
        cm.pop(col, None)
        new_fields = [f for f in st.fields if f.name != col]
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "drop_column",
                    "files": m["files"],
                    "stats": m.get("stats") or {},
                    "parent": latest,
                    "schema": T.StructType(new_fields).jsonValue(),
                    "colmap": cm,
                },
            )
        except TxConflict:
            continue
    raise TxConflict(
        f"txlog: drop_column on {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def _zvalue(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Z-order (Morton) key over ``cols``: each column is linearly
    scaled to a ``bits``-bit bucket between its observed min and max
    (ONE tiny agg job — no global sort, the property that keeps this
    viable at 100 TB), then the bucket bits are interleaved so that
    files covering contiguous z-ranges are approximately contiguous in
    EVERY dimension at once (Morton 1966; the Delta/Databricks OPTIMIZE
    ZORDER BY layout). All codegen arithmetic — no UDF."""
    n = len(cols)
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).first()
    top = (1 << bits) - 1
    buckets = []
    for i, c in enumerate(cols):
        mn, mx = bounds[f"mn_{i}"], bounds[f"mx_{i}"]
        if mn is None or mx is None or mx <= mn:
            buckets.append(F.lit(0))
            continue
        scaled = (F.col(c).cast("double") - F.lit(mn)) / F.lit(mx - mn) * top
        buckets.append(
            F.least(
                F.greatest(F.floor(scaled).cast("int"), F.lit(0)), F.lit(top)
            )
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, bucket in enumerate(buckets):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1)).cast("long")
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def compact_files(
    spark: SparkSession,
    path: str,
    target_files: int = 8,
    order_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    partition_filter: Mapping[str, Any] | None = None,
) -> int:
    """Small-file compaction as a TRANSACTION: rewrite the current
    contents into ``target_files`` files and commit op='compact'. The
    streaming sink produces one batch dir per micro-batch — hundreds of
    tiny files throttle scan parallelism planning at scale; compaction
    restores uniform splits WITHOUT a read outage (readers of the old
    version keep their immutable files; compact_log vacuums them once
    retention allows). No-op (returns the current version) if the table
    already has <= target_files files. A lost CAS race recomputes from
    the winner's snapshot (the file set it compacted may have changed).

    ``order_by`` (r6) makes compaction a CLUSTERED rewrite:
    ``repartitionByRange`` + in-partition sort on the given columns, so
    each output file covers a DISJOINT key range. That turns the
    manifest's per-file min/max stats into a real index — a point or
    range predicate on the cluster key prunes to O(matching) files in
    ``read_table(filters=...)`` / ``delete_where(filters=...)`` (the
    OPTIMIZE ... ZORDER BY idea from Delta, in its 1-D linear form —
    exact disjointness, which Z-order only approximates, and the right
    choice for a single dominant predicate column). A clustered
    rewrite is applied even when the file count is already small —
    clustering, not file count, is the point then.

    ``zorder_by`` (r6, wave 87) is the MULTI-dimensional form: a
    Morton (bit-interleaved) key over the given numeric columns,
    range-partitioned + sorted, so a predicate on ANY of the columns
    prunes roughly a √F fraction of F files — the trade 1-D
    clustering cannot make (its second column gets no locality at
    all). Use order_by for one dominant predicate column (exact
    disjointness beats approximate), zorder_by when queries filter on
    several. Mutually exclusive.

    0-ROW files (empty shuffle partitions a writer carried — e.g. a
    1-row frame written at parallelism 8) are dropped WITHOUT a
    rewrite: the stats prove them empty, so removing their references
    is a pure metadata commit; the real rewrite (if still needed)
    reads only the non-empty files.

    ``partition_filter`` (r11) is the Delta ``OPTIMIZE ... WHERE``
    economics: on a partitioned table, compact/cluster ONLY the files
    whose recorded partition values match the eq/IN filter — every
    other file is carried by reference, its stats, blooms, and
    deletion vectors untouched. At 100 TB you compact yesterday's hot
    partition, not the table; the cost is O(matching partition), the
    commit is still one atomic version. Scope membership is decided
    by the manifest ``pvals`` (definitional, the same test the read
    path prunes with); a file that cannot be PROVEN out of scope is
    conservatively rewritten — never wrong, at worst extra work."""
    if order_by is not None and zorder_by is not None:
        raise ValueError("compact_files: pass at most one of order_by/zorder_by")
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(path)
        if not versions:
            raise RuntimeError(f"txlog: no table at {path}")
        latest = versions[-1]
        m = _read_manifest(path, latest)
        stats = m.get("stats") or {}
        if partition_filter:
            pby = m.get("partition_by") or []
            bad = [k for k in partition_filter if k not in pby]
            if not pby or bad:
                raise ValueError(
                    "compact_files: partition_filter keys must be "
                    f"partition columns of the table; {sorted(partition_filter)} "
                    f"vs partition_by={pby}"
                )
            ptypes = _partition_types(m)
            kept_out = [
                e
                for e in m["files"]
                if e in stats
                and _file_can_skip(stats[e], dict(partition_filter), ptypes)
            ]
            out_set = set(kept_out)
            scope = [e for e in m["files"] if e not in out_set]
        else:
            kept_out = []
            scope = list(m["files"])
        dv_all = m.get("dv") or {}
        dv_kept = {e: v for e, v in dv_all.items() if e in set(kept_out)}
        # rows absent (pre-stats manifest) => unknown => treat non-empty
        nonempty = [e for e in scope if stats.get(e, {}).get("rows") != 0]
        clustered = order_by is not None or zorder_by is not None
        # deletion vectors make compaction REAL work even under the
        # file-count target: materializing them is the point (only the
        # IN-SCOPE vectors count — kept files keep theirs)
        has_dv = any(e not in set(kept_out) for e in dv_all)
        if not scope or (
            len(nonempty) == len(scope)
            and len(scope) <= target_files
            and not clustered
            and not has_dv
        ):
            # files == [] is the legal fully-deleted state: nothing to
            # compact OR cluster (same empty-read guard as delete/merge)
            return latest
        if not nonempty or (
            len(nonempty) < len(scope)
            and len(nonempty) <= target_files
            and not clustered
            and not has_dv
        ):
            # dropping provably-empty references alone reaches the
            # target (or empties the scope): metadata-only compaction
            final = kept_out + nonempty
            try:
                return _commit(
                    path,
                    {
                        "version": latest + 1,
                        "op": "compact",
                        "dv": {e: v for e, v in dv_all.items() if e in set(final)},
                        "files": final,
                        "stats": {k: v for k, v in stats.items() if k in set(final)},
                        "parent": latest,
                        "schema": m.get("schema"),
                    },
                )
            except TxConflict:
                continue
        files = [_resolve(path, e) for e in nonempty]
        # DV-aware: compaction MATERIALIZES deletion vectors (rows they
        # hide are not rewritten) and the new manifest clears them
        df = _read_files(spark, m, files, path)
        if order_by is not None:
            df = df.repartitionByRange(
                target_files, *order_by
            ).sortWithinPartitions(*order_by)
        elif zorder_by is not None:
            df = (
                df.withColumn("_zorder", _zvalue(df, zorder_by))
                .repartitionByRange(target_files, "_zorder")
                .sortWithinPartitions("_zorder")
                .drop("_zorder")
            )
        else:
            df = df.coalesce(target_files)
        new_files = _write_batch(df, path, m.get("partition_by"), m.get("colmap"))
        new_stats = _file_stats(path, new_files)
        if m.get("bloom_cols"):
            # compaction REBUILDS the bloom sidecars: the rewrite is the
            # point where DML-produced files (which skip bloom build)
            # regain point-lookup prunability
            _attach_blooms(spark, path, new_files, new_stats, m["bloom_cols"])
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "compact",
                    # in-scope deletions materialized by the rewrite;
                    # kept (out-of-scope) files keep their vectors
                    "dv": dv_kept,
                    "files": kept_out + [_rel(path, f) for f in new_files],
                    "stats": {
                        **{k: v for k, v in stats.items() if k in set(kept_out)},
                        **new_stats,
                    },
                    "parent": latest,
                    "schema": m.get("schema"),
                },
            )
        except TxConflict:
            continue
    raise TxConflict(
        f"txlog: compact of {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def _merge_dv(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    batch_id: int | None,
) -> int:
    """Merge-on-read MERGE (see ``merge_table(mode='dv')``): matched
    LIVE rows are soft-deleted via one churn-sized deletion-vector
    batch and ALL update rows append as new files — one atomic commit,
    zero pre-existing files moved. The upsert-heavy CDC-apply regime
    this exists for: applying a 0.01% update feed to wide files must
    not rewrite them."""
    validated_constraints: dict | None = None
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(path)
        if not versions:
            raise RuntimeError(f"txlog: no table at {path}")
        if batch_id is not None and batch_id in _committed_batch_ids(path):
            return versions[-1]
        latest = versions[-1]
        m = _read_manifest(path, latest)
        cons = m.get("constraints") or {}
        if cons != validated_constraints:
            _enforce_constraints(m, updates, "merge")
            validated_constraints = cons
        logged = m.get("schema")
        if logged is not None and _schema_key(
            updates.schema
        ) != _logged_schema_key(logged):
            raise RuntimeError(
                f"txlog: merge schema {updates.schema.simpleString()} does "
                "not match the table schema"
            )
        files = _manifest_files(path, m)
        new_dv = dict(m.get("dv") or {})
        dv_entry = None
        if files:
            keys = updates.select(*key_cols).distinct()
            # tag=path attaches the identity columns BEFORE any
            # projection and drops already-hidden rows (they cannot
            # match); colmap-aware by construction
            tagged = _read_files(spark, m, files, path, tag=path).select(
                F.col("_dv_entry").alias("entry"),
                F.col("_dv_ri").alias("row_index"),
                *key_cols,
            )
            hits = (
                tagged.join(F.broadcast(keys), key_cols, "left_semi")
                .select("entry", "row_index")
                .localCheckpoint(eager=True)
            )
            if hits.limit(1).count():
                dv_batch = os.path.join(
                    path, _DATA_DIR, f"dv{uuid.uuid4().hex[:12]}"
                )
                hits.write.mode("error").parquet(dv_batch)
                dv_entry = _rel(path, dv_batch)
                touched = [
                    r["entry"]
                    for r in spark.read.schema(_DV_SIDECAR_SCHEMA).parquet(dv_batch)
                    .select("entry")
                    .distinct()
                    .collect()
                ]
                known = set(m["files"])
                stray = [e for e in touched if e not in known]
                if stray:
                    raise RuntimeError(
                        "txlog: merge DV rows name files outside the "
                        f"manifest: {stray[:3]}"
                    )
                for e in touched:
                    new_dv[e] = list(new_dv.get(e, [])) + [dv_entry]
        new_files = _write_batch(updates, path, m.get("partition_by"), m.get("colmap"))
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "merge_dv",
                    "files": m["files"] + [_rel(path, f) for f in new_files],
                    "stats": {
                        **(m.get("stats") or {}),
                        **_file_stats(path, new_files),
                    },
                    "parent": latest,
                    "dv": new_dv,
                    "dv_added": dv_entry,
                    "batch_id": batch_id,
                    "schema": m.get("schema"),
                },
            )
        except TxConflict:
            continue  # recompute against the winner's snapshot
    raise TxConflict(
        f"txlog: dv-merge into {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def merge_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    batch_id: int | None = None,
    mode: str = "cow",
) -> int:
    """Copy-on-write MERGE (upsert): rows whose ``key_cols`` match an
    update row are REPLACED by it; update rows matching nothing are
    INSERTED — committed as one op='merge' version. Only files
    containing a matching key are rewritten; everything else is carried
    by reference (cost ∝ churn). Caller contract: ``updates`` carries
    one row per key (both rows land otherwise — same as a SQL MERGE
    with duplicate source keys). Schema must match the logged schema
    (same enforcement as append). A fully-deleted table (files=[]) is
    legal: every update row inserts. A lost CAS race recomputes the
    affected-file set against the winner's snapshot and retries — the
    re-scan IS the conflict re-validation (nothing stale survives).

    ``batch_id`` (r6) gives the streaming CDC-apply sink strict
    exactly-once: a replayed micro-batch whose id was ever committed
    (retained manifest or the carried-forward vacuum set) is a no-op —
    same contract as append_table. (A MERGE replay is already
    state-idempotent by key, but without the id it would burn a log
    version and rewrite the touched files again.)

    ``mode="dv"`` merges MERGE-ON-READ: matched rows are soft-deleted
    via a deletion-vector batch and all update rows append — zero
    pre-existing files moved, cost ∝ update batch. The natural mode
    for a CDC-apply sink on wide tables; compaction materializes."""
    from urllib.parse import unquote, urlparse

    if mode not in ("cow", "dv"):
        raise ValueError(f"merge_table: unknown mode {mode!r}")
    if mode == "dv":
        return _merge_dv(spark, path, updates, key_cols, batch_id)
    validated_constraints: dict | None = None
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(path)
        if not versions:
            raise RuntimeError(f"txlog: no table at {path}")
        if batch_id is not None and batch_id in _committed_batch_ids(path):
            return versions[-1]  # already committed: replay is a no-op
        latest = versions[-1]
        m = _read_manifest(path, latest)
        files = _manifest_files(path, m)
        cons = m.get("constraints") or {}
        if cons != validated_constraints:
            _enforce_constraints(m, updates, "merge")
            validated_constraints = cons
        logged = m.get("schema")
        if logged is not None and _schema_key(
            updates.schema
        ) != _logged_schema_key(logged):
            raise RuntimeError(
                f"txlog: merge schema {updates.schema.simpleString()} does "
                "not match the table schema"
            )
        if not files:
            # legal fully-deleted state: every update row is an insert
            affected: set[str] = set()
            merged = updates
        else:
            cur = _read_files(spark, m, files)
            keys = updates.select(*key_cols).distinct()
            # project input_file_name() BEFORE the semi-join: Spark
            # refuses the expression once the plan has >1 source
            tagged = cur.select(F.input_file_name().alias("f"), *key_cols)
            hit_files = {
                unquote(urlparse(r["f"]).path)
                for r in tagged.join(F.broadcast(keys), key_cols, "left_semi")
                .select("f")
                .distinct()
                .collect()
            }
            affected = hit_files & set(files)
            if hit_files - affected:
                raise RuntimeError(
                    f"txlog: matching rows in files outside the manifest: "
                    f"{sorted(hit_files - affected)[:3]}"
                )
            survivors = (
                _read_files(spark, m, sorted(affected), path).join(
                    F.broadcast(keys), key_cols, "left_anti"
                )
                if affected
                else None
            )
            merged = (
                survivors.unionByName(updates)
                if survivors is not None
                else updates
            )
        new_files = _write_batch(merged, path, m.get("partition_by"), m.get("colmap"))
        kept = [e for e in m["files"] if _resolve(path, e) not in affected]
        stats = {
            k: v
            for k, v in (m.get("stats") or {}).items()
            if _resolve(path, k) not in affected
        }
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "merge",
                    "dv": _dv_kept(path, m, affected),
                    "files": kept + [_rel(path, f) for f in new_files],
                    "stats": {**stats, **_file_stats(path, new_files)},
                    "parent": latest,
                    "batch_id": batch_id,
                    "rewritten": sorted(_entry(path, f) for f in affected),
                    "schema": logged
                    if logged is not None
                    else updates.schema.jsonValue(),
                },
            )
        except TxConflict:
            continue  # recompute against the winner's snapshot
    raise TxConflict(
        f"txlog: merge into {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def replace_where(
    spark: SparkSession,
    path: str,
    filters: Mapping[str, Any],
    df: DataFrame,
) -> int:
    """Predicate-scoped transactional overwrite (Delta's
    ``replaceWhere``, the declarative form of dynamic partition
    overwrite): atomically delete every row matching ``filters`` and
    insert ``df`` — one op='replace_where' commit, so readers see
    either the old region or the new region, never a mix.

    VALIDATES that every inserted row satisfies ``filters`` (one scan
    of the new batch, checked before any commit): an overwrite that
    writes outside its declared region is the classic silent-corruption
    bug this mode exists to prevent. Schema must match the logged
    schema (same enforcement as append).

    Cost model: the new batch is written ONCE (outside the retry
    loop); the delete side uses the manifest's per-file min/max stats
    to prune stats-disjoint files before the affected-file scan — on a
    table clustered by the replace key (compact_files order_by), a
    partition-shaped replace touches O(matching) files and carries the
    rest by reference. A lost CAS race recomputes the affected set
    against the winner's snapshot and retries (the re-scan is the
    conflict re-validation)."""
    from urllib.parse import unquote, urlparse

    if not filters:
        raise ValueError(
            "replace_where: empty filters would overwrite the whole "
            "table; use overwrite_table for that"
        )
    predicate = _filters_to_column(filters)
    violations = df.where(~F.coalesce(predicate, F.lit(False)))
    if violations.limit(1).count():
        bad = violations.limit(3).collect()
        raise ValueError(
            f"replace_where: {len(bad)}+ inserted rows violate the "
            f"replace predicate {dict(filters)!r}; first: {bad[0]}"
        )
    new_files: list[str] | None = None
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(path)
        if not versions:
            raise RuntimeError(f"txlog: no table at {path}")
        latest = versions[-1]
        m = _read_manifest(path, latest)
        logged = m.get("schema")
        if logged is not None and _schema_key(df.schema) != _logged_schema_key(
            logged
        ):
            raise RuntimeError(
                f"txlog: replace_where schema {df.schema.simpleString()} "
                "does not match the table schema"
            )
        if new_files is None:
            _enforce_constraints(m, df, "replace_where")
            new_files = _write_batch(df, path, m.get("partition_by"), m.get("colmap"))
        files = _manifest_files(path, m)
        candidates = _prune_files(path, m, filters)
        if candidates:
            cur = _read_files(spark, m, candidates)
            hit_files = {
                unquote(urlparse(r["f"]).path)
                for r in cur.where(predicate)
                .select(F.input_file_name().alias("f"))
                .distinct()
                .collect()
            }
        else:
            hit_files = set()
        affected = hit_files & set(files)
        if hit_files - affected:
            raise RuntimeError(
                f"txlog: matching rows in files outside the manifest: "
                f"{sorted(hit_files - affected)[:3]}"
            )
        survivor_files: list[str] = []
        if affected:
            survivors = _read_files(
                spark, m, sorted(affected), path
            ).where(~F.coalesce(predicate, F.lit(False)))
            if survivors.limit(1).count():
                survivor_files = _write_batch(
                    survivors, path, m.get("partition_by"), m.get("colmap")
                )
        kept = [e for e in m["files"] if _resolve(path, e) not in affected]
        stats = {
            k: v
            for k, v in (m.get("stats") or {}).items()
            if _resolve(path, k) not in affected
        }
        all_new = survivor_files + new_files
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "replace_where",
                    "dv": _dv_kept(path, m, affected),
                    "files": kept + [_rel(path, f) for f in all_new],
                    "stats": {**stats, **_file_stats(path, all_new)},
                    "parent": latest,
                    "rewritten": sorted(_entry(path, f) for f in affected),
                    "filters": {k: _json_safe_filter(v) for k, v in filters.items()},
                    "schema": logged
                    if logged is not None
                    else df.schema.jsonValue(),
                },
            )
        except TxConflict:
            continue  # recompute against the winner's snapshot
    raise TxConflict(
        f"txlog: replace_where on {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def _json_safe_filter(v):
    """Manifest-recordable form of one filter value (audit trail only —
    never read back for planning)."""
    if isinstance(v, Mapping):
        return {k: _json_safe(x) for k, x in v.items()}
    if isinstance(v, (list, tuple, set)):
        return [_json_safe(x) for x in v]
    return _json_safe(v)


def fsck(spark: SparkSession, path: str) -> DataFrame:
    """Log/file integrity check (the 'is this table safe to read'
    report a scheduler runs before a big job): for every retained
    version — does every referenced data file exist on disk, and are
    there orphan data files no manifest references (crash debris the
    vacuum will clear)? Returns (version, op, n_files, n_missing,
    n_bloom_missing, readable) plus one 'orphans' summary row
    (version = -1). A missing BLOOM sidecar never makes a version
    unreadable — the probe abstains and pruning degrades to stats-only
    — so it reports as a separate warning count, not in n_missing."""
    versions = _list_versions(path)
    referenced: set[str] = set()
    rows = []
    for v in versions:
        try:
            m = _read_manifest(path, v)
        except (OSError, KeyError, ValueError):
            # a delta manifest whose base chain is broken (manually
            # deleted manifest, torn copy) is unreadable but must not
            # crash the integrity REPORT
            rows.append((v, "unresolvable", 0, 0, 0, False))
            continue
        files = _manifest_files(path, m)
        missing = [f for f in files if not os.path.exists(f)]
        missing_dv = [d for d in _dv_dirs(path, m) if not os.path.isdir(d)]
        stats = m.get("stats") or {}
        missing_bloom = [
            e
            for e in m["files"]
            if (stats.get(e) or {}).get("bloom")
            and not os.path.exists(_resolve(path, e) + ".bloom.json")
        ]
        referenced.update(files)
        referenced.update(_dv_files(path, m))
        rows.append(
            (
                v,
                m["op"],
                len(files),
                len(missing) + len(missing_dv),
                len(missing_bloom),
                not missing and not missing_dv,
            )
        )
    n_orphans = sum(1 for f in _data_files(path) if f not in referenced)
    rows.append((-1, "orphans", n_orphans, 0, 0, True))
    return _local_df(spark, 
        rows,
        "version int, op string, n_files int, n_missing int, "
        "n_bloom_missing int, readable boolean",
    )


def table_detail(spark: SparkSession, path: str) -> DataFrame:
    """One-row table metadata summary (the Delta DESCRIBE DETAIL verb;
    reference parity: backend/main.py's /collections info endpoints) —
    everything an operator asks before touching a table, answered from
    the LOG alone (no data files opened): latest version + commit time,
    file/row/byte totals from the manifest stats, partitioning, bloom-
    indexed columns, CHECK constraints, column-mapping rename count,
    live deletion-vector entries, and schema field count."""
    versions = _list_versions(path)
    if not versions:
        raise RuntimeError(f"txlog: no table at {path}")
    v = versions[-1]
    m = _read_manifest(path, v)
    stats = m.get("stats") or {}
    per_file = [stats.get(e) or {} for e in m["files"]]
    n_rows = (
        sum(int(st["rows"]) for st in per_file if "rows" in st)
        if all("rows" in st for st in per_file)
        else None
    )
    n_bytes = 0
    for e in m["files"]:
        try:
            n_bytes += os.path.getsize(_resolve(path, e))
        except OSError:
            pass
    colmap = m.get("colmap") or {}
    row = (
        v,
        float(m["ts"]) if m.get("ts") is not None else None,
        len(versions),
        len(m["files"]),
        n_rows,
        n_bytes,
        m.get("partition_by"),
        m.get("bloom_cols"),
        sorted((m.get("constraints") or {}).keys()),
        sum(1 for k, p in colmap.items() if k != p),
        len(m.get("dv") or {}),
        len((m.get("schema") or {}).get("fields", [])),
    )
    return _local_df(spark, 
        [row],
        "version int, last_commit_ts double, n_versions int, n_files int, "
        "n_rows long, n_bytes long, partition_by array<string>, "
        "bloom_cols array<string>, constraints array<string>, "
        "n_renamed_columns int, n_dv_entries int, n_schema_fields int",
    )


def drop_table(path: str) -> None:
    """Remove the table: data, log, everything. (The reference's
    /admin/reset analog for a txlog-backed store.)"""
    shutil.rmtree(path, ignore_errors=True)


def stats_rowcount(path: str, version: int | None = None) -> int | None:
    """METADATA-ONLY row count of the table at ``version`` (default:
    latest) — the Delta/Iceberg answer-COUNT(*)-from-the-log idea: the
    manifest already records every file's footer row count, so the sum
    is exact without reading a byte of data or running a Spark job.

    Returns ``None`` (abstains) whenever the manifest alone cannot be
    exact: no table yet, any live file missing its ``rows`` stat, or
    any deletion vector in force (soft-deleted positions live in DV
    parquet, not the manifest). Callers fall back to a real
    ``read_table(...).count()`` — abstention is never a wrong answer.

    100 TB shape: progress polling / cardinality checks on an
    append-only table become O(manifest) driver work instead of a
    full-scan job per probe."""
    versions = _list_versions(path)
    if not versions:
        return None
    v = versions[-1] if version is None else version
    if v not in versions:
        return None
    m = _read_manifest(path, v)
    if m.get("dv"):
        return None
    stats = m.get("stats") or {}
    total = 0
    for f in m.get("files") or []:
        rows = (stats.get(f) or {}).get("rows")
        if rows is None:
            return None
        total += int(rows)
    return total


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    filters: Mapping[str, Any] | None = None,
    timestamp: float | None = None,
) -> DataFrame:
    """Read the table at ``version`` (default: latest). Time travel is
    free: every version's manifest lists immutable files. ``timestamp``
    (epoch seconds — the TIMESTAMP AS OF form) resolves to the latest
    version committed at or before that moment; mutually exclusive
    with ``version``.

    ``filters`` (optional, the declarative DSL: scalar eq / list IN /
    {'gte','lte'} range per column) SKIPS stats-disjoint files before
    Spark ever sees them — manifest-level file pruning on top of
    parquet row-group pruning — and applies the same predicate to the
    surviving rows, so the result equals read-everything-then-filter."""
    if version is not None and timestamp is not None:
        raise ValueError("read_table: pass version OR timestamp, not both")
    versions = _list_versions(path)
    if not versions:
        raise RuntimeError(f"txlog: no table at {path}")
    if timestamp is not None:
        version = version_at_timestamp(path, timestamp)
    v = versions[-1] if version is None else version
    if v not in versions:
        raise RuntimeError(f"txlog: version {v} not in {versions}")
    m = _read_manifest(path, v)
    files = _prune_files(path, m, filters)
    if not files:
        # a fully-deleted table (or an everything-pruned read) is a
        # legal state: reconstruct an empty DataFrame from the schema
        # recorded in the log (the reason real formats log the schema,
        # not just the file list)
        if m.get("schema") is None:
            raise RuntimeError(f"txlog: version {v} is empty and unschema'd")
        from pyspark.sql import types as T

        return _local_df(spark, [], T.StructType.fromJson(m["schema"]))
    df = _read_files(spark, m, files, path)
    return df.where(_filters_to_column(filters)) if filters else df


def _delete_where_dv(
    spark: SparkSession,
    path: str,
    predicate: Column,
    filters: Mapping[str, Any] | None,
) -> int:
    """Merge-on-read delete (see ``delete_where(mode='dv')``): write
    one (entry, row_index) parquet batch for the matching LIVE rows
    and commit a manifest whose ``dv`` map points the touched files at
    it — zero data files move. Positions come from
    ``_metadata.row_index`` on a DV-aware scan of the stats-pruned
    candidates, so re-deleting already-hidden rows nets zero."""
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(path)
        if not versions:
            raise RuntimeError(f"txlog: no table at {path}")
        latest = versions[-1]
        m = _read_manifest(path, latest)
        candidates = _prune_files(path, m, filters)
        dv_batch = None
        n_hits = 0
        if candidates:
            # tag=path: positions tagged BEFORE any projection (the
            # hidden _metadata column stops resolving after one) and
            # already-soft-deleted rows dropped, so a re-delete nets
            # zero; colmap-aware by construction.
            # WRITE-FIRST (r14, guide §1.2): the hit list lands
            # straight in its sidecar batch — ONE predicate-scan job —
            # and emptiness comes from the written footers driver-side,
            # where the old shape paid a checkpoint job plus a count
            # job before an identical write
            tagged = _read_files(spark, m, candidates, path, tag=path)
            dv_batch = os.path.join(
                path, _DATA_DIR, f"dv{uuid.uuid4().hex[:12]}"
            )
            tagged.where(predicate).select(
                F.col("_dv_entry").alias("entry"),
                F.col("_dv_ri").alias("row_index"),
            ).write.mode("error").parquet(dv_batch)
            n_hits = _parquet_rows(_dir_parquet_files(dv_batch))
        if not n_hits:
            if dv_batch is not None:  # empty sidecar: never referenced
                shutil.rmtree(dv_batch, ignore_errors=True)
            try:  # nothing matched: pure-metadata idempotent commit
                return _commit(
                    path,
                    {
                        "version": latest + 1,
                        "op": "delete_where_dv",
                        "files": m["files"],
                        "stats": m.get("stats") or {},
                        "parent": latest,
                        "rewritten": [],
                        "schema": m.get("schema"),
                    },
                )
            except TxConflict:
                continue
        dv_entry = _rel(path, dv_batch)
        touched = [
            r["entry"]
            for r in spark.read.schema(_DV_SIDECAR_SCHEMA).parquet(dv_batch)
            .select("entry")
            .distinct()
            .collect()
        ]  # O(touched files), the same driver cost as the CoW hit list
        known = set(m["files"])
        stray = [e for e in touched if e not in known]
        if stray:
            raise RuntimeError(
                f"txlog: DV rows name files outside the manifest: {stray[:3]}"
            )
        new_dv = dict(m.get("dv") or {})
        for e in touched:
            new_dv[e] = list(new_dv.get(e, [])) + [dv_entry]
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "delete_where_dv",
                    "files": m["files"],
                    "stats": m.get("stats") or {},
                    "parent": latest,
                    "dv": new_dv,
                    "dv_added": dv_entry,
                    "schema": m.get("schema"),
                },
            )
        except TxConflict:
            continue  # recompute against the winner (its dv may differ)
    raise TxConflict(
        f"txlog: dv-delete from {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def update_where(
    spark: SparkSession,
    path: str,
    predicate: Column,
    set_exprs: Mapping[str, Any],
    mode: str = "cow",
) -> int:
    """SQL UPDATE ... SET ... WHERE as one atomic commit — the last
    DML verb (append=INSERT, delete_where, merge_table=MERGE,
    overwrite*=INSERT OVERWRITE already exist). ``set_exprs`` maps
    column → Column expression (or SQL string); each value is cast to
    the column's existing type, so an update can never drift the
    schema. CHECK constraints validate the UPDATED rows.

    ``mode="cow"``: affected files are rewritten once with survivors
    untouched and matched rows transformed — cost ∝ affected file
    bytes, like delete_where.
    ``mode="dv"``: merge-on-read — matched rows are soft-deleted via
    one churn-sized deletion-vector batch and their UPDATED copies
    append as new files, in the SAME commit (files += new, dv +=
    batch; a reader sees the old or the new version, never both).
    Write cost ∝ matched rows — the upsert-heavy regime rewriting
    wide files cannot afford. CDC reads the update as
    delete(old)+insert(new), exactly SQL UPDATE's multiset semantics.
    """
    if mode not in ("cow", "dv"):
        raise ValueError(f"update_where: unknown mode {mode!r}")
    predicate = _as_predicate(predicate, "update_where")
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(path)
        if not versions:
            raise RuntimeError(f"txlog: no table at {path}")
        latest = versions[-1]
        m = _read_manifest(path, latest)
        logged_cols = (
            [f["name"] for f in (m.get("schema") or {}).get("fields", [])]
            or None
        )
        bad_cols = [
            c for c in set_exprs if logged_cols and c not in logged_cols
        ]
        if bad_cols:
            raise ValueError(
                f"update_where: SET names unknown columns {bad_cols}"
            )
        files = _manifest_files(path, m)
        if not files:
            return latest  # fully-deleted state: nothing to update
        # DV-aware tagged scan (an already-hidden row must not
        # update); tag=path attaches identity before any projection
        tagged = _read_files(spark, m, files, path, tag=path)
        matched = tagged.where(predicate).localCheckpoint(eager=True)
        if not matched.limit(1).count():
            try:  # no-op UPDATE: pure-metadata idempotent commit
                return _commit(
                    path,
                    {
                        "version": latest + 1,
                        "op": f"update_where_{mode}",
                        "files": m["files"],
                        "stats": m.get("stats") or {},
                        "parent": latest,
                        "rewritten": [],
                        "schema": m.get("schema"),
                    },
                )
            except TxConflict:
                continue
        data_cols = [
            c for c in tagged.columns
            if c not in ("_dv_entry", "_dv_abs", "_dv_ri")
        ]
        def _set_col(c: str) -> Column:
            if c not in set_exprs:
                return F.col(c)
            v = set_exprs[c]
            expr = F.expr(v) if isinstance(v, str) else v
            # cast to the column's existing type: UPDATE never drifts
            # the schema
            return expr.cast(matched.schema[c].dataType)

        updated = matched.select(*[_set_col(c).alias(c) for c in data_cols])
        _enforce_constraints(m, updated, "update_where")
        pby = m.get("partition_by")
        if mode == "dv":
            new_files = _write_batch(updated, path, pby, m.get("colmap"))
            dv_batch = os.path.join(
                path, _DATA_DIR, f"dv{uuid.uuid4().hex[:12]}"
            )
            matched.select(
                F.col("_dv_entry").alias("entry"),
                F.col("_dv_ri").alias("row_index"),
            ).write.mode("error").parquet(dv_batch)
            dv_entry = _rel(path, dv_batch)
            touched = [
                r["entry"]
                for r in spark.read.schema(_DV_SIDECAR_SCHEMA).parquet(dv_batch)
                .select("entry")
                .distinct()
                .collect()
            ]
            new_dv = dict(m.get("dv") or {})
            for e in touched:
                new_dv[e] = list(new_dv.get(e, [])) + [dv_entry]
            try:
                return _commit(
                    path,
                    {
                        "version": latest + 1,
                        "op": "update_where_dv",
                        "files": m["files"]
                        + [_rel(path, f) for f in new_files],
                        "stats": {
                            **(m.get("stats") or {}),
                            **_file_stats(path, new_files),
                        },
                        "parent": latest,
                        "dv": new_dv,
                        "dv_added": dv_entry,
                        "schema": m.get("schema"),
                    },
                )
            except TxConflict:
                continue
        # cow: rewrite only the affected files (survivors + updates) —
        # _dv_abs is already the decoded on-disk absolute path
        hit_files = {
            r["f"]
            for r in matched.select(F.col("_dv_abs").alias("f"))
            .distinct()
            .collect()
        }
        affected = hit_files & set(files)
        survivors = _read_files(spark, m, sorted(affected), path).where(
            ~F.coalesce(predicate, F.lit(False))
        )
        rewritten = survivors.unionByName(updated)
        new_files = _write_batch(rewritten, path, pby, m.get("colmap"))
        kept = [e for e in m["files"] if _resolve(path, e) not in affected]
        stats = {
            k: v
            for k, v in (m.get("stats") or {}).items()
            if _resolve(path, k) not in affected
        }
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "update_where",
                    "dv": _dv_kept(path, m, affected),
                    "files": kept + [_rel(path, f) for f in new_files],
                    "stats": {**stats, **_file_stats(path, new_files)},
                    "parent": latest,
                    "rewritten": sorted(_entry(path, f) for f in affected),
                    "schema": m.get("schema"),
                },
            )
        except TxConflict:
            continue
    raise TxConflict(
        f"txlog: update of {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def delete_where(
    spark: SparkSession,
    path: str,
    predicate: Column | None = None,
    filters: Mapping[str, Any] | None = None,
    mode: str = "cow",
) -> int:
    """Copy-on-write delete: only files CONTAINING matching rows are
    rewritten (without those rows); everything else is carried by
    reference in the new manifest. One scan finds the affected file set
    (input_file_name projection over the predicate); the rewrite reads
    only the affected files.

    Pass either an arbitrary ``predicate`` Column, or declarative
    ``filters`` (scalar eq / list IN / {'gte','lte'} range) — with
    filters the manifest's per-file min/max stats PRUNE stats-disjoint
    files before the affected-file scan, so a point delete on a
    clustered key scans O(matching files), not the table. Deleting from
    an already-empty table is a metadata no-op (delete stays
    idempotent). A lost CAS race recomputes the affected set against
    the winner's snapshot and retries.

    ``mode="dv"`` deletes MERGE-ON-READ instead (the public Delta
    deletion-vector idea): no data file is rewritten — one sidecar
    batch of (entry, row_index) pairs records the soft-deleted rows
    and every DV-aware read anti-joins them away. Write cost goes from
    O(affected file bytes) to O(matched rows): the right trade for a
    0.001% delete over wide files, for GDPR-style trickle deletes, and
    for delete-heavy churn between compactions. Reads pay a
    churn-sized broadcast anti-join until ``compact_files`` (or any
    rewrite of the file) MATERIALIZES the vectors and clears them.
    Deleting already-DV-deleted rows is a no-op (the scan is DV-aware,
    so they can no longer match)."""
    if (predicate is None) == (filters is None):
        raise ValueError("delete_where: pass exactly one of predicate/filters")
    if mode not in ("cow", "dv"):
        raise ValueError(f"delete_where: unknown mode {mode!r}")
    if predicate is None:
        predicate = _filters_to_column(filters)
    else:
        predicate = _as_predicate(predicate, "delete_where")
    if mode == "dv":
        return _delete_where_dv(spark, path, predicate, filters)
    from urllib.parse import unquote, urlparse

    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _list_versions(path)
        if not versions:
            raise RuntimeError(f"txlog: no table at {path}")
        latest = versions[-1]
        m = _read_manifest(path, latest)
        files = _manifest_files(path, m)
        candidates = _prune_files(path, m, filters)
        if candidates:
            cur = _read_files(spark, m, candidates)
            # input_file_name() yields file:// URIs with percent-encoding
            # — unquote before matching against manifest paths, and
            # HARD-FAIL on any unmatched hit rather than silently
            # skipping a delete
            hit_files = {
                unquote(urlparse(r["f"]).path)
                for r in cur.where(predicate)
                .select(F.input_file_name().alias("f"))
                .distinct()
                .collect()
            }
        else:
            hit_files = set()
        affected = hit_files & set(files)
        if hit_files - affected:
            raise RuntimeError(
                f"txlog: matching rows in files outside the manifest: "
                f"{sorted(hit_files - affected)[:3]}"
            )
        if not affected:
            # no matching rows anywhere (or the table is already empty):
            # pure metadata commit — a no-op delete at 100 TB costs at
            # most one pruned scan + one manifest write
            try:
                return _commit(
                    path,
                    {
                        "version": latest + 1,
                        "op": "delete_where",
                        "files": m["files"],
                        "stats": m.get("stats") or {},
                        "parent": latest,
                        "rewritten": [],
                        "schema": m.get("schema"),
                    },
                )
            except TxConflict:
                continue
        # SQL DELETE semantics: remove rows where the predicate is TRUE;
        # NULL-evaluating rows survive (plain ~predicate would drop them).
        # WRITE-FIRST (r14, guide §1.2): the rewrite is ONE pass over
        # the affected files — the old emptiness pre-count was a second
        # full read of them; an all-deleted batch is detected from the
        # written footers driver-side and removed before it is ever
        # referenced, reproducing the old new_files=[] manifest exactly
        survivors = _read_files(spark, m, sorted(affected), path).where(
            ~F.coalesce(predicate, F.lit(False))
        )
        new_files = _write_batch(
            survivors, path, m.get("partition_by"), m.get("colmap")
        )
        if not _parquet_rows(new_files):
            if new_files:
                shutil.rmtree(
                    os.path.dirname(new_files[0]), ignore_errors=True
                )
            new_files = []
        kept = [e for e in m["files"] if _resolve(path, e) not in affected]
        stats = {
            k: v
            for k, v in (m.get("stats") or {}).items()
            if _resolve(path, k) not in affected
        }
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "delete_where",
                    "dv": _dv_kept(path, m, affected),
                    "files": kept + [_rel(path, f) for f in new_files],
                    "stats": {**stats, **_file_stats(path, new_files)},
                    "parent": latest,
                    "rewritten": sorted(_entry(path, f) for f in affected),
                    "schema": m.get("schema"),
                },
            )
        except TxConflict:
            continue  # recompute against the winner's snapshot
    raise TxConflict(
        f"txlog: delete from {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def table_versions(spark: SparkSession, path: str) -> DataFrame:
    """(version, op, n_files, parent, ts) — the table history, from the
    log alone (no data files opened). ``ts`` is the commit wall-time in
    epoch seconds (NULL for manifests written before it was recorded)."""
    rows = [
        (
            m["version"],
            m["op"],
            len(m["files"]),
            m["parent"],
            float(m["ts"]) if m.get("ts") is not None else None,
        )
        for m in (_read_manifest(path, v) for v in _list_versions(path))
    ]
    return _local_df(spark, 
        rows, "version int, op string, n_files int, parent int, ts double"
    )


def version_at_timestamp(path: str, ts: float) -> int:
    """The TIMESTAMP AS OF resolver (the Delta/Iceberg contract): the
    LATEST version whose commit time is ≤ ``ts`` — the table state a
    reader at that wall-clock moment observed. Raises if ``ts``
    predates the table (there was no table to read then). Versions
    commit with monotone wall-times under the CAS (a later version
    stamps at-or-after its parent on one host's clock); manifests
    predating the ``ts`` field sort as version order."""
    versions = _list_versions(path)
    if not versions:
        raise RuntimeError(f"txlog: no table at {path}")
    best = None
    for v in versions:
        m_ts = _read_manifest(path, v).get("ts")
        if m_ts is None or float(m_ts) <= float(ts):
            best = v
        else:
            break
    if best is None:
        raise RuntimeError(
            f"txlog: timestamp {ts} predates the first commit of {path}"
        )
    return best


def table_diff(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    columns: list[str] | None = None,
) -> DataFrame:
    """Row-level CDC between two versions, computed from CHANGED FILES
    ONLY: files present in both manifests carry identical immutable
    rows and are never read — inserts = rows(files added) EXCEPT ALL
    rows(files removed), deletes the reverse. At 100 TB the diff cost
    is proportional to the churn, not the table. Returns the union with
    a ``change`` column ('insert' | 'delete').

    ``columns`` diffs the PROJECTION only: the multiset delta of the
    projected tuples — exactly what an aggregate consumer (matview
    refresh) needs, since a row whose projection is unchanged nets to
    zero there. Also the only way to diff past non-comparable columns
    (Spark refuses set operations over MAP types) and a column-pruned
    scan besides."""
    m_to = _read_manifest(path, v_to)
    m_from = _read_manifest(path, v_from)
    a, b = set(m_from["files"]), set(m_to["files"])
    removed_e, added_e = sorted(a - b), sorted(b - a)
    # deletion vectors: a file present in BOTH versions whose DV set
    # changed contributes rows too — its old side reads with v_from's
    # vectors, its new side with v_to's, and exceptAll yields exactly
    # the newly-hidden (or restored) rows
    dv_f, dv_t = m_from.get("dv") or {}, m_to.get("dv") or {}
    dv_changed_e = sorted(
        e for e in (a & b) if (dv_f.get(e) or []) != (dv_t.get(e) or [])
    )
    schema_src = read_table(spark, path, v_to)

    def _side(entries: list, dv_manifest: dict):
        files = [_resolve(path, e) for e in entries]
        if not files:
            return schema_src.limit(0)
        # read with v_to's schema AND column mapping: across a schema
        # evolution the old files null-fill the evolved columns and a
        # renamed column lines up via its stable physical name,
        # keeping exceptAll typed; the side's OWN deletion vectors
        # apply (dv_m)
        return _read_files(
            spark, m_to, files, path=path, dv_m=dv_manifest
        )

    old = _side(removed_e + dv_changed_e, m_from)
    new = _side(added_e + dv_changed_e, m_to)
    if columns is not None:
        old, new = old.select(*columns), new.select(*columns)
    return new.exceptAll(old).withColumn(
        "change", F.lit("insert")
    ).unionAll(old.exceptAll(new).withColumn("change", F.lit("delete")))


def _vacuum_orphans(
    path: str, versions: list[int], orphan_grace_s: float
) -> int:
    """Remove data files referenced by NO manifest (crash debris,
    lost-CAS leftovers) once older than the grace window. Returns the
    number removed."""
    import time

    referenced: set[str] = set()
    for v in versions:
        mv = _read_manifest(path, v)
        referenced.update(_manifest_files(path, mv))
        referenced.update(_dv_files(path, mv))  # live DVs are not orphans
    data = os.path.join(path, _DATA_DIR)
    if not os.path.isdir(data):
        return 0
    cutoff = time.time() - orphan_grace_s
    removed = 0
    for fp in _data_files(path):
        if fp not in referenced and os.path.getmtime(fp) < cutoff:
            os.remove(fp)
            removed += 1
    return removed


def compact_log(
    spark: SparkSession,
    path: str,
    keep_versions: int = 10,
    orphan_grace_s: float = 86400.0,
) -> int:
    """Drop manifests older than the newest ``keep_versions`` and any
    data file no retained manifest references (vacuum). Returns the
    number of data files removed. Time travel windows shrink to the
    retained versions — the standard retention trade.

    Exactly-once across vacuum: the batch ids of the dropped manifests
    are carried forward into ``_batchids.json`` (atomic temp+rename,
    written BEFORE any manifest is deleted — a crash mid-compact can
    duplicate carried ids, never lose one), so a streaming checkpoint
    replaying a batch older than the retention window still lands as a
    no-op (the Delta txn app-id retention idea).

    ORPHAN data files — written by a crashed commit or a lost-CAS
    retry and referenced by NO manifest at all (fsck counts them) —
    are also removed, but only when older than ``orphan_grace_s``
    (default 24 h, the Delta VACUUM retention model): a younger
    unreferenced batch may be a concurrent writer's in-flight commit,
    and deleting it would corrupt that writer's manifest the moment
    its CAS lands."""
    versions = _list_versions(path)
    keep = versions[-keep_versions:]
    drop = versions[:-keep_versions]
    removed = _vacuum_orphans(path, versions, orphan_grace_s)
    if not drop:
        return removed
    dropped_ids = set()
    for v in drop:
        b = _read_manifest(path, v).get("batch_id")
        if b is not None:
            dropped_ids.add(b)
    if dropped_ids:
        carried = sorted(
            _carried_batch_ids(path) | dropped_ids, key=lambda x: (str(type(x)), x)
        )
        tmp = os.path.join(_log_path(path), f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump({"batch_ids": carried}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(_log_path(path), _BATCHIDS_FILE))
    # materialize any RETAINED delta manifest whose base is about to be
    # vacuumed (atomic in-place replace: readers see the delta or the
    # identical materialized form, never a broken chain); then snapshot
    # every dropped version's file list BEFORE deleting any manifest —
    # a dropped delta may chain onto an earlier dropped base
    dropset = set(drop)
    for v in keep:
        with open(_manifest_file(path, v)) as f:
            raw = json.load(f)
        if "delta" in raw and raw["delta"]["base"] in dropset:
            full = _read_manifest(path, v)
            full.pop("delta", None)
            tmp = os.path.join(_log_path(path), f".{uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as f:
                json.dump(full, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, _manifest_file(path, v))
    dropped_files = {}
    for v in drop:
        mv = _read_manifest(path, v)
        # a dropped version's DV batches go with it (unless retained
        # manifests still reference them — the live guard below)
        dropped_files[v] = _manifest_files(path, mv) + _dv_files(path, mv)
    live: set[str] = set()
    for v in keep:
        mv = _read_manifest(path, v)
        live.update(_manifest_files(path, mv))
        live.update(_dv_files(path, mv))
    for v in drop:
        for f in dropped_files[v]:
            # never delete borrowed files (shallow-clone references):
            # they are owned by the source table, not this log
            if f not in live and _owned(path, f) and os.path.exists(f):
                os.remove(f)
                removed += 1
        os.remove(_manifest_file(path, v))
    # prune batch dirs whose subtree holds no parquet anymore
    # (bottom-up: a child dir that still exists after its own visit
    # has live parquet; marker files like _SUCCESS die with the dir)
    data = os.path.join(path, _DATA_DIR)
    if os.path.isdir(data):
        for r, dirs, names in os.walk(data, topdown=False):
            if r == data:
                continue
            live_child = any(os.path.isdir(os.path.join(r, d)) for d in dirs)
            has_parquet = any(n.endswith(".parquet") for n in names)
            if not live_child and not has_parquet:
                shutil.rmtree(r, ignore_errors=True)
    return removed


def restore_table(spark: SparkSession, path: str, version: int) -> int:
    """Delta-style RESTORE: roll the table back to ``version`` as a
    NEW forward commit whose file list, stats and schema are the
    target's — a pure metadata operation (zero data files move; at
    100 TB a rollback that rewrote data would be unusable). History is
    preserved: the bad versions stay time-travelable until compact_log
    drops them, and ``table_diff(latest-1, latest)`` across the restore
    commit is exactly the inverse of the changes being undone (the CDC
    consumers see the rollback as ordinary changes). A lost CAS race
    rebases onto the winner's version number and retries — the restore
    still pins the table to the TARGET's file set.

    Table METADATA restores with the data (Delta RESTORE semantics,
    ADVICE r7): the restored commit carries the TARGET version's
    CHECK-constraint set (and partition spec / deletion vectors /
    column mapping), not the current one — restoring past an
    add_constraint drops the constraint rather than silently
    reintroducing rows that violate it. Re-adding the constraint
    afterwards re-validates the restored data (add-time scan)."""
    if version not in _list_versions(path):
        raise RuntimeError(
            f"txlog: cannot restore {path} to version {version}: "
            f"not in the retained log {_list_versions(path)}"
        )
    target = _read_manifest(path, version)
    for _ in range(_MAX_COMMIT_RETRIES):
        latest = _list_versions(path)[-1]
        try:
            return _commit(
                path,
                {
                    "version": latest + 1,
                    "op": "restore",
                    "files": target["files"],
                    "stats": target.get("stats") or {},
                    "parent": latest,
                    "restored_from": version,
                    "schema": target.get("schema"),
                    "partition_by": target.get("partition_by"),
                    "dv": target.get("dv"),
                    "constraints": target.get("constraints"),
                    "colmap": target.get("colmap"),
                },
            )
        except TxConflict:
            continue
    raise TxConflict(
        f"txlog: restore of {path} lost {_MAX_COMMIT_RETRIES} CAS races"
    )


def shallow_clone(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    version: int | None = None,
) -> int:
    """Delta-style SHALLOW CLONE: create ``dst_path`` as a new table
    whose version-0 manifest references the source's data files by
    ABSOLUTE path — zero bytes copied, O(manifest) cost regardless of
    table size. The clone then diverges independently: appends land
    under the clone's own root; copy-on-write delete/merge rewrite
    affected borrowed files INTO the clone (the source is never
    touched); the clone's vacuum/compact never deletes borrowed files
    (``_owned`` guard). Contract shared with Delta shallow clones:
    vacuuming/compacting the SOURCE can remove files the clone still
    references — ``fsck(dst)`` reports them as missing. Use clones for
    zero-cost dev/test snapshots of a production table, not as
    long-lived forks."""
    if _list_versions(dst_path):
        raise RuntimeError(f"txlog: table already exists at {dst_path}")
    src_versions = _list_versions(src_path)
    if not src_versions:
        raise RuntimeError(f"txlog: no table at {src_path}")
    v = src_versions[-1] if version is None else version
    if v not in src_versions:
        raise RuntimeError(f"txlog: version {v} not in {src_versions}")
    m = _read_manifest(src_path, v)
    files_abs = _manifest_files(src_path, m)
    src_stats = m.get("stats") or {}
    stats = {}
    for e, f in zip(m["files"], files_abs):
        if e in src_stats:
            stats[f] = src_stats[e]
    dv_abs = {
        _resolve(src_path, e): [_resolve(src_path, d) for d in lst]
        for e, lst in (m.get("dv") or {}).items()
    }
    try:
        return _commit(
            dst_path,
            {
                "version": 0,
                "op": "clone",
                "files": files_abs,
                "stats": stats,
                "parent": None,
                "cloned_from": {"path": os.path.abspath(src_path), "version": v},
                "schema": m.get("schema"),
                "partition_by": m.get("partition_by"),
                "dv": dv_abs,
                # table properties travel with the clone (ADVICE r8:
                # parent=None means _commit's inheritance never runs, so
                # omitting colmap made renamed columns read as NULL off
                # the borrowed physical files)
                "colmap": m.get("colmap"),
                "constraints": m.get("constraints"),
            },
        )
    except TxConflict:
        raise RuntimeError(
            f"txlog: table already exists at {dst_path} (lost create race)"
        ) from None


def dv_stats(spark: SparkSession, path: str, version: int | None = None) -> dict:
    """Deletion-vector accounting for a snapshot: how much of the
    table is soft-deleted and how much read-side work the vectors add.
    Returns {version, n_files, n_dv_files, n_dv_batches, hidden_rows,
    physical_rows, hidden_ratio}. Costs O(dv batches) parquet FOOTER
    reads (row counts only — no data) plus the manifest; physical row
    counts come from the manifest stats. The 100 TB maintenance
    signal: schedule compaction when hidden_ratio crosses a threshold
    (``compact_if_dv_ratio``) instead of on a timer."""
    import pyarrow.parquet as pq

    versions = _list_versions(path)
    if not versions:
        raise RuntimeError(f"txlog: no table at {path}")
    v = versions[-1] if version is None else version
    m = _read_manifest(path, v)
    dv = m.get("dv") or {}
    dv_dirs = _dv_dirs(path, m)
    hidden = 0
    for d in dv_dirs:
        if os.path.isdir(d):
            for n in os.listdir(d):
                if n.endswith(".parquet"):
                    hidden += pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
    stats = m.get("stats") or {}
    physical = sum(
        (stats.get(e) or {}).get("rows") or 0 for e in m["files"]
    )
    return {
        "version": v,
        "n_files": len(m["files"]),
        "n_dv_files": len(dv),
        "n_dv_batches": len(dv_dirs),
        "hidden_rows": hidden,
        "physical_rows": physical,
        "hidden_ratio": (hidden / physical) if physical else 0.0,
    }


def compact_if_dv_ratio(
    spark: SparkSession,
    path: str,
    threshold: float = 0.1,
    target_files: int = 8,
) -> int | None:
    """Ratio-triggered DV materialization: compact (rewriting hidden
    rows away and clearing the vectors) only when the soft-deleted
    fraction crosses ``threshold`` — the maintenance policy that keeps
    the read-side anti-join bounded without rewriting a 100 TB table
    on a timer. Returns the new version, or None when below
    threshold. NOTE: ``hidden_rows`` counts DV entries, which may
    OVERLAP across batches for re-deleted rows — the ratio is an
    upper bound, i.e. the trigger errs toward compacting."""
    s = dv_stats(spark, path)
    if s["hidden_ratio"] < threshold or s["n_dv_batches"] == 0:
        return None
    return compact_files(spark, path, target_files=target_files)
