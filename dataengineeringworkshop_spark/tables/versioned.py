"""Versioned table layer — OSS-Delta-semantics parity on plain parquet.

The container has no delta-spark, so the reference's Delta surface
(SURVEY.md §2.10: UPDATE D1-D3, MERGE D4, DESCRIBE HISTORY D5, time travel
D6, OPTIMIZE/compaction D7; §2.1 S5-S6 table sinks; S10 ADD COLUMN) is
re-implemented here as a minimal copy-on-write table format:

    <path>/_dew_log/<version 8-digit>.json   — one commit per version
    <path>/v<version>-<uuid>/part-*.parquet  — immutable data directories

Each commit records the COMPLETE list of active data directories (snapshot
isolation: readers of version N never see later writes) plus operation
metadata (DESCRIBE HISTORY parity) and the schema DDL (ADD COLUMN reads
old files through the evolved schema with nulls).

Scale posture: all data movement is Spark jobs — reads are parquet scans
of the active units (partition pruning/pushdown intact), UPDATE / MERGE /
DELETE are FILE-PRUNED copy-on-write (round 11): a probe pass finds the
files that actually contain affected rows (itself pruned by commit-log
min/max stats and parquet pushdown), ONLY those files are rewritten, and
untouched files are carried forward by reference in the commit — the
same rewrite-set pruning real Delta does, so a selective UPDATE on a
100 TB table rewrites megabytes, not the table.  A commit's active set
may therefore mix directory refs and individual file refs.  The probe's
one driver-side ``collect`` is the DISTINCT FILE LIST (metadata-scale,
bounded by file count — exactly what Delta's driver does when planning a
rewrite), never row data.  The transaction log is tiny JSON driver-side
metadata, like Delta's _delta_log.

Single-writer semantics (commits are atomic via rename); the workshop's
workloads are single-writer.

Reference cites: MERGE `2 Medaillon architecture.py:534-540`; UPDATE
`1 Data ingestion.py:151-172`, `2 Medaillon architecture.py:511-518`;
history/time travel `1 Data ingestion.py:196-212`; OPTIMIZE/ZORDER
`2 Medaillon architecture.py:449-465`; ADD COLUMN `1 Data ingestion.py:146-147`.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG_DIR = "_dew_log"

#: deletion-vector sidecar layout: one row per soft-deleted row position
#: (``file_ref`` is the scan-side ``_metadata.file_path``, see _scan_ref)
_DV_SCHEMA = "file_ref string, pos long"


@dataclass
class Commit:
    version: int
    timestamp_ms: int
    operation: str
    operation_params: dict
    data_dirs: list[str]  # relative to table root; complete active set
    schema_ddl: str  # struct DDL of the table at this version
    metrics: dict
    # per-file column stats for data skipping (Delta's stats field):
    # {rel_file: {col: [min, max]}} — recorded by OPTIMIZE for the
    # zorder columns; empty for other commits (older logs load fine).
    file_stats: dict = None
    # deletion-vector sidecar dirs (Delta deletion-vector parity):
    # parquet dirs of (file_ref, pos) rows marking soft-deleted row
    # positions in still-active data files — applied as an anti-join on
    # every snapshot read.  Relative to the table root (absolute for
    # shallow clones, like data_dirs); empty/missing on older logs.
    dv_dirs: list = None
    # SNAPSHOT of the effective TBLPROPERTIES at this version (last-wins
    # merge, folded forward commit by commit at commit time) — lets
    # properties()/_dml_mode read ONLY the latest commit instead of
    # re-parsing the whole log on every DML call (O(1) vs O(history),
    # ADVICE r12).  None on pre-r13 logs → reader falls back to the
    # full-history merge.
    properties: dict = None


class VersionedTable:
    """A versioned parquet table with Delta-like DML and time travel."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        p = path.rstrip("/")
        # The COW probe relativizes input_file_name() URIs (always
        # absolute) against this root; a RELATIVE root would never
        # match, so every probe ref would silently fall outside the
        # active set.  Normalize local paths to absolute up front.
        if "://" not in p:
            p = os.path.abspath(p)
        self.path = p

    # ------------------------------------------------------------------ log

    def _log_path(self, version: int) -> str:
        return f"{self.path}/{_LOG_DIR}/{version:08d}.json"

    def _commits(self) -> list[Commit]:
        log_dir = f"{self.path}/{_LOG_DIR}"
        if not os.path.isdir(log_dir):
            return []
        commits = []
        for fn in sorted(os.listdir(log_dir)):
            if not fn.endswith(".json"):
                continue
            with open(f"{log_dir}/{fn}") as f:
                d = json.load(f)
            commits.append(Commit(**d))
        return commits

    def _latest(self) -> Commit | None:
        """Read ONLY the highest-numbered commit file — every DML /
        snapshot-read resolution goes through here, so it must stay
        O(1) in table history (the zero-padded names make max() the
        latest version; O(#commits) listdir is metadata-scale)."""
        log_dir = f"{self.path}/{_LOG_DIR}"
        if not os.path.isdir(log_dir):
            return None
        names = [fn for fn in os.listdir(log_dir) if fn.endswith(".json")]
        if not names:
            return None
        with open(f"{log_dir}/{max(names)}") as f:
            return Commit(**json.load(f))

    def exists(self) -> bool:
        """True once the table has at least one commit."""
        return self._latest() is not None

    def _commit(
        self,
        operation: str,
        data_dirs: list[str],
        schema_ddl: str,
        params: dict | None = None,
        metrics: dict | None = None,
        file_stats: dict | None = None,
        dv_dirs: list[str] | None = None,
    ) -> Commit:
        prev = self._latest()
        version = 0 if prev is None else prev.version + 1
        if dv_dirs is None:
            # deletion vectors CARRY FORWARD by default: a metadata-only
            # or partial-rewrite commit that forgot to carry them would
            # silently RESURRECT soft-deleted rows, while carrying a
            # stale entry (its file no longer active) can never match a
            # scan — so inherit unless the caller explicitly clears
            # (full rewrites pass dv_dirs=[]).
            dv_dirs = list(prev.dv_dirs or []) if prev is not None else []
        # fold the effective property map forward (legacy logs without a
        # snapshot pay the full merge ONCE here, then carry it)
        if prev is None:
            props: dict[str, str] = {}
        elif prev.properties is not None:
            props = dict(prev.properties)
        else:
            props = self._properties_scan()
        if operation == "SET TBLPROPERTIES":
            props.update((params or {}).get("properties") or {})
        c = Commit(
            version=version,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            operation_params=params or {},
            data_dirs=data_dirs,
            schema_ddl=schema_ddl,
            metrics=metrics or {},
            file_stats=file_stats or {},
            dv_dirs=dv_dirs,
            properties=props,
        )
        os.makedirs(f"{self.path}/{_LOG_DIR}", exist_ok=True)
        tmp = self._log_path(version) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(c.__dict__, f)
        os.rename(tmp, self._log_path(version))  # atomic publish
        return c

    def _new_data_dir(self, version: int) -> str:
        return f"v{version:08d}-{uuid.uuid4().hex[:8]}"

    # ---------------------------------------------------------------- write

    # the commit-log format lets a caller interpose between the data
    # write and the log append (transactional fail-mode expectations)
    supports_precommit = True

    def write(
        self, df: DataFrame, mode: str = "overwrite", precommit=None
    ) -> "VersionedTable":
        """CTAS / saveAsTable parity (S5-S6).  mode: overwrite | append.

        Append commits the MERGED schema (existing fields + new batch's
        new fields) so a narrower batch cannot silently drop columns from
        subsequent snapshot reads; a type conflict on a shared column
        raises instead of corrupting.

        ``precommit``: optional callable invoked AFTER the data write but
        BEFORE the commit-log append.  If the write action itself fails
        (e.g. a row-level fail-mode expectation guard fired mid-scan) or
        ``precommit`` raises, the staged data directory is removed and
        nothing is committed — readers never see the aborted version.
        This is how the pipeline runner gets transactional ON VIOLATION
        FAIL UPDATE out of a single scan: the check rides the write
        action, and the commit-log append is the only publish point."""
        prev = self._latest()
        version = 0 if prev is None else prev.version + 1
        rel = self._new_data_dir(version)
        try:
            df.write.mode("overwrite").parquet(f"{self.path}/{rel}")
            if precommit is not None:
                precommit()
        except BaseException:
            from .staging import remove_staged_dir

            # Spark kills the failed job's tasks asynchronously; wait
            # out stragglers so a re-created _temporary tree can't
            # survive the abort (orphaned storage at scale).
            remove_staged_dir(f"{self.path}/{rel}")
            raise
        schema_ddl = df.schema.simpleString()
        if mode == "append" and prev is not None:
            from pyspark.sql.types import StructType

            old = _schema_of(prev)
            merged = list(old.fields)
            by_name = {f.name: f for f in old.fields}
            for f in df.schema.fields:
                if f.name in by_name:
                    have = by_name[f.name].dataType.simpleString()
                    got = f.dataType.simpleString()
                    if have != got:
                        raise ValueError(
                            f"append schema conflict on {f.name!r}: table has "
                            f"{have}, batch has {got}"
                        )
                else:
                    merged.append(f)
            schema_ddl = StructType(merged).simpleString()
            dirs = prev.data_dirs + [rel]
            op = "WRITE APPEND"
        else:
            dirs = [rel]
            op = "CREATE TABLE AS SELECT" if prev is None else "WRITE OVERWRITE"
        self._commit(
            op, dirs, schema_ddl, {"mode": mode},
            metrics=self._written_metrics(rel),
            # overwrite replaces the data set wholesale; append's new
            # files have no DV entries, existing ones keep theirs
            dv_dirs=None if mode == "append" else [],
        )
        return self

    # ----------------------------------------------------------------- read

    def _resolve_commit(self, version: int | None) -> Commit:
        """O(1) in table history: the latest commit comes from
        :meth:`_latest`, a pinned version opens exactly its own log
        file — time travel never re-parses the whole log."""
        if version is None:
            latest = self._latest()
            if latest is None:
                raise FileNotFoundError(f"no such versioned table: {self.path}")
            return latest
        lp = self._log_path(version)
        if not os.path.isfile(lp):
            if self._latest() is None:
                raise FileNotFoundError(f"no such versioned table: {self.path}")
            raise ValueError(f"version {version} not in table history")
        with open(lp) as f:
            return Commit(**json.load(f))

    def _abs(self, d: str) -> str:
        """Data dirs are table-root-relative, EXCEPT shallow-clone
        commits, which reference the source table's directories by
        absolute path (Delta shallow-clone semantics)."""
        return d if os.path.isabs(d) else f"{self.path}/{d}"

    def scan_files(self, version: int | None = None, where: str | None = None) -> list[str]:
        """Absolute parquet paths a read of this snapshot scans.  With
        ``where`` and recorded file stats (post-OPTIMIZE), files whose
        min/max range cannot satisfy the predicate are SKIPPED —
        Delta-style data skipping from the commit log.  Directories
        without stats, and predicates the conjunctive-comparison parser
        doesn't understand, are kept conservatively."""
        c = self._resolve_commit(version)
        stats = c.file_stats or {}
        bounds = _parse_conjunctive_bounds(where) if where else []
        out: list[str] = []
        for d in c.data_dirs:
            base = self._abs(d)
            if os.path.isdir(base):
                for fn in sorted(os.listdir(base)):
                    if not fn.endswith(".parquet"):
                        continue
                    rel = f"{d}/{fn}"
                    if bounds and rel in stats and _stats_exclude(stats[rel], bounds):
                        continue
                    out.append(f"{base}/{fn}")
            else:
                # individual carried-forward file ref (file-pruned COW)
                if bounds and d in stats and _stats_exclude(stats[d], bounds):
                    continue
                out.append(base)
        return out

    def read(self, version: int | None = None, where: str | None = None) -> DataFrame:
        """Snapshot read; ``version`` = time travel (`VERSION AS OF n`,
        N1:210-212).  Missing columns (pre-ADD COLUMN files) surface as
        nulls — Delta's schema-evolution read semantics.

        ``where`` applies the predicate AND, when the commit carries
        file stats (OPTIMIZE records min/max for its zorder columns),
        prunes non-overlapping files before the scan — reproducing the
        reference's ZORDER point-lookup exercise (`2 Medaillon
        architecture.py:436-465`) on the parquet-backed format."""
        c = self._resolve_commit(version)
        if where:
            paths = self.scan_files(version, where)
            if not paths:
                # stats pruned EVERY file (point lookup outside all
                # min/max ranges) — an empty result, like Delta, not a
                # zero-path scan
                return self.spark.createDataFrame([], _schema_of(c))
        else:
            paths = [self._abs(d) for d in c.data_dirs]
        out = self._evolved(paths, c)
        return out.filter(F.expr(where)) if where else out

    # scan-side file identity: `_metadata.file_path` with the URI scheme
    # stripped.  Deletion-vector refs are RECORDED with this same
    # expression, so the anti-join compares symmetric representations —
    # encoding quirks cancel out.  Robust through joins, unlike
    # input_file_name() (documented to be unreliable post-join).
    @staticmethod
    def _scan_ref() -> F.Column:
        return F.regexp_replace(F.col("_metadata.file_path"), "^file:", "")

    def _scan(self, paths: list[str], schema) -> DataFrame:
        """The one parquet scan of this module.  ``schema`` is always
        known — the commit's ``schema_ddl``, the fixed deletion-vector
        layout, or the schema of the frame just written — so Spark never
        runs a footer-listing job to infer or merge one (Delta's
        metadata-in-the-log read path).  A file that lacks a requested
        column (written before ADD COLUMN) reads it as NULL; DML writes
        cast assigned values to the committed types, so every data file
        matches the commit it belongs to."""
        return self.spark.read.schema(schema).parquet(*paths)

    def _evolved(self, paths: list[str], c: Commit, lineage: bool = False) -> DataFrame:
        """Scan ``paths`` (dirs and/or files) with the commit's schema:
        missing columns (pre-ADD COLUMN files) surface as nulls, column
        order is the committed order.

        If the commit carries deletion vectors, soft-deleted (file, pos)
        rows are removed with an anti-join against the DV sidecar —
        Delta's merge-on-read DELETE read path.  The DV side is tiny
        relative to the data (OPTIMIZE compacts it away, like Delta),
        so AQE plans the anti-join as a broadcast: the data side never
        shuffles.  Zero plan overhead when no DVs exist.

        ``lineage=True`` appends ``__dew_ref`` (absolute file path) and
        ``__dew_pos`` (row position in that file) for DML probes."""
        committed = _schema_of(c)
        if not paths:
            empty = self.spark.createDataFrame([], committed)
            if lineage:
                empty = empty.withColumn(
                    "__dew_ref", F.lit(None).cast("string")
                ).withColumn("__dew_pos", F.lit(None).cast("long"))
            return empty
        df = self._scan(paths, committed)
        dv_paths = [self._abs(d) for d in (c.dv_dirs or [])]
        if dv_paths or lineage:
            df = df.withColumn("__dew_ref", self._scan_ref()).withColumn(
                "__dew_pos", F.col("_metadata.row_index")
            )
        if dv_paths:
            dv = self._scan(dv_paths, _DV_SCHEMA).select(
                F.col("file_ref").alias("__dv_ref"), F.col("pos").alias("__dv_pos")
            )
            df = df.join(
                dv,
                (F.col("__dew_ref") == F.col("__dv_ref"))
                & (F.col("__dew_pos") == F.col("__dv_pos")),
                "left_anti",
            )
        cols = [f.name for f in committed.fields]
        if lineage:
            cols += ["__dew_ref", "__dew_pos"]
        return df.select(*cols)

    # -------------------------------------------------- file-pruned COW

    def _active_refs(self, c: Commit) -> list[str]:
        """The commit's active data set exploded to individual FILE refs
        (relative to the table root when inside it, absolute otherwise —
        shallow clones).  Directory refs expand to their parquet files."""
        refs: list[str] = []
        for d in c.data_dirs:
            base = self._abs(d)
            if os.path.isdir(base):
                refs.extend(
                    f"{d}/{fn}"
                    for fn in sorted(os.listdir(base))
                    if fn.endswith(".parquet")
                )
            else:
                refs.append(d)
        return refs

    def _refs_of_probe(self, probe: DataFrame) -> set[str]:
        """DISTINCT file refs containing probe rows.  ``probe`` must
        carry ``__dew_file`` = input_file_name().  The collect here is
        the distinct FILE LIST — metadata-scale (bounded by file count,
        like Delta's driver-side rewrite planning), never row data."""
        from urllib.parse import unquote, urlparse

        root = self.path + "/"
        out: set[str] = set()
        for (name,) in probe.select("__dew_file").distinct().collect():
            p = unquote(urlparse(name).path)
            out.add(p[len(root):] if p.startswith(root) else p)
        return out

    def _touched_untouched(
        self, condition: str, c: Commit
    ) -> tuple[list[str], list[str]]:
        """Split the active file set into (touched, untouched) for a
        row-level predicate: touched files contain ≥1 row where the
        condition is TRUE.  The probe scan is pruned by commit-log
        min/max stats AND parquet predicate pushdown before any row is
        read, so a stats-excluded file costs nothing."""
        candidates = self.scan_files(c.version, condition)
        touched: set[str] = set()
        if candidates:
            # lineage=True: file identity from _metadata (survives the
            # DV anti-join; input_file_name() is unreliable post-join),
            # and the scan is DV-applied so a condition matching only
            # soft-deleted rows does not mark their file touched
            probe = (
                self._evolved(candidates, c, lineage=True)
                .withColumnRenamed("__dew_ref", "__dew_file")
                .filter(F.expr(condition).eqNullSafe(F.lit(True)))
            )
            touched = self._refs_of_probe(probe)
        all_refs = self._active_refs(c)
        # stats-pruned candidates are untouched by construction
        untouched = [r for r in all_refs if r not in touched]
        touched_ordered = [r for r in all_refs if r in touched]
        if set(touched_ordered) != touched:
            # data-integrity invariant — a mismatch means matched rows
            # would be silently dropped from the rewrite set, so this
            # must survive ``python -O`` (never a bare assert)
            raise RuntimeError(
                "COW probe returned files outside the active set: "
                f"{sorted(touched - set(touched_ordered))!r}"
            )
        return touched_ordered, untouched

    def _carried_stats(self, prev: Commit, untouched: list[str]) -> dict:
        """File stats survive for carried-forward files (data skipping
        keeps working on the untouched part after a selective DML)."""
        stats = prev.file_stats or {}
        return {r: stats[r] for r in untouched if r in stats}

    def _bytes_of_refs(self, refs: list[str]) -> int:
        """Total on-disk parquet bytes of file/dir refs — driver-side
        metadata op bounded by file count (the same footprint as Delta's
        commit-planning stat collection, never row data)."""
        total = 0
        for r in refs:
            p = self._abs(r)
            if os.path.isdir(p):
                total += sum(
                    os.path.getsize(os.path.join(p, fn))
                    for fn in os.listdir(p)
                    if fn.endswith(".parquet")
                )
            elif os.path.exists(p):
                total += os.path.getsize(p)
        return total

    def _written_metrics(self, rel: str) -> dict:
        """files/bytes added by a freshly written data dir (Delta's
        ``numTargetFilesAdded`` / ``numTargetBytesAdded`` parity)."""
        base = f"{self.path}/{rel}"
        parts = [fn for fn in os.listdir(base) if fn.endswith(".parquet")]
        return {
            "files_added": len(parts),
            "bytes_added": sum(os.path.getsize(os.path.join(base, fn)) for fn in parts),
        }

    def _rewrite_metrics(self, rel: str, touched: list[str], untouched: list[str]) -> dict:
        """Per-DML rewrite accounting surfaced via ``history()``:
        ``files_rewritten``/``bytes_rewritten`` are the INPUT files a
        full (unpruned) copy-on-write would also have rewritten but a
        pruned one actually did (Delta ``numTargetFilesRemoved`` /
        ``numTargetBytesRemoved``), ``files_carried``/``bytes_carried``
        the untouched files carried forward by reference — the ratio
        (carried+rewritten)/rewritten is exactly the "N× less IO than a
        full rewrite" number a selective DML earns from stats pruning."""
        return {
            "files_rewritten": len(touched),
            "files_carried": len(untouched),
            "bytes_rewritten": self._bytes_of_refs(touched),
            "bytes_carried": self._bytes_of_refs(untouched),
            **self._written_metrics(rel),
        }

    # ------------------------------------------------------------------ DML

    def update(
        self,
        set_exprs: dict[str, str],
        condition: str | None = None,
        mode: str | None = None,
    ) -> None:
        """UPDATE … SET … [WHERE …] (D1-D3).

        ``mode="cow"`` — FILE-PRUNED copy-on-write: a stats+pushdown-
        pruned probe finds the files containing rows where the condition
        is TRUE, only those are rewritten (CASE WHEN per updated
        column), untouched files carry forward by reference.  An
        unconditional UPDATE rewrites everything (every file is touched
        by definition).

        ``mode="mor"`` — merge-on-read (Delta's deletion-vector UPDATE):
        the matched rows' old versions are soft-deleted via a DV sidecar
        and ONLY the updated rows are appended as a new file.  Write
        volume is O(matched rows), not O(touched files) — at 100 TB a
        ten-row UPDATE writes kilobytes either way on the DV path, where
        even a pruned COW rewrites whole files.

        ``mode=None`` resolves from the ``delta.enableDeletionVectors``
        table property (Delta's own opt-in surface): ``'true'`` routes
        to merge-on-read, anything else to copy-on-write."""
        mode = self._dml_mode(mode)
        if mode == "mor":
            self._update_mor(set_exprs, condition)
            return
        if mode != "cow":
            raise ValueError(f"update mode must be 'cow' or 'mor', got {mode!r}")
        prev = self._latest()
        if condition is not None:
            touched, untouched = self._touched_untouched(condition, prev)
            if not touched:
                # no row matches: metadata-only commit, like Delta
                self._commit(
                    "UPDATE", prev.data_dirs, prev.schema_ddl,
                    {"condition": condition, "set": set_exprs},
                    metrics={"files_rewritten": 0, "bytes_rewritten": 0,
                             "files_carried": len(self._active_refs(prev))},
                    file_stats=prev.file_stats or {},
                )
                return
            cur = self._evolved([self._abs(r) for r in touched], prev)
        else:
            touched, untouched = self._active_refs(prev), []
            cur = self.read()
        cond = F.expr(condition) if condition else F.lit(True)
        types = _types_of(prev)
        out = cur.select(
            *[
                (F.when(cond, F.expr(expr).cast(types[c]))
                 .otherwise(F.col(c)).alias(c)
                 if c in set_exprs and (expr := set_exprs[c]) is not None
                 else F.col(c))
                for c in cur.columns
            ]
        )
        rel = self._new_data_dir(prev.version + 1)
        out.write.mode("overwrite").parquet(f"{self.path}/{rel}")
        self._commit(
            "UPDATE", untouched + [rel], prev.schema_ddl,
            {"condition": condition, "set": set_exprs},
            metrics=self._rewrite_metrics(rel, touched, untouched),
            file_stats=self._carried_stats(prev, untouched),
            # unconditional UPDATE rewrote everything from the
            # DV-applied read — deletion vectors are compacted away
            dv_dirs=None if condition is not None else [],
        )

    def _update_mor(self, set_exprs: dict[str, str], condition: str | None) -> None:
        """Merge-on-read UPDATE: soft-delete the matched rows' old
        versions via a deletion vector and APPEND only the updated rows
        — write volume is O(matched rows).  The matched plan is
        evaluated EXACTLY ONCE into a staging artifact; the DV sidecar
        and the appended row versions both derive from that single
        written result, so a non-deterministic condition (rand(),
        LIMIT-fed subquery) cannot make the soft-deleted set and the
        appended set diverge (ADVICE r12), and the matched count rides
        the artifact — no plan re-execution anywhere."""
        import shutil

        prev = self._latest()
        cond_sql = condition if condition is not None else "TRUE"
        candidates = self.scan_files(prev.version, condition)
        matched = (
            self._evolved(candidates, prev, lineage=True)
            .filter(F.expr(cond_sql).eqNullSafe(F.lit(True)))
        )
        rel_stage = f"v{prev.version + 1:08d}-stage-{uuid.uuid4().hex[:8]}"
        rel_dv = f"v{prev.version + 1:08d}-dv-{uuid.uuid4().hex[:8]}"
        n = 0
        try:
            if candidates:
                matched.write.mode("overwrite").parquet(
                    f"{self.path}/{rel_stage}"
                )
                staged = self._scan([f"{self.path}/{rel_stage}"], matched.schema)
                staged.select(
                    F.col("__dew_ref").alias("file_ref"),
                    F.col("__dew_pos").alias("pos"),
                ).coalesce(1).write.mode("overwrite").parquet(
                    f"{self.path}/{rel_dv}"
                )
                n = _footer_rows(f"{self.path}/{rel_dv}")
            if n == 0:
                shutil.rmtree(f"{self.path}/{rel_dv}", ignore_errors=True)
                self._commit(
                    "UPDATE", prev.data_dirs, prev.schema_ddl,
                    {"condition": condition, "set": set_exprs,
                     "mode": "merge-on-read"},
                    metrics={"files_rewritten": 0, "bytes_rewritten": 0,
                             "rows_updated": 0, "dv_files_added": 0,
                             "files_carried": len(self._active_refs(prev))},
                    file_stats=prev.file_stats or {},
                )
                return
            data_cols = [
                c for c in staged.columns if c not in ("__dew_ref", "__dew_pos")
            ]
            types = _types_of(prev)
            updated = staged.select(
                *[
                    (F.expr(expr).cast(types[c]).alias(c)
                     if c in set_exprs and (expr := set_exprs[c]) is not None
                     else F.col(c))
                    for c in data_cols
                ]
            )
            rel = self._new_data_dir(prev.version + 1)
            updated.write.mode("overwrite").parquet(f"{self.path}/{rel}")
        finally:
            shutil.rmtree(f"{self.path}/{rel_stage}", ignore_errors=True)
        wm = self._written_metrics(rel)
        dvb = self._bytes_of_refs([rel_dv])
        self._commit(
            "UPDATE",
            prev.data_dirs + [rel],
            prev.schema_ddl,
            {"condition": condition, "set": set_exprs, "mode": "merge-on-read"},
            metrics={
                "files_rewritten": 0,
                "bytes_rewritten": 0,
                "files_carried": len(self._active_refs(prev)),
                "rows_updated": n,
                "files_added": wm["files_added"],
                "bytes_added": wm["bytes_added"] + dvb,
                "dv_files_added": 1,
                "dv_bytes_added": dvb,
            },
            file_stats=prev.file_stats or {},
            dv_dirs=list(prev.dv_dirs or []) + [rel_dv],
        )

    def delete(self, condition: str, mode: str | None = None) -> None:
        """DELETE WHERE — SQL three-valued semantics: only rows where
        the condition is TRUE are deleted; NULL-evaluating rows are
        KEPT (plain ``~cond`` would drop them).

        ``mode="cow"``: FILE-PRUNED copy-on-write anti-filter — only
        files containing a to-be-deleted row are rewritten.

        ``mode="mor"``: merge-on-read via a DELETION VECTOR (Delta's
        ``delta.enableDeletionVectors`` write path): NO data file is
        touched — the matching (file, row-position) pairs are written
        to a tiny parquet sidecar and every subsequent read anti-joins
        it out.  At 100 TB this turns a one-row-per-file DELETE from a
        full-table rewrite into a KB-scale write; OPTIMIZE (or any full
        rewrite) compacts the vectors away, exactly as Delta compacts
        DVs.

        ``mode=None`` resolves from the ``delta.enableDeletionVectors``
        table property, like real Delta."""
        mode = self._dml_mode(mode)
        if mode == "mor":
            self._delete_mor(condition)
            return
        if mode != "cow":
            raise ValueError(f"delete mode must be 'cow' or 'mor', got {mode!r}")
        prev = self._latest()
        touched, untouched = self._touched_untouched(condition, prev)
        if not touched:
            self._commit(
                "DELETE", prev.data_dirs, prev.schema_ddl,
                {"condition": condition},
                metrics={"files_rewritten": 0, "bytes_rewritten": 0,
                         "files_carried": len(self._active_refs(prev))},
                file_stats=prev.file_stats or {},
            )
            return
        cur = self._evolved([self._abs(r) for r in touched], prev).filter(
            ~F.expr(condition).eqNullSafe(F.lit(True))
        )
        rel = self._new_data_dir(prev.version + 1)
        cur.write.mode("overwrite").parquet(f"{self.path}/{rel}")
        self._commit(
            "DELETE", untouched + [rel], prev.schema_ddl,
            {"condition": condition},
            metrics=self._rewrite_metrics(rel, touched, untouched),
            file_stats=self._carried_stats(prev, untouched),
        )

    # ------------------------------------------------------- properties

    def set_properties(self, props: dict[str, str]) -> None:
        """ALTER TABLE … SET TBLPROPERTIES (Delta parity) — a
        metadata-only commit; the effective property map is the
        last-wins merge over the commit history."""
        prev = self._latest()
        if prev is None:
            raise FileNotFoundError(f"no such versioned table: {self.path}")
        self._commit(
            "SET TBLPROPERTIES",
            prev.data_dirs,
            prev.schema_ddl,
            {"properties": dict(props)},
            file_stats=prev.file_stats or {},
        )

    def properties(self) -> dict[str, str]:
        """Effective TBLPROPERTIES (SHOW TBLPROPERTIES parity).

        O(1) in table history: each commit carries a last-wins snapshot
        of the effective map, so only the LATEST commit is read — a DML
        call's mode resolution no longer re-parses the whole log
        (ADVICE r12).  Pre-snapshot logs fall back to the full merge."""
        last = self._latest()
        if last is None:
            return {}
        if last.properties is not None:
            return dict(last.properties)
        return self._properties_scan()

    def _properties_scan(self) -> dict[str, str]:
        """Legacy full-history last-wins merge (logs written before the
        per-commit property snapshot existed)."""
        out: dict[str, str] = {}
        for c in self._commits():
            if c.operation == "SET TBLPROPERTIES":
                out.update(c.operation_params.get("properties") or {})
        return out

    def _dml_mode(self, mode: str | None) -> str:
        """Resolve a DML mode: an explicit argument wins; otherwise the
        Delta ``delta.enableDeletionVectors`` table property selects
        merge-on-read, defaulting to copy-on-write — the same precedence
        real Delta applies."""
        if mode is not None:
            return mode
        prop = str(self.properties().get("delta.enableDeletionVectors", "")).lower()
        return "mor" if prop == "true" else "cow"

    def _delete_mor(self, condition: str) -> None:
        """Merge-on-read DELETE: record (file, row-position) of matching
        rows in a deletion-vector sidecar; data files are untouched.

        The probe is the same stats+pushdown-pruned scan as the COW
        path, already DV-applied (re-deleting a soft-deleted row records
        nothing).  File identity uses the symmetric ``_scan_ref()``
        representation, so clone reads match too.  File stats carry
        unchanged — min/max ranges stay conservative over deleted rows,
        which only costs skipped-file opportunities, never wrong rows."""
        prev = self._latest()
        candidates = self.scan_files(prev.version, condition)
        rel_dv = None
        n_deleted = 0
        if candidates:
            hits = (
                self._evolved(candidates, prev, lineage=True)
                .filter(F.expr(condition).eqNullSafe(F.lit(True)))
                .select(
                    F.col("__dew_ref").alias("file_ref"),
                    F.col("__dew_pos").alias("pos"),
                )
            )
            rel_dv = f"v{prev.version + 1:08d}-dv-{uuid.uuid4().hex[:8]}"
            # a DV is metadata-scale by contract (Delta compacts tables
            # whose DVs grow); one file keeps the read-side join input
            # a single broadcastable artifact
            hits.coalesce(1).write.mode("overwrite").parquet(
                f"{self.path}/{rel_dv}"
            )
            n_deleted = _footer_rows(f"{self.path}/{rel_dv}")
            if n_deleted == 0:
                import shutil

                shutil.rmtree(f"{self.path}/{rel_dv}", ignore_errors=True)
                rel_dv = None
        if rel_dv:
            dvb = self._bytes_of_refs([rel_dv])
            dv_metrics = {
                "files_added": 0,  # no DATA file added; bytes_added is
                "bytes_added": dvb,  # the commit's total new bytes (DV)
                "dv_files_added": 1,
                "dv_bytes_added": dvb,
            }
        else:
            dv_metrics = {"dv_files_added": 0}
        self._commit(
            "DELETE",
            prev.data_dirs,
            prev.schema_ddl,
            {"condition": condition, "mode": "merge-on-read"},
            metrics={
                "files_rewritten": 0,
                "bytes_rewritten": 0,
                "files_carried": len(self._active_refs(prev)),
                "rows_deleted": n_deleted,
                **dv_metrics,
            },
            file_stats=prev.file_stats or {},
            dv_dirs=(list(prev.dv_dirs or []) + [rel_dv]) if rel_dv else None,
        )

    def _merge_mor(
        self,
        source: DataFrame,
        on: str,
        update_condition: str | None,
        insert: bool,
        update: bool,
        nmbs_action: str | None,
        nmbs_condition: str | None,
        nmbs_set: dict[str, str] | None,
        prev: Commit,
        cols: list[str],
        new_fields: list,
    ) -> None:
        """Merge-on-read MERGE (Delta's deletion-vector merge): target
        rows whose current version stops being visible (updated, or
        BY-SOURCE deleted/updated) are soft-deleted via a DV sidecar,
        and the new row versions (source-valued updates, BY-SOURCE
        SET-updates, inserts) are APPENDED — write volume is O(affected
        rows), zero data files rewritten, any ON form.  Untouched
        target rows are never read twice or rewritten.  Semantics are
        identical to the copy-on-write merge (same full-sync grammar);
        only the storage strategy differs.

        The SOURCE is materialized once to a staging artifact before
        the join (Delta's own merge source-materialization): the plan
        below evaluates it for the DV write, the append write and the
        insert anti-join, and a non-deterministic source (rand(),
        LIMIT without ORDER BY, a changing view) would otherwise
        soft-delete one row set and append another (ADVICE r12).
        Clause CONDITIONS must still be deterministic — same
        restriction Delta documents for merge."""
        import shutil

        src_stage = f"v{prev.version + 1:08d}-stage-{uuid.uuid4().hex[:8]}"
        source.write.mode("overwrite").parquet(f"{self.path}/{src_stage}")
        source = self._scan([f"{self.path}/{src_stage}"], source.schema)
        try:
            self._merge_mor_staged(
                source, on, update_condition, insert, update, nmbs_action,
                nmbs_condition, nmbs_set, prev, cols, new_fields,
            )
        finally:
            shutil.rmtree(f"{self.path}/{src_stage}", ignore_errors=True)

    def _merge_mor_staged(
        self,
        source: DataFrame,
        on: str,
        update_condition: str | None,
        insert: bool,
        update: bool,
        nmbs_action: str | None,
        nmbs_condition: str | None,
        nmbs_set: dict[str, str] | None,
        prev: Commit,
        cols: list[str],
        new_fields: list,
    ) -> None:
        t = self._evolved(
            [self._abs(d) for d in prev.data_dirs], prev, lineage=True
        )
        src = source.withColumn("__s_present", F.lit(True)).alias("s")
        joined = t.alias("t").join(src, F.expr(on), "left")
        s_here = F.col("__s_present").isNotNull()
        upd_cond = F.expr(update_condition) if update_condition else F.lit(True)
        take_source = s_here & F.lit(update) & upd_cond
        nmbs_cond = F.expr(nmbs_condition) if nmbs_condition else F.lit(True)
        tgt_only = ~s_here
        dv_pred = take_source
        if nmbs_action in ("delete", "update"):
            dv_pred = dv_pred | (tgt_only & nmbs_cond)
        rel_dv = f"v{prev.version + 1:08d}-dv-{uuid.uuid4().hex[:8]}"
        joined.filter(dv_pred).select(
            F.col("t.__dew_ref").alias("file_ref"),
            F.col("t.__dew_pos").alias("pos"),
        ).coalesce(1).write.mode("overwrite").parquet(f"{self.path}/{rel_dv}")
        n_dv = _footer_rows(f"{self.path}/{rel_dv}")
        if n_dv == 0:
            import shutil

            shutil.rmtree(f"{self.path}/{rel_dv}", ignore_errors=True)
            rel_dv = None

        all_cols = cols + [f.name for f in new_fields]
        new_types = {f.name: f.dataType for f in new_fields}
        # store assignment: written values take the committed column type
        types = {**_types_of(prev), **new_types}
        upd_set = {c: F.expr(e).cast(types[c]) for c, e in (nmbs_set or {}).items()}
        appends: DataFrame | None = None

        def _add(df: DataFrame) -> None:
            nonlocal appends
            appends = df if appends is None else appends.unionByName(df)

        if update:
            # new versions of updated rows take source values (UPDATE *)
            _add(
                joined.filter(take_source).select(
                    *[F.col(f"s.{c}").cast(types[c]).alias(c) for c in all_cols]
                )
            )
        if nmbs_action == "update":
            _add(
                joined.filter(tgt_only & nmbs_cond).select(
                    *[
                        (
                            upd_set[c]
                            if c in upd_set
                            else (
                                F.lit(None).cast(new_types[c])
                                if c in new_types
                                else F.col(f"t.{c}")
                            )
                        ).alias(c)
                        for c in all_cols
                    ]
                )
            )
        if insert:
            _add(
                src.join(t.alias("t"), F.expr(on), "left_anti").select(
                    *[F.col(f"s.{c}").cast(types[c]).alias(c) for c in all_cols]
                )
            )
        rel = None
        n_app = 0
        if appends is not None:
            rel = self._new_data_dir(prev.version + 1)
            appends.write.mode("overwrite").parquet(f"{self.path}/{rel}")
            n_app = _footer_rows(f"{self.path}/{rel}")
            if n_app == 0:
                import shutil

                shutil.rmtree(f"{self.path}/{rel}", ignore_errors=True)
                rel = None
        if new_fields:
            from pyspark.sql.types import StructType

            schema_ddl = StructType(
                list(_schema_of(prev).fields) + new_fields
            ).simpleString()
        else:
            schema_ddl = prev.schema_ddl
        wm = self._written_metrics(rel) if rel else {"files_added": 0, "bytes_added": 0}
        dvb = self._bytes_of_refs([rel_dv]) if rel_dv else 0
        self._commit(
            "MERGE",
            prev.data_dirs + ([rel] if rel else []),
            schema_ddl,
            metrics={
                "files_rewritten": 0,
                "bytes_rewritten": 0,
                "files_carried": len(self._active_refs(prev)),
                "rows_dv_marked": n_dv,
                "rows_appended": n_app,
                "files_added": wm["files_added"],
                "bytes_added": wm["bytes_added"] + dvb,
                "dv_files_added": 1 if rel_dv else 0,
                "dv_bytes_added": dvb,
            },
            file_stats=prev.file_stats or {},
            dv_dirs=(list(prev.dv_dirs or []) + [rel_dv]) if rel_dv else None,
            params={
                "on": on,
                "update_condition": update_condition,
                "unmatched_by_source_action": nmbs_action,
                "unmatched_by_source_condition": nmbs_condition,
                "mode": "merge-on-read",
            },
        )

    def merge(
        self,
        source: DataFrame,
        on: str,
        update_condition: str | None = None,
        insert: bool = True,
        update: bool = True,
        unmatched_by_source_action: str | None = None,
        unmatched_by_source_condition: str | None = None,
        unmatched_by_source_set: dict[str, str] | None = None,
        schema_evolution: bool = False,
        mode: str | None = None,
    ) -> None:
        """MERGE [WITH SCHEMA EVOLUTION] INTO target t USING source s ON <on>
        WHEN MATCHED [AND <update_condition>] THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *      (D4, N2:534-540)
        [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE | UPDATE SET …]
        — the modern full-sync form (Delta Lake ≥2.3 / Spark 3.4 MERGE
        grammar): target rows with NO source match are deleted or
        flag-updated, so one MERGE mirrors the source exactly.

        ``schema_evolution=True`` (Delta's ``MERGE WITH SCHEMA
        EVOLUTION``, Delta ≥3.2 grammar): source columns absent from the
        target are ADDED to the table schema; pre-existing rows and
        non-updated rows read NULL for them, updated/inserted rows take
        the source value.  A type conflict on a SHARED column raises
        (same as append's schema merge) — evolution adds columns, never
        mutates types.

        ``on``/``update_condition`` reference columns as ``t.col`` /
        ``s.col``; ``unmatched_by_source_condition`` and the SET
        expressions reference ``t.col`` only (no source row exists on
        that branch — Delta raises an analysis error there, and so do
        we: an ``s.``-qualified reference is rejected up front).
        ``unmatched_by_source_action`` is ``None`` | ``"delete"`` |
        ``"update"`` (``"update"`` requires ``unmatched_by_source_set``).
        ``update=False`` models a MERGE with NO ``WHEN MATCHED`` clause
        (matched rows keep their target values — insert-only or pure
        by-source-sync merges).

        ``mode``: None resolves from ``delta.enableDeletionVectors``
        (Delta's opt-in); ``"mor"`` runs the merge as deletion-vector +
        append (see :meth:`_merge_mor`), ``"cow"`` as the pruned
        copy-on-write below.  Semantics are identical either way.
        Expressed as one full-outer-join plan:

          matched & cond       -> source row      (update *)
          matched & !cond      -> target row      (no-op, row-hash guard)
          target-only          -> target row / dropped / SET-updated
          source-only          -> source row      (insert *)
        """
        if unmatched_by_source_action not in (None, "delete", "update"):
            raise ValueError(
                "unmatched_by_source_action must be None, 'delete' or 'update'"
            )
        if unmatched_by_source_action == "update" and not unmatched_by_source_set:
            raise ValueError(
                "WHEN NOT MATCHED BY SOURCE … UPDATE requires a SET mapping"
            )
        if unmatched_by_source_action != "update" and unmatched_by_source_set:
            raise ValueError(
                "unmatched_by_source_set is only valid with action='update'"
            )
        if not update and update_condition is not None:
            raise ValueError(
                "update_condition is meaningless with update=False "
                "(no WHEN MATCHED clause)"
            )
        # NOT MATCHED BY SOURCE clauses run where no source row exists:
        # an s.col reference there would silently evaluate to NULL on
        # the full-outer join's target-only branch.  Delta raises an
        # analysis error for this — reject it up front (t.col only).
        s_ref = re.compile(r"(?<![\w.'\"])s\.\w+")
        for label, expr in [
            ("unmatched_by_source_condition", unmatched_by_source_condition),
            *[
                (f"unmatched_by_source_set[{c!r}]", e)
                for c, e in (unmatched_by_source_set or {}).items()
            ],
        ]:
            if expr and s_ref.search(expr):
                raise ValueError(
                    f"{label} may reference target columns (t.col) only — "
                    "no source row exists on the NOT MATCHED BY SOURCE "
                    f"branch (got: {expr!r})"
                )
        prev = self._latest()
        cur = self.read()
        cols = cur.columns
        # WITH SCHEMA EVOLUTION: collect source-only columns to add
        new_fields = []
        if schema_evolution:
            have = {f.name: f.dataType.simpleString() for f in cur.schema.fields}
            for f in source.schema.fields:
                if f.name in have:
                    got = f.dataType.simpleString()
                    if have[f.name] != got:
                        raise ValueError(
                            f"MERGE schema evolution conflict on {f.name!r}: "
                            f"table has {have[f.name]}, source has {got}"
                        )
                else:
                    new_fields.append(f)
        unknown = (
            set(unmatched_by_source_set or {})
            - set(cols)
            - {f.name for f in new_fields}
        )
        if unknown:
            raise ValueError(
                f"NOT MATCHED BY SOURCE SET references unknown columns {sorted(unknown)}"
            )
        # Delta raises when several source rows match one target row; a
        # full-outer join would silently DUPLICATE the target instead.
        # Checkable only for the pure conjunctive-equality ON form; the
        # guard fires only when the duplicate key actually MATCHES a
        # target row (duplicate not-matched keys legally insert twice).
        terms = [t.strip() for t in re.split(r"(?i)\s+AND\s+", on.strip())]
        pair_re = re.compile(r"^(?:t\.(\w+)\s*=\s*s\.(\w+)|s\.(\w+)\s*=\s*t\.(\w+))$")
        matches = [pair_re.match(t) for t in terms]
        conj_eq = bool(matches) and all(matches)
        if conj_eq:
            pairs = [
                ((m.group(1) or m.group(4)), (m.group(2) or m.group(3)))
                for m in matches
            ]
            t_keys = [p[0] for p in pairs]
            s_keys = [p[1] for p in pairs]
            dup_keys = source.groupBy(*s_keys).count().filter(F.col("count") > 1)
            tgt_keys = cur.select(*[F.col(tc).alias(sc) for tc, sc in pairs]).distinct()
            dup_matched = dup_keys.join(tgt_keys, s_keys).limit(1).count()
            if dup_matched:
                raise ValueError(
                    f"MERGE source has multiple rows per join key {s_keys} that "
                    "match one target row — Delta semantics forbid this"
                )
        resolved_mode = self._dml_mode(mode)
        if resolved_mode == "mor":
            self._merge_mor(
                source, on, update_condition, insert, update,
                unmatched_by_source_action, unmatched_by_source_condition,
                unmatched_by_source_set, prev, cols, new_fields,
            )
            return
        if resolved_mode != "cow":
            raise ValueError(
                f"merge mode must be 'cow' or 'mor', got {resolved_mode!r}"
            )
        # File-pruned copy-on-write (Delta's rewrite-set pruning): when
        # no BY SOURCE clause is present, only files containing a
        # MATCHED target row can change — probe them with a left-semi
        # join on the ON condition (second source pass, like Delta's own
        # find-touched-files scan) and carry every other file forward by
        # reference.  A BY SOURCE clause can touch any target row, so it
        # keeps the full rewrite; non-conjunctive-equality ON forms skip
        # pruning to keep the probe an equi-join.
        untouched: list[str] = []
        touched_list: list[str] | None = None
        if unmatched_by_source_action is None and conj_eq:
            # Delta's join-key file skipping: bound the probe's target
            # scan by the SOURCE's key range (one 1-row aggregate) so
            # commit-log min/max stats drop non-overlapping files before
            # the semi-join reads a row.  Numeric single-key form only —
            # the conservative fallback is the full candidate set.
            probe_where = None
            if len(pairs) == 1:
                t_key, s_key = pairs[0]
                row = source.selectExpr(
                    f"min({s_key})", f"max({s_key})"
                ).collect()[0]
                if (
                    row[0] is not None
                    and isinstance(row[0], (int, float))
                    and not isinstance(row[0], bool)
                ):
                    probe_where = f"{t_key} >= {row[0]} AND {t_key} <= {row[1]}"
            all_paths = self.scan_files(prev.version, probe_where)
            probe = (
                self._evolved(all_paths, prev, lineage=True)
                .withColumnRenamed("__dew_ref", "__dew_file")
                .drop("__dew_pos")
                .alias("t")
                .join(source.alias("s"), F.expr(on), "left_semi")
            )
            touched_set = self._refs_of_probe(probe)
            refs = self._active_refs(prev)
            stray = touched_set - set(refs)
            if stray:
                # same invariant as _touched_untouched: a probe ref
                # outside the active set means matched target files
                # would be carried forward unchanged while the join
                # re-inserts their rows — silent duplicates
                raise RuntimeError(
                    "MERGE probe returned files outside the active set: "
                    f"{sorted(stray)!r}"
                )
            touched = [r for r in refs if r in touched_set]
            untouched = [r for r in refs if r not in touched_set]
            touched_list = touched
            cur = self._evolved([self._abs(r) for r in touched], prev)
        src = source.alias("s")
        joined = (
            cur.withColumn("__t_present", F.lit(True))
            .alias("t")
            .join(src.withColumn("__s_present", F.lit(True)), F.expr(on), "full_outer")
        )
        upd_cond = F.expr(update_condition) if update_condition else F.lit(True)
        t_here = F.col("__t_present").isNotNull()
        s_here = F.col("__s_present").isNotNull()
        take_source = (t_here & s_here & F.lit(update) & upd_cond) | (
            ~t_here & s_here & F.lit(insert)
        )
        tgt_only = t_here & ~s_here
        nmbs_cond = (
            F.expr(unmatched_by_source_condition)
            if unmatched_by_source_condition
            else F.lit(True)
        )
        all_cols = cols + [f.name for f in new_fields]
        new_types = {f.name: f.dataType for f in new_fields}
        # store assignment: written values take the committed column type
        types = {**_types_of(prev), **new_types}
        upd_set = {
            c: F.expr(e).cast(types[c])
            for c, e in (unmatched_by_source_set or {}).items()
        }

        def _out_col(c: str):
            s_val = F.col(f"s.{c}").cast(types[c])
            if c in new_types:
                # evolution-added column: no target-side value exists
                base = F.when(take_source, s_val).otherwise(
                    F.lit(None).cast(new_types[c])
                )
            else:
                base = F.when(take_source, s_val).otherwise(F.col(f"t.{c}"))
            if unmatched_by_source_action == "update" and c in upd_set:
                base = F.when(tgt_only & nmbs_cond, upd_set[c]).otherwise(base)
            return base.alias(c)

        keep = t_here | (s_here & F.lit(insert))
        if unmatched_by_source_action == "delete":
            keep = keep & ~(tgt_only & nmbs_cond)
        out = joined.select(*[_out_col(c) for c in all_cols]).filter(keep)
        if new_fields:
            from pyspark.sql.types import StructType

            schema_ddl = StructType(
                list(_schema_of(prev).fields) + new_fields
            ).simpleString()
        else:
            schema_ddl = prev.schema_ddl
        rel = self._new_data_dir(prev.version + 1)
        out.write.mode("overwrite").parquet(f"{self.path}/{rel}")
        # unpruned MERGE (BY SOURCE / non-equi ON) intentionally records
        # no files_rewritten — a full rewrite has no pruning story to
        # account for; the write-side numbers are still surfaced
        metrics = (
            self._rewrite_metrics(rel, touched_list, untouched)
            if touched_list is not None
            else self._written_metrics(rel)
        )
        self._commit(
            "MERGE",
            untouched + [rel],
            schema_ddl,
            metrics=metrics,
            # pruned merge carries DVs for the untouched files; the
            # unpruned form rewrote everything from the DV-applied read
            dv_dirs=None if touched_list is not None else [],
            file_stats=self._carried_stats(prev, untouched),
            params={
                "on": on,
                "update_condition": update_condition,
                "unmatched_by_source_action": unmatched_by_source_action,
                "unmatched_by_source_condition": unmatched_by_source_condition,
            },
        )

    # --------------------------------------------------------- maintenance

    def optimize(self, zorder_by: list[str] | None = None, target_files: int = 4) -> None:
        """OPTIMIZE [ZORDER BY cols] (D7, N2:455-458): compact to
        ``target_files`` files.

        One zorder column: range-partition + sort on it — identical
        skipping to Delta's single-column ZORDER.  Several columns:
        Morton-interleave the columns' quantile-bucket bits and
        range-partition on the interleaved key (what Delta's ZORDER
        actually does), so every file keeps a TIGHT min/max range on
        EVERY zorder column — a lexicographic multi-column sort leaves
        each file spanning the full range of the second column, and
        point lookups there skip nothing.  Columns the quantizer can't
        bucket (non-numeric/date/timestamp) fall back to the
        lexicographic sort."""
        cur = self.read()
        if zorder_by and len(zorder_by) > 1 and (zkey := _morton_key(cur, zorder_by)) is not None:
            out = (
                cur.withColumn("__dew_z", zkey)
                .repartitionByRange(target_files, "__dew_z")
                .sortWithinPartitions("__dew_z")
                .drop("__dew_z")
            )
        elif zorder_by:
            out = cur.repartitionByRange(target_files, *zorder_by).sortWithinPartitions(
                *zorder_by
            )
        else:
            out = cur.coalesce(target_files)
        prev = self._latest()
        rel = self._new_data_dir(prev.version + 1)
        out.write.mode("overwrite").parquet(f"{self.path}/{rel}")
        # per-file min/max for the sort columns, read from the parquet
        # footers (no data scan) — the commit-log stats that make
        # read(where=...) skip files, like Delta's per-file stats field
        stats = (
            _footer_stats(f"{self.path}/{rel}", rel, zorder_by) if zorder_by else {}
        )
        self._commit(
            "OPTIMIZE", [rel], prev.schema_ddl, {"zorder_by": zorder_by or []},
            metrics=self._written_metrics(rel),
            file_stats=stats,
            dv_dirs=[],  # full rewrite compacts deletion vectors away
        )

    def reorg_purge(self, threshold: float = 0.0) -> None:
        """REORG TABLE … APPLY (PURGE) with a DV-fraction threshold
        (Delta's own DV-maintenance statement; VERDICT r12 item 5):
        rewrite ONLY the files whose soft-deleted row fraction exceeds
        ``threshold``, materializing their deletion vectors; files at or
        below it carry forward BY REFERENCE with their DV entries
        intact.  ``threshold=0.0`` purges every file with any DV entry —
        exactly Delta's ``REORG … APPLY (PURGE)``.

        Scale shape: the planning pass is all metadata — the DV sidecar
        is KB-scale by contract (per-file soft-delete counts collect is
        bounded by file count), per-file totals come from parquet
        FOOTERS (no data scan) — so a 100 TB table sheds a handful of
        DV-heavy files without paying a full-table OPTIMIZE rewrite."""
        import pyarrow.parquet as pq

        prev = self._latest()
        if prev is None:
            raise FileNotFoundError(f"no such versioned table: {self.path}")
        active = self._active_refs(prev)
        dv_paths = [self._abs(d) for d in (prev.dv_dirs or [])]
        base_metrics = {
            "files_rewritten": 0,
            "bytes_rewritten": 0,
            "files_carried": len(active),
            "rows_purged": 0,
            "dv_files_removed": 0,
        }
        if not dv_paths:
            # nothing to purge — metadata-only commit (the op is history)
            self._commit(
                "REORG", prev.data_dirs, prev.schema_ddl,
                {"apply": "PURGE", "threshold": threshold},
                metrics=base_metrics,
                file_stats=prev.file_stats or {},
            )
            return
        dv = self._scan(dv_paths, _DV_SCHEMA)
        counts = {
            r.file_ref: int(r.n)
            for r in dv.groupBy("file_ref").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        abs_of = {ref: self._abs(ref) for ref in active}
        heavy: list[str] = []
        carried: list[str] = []
        purged_rows = 0
        for ref in active:
            n_dv = counts.get(abs_of[ref], 0)
            if n_dv:
                # footer-only row count — no data scan
                total = pq.ParquetFile(abs_of[ref]).metadata.num_rows
                if total and n_dv / total > threshold:
                    heavy.append(ref)
                    purged_rows += n_dv
                    continue
            carried.append(ref)
        if not heavy:
            # every DV fraction under threshold: metadata-only, DVs carry
            self._commit(
                "REORG", prev.data_dirs, prev.schema_ddl,
                {"apply": "PURGE", "threshold": threshold},
                metrics=base_metrics,
                file_stats=prev.file_stats or {},
            )
            return
        # rewrite ONLY the heavy files, soft-deleted rows materialized out
        out = self._evolved([abs_of[r] for r in heavy], prev)
        rel = self._new_data_dir(prev.version + 1)
        out.write.mode("overwrite").parquet(f"{self.path}/{rel}")
        # live DV entries = those referencing still-carried files (a
        # rewritten file's entries are dead; dropping them here keeps
        # the broadcast sidecar from accreting garbage)
        rel_dv = None
        if carried:
            cand = f"v{prev.version + 1:08d}-dv-{uuid.uuid4().hex[:8]}"
            dv.filter(
                F.col("file_ref").isin([abs_of[r] for r in carried])
            ).coalesce(1).write.mode("overwrite").parquet(f"{self.path}/{cand}")
            if _footer_rows(f"{self.path}/{cand}") > 0:
                rel_dv = cand
            else:
                import shutil

                shutil.rmtree(f"{self.path}/{cand}", ignore_errors=True)
        self._commit(
            "REORG",
            carried + [rel],
            prev.schema_ddl,
            {"apply": "PURGE", "threshold": threshold},
            metrics={
                **self._rewrite_metrics(rel, heavy, carried),
                "rows_purged": purged_rows,
                "dv_files_removed": len(dv_paths) - (1 if rel_dv else 0),
            },
            file_stats=self._carried_stats(prev, carried),
            dv_dirs=[rel_dv] if rel_dv else [],
        )

    def restore(self, version: int) -> None:
        """RESTORE TABLE … TO VERSION AS OF n (Delta parity): appends a
        NEW commit whose active data set and schema are the old
        version's — the restore is itself a history entry, and nothing
        is rewritten (metadata-only, like Delta)."""
        target = self._resolve_commit(version)
        self._commit(
            "RESTORE",
            target.data_dirs,
            target.schema_ddl,
            {"restored_version": version},
            file_stats=target.file_stats or {},
            # the restored snapshot's OWN deletion vectors, not the
            # latest commit's (whose entries may hit carried files)
            dv_dirs=list(target.dv_dirs or []),
        )

    def shallow_clone(self, target_path: str, version: int | None = None) -> "VersionedTable":
        """CREATE TABLE … SHALLOW CLONE src [VERSION AS OF n] (Delta
        parity): a zero-copy fork — the clone's first commit references
        the source snapshot's data directories by ABSOLUTE path, so no
        data moves; subsequent DML on the clone copy-on-writes into the
        clone's own directories and never mutates the source (and
        source DML after the clone point is invisible to the clone —
        snapshot isolation across tables).  Caveat shared with real
        Delta: VACUUM on the SOURCE can remove files a shallow clone
        still references."""
        target = VersionedTable(self.spark, target_path)
        if target.exists():
            raise ValueError(f"clone target already exists: {target_path}")
        src = self._resolve_commit(version)
        abs_dirs = [self._abs(d) for d in src.data_dirs]
        stats = {
            f"{self._abs(rel.rsplit('/', 1)[0])}/{rel.rsplit('/', 1)[1]}": st
            for rel, st in (src.file_stats or {}).items()
        }
        target._commit(
            "CLONE",
            abs_dirs,
            src.schema_ddl,
            {"source": self.path, "source_version": src.version,
             "clone_type": "SHALLOW"},
            # source deletion vectors carry by absolute ref — their
            # file_ref contents are absolute paths, so they keep
            # matching the source files the clone reads
            dv_dirs=[self._abs(d) for d in (src.dv_dirs or [])],
            file_stats=stats,
        )
        return target

    def vacuum(self, retain_last: int = 1) -> list[str]:
        """VACUUM (Delta parity, version-count retention instead of
        hours): physically delete data directories not referenced by any
        of the last ``retain_last`` commits, then record the vacuum in
        history.  Time travel to a vacuumed version subsequently fails
        on read — the same contract as Delta after VACUUM.  Returns the
        removed directory names."""
        import shutil

        commits = self._commits()
        if not commits:
            raise FileNotFoundError(f"no such versioned table: {self.path}")
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        keep: set[str] = set()
        for c in commits[-retain_last:]:
            for d in list(c.data_dirs) + list(c.dv_dirs or []):
                # a carried-forward FILE ref keeps its containing
                # directory alive (conservative: partially-referenced
                # dirs are kept whole — ours vacuums at dir granularity)
                keep.add(d if os.path.isabs(d) else d.split("/", 1)[0])
        removed = []
        for entry in sorted(os.listdir(self.path)):
            full = f"{self.path}/{entry}"
            if entry == _LOG_DIR or not os.path.isdir(full):
                continue
            if (
                re.match(r"^v\d{8}-(dv-)?[0-9a-f]{8}$", entry)
                and entry not in keep
            ):
                shutil.rmtree(full, ignore_errors=True)
                removed.append(entry)
        latest = commits[-1]
        self._commit(
            "VACUUM",
            latest.data_dirs,
            latest.schema_ddl,
            {"retain_last": retain_last, "removed_dirs": len(removed)},
            file_stats=latest.file_stats or {},
        )
        return removed

    def add_column(self, name: str, dtype: str) -> None:
        """ALTER TABLE ADD COLUMN (S10, N1:146-147) — metadata-only commit;
        existing files read back with nulls for the new column."""
        prev = self._latest()
        if name in [f.name for f in _schema_of(prev).fields]:
            raise ValueError(f"column {name} already exists")
        new_ddl = prev.schema_ddl[:-1] + f",{name}:{dtype}>"
        self._commit("ADD COLUMNS", prev.data_dirs, new_ddl, {"column": name, "type": dtype})

    def changes(self, key: str, from_version: int, to_version: int) -> DataFrame:
        """Change Data Feed between two versions (Delta `table_changes`
        parity): one row per inserted/deleted key plus an
        update_preimage/update_postimage pair per key whose non-key
        columns changed, tagged in ``_change_type``.

        Computed as a keyed full-outer diff of the two snapshots — one
        shuffle on the key.  At 100 TB the commit log already records
        per-version file sets, so unchanged files can be pruned from
        both sides of the diff before the join; a physical CDF (change
        files written at commit time, as Delta does) is the write-side
        variant of the same contract."""
        from pyspark.sql import functions as F

        f = self.read(from_version)
        t = self.read(to_version)
        common = [c for c in t.columns if c in set(f.columns)]
        non_key = [c for c in common if c != key]
        fa = f.select([F.col(c).alias(f"__f_{c}") for c in common])
        ta = t.select([F.col(c).alias(f"__t_{c}") for c in common])
        j = fa.join(ta, fa[f"__f_{key}"] == ta[f"__t_{key}"], "full_outer")
        changed = None
        for c in non_key:
            neq = ~F.col(f"__f_{c}").eqNullSafe(F.col(f"__t_{c}"))
            changed = neq if changed is None else (changed | neq)
        inserts = j.filter(F.col(f"__f_{key}").isNull()).select(
            *[F.col(f"__t_{c}").alias(c) for c in common],
            F.lit("insert").alias("_change_type"),
        )
        deletes = j.filter(F.col(f"__t_{key}").isNull()).select(
            *[F.col(f"__f_{c}").alias(c) for c in common],
            F.lit("delete").alias("_change_type"),
        )
        upd = j.filter(
            F.col(f"__f_{key}").isNotNull()
            & F.col(f"__t_{key}").isNotNull()
            & (changed if changed is not None else F.lit(False))
        )
        pre = upd.select(
            *[F.col(f"__f_{c}").alias(c) for c in common],
            F.lit("update_preimage").alias("_change_type"),
        )
        post = upd.select(
            *[F.col(f"__t_{c}").alias(c) for c in common],
            F.lit("update_postimage").alias("_change_type"),
        )
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

    # -------------------------------------------------------------- history

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY parity (D5, N1:196-198).

        ``operation_metrics`` columns mirror Delta's
        ``numTargetFilesRemoved/Added`` + byte counters: per DML commit,
        how many files (and bytes) the copy-on-write actually rewrote vs
        carried forward by reference — NULL for commits where the notion
        doesn't apply (CTAS, unpruned MERGE)."""
        rows = [
            (
                c.version,
                c.timestamp_ms,
                c.operation,
                json.dumps(c.operation_params, sort_keys=True),
                len(c.data_dirs),
                c.metrics.get("files_rewritten"),
                c.metrics.get("files_carried"),
                c.metrics.get("files_added"),
                c.metrics.get("bytes_rewritten"),
                c.metrics.get("bytes_carried"),
                c.metrics.get("bytes_added"),
                c.metrics.get("rows_deleted"),
                c.metrics.get("dv_files_added"),
            )
            for c in self._commits()
        ]
        return self.spark.createDataFrame(
            rows,
            "version long, timestamp_ms long, operation string, operation_params string, "
            "n_data_dirs int, files_rewritten long, files_carried long, files_added long, "
            "bytes_rewritten long, bytes_carried long, bytes_added long, "
            "rows_deleted long, dv_files_added long",
        )


#: bits per zorder column in the Morton key (256 rank buckets — same
#: order of magnitude as Delta's ~1000 range-partition ids)
_Z_BITS = 8


def _morton_key(df: DataFrame, cols: list[str]):
    """Morton (Z-curve) key for multi-column OPTIMIZE ZORDER.

    Each column is quantized to ``2**_Z_BITS`` rank buckets via
    approxQuantile boundaries — ONE extra scan, and the driver holds
    only <=255 boundary doubles per column (metadata-scale, the same
    sampling Delta's ``range_partition_id`` does).  The bucket bits are
    then interleaved (bit j of column i lands at position ``j*k + i``)
    so that range-partitioning on the key gives every file a tight
    min/max range on EVERY zorder column.  Bucket assignment is a
    JVM-side higher-order function over the literal boundary array —
    no Python UDF, fully distributed.

    Returns ``None`` when any column is not numeric/date/timestamp
    (the caller falls back to the lexicographic sort).
    """
    from functools import reduce

    from pyspark.sql.types import DateType, NumericType, TimestampType

    nums = []
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, NumericType):
            nums.append(F.col(c).cast("double"))
        elif isinstance(dt, (DateType, TimestampType)):
            nums.append(F.unix_micros(F.col(c).cast("timestamp")).cast("double"))
        else:
            return None
    proj = df.select(*[n.alias(f"__z{i}") for i, n in enumerate(nums)])
    probs = [i / (1 << _Z_BITS) for i in range(1, 1 << _Z_BITS)]
    quantiles = proj.approxQuantile(
        [f"__z{i}" for i in range(len(nums))], probs, 0.001
    )
    k = len(cols)
    bit_parts = []
    for i, (num, qs) in enumerate(zip(nums, quantiles)):
        bnds = sorted(set(qs))  # skew dedups boundaries; constant col -> []
        arr = F.array(*[F.lit(float(b)) for b in bnds])
        # NB: the lambda must be 1-arg (a 2-arg lambda makes F.filter
        # pass (element, index)); it is invoked eagerly here, so the
        # loop-variable closure is safe
        bucket = F.size(F.filter(arr, lambda b: num > b)).cast("long")
        bucket = F.when(num.isNull(), F.lit(0).cast("long")).otherwise(bucket)
        for j in range(_Z_BITS):
            bit_parts.append(
                F.shiftleft(
                    F.shiftright(bucket, j).bitwiseAND(F.lit(1)), j * k + i
                )
            )
    return reduce(lambda a, b: a.bitwiseOR(b), bit_parts)


def _footer_rows(abs_dir: str) -> int:
    """Row count of a freshly written parquet directory, summed from the
    file footers on the driver — no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f"{abs_dir}/{fn}").metadata.num_rows
        for fn in os.listdir(abs_dir)
        if fn.endswith(".parquet")
    )


def _footer_stats(abs_dir: str, rel_dir: str, columns: list[str]) -> dict:
    """{rel_file: {col: [min, max]}} from parquet footer row-group stats —
    metadata-only, no data scan.  Columns whose stats are absent (or of
    non-JSON-serializable types) are omitted for that file, which simply
    disables skipping there."""
    import pyarrow.parquet as pq

    out: dict = {}
    for fn in sorted(os.listdir(abs_dir)):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(f"{abs_dir}/{fn}").metadata
        name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        col_stats: dict = {}
        for col in columns:
            if col not in name_to_idx:
                continue
            idx = name_to_idx[col]
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    mins = []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if not mins:
                continue
            lo, hi = min(mins), max(maxs)
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    continue
            if not isinstance(lo, (int, float, str)):
                continue  # timestamps/decimals: skip rather than mis-encode
            col_stats[col] = [lo, hi]
        if col_stats:
            out[f"{rel_dir}/{fn}"] = col_stats
    return out


_CMP_RE = re.compile(
    r"^\s*(\w+)\s*(<=|>=|=|<|>)\s*('(?:[^']*)'|-?\d+(?:\.\d+)?)\s*$"
)


def _parse_conjunctive_bounds(where: str) -> list[tuple[str, str, object]]:
    """``a = 5 AND b >= 'x'`` → [(col, op, literal)…].  Any term the
    parser doesn't recognize disables skipping entirely (returns []) —
    pruning must never be wrong, only conservative."""
    bounds = []
    for term in re.split(r"(?i)\s+AND\s+", where.strip()):
        m = _CMP_RE.match(term)
        if not m:
            return []
        col, op, lit = m.group(1), m.group(2), m.group(3)
        val: object = lit[1:-1] if lit.startswith("'") else (
            float(lit) if "." in lit else int(lit)
        )
        bounds.append((col, op, val))
    return bounds


def _stats_exclude(file_stats: dict, bounds: list[tuple[str, str, object]]) -> bool:
    """True iff some bound PROVES the file holds no matching row."""
    for col, op, val in bounds:
        if col not in file_stats:
            continue
        lo, hi = file_stats[col]
        if not isinstance(val, type(lo)) and not (
            isinstance(val, (int, float)) and isinstance(lo, (int, float))
        ):
            continue  # incomparable types: keep the file
        if op == "=" and (val < lo or val > hi):
            return True
        if op in ("<", "<=") and lo > val:
            return True
        if op == "<" and lo == val:
            return True
        if op in (">", ">=") and hi < val:
            return True
        if op == ">" and hi == val:
            return True
    return False


def _schema_of(c: Commit):
    """The commit's table schema as a StructType."""
    from pyspark.sql.types import StructType

    return StructType.fromDDL(_ddl_of(c.schema_ddl))


def _types_of(c: Commit) -> dict:
    """{column: committed DataType} — the target types DML casts to."""
    return {f.name: f.dataType for f in _schema_of(c).fields}


def _ddl_of(simple_string: str) -> str:
    """struct<a:bigint,b:string> → 'a bigint, b string' (fromDDL input)."""
    inner = simple_string
    if inner.startswith("struct<") and inner.endswith(">"):
        inner = inner[len("struct<"):-1]
    # split top-level commas (respecting nesting)
    parts, depth, cur = [], 0, []
    for ch in inner:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return ", ".join(p.replace(":", " ", 1) for p in parts)
