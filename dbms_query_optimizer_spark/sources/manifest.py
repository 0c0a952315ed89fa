"""Manifest-based transactional table over parquet.

The reference's behavioral spec for transactions is its log-manager test
surface (reference: ``test/unit/log/log_manager_test.cc:249-300`` commit →
crash → recover keeps data; ``:440-464`` abort / uncommitted-at-crash data
is invisible even when pages were flushed). The reference's own LogManager
is an empty stub (``src/log/log_manager.cc:55-138``), so WAL replay is not
the contract — the *observable* contract is atomic visibility, and the
Spark-native way to provide it over immutable parquet is a commit log of
manifests (the core idea of Delta Lake / Iceberg, reduced to its minimum):

    root/
      data/<txn-id>/part-*.parquet    -- staging, one dir per transaction
      manifest/<%012d>.json           -- committed snapshots, dense versions

- A transaction writes parquet into its own staging dir. Flushed task
  files are the analog of flushed heap pages: durable but NOT visible,
  because no manifest references them ("flush pages to defeat NO-STEAL"
  in the reference test maps to files existing on disk pre-commit).
- ``commit()`` publishes version N+1 = previous file list + this txn's
  files. The commit point is a single atomic ``os.link`` of a fully
  fsynced temp file onto the next version name — a torn commit can only
  leave a ``*.tmp`` file, which readers never resolve. ``O_EXCL``-like
  link semantics give first-committer-wins: a version collision (another
  writer committed concurrently) retries against the new tip, which is
  safe because staged file sets are disjoint.
- A transaction holds inserts only, or ONE rewrite first and then
  inserts: a copy-on-write rewrite (delete, delete_keys, replace_where,
  compact, materialize_dvs) or a deletion vector (delete_mor, and merge,
  which appends the source beside its vector). The rewrite pins the
  snapshot it is computed against, and that snapshot never holds the
  transaction's own staged work, so a second rewrite, or a rewrite after
  staged inserts, raises RuntimeError instead of publishing lost or
  duplicated rows.
- Readers resolve the highest committed manifest and read exactly its
  file list → snapshot isolation; crash recovery is a no-op (re-open and
  resolve — nothing to replay).
- ``abort()`` / process death before commit leaves unreferenced staging
  files; ``vacuum()`` removes them (the undo analog, idempotent).

Scale: the manifest holds file paths + schema, never data — O(files),
not O(rows). At 100 TB the data plane is still ordinary distributed
parquet tasks; only the O(KB) commit record is serialized through the
driver, which is exactly how production lakehouse commit protocols work.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from urllib.parse import urlparse

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .bloom import BloomFilter, harvest_blooms, key_words

_MANIFEST_DIR = "manifest"
_DATA_DIR = "data"
_VERSION_WIDTH = 12


class ConflictError(RuntimeError):
    """Write-write conflict: the table tip moved past the version a
    transaction's rewrite or deletion vector was computed against."""


class ConstraintViolation(RuntimeError):
    """A staged write contained rows that fail a table CHECK constraint.
    The transaction is auto-aborted; the table is untouched. Carries
    ``violations`` = {constraint name -> violating row count}."""

    def __init__(self, violations: dict) -> None:
        self.violations = violations
        super().__init__(
            "CHECK constraint(s) violated: "
            + ", ".join(f"{n} ({c} rows)" for n, c in violations.items())
        )


# ------------------------------------------------------------- zone maps
#
# Per-file column statistics harvested from the parquet FOOTERS at commit
# time and carried in the manifest — the minimum viable form of the
# manifest-level file statistics every lakehouse format keeps (and the
# file-level analog of the reference's table histograms,
# src/optimizer/table_stats.cc: both exist so scans can skip work a
# predicate provably excludes). Harvesting reads O(files) footers, no
# data pages — the same metadata-scale cost as the manifest itself.
# Readers prune the snapshot's file list against a predicate before the
# distributed scan is even planned: at 100 TB on a range-clustered key,
# that is the difference between scheduling 10⁵ tasks and 10².

_ZONE_OPS = ("=", "!=", "<", "<=", ">", ">=")

# (column, op, value) -> Column predicate — the read/delete residual grammar
_ZONE_PRED_OPS = {
    "=": lambda c, v: c == v, "!=": lambda c, v: c != v,
    "<": lambda c, v: c < v, "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v, ">=": lambda c, v: c >= v,
}


def _predicate(where):
    """``where`` (one ``(column, op, value)`` tuple or a list of them) as
    one ANDed Column; None for an empty conjunct list."""
    pred = None
    for col, op, value in _as_conjuncts(where):
        term = _ZONE_PRED_OPS[op](F.col(col), value)
        pred = term if pred is None else pred & term
    return pred


def _schema(snap: dict) -> StructType:
    return StructType.fromJson(json.loads(snap["schema"]))


def _ts_micros(v) -> int:
    """Naive datetime → epoch microseconds, exact integer arithmetic
    (``.timestamp()`` would apply the LOCAL timezone to a naive value)."""
    import datetime as _dt

    # footer stats come back tz-aware (UTC); query-side values are naive
    # in the UTC session — anchor the epoch to whichever kind v is
    epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
    td = v - epoch
    return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds


def _json_scalar(v):
    """Footer min/max → JSON-storable scalar (None = not representable).

    Timestamps store as epoch microseconds and dates as ISO strings —
    both order-preserving, so zone pruning works on event-time columns
    (the retention/TTL delete case: ``ts < cutoff`` must prune a
    time-clustered 100 TB table to the old files, not scan it)."""
    if isinstance(v, bool) or v is None:
        return None  # booleans: zone pruning not worth the edge cases
    v = _zone_value(v)
    return v if isinstance(v, (int, float, str)) else None


def _zone_value(value):
    """Normalize a query-side predicate value the same way stored zone
    bounds are normalized, so comparisons are like-for-like."""
    import datetime as _dt

    if isinstance(value, _dt.datetime):
        return _ts_micros(value)
    if isinstance(value, _dt.date):
        return value.isoformat()
    return value


def _harvest_stats(files: list[str]) -> dict:
    """path -> {column -> {min, max, nulls, rows}} from parquet footers;
    None for a file with zero rows.

    Columns whose physical min/max are absent or non-scalar (nested,
    binary) get only null/row counts — pruning treats missing bounds as
    "cannot exclude". Timestamps/dates store in order-preserving scalar
    forms (_json_scalar). Multi-row-group files fold to min-of-mins /
    max-of-maxes.
    """
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for path in files:
        local = urlparse(path).path or path
        try:
            md = pq.ParquetFile(local).metadata
        except Exception:
            continue  # unreadable footer: file simply carries no stats
        if md.num_rows == 0:
            out[path] = None
            continue
        cols: dict[str, dict] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                name = c.path_in_schema
                if "." in name:
                    continue  # nested leaf: not a top-level zone
                entry = cols.setdefault(
                    name, {"min": None, "max": None, "nulls": 0, "rows": 0}
                )
                entry["rows"] += g.num_rows
                st = c.statistics
                if st is None:
                    entry["min"] = entry["max"] = None
                    entry["nulls"] = None
                    continue
                if entry["nulls"] is not None:
                    entry["nulls"] += st.null_count or 0
                for k, fold in (("min", min), ("max", max)):
                    v = _json_scalar(getattr(st, k)) if st.has_min_max else None
                    if rg > 0:  # a missing bound in any row group voids the fold
                        v = None if None in (v, entry[k]) else fold(v, entry[k])
                    entry[k] = v
        out[path] = cols
    return out


def _zone_may_match(zone: dict | None, op: str, value) -> bool:
    """Can any row in a file with this zone satisfy ``col op value``?

    Conservative: missing stats → True. SQL semantics: NULL never
    satisfies a comparison, so an all-null zone is skippable outright.
    """
    if zone is None or value is None:
        return True
    nulls, rows = zone.get("nulls"), zone.get("rows")
    if nulls is not None and rows and nulls == rows:
        return False  # every value NULL: no comparison can hold
    mn, mx = zone.get("min"), zone.get("max")
    if mn is None or mx is None:
        return True
    value = _zone_value(value)  # datetime/date → the stored representation
    try:
        if op == "=":
            return mn <= value <= mx
        if op == "!=":
            # only a constant file with zero nulls is provably all-equal
            return not (mn == mx == value and zone.get("nulls") == 0)
        if op == "<":
            return mn < value
        if op == "<=":
            return mn <= value
        if op == ">":
            return mx > value
        if op == ">=":
            return mx >= value
    except TypeError:
        return True  # cross-type comparison: never prune on it
    return True


def _as_conjuncts(where) -> list[tuple]:
    """Normalize ``where`` to a list of (column, op, value) conjuncts —
    a single tuple or a list of tuples (ANDed, as in any scan filter)."""
    conj = [where] if isinstance(where, tuple) else list(where)
    for c in conj:
        if len(c) != 3 or c[1] not in _ZONE_OPS:
            raise ValueError(f"unsupported zone predicate: {c!r}")
    return conj


def _bloom_admits_any(bloom_b64: str | None, words) -> bool:
    """Can a file with this bloom hold ``col = v`` for any key hashed into
    ``words`` (``key_words``: None when some key cannot be hashed)? A
    bloom "no" is a proof of absence (no false negatives), so pruning on
    it is exact."""
    return (
        bloom_b64 is None
        or words is None
        or BloomFilter.from_b64(bloom_b64).admits_any(words)
    )


def prune_files(snapshot: dict, where) -> tuple[list[str], list[str]]:
    """Split a snapshot's files into (kept, skipped) for ``where`` — one
    ``(column, op, value)`` tuple or a list of them ANDed together (a
    file survives only if EVERY conjunct passes both its zone check and,
    for ``=`` on a bloom-indexed column, its bloom check). Pure
    metadata — no Spark, no data I/O."""
    conj = _as_conjuncts(where)
    stats = snapshot.get("stats", {})
    blooms = snapshot.get("blooms", {})
    kept, skipped = [], []
    for f in snapshot["files"]:
        zones = stats.get(f, {})
        fblooms = blooms.get(f, {})
        ok = all(
            _zone_may_match(zones.get(c), op, v)
            and (op != "=" or _bloom_admits_any(fblooms.get(c), key_words([v])))
            for c, op, v in conj
        )
        (kept if ok else skipped).append(f)
    return kept, skipped


def _manifest_name(version: int) -> str:
    return f"{version:0{_VERSION_WIDTH}d}.json"


def _fsync_dir(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


# merge and delete_keys collect a single-column key set driver-side for
# zone/bloom pruning only below this bound; larger sets skip the
# pre-prune and use the distributed semi-join alone (correct, unpruned)
_ERASE_BLOOM_MAX_KEYS = 100_000


def _prune_by_keys(snap: dict, files: list[str], col: str, vals) -> list[str]:
    """The files of ``files`` that may hold ``col`` = one of ``vals``: the
    keys' min/max against each zone map, the key set (hashed once) against
    each bloom. Neither has false negatives, so a dropped file provably
    holds no key. NULL keys equal nothing, as in the semi-join pruned for."""
    vals = [v for v in vals if v is not None]
    if not vals:
        return []
    # NaN is unordered: a min/max over it proves nothing
    lo, hi = (min(vals), max(vals)) if all(v == v for v in vals) else (None, None)
    words = key_words(vals)
    stats, blooms = snap.get("stats", {}), snap.get("blooms", {})
    return [
        f for f in files
        if _zone_may_match(stats.get(f, {}).get(col), ">=", lo)
        and _zone_may_match(stats.get(f, {}).get(col), "<=", hi)
        and _bloom_admits_any(blooms.get(f, {}).get(col), words)
    ]


def _staged_keys(files: list[str], col: str) -> list | None:
    """The distinct ``col`` values of staged parquet ``files``, read
    driver-side from the footers and the one column (as the commit's
    stats and blooms are); None above ``_ERASE_BLOOM_MAX_KEYS`` rows."""
    import pyarrow.parquet as pq

    local = [urlparse(f).path or f for f in files]
    if sum(pq.read_metadata(p).num_rows for p in local) > _ERASE_BLOOM_MAX_KEYS:
        return None
    cols = (pq.read_table(p, columns=[col])[col].to_pylist() for p in local)
    return list({v for c in cols for v in c})


def _scan_with_dvs(
    spark: SparkSession,
    schema: StructType,
    files: list[str],
    dvs: dict,
    keep_meta: bool = False,
) -> DataFrame:
    """Scan ``files`` under ``schema``, applying any deletion vectors:
    files without a DV are read plain; files WITH one are read alongside
    the scan-stable ``_metadata`` position columns and anti-joined
    against the union of their (file, pos) vectors. The DV side is
    O(deleted rows) and hash-joins against only the vectored files —
    clean files never pay the tax.

    ``keep_meta`` retains ``__file`` (file-path URI) / ``__pos``
    (row index) columns, captured AT SCAN TIME — the write paths (merge,
    delete_keys, delete_mor) need them, and capturing after a join/union
    would be unreliable."""
    if not files:
        df = spark.createDataFrame([], schema)
        if keep_meta:
            df = df.withColumn("__file", F.lit(None).cast("string")).withColumn(
                "__pos", F.lit(None).cast("long")
            )
        return df
    vectored = [f for f in files if dvs.get(f)]
    clean = [f for f in files if not dvs.get(f)]

    def scan(paths: list[str]) -> DataFrame:
        return (
            spark.read.schema(schema)
            .parquet(*paths)
            .withColumn("__file", F.col("_metadata.file_path"))
            .withColumn("__pos", F.col("_metadata.row_index"))
        )

    parts = []
    if clean:
        parts.append(scan(clean))
    if vectored:
        dv_dirs = sorted({d for f in vectored for d in dvs[f]})
        dv_df = spark.read.schema("file string, pos long").parquet(*dv_dirs)
        s = scan(vectored)
        parts.append(
            s.join(
                dv_df,
                (s["__file"] == dv_df["file"]) & (s["__pos"] == dv_df["pos"]),
                "anti",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out if keep_meta else out.drop("__file", "__pos")


class Transaction:
    """One writer's staging scope. Visible only after ``commit()``."""

    def __init__(self, table: "TransactionalTable") -> None:
        self.txn_id = uuid.uuid4().hex
        self._table = table
        self._staging = os.path.join(table.root, _DATA_DIR, self.txn_id)
        self._done = False
        self._replaced: list[str] = []
        self._base_version: int | None = None
        self._dv_adds: dict[str, list[str]] = {}

    def _check_open(self) -> None:
        if self._done:
            raise RuntimeError("transaction already finished")

    def insert(self, df: DataFrame) -> None:
        """Stage rows: a durable parquet write that no reader can see
        (the manifest doesn't reference it yet).

        If the table declares CHECK constraints, they are enforced here
        via ``Observation`` metrics piggybacked on the staging write
        itself — ZERO extra passes over the data (the accumulator rides
        the write tasks), which is the only enforcement cost model that
        survives 100 TB ingest. SQL CHECK semantics: a row violates only
        when the expression is provably FALSE — NULL/UNKNOWN passes. On
        any violation the transaction auto-aborts (staged files removed,
        table untouched) and raises ConstraintViolation with per-
        constraint counts.
        """
        self._check_open()
        constraints = self._table.snapshot().get("constraints") or {}
        obs = None
        if constraints:
            obs = Observation()
            df = df.observe(
                obs,
                *[
                    F.sum(
                        F.when(
                            ~F.coalesce(F.expr(expr), F.lit(True)), 1
                        ).otherwise(0)
                    ).alias(name)
                    for name, expr in constraints.items()
                ],
            )
        df.write.mode("append").parquet(self._staging)
        if obs is not None:
            bad = {n: c for n, c in obs.get.items() if c}
            if bad:
                self.abort()
                raise ConstraintViolation(bad)

    def staged_files(self) -> list[str]:
        if not os.path.isdir(self._staging):
            return []
        return sorted(
            os.path.join(self._staging, f)
            for f in os.listdir(self._staging)
            if f.startswith("part-") and not f.endswith(".crc")
        )

    def _pin_base(self) -> dict:
        """Pin and return the snapshot this transaction's rewrite is
        computed against; ``commit`` refuses to publish past it
        (first-committer-wins). The rewrite must be the first write: that
        snapshot lacks anything this transaction already staged, so a
        second rewrite or a rewrite after inserts raises."""
        self._check_open()
        if self._base_version is not None or self.staged_files():
            raise RuntimeError(
                "a transaction holds inserts only, or one rewrite first "
                "and then inserts"
            )
        snap = self._table.snapshot()
        self._base_version = snap["version"]
        return snap

    def _stage_dv(self, snap: dict, matches: DataFrame) -> None:
        """The one deletion-vector staging path (``merge``, ``delete_mor``):
        write the scan-time ``__file``/``__pos`` of ``matches`` as this
        transaction's vector, attached to the files an ``Observation`` on
        that same write saw (no second scan); an empty vector is removed."""
        obs = Observation()
        dv_dir = os.path.join(self._staging, "dv")
        dv = matches.selectExpr("__file AS file", "__pos AS pos")
        dv = dv.observe(obs, F.collect_set("file").alias("files"))
        dv.write.mode("overwrite").parquet(dv_dir)
        touched = {urlparse(u).path or u for u in obs.get["files"]}
        if touched:
            self._dv_adds = {f: [dv_dir] for f in snap["files"] if f in touched}
        else:
            shutil.rmtree(dv_dir, ignore_errors=True)

    def merge(self, spark: SparkSession, source: DataFrame, key) -> None:
        """Stage a merge-on-read MERGE (upsert by ``key``): source rows
        with a matching key REPLACE the target rows, unmatched ones insert.
        Duplicate source keys all land; NULL keys equal nothing, so they
        insert and replace nothing.

        The reference updates a heap tuple in place behind a before-image
        UPDATE record (reference: src/heap/heap_file.cc:151-257,
        src/include/log/log_manager.h:16-23). Here no data file is
        rewritten: the source is staged as an append, and a deletion
        vector (``_stage_dv``) deletes every target row whose key it
        holds; ``commit()`` publishes both in one manifest link, and the
        untouched files stay the time-travel before-image.

        Scale: the source is evaluated once; its staged files feed the
        append and the discovery. With one key column and at most
        ``_ERASE_BLOOM_MAX_KEYS`` source rows their keys are read
        driver-side, ``_prune_by_keys`` drops the files whose zone map or
        bloom proves them key-free, and the rest are semi-joined against
        a broadcast of the staged keys: O(candidate files + |source|)
        read, O(|source| + matched rows) written. Commit raises
        ConflictError if the tip moved past the pinned snapshot."""
        key_cols = [key] if isinstance(key, str) else list(key)
        snap = self._pin_base()
        schema = _schema(snap)
        cast = [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema]
        self.insert(source.select(*cast))
        staged, files = self.staged_files(), snap["files"]
        if not staged or not files:
            return
        keys = spark.read.schema(schema).parquet(*staged).select(*key_cols)
        vals = _staged_keys(staged, key_cols[0]) if len(key_cols) == 1 else None
        if vals is not None:
            files = _prune_by_keys(snap, files, key_cols[0], vals)
            keys = F.broadcast(keys)
        if files:
            target = _scan_with_dvs(spark, schema, files, snap.get("dvs", {}), True)
            self._stage_dv(snap, target.join(keys, key_cols, "semi"))

    def delete(self, spark: SparkSession, where) -> None:
        """Stage a copy-on-write DELETE: rows where the predicate is TRUE
        are removed (SQL DELETE semantics — NULL/UNKNOWN rows stay).
        ``where`` is one ``(column, op, value)`` tuple or a list of them
        ANDed, the same grammar the zone-mapped read takes.

        File discovery is METADATA-first, and this is the scale story:
        ``prune_files`` drops every file whose zone maps (and blooms for
        ``=``) PROVE no row can match, so only candidate files are read
        and rewritten minus their matching rows; on a layout clustered by
        the predicate column a DELETE touches O(matching) files of a
        100 TB table and never scans the rest. The untouched files are
        the before-image (reference: the heap delete logs the old tuple,
        src/heap/heap_file.cc:151-257); the old version stays
        time-travel-readable until vacuumed. First-committer-wins via
        the snapshot base version, like merge."""
        snap = self._pin_base()
        candidates, _ = prune_files(snap, where)
        self._replaced = candidates
        if not candidates:
            return  # provably nothing to delete: commit is a no-op version
        survivors = _scan_with_dvs(
            spark, _schema(snap), candidates, snap.get("dvs", {})
        ).filter(~F.coalesce(_predicate(where), F.lit(False)))
        self.insert(survivors)

    def delete_mor(self, spark: SparkSession, where) -> None:
        """Stage a MERGE-ON-READ delete via a DELETION VECTOR
        (``_stage_dv``): instead of rewriting the files that hold matching
        rows (the COW ``delete``), write only a small parquet of (file,
        row position) pairs; the manifest attaches it to the affected data
        files and READS apply it as an anti-join — Delta's deletion
        vectors / Iceberg v2 position deletes, reduced to their minimum.

        The trade every lakehouse makes: COW pays the rewrite at DELETE
        time and keeps reads pristine; MOR pays ~zero at delete time (the
        DV is O(deleted rows) — deleting 100 rows from a 100 TB table
        writes KBs) and a small anti-join tax on every read until
        ``materialize_dvs`` folds the vectors in (typically piggybacked
        on compaction). File discovery is zone-map pruned like the COW
        path; positions come from the scan-stable ``_metadata.row_index``
        column. The DV is staged invisible, visible only at the commit.
        """
        snap = self._pin_base()
        candidates, _ = prune_files(snap, where)
        if not candidates:
            return  # provably nothing to delete: commit is a no-op version
        # scan applies EXISTING vectors so already-deleted positions are
        # not re-recorded — vectors stay minimal as deletes stack
        self._stage_dv(
            snap,
            _scan_with_dvs(
                spark, _schema(snap), candidates, snap.get("dvs", {}), keep_meta=True
            ).filter(F.coalesce(_predicate(where), F.lit(False))),
        )

    def delete_keys(self, spark: SparkSession, keys: DataFrame, key) -> None:
        """Stage a copy-on-write erasure of every row whose ``key`` appears
        in ``keys`` — the right-to-be-forgotten primitive (erase ALL of a
        user's rows, however many files they straddle). A semi-join
        against the distinct key set collects the affected FILE paths
        (O(files), not O(rows)); those files are rewritten as their
        anti-join survivors, the rest are untouched and unread. With one
        key column the discovery is pre-pruned like ``merge``'s: the keys
        are collected once and ``_prune_by_keys`` drops the files whose
        zone map or bloom proves them key-free (``discovery_files`` is the
        pruned count). Copy-on-write, not a deletion vector, on purpose: a
        compliance flow runs erase → vacuum to physically drop the bytes."""
        key_cols = [key] if isinstance(key, str) else list(key)
        snap = self._pin_base()
        files = snap["files"]
        ks = keys.select(*key_cols).distinct()
        if files and len(key_cols) == 1:
            vals = [r[0] for r in ks.limit(_ERASE_BLOOM_MAX_KEYS + 1).collect()]
            if len(vals) <= _ERASE_BLOOM_MAX_KEYS:
                files = _prune_by_keys(snap, files, key_cols[0], vals)
                ks = F.broadcast(ks)
        self.discovery_files = len(files)
        if not files:
            return  # no file can hold a key: no-op version
        # semi-join discovery collects only the matched FILE PATHS; the
        # scan applies deletion vectors, so a rewrite folds them in
        target = _scan_with_dvs(
            spark, _schema(snap), files, snap.get("dvs", {}), keep_meta=True
        ).drop("__pos")
        hits = target.join(ks, key_cols, "semi").select("__file").distinct()
        affected = [r["__file"] for r in hits.collect()]
        paths = {urlparse(f).path or f for f in affected}
        self._replaced = [f for f in files if f in paths]
        if affected:  # else no file holds any key: no-op version
            self.insert(
                target.filter(F.col("__file").isin(affected))
                .join(ks, key_cols, "anti")
                .drop("__file")
            )

    def replace_where(self, spark: SparkSession, where, df: DataFrame) -> None:
        """Atomic INSERT OVERWRITE by predicate (Delta's ``replaceWhere``):
        rows matching ``where`` are deleted and ``df`` is inserted, in ONE
        commit — the idempotent-backfill primitive (recompute a day/region
        slice and swap it in; rerunning the same backfill converges).

        Built on the COW delete, so file discovery is zone-map/bloom
        pruned: on a layout clustered by the predicate column the
        overwrite touches O(matching) files. Replacement rows are
        validated to FALL INSIDE the predicate via an Observation riding
        the staging write itself (zero extra passes, same mechanism as
        CHECK constraints); a violation auto-aborts and raises
        ValueError, because silently writing rows the predicate would
        not have deleted makes the backfill non-idempotent."""
        self._check_open()
        self.delete(spark, where)
        obs = Observation()
        df = df.observe(
            obs,
            F.sum(
                F.when(~F.coalesce(_predicate(where), F.lit(False)), 1).otherwise(0)
            ).alias("outside"),
        )
        self.insert(df)
        outside = obs.get["outside"] or 0
        if outside:
            self.abort()
            raise ValueError(
                f"{outside} replacement row(s) fall outside the "
                f"replace_where predicate {where!r}"
            )

    def commit(self) -> int:
        """Publish staged files atomically; returns the committed version.

        Zone maps are harvested from the staged files' parquet footers
        here — commit is the one point that knows the final file set, and
        footer reads are O(files) metadata, not data. A staged file with
        zero rows (Spark writes partition 0's file even when it is empty)
        is deleted, not published: its empty stats could never be pruned."""
        self._check_open()
        stats = _harvest_stats(self.staged_files())
        for f in [f for f, st in stats.items() if st is None]:
            os.remove(f)
            del stats[f]
        staged = self.staged_files()
        bloom_cols = self._table.snapshot().get("bloom_columns") or []
        version = self._table._publish(
            staged,
            replaced=self._replaced,
            expected_base=self._base_version,
            stats=stats,
            blooms=harvest_blooms(staged, bloom_cols) if bloom_cols else None,
            dvs=self._dv_adds or None,
        )
        self._done = True
        return version

    def abort(self) -> None:
        """Drop staged files. Also safe to simply crash instead — an
        unpublished staging dir is invisible either way."""
        self._check_open()
        shutil.rmtree(self._staging, ignore_errors=True)
        self._done = True


class TransactionalTable:
    def __init__(self, root: str) -> None:
        self.root = root
        self._manifest_dir = os.path.join(root, _MANIFEST_DIR)
        if not os.path.isdir(self._manifest_dir):
            raise FileNotFoundError(
                f"not a transactional table (no manifest dir): {root}"
            )

    # ------------------------------------------------------------- create
    @staticmethod
    def create(
        root: str,
        schema: StructType,
        bloom_columns: list[str] | None = None,
        constraints: dict[str, str] | None = None,
    ) -> "TransactionalTable":
        """``bloom_columns`` opts named columns into per-file bloom
        indexes (built at each commit, carried in the manifest) so ``=``
        reads prune files even on layouts zone maps can't help with —
        the table-property analog of Delta's per-column bloom indexes.

        ``constraints`` declares named CHECK expressions ({name -> SQL
        boolean}) enforced on every staged insert/merge — the quality
        gate every production ingest needs, carried as table metadata so
        every writer is bound by it, not just well-behaved ones."""
        os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, _DATA_DIR), exist_ok=True)
        mdir = os.path.join(root, _MANIFEST_DIR)
        if not os.listdir(mdir):
            manifest = {"version": 0, "schema": schema.json(), "files": []}
            if bloom_columns:
                manifest["bloom_columns"] = list(bloom_columns)
            if constraints:
                manifest["constraints"] = dict(constraints)
            _write_manifest_atomic(mdir, 0, manifest)
        return TransactionalTable(root)

    # -------------------------------------------------------------- state
    def latest_version(self) -> int:
        return max(
            int(f.split(".")[0])
            for f in os.listdir(self._manifest_dir)
            if f.endswith(".json")
        )

    def _read_manifest(self, version: int) -> dict:
        with open(os.path.join(self._manifest_dir, _manifest_name(version))) as fh:
            return json.load(fh)

    def snapshot(self, version: int | None = None) -> dict:
        return self._read_manifest(
            self.latest_version() if version is None else version
        )

    # ------------------------------------------------------------- writer
    def begin(self) -> Transaction:
        return Transaction(self)

    def _commit(self, build) -> int:
        """The one commit loop: read the tip, let ``build(tip, version)``
        derive the manifest for ``version`` = tip + 1, and hard-link it.
        Losing the link to another writer retries on top of the new tip;
        ``build`` raises ConflictError where that tip invalidates what it
        publishes."""
        while True:
            tip = self.snapshot()
            version = tip["version"] + 1
            manifest = build(tip, version)
            try:
                _write_manifest_atomic(self._manifest_dir, version, manifest)
                return version
            except FileExistsError:
                continue  # lost the race: retry on top of the new tip

    def _publish(
        self,
        new_files: list[str],
        replaced: list[str] | None = None,
        expected_base: int | None = None,
        stats: dict | None = None,
        blooms: dict | None = None,
        dvs: dict | None = None,
    ) -> int:
        gone = set(replaced or [])

        def build(base: dict, version: int) -> dict:
            if expected_base is not None and base["version"] != expected_base:
                raise ConflictError(
                    f"table advanced to v{base['version']} past the "
                    f"transaction's base v{expected_base}; rewritten files "
                    f"may be stale"
                )

            def kept(entry: str) -> dict:  # per-file entries of live files
                return {f: x for f, x in base.get(entry, {}).items() if f not in gone}

            merged_stats = {**kept("stats"), **(stats or {})}
            merged_blooms = {**kept("blooms"), **(blooms or {})}
            # deletion vectors: entries for replaced files die with them
            # (a COW rewrite folds the DV in); new DVs STACK on a file's
            # existing list so repeated MOR deletes compose
            merged_dvs = {f: list(d) for f, d in kept("dvs").items()}
            for f, dirs in (dvs or {}).items():
                merged_dvs[f] = merged_dvs.get(f, []) + list(dirs)
            manifest = {
                "version": version,
                "schema": base["schema"],
                "files": [f for f in base["files"] if f not in gone] + new_files,
                "stats": merged_stats,
            }
            if merged_dvs:
                manifest["dvs"] = merged_dvs
            if base.get("bloom_columns"):
                manifest["bloom_columns"] = base["bloom_columns"]
            if merged_blooms:
                manifest["blooms"] = merged_blooms
            if base.get("constraints"):
                manifest["constraints"] = base["constraints"]
            return manifest

        return self._commit(build)

    # ------------------------------------------------------------- reader
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        where: tuple | list | None = None,
    ) -> DataFrame:
        """Read a committed snapshot; ``where`` — one ``(column, op,
        value)`` tuple or a list of them ANDed — additionally prunes the
        file list against the manifest's zone maps BEFORE the scan is
        planned, then applies the same predicate as a residual row
        filter — identical results to a full scan + filter, strictly
        fewer files opened. ``last_scan`` records {files_total,
        files_read} for observability."""
        snap = self.snapshot(version)
        files = snap["files"]
        residual = None
        if where is not None:
            files, _skipped = prune_files(snap, where)
            residual = _predicate(where)
        self.last_scan = {"files_total": len(snap["files"]), "files_read": len(files)}
        df = _scan_with_dvs(spark, _schema(snap), files, snap.get("dvs", {}))
        return df.filter(residual) if residual is not None else df

    # ------------------------------------------------------- schema change
    def alter_schema(self, new_schema: StructType) -> int:
        """Publish a new version with an updated schema and the SAME file
        list — ALTER TABLE ADD/DROP COLUMN as pure metadata, the lakehouse
        way: no file is rewritten. Readers resolve each version's OWN
        schema, so time travel shows the table as it was declared then;
        under the new schema, files written before an added column simply
        have no pages for it and read as NULL, and files that still carry
        a dropped column have it pruned by the explicit read schema.

        Scale: O(KB) manifest write; a 100 TB table changes shape in
        milliseconds. First-committer-wins like any other commit."""
        return self._commit(
            lambda tip, v: {**tip, "version": v, "schema": new_schema.json()}
        )

    # ------------------------------------------------------------ history
    def history(self, spark: SparkSession) -> DataFrame:
        """Commit-log history (DESCRIBE HISTORY analog): one row per
        committed version with its live-file count and the add/remove
        delta vs the previous version — pure manifest bookkeeping,
        derived by diffing consecutive file lists, so it is exact for
        any mix of inserts, rewrites, and compactions. O(versions ×
        files) driver-side metadata; no data files are opened."""
        rows = []
        prev: set[str] = set()
        for v in range(self.latest_version() + 1):
            files = set(self._read_manifest(v)["files"])
            rows.append(
                (v, len(files), len(files - prev), len(prev - files))
            )
            prev = files
        return spark.createDataFrame(
            rows, "version int, n_files int, n_added int, n_removed int"
        )

    # ------------------------------------------------------------ compact
    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 << 20,
        target_files: int | None = None,
        sort_by: str | None = None,
    ) -> int | None:
        """Bin-pack small files into ~target-size files (lakehouse
        OPTIMIZE) through an ordinary copy-on-write transaction: read the
        files below target size, rewrite them as ``ceil(bytes/target)``
        files (or exactly ``target_files``), publish base − small +
        rewritten atomically. Old versions stay time-travel-readable;
        ``vacuum`` reclaims them. Returns the committed version, or None
        if fewer than two files qualify (nothing to pack).

        ``sort_by`` range-clusters the rewritten files on a column
        (``repartitionByRange`` + ``sortWithinPartitions`` — a
        distributed sort, no single-task funnel), which is what makes the
        commit-time zone maps SELECTIVE: after clustering, a range
        predicate prunes to O(matching) files. Compaction and zone maps
        are two halves of one mechanism — the first creates the layout
        the second exploits, exactly as in any lakehouse OPTIMIZE +
        file-stats design. At 100 TB the same plan holds per partition:
        small-file debt from streaming ingest is the thing this exists
        to pay down.

        First-committer-wins: raises ConflictError if the tip moved past
        the snapshot the rewrite was computed against.
        """
        txn = self.begin()
        snap = txn._pin_base()
        sizes: dict[str, int] = {}
        for f in snap["files"]:
            local = urlparse(f).path or f
            try:
                sizes[f] = os.path.getsize(local)
            except OSError:
                sizes[f] = target_file_bytes  # unknown: treat as full
        small = [f for f in snap["files"] if sizes[f] < target_file_bytes]
        if len(small) < 2:
            return None
        n_out = target_files or max(
            1, -(-sum(sizes[f] for f in small) // target_file_bytes)
        )
        # apply any deletion vectors on the files being rewritten — a
        # plain scan would resurrect MOR-deleted rows; replaced files
        # shed their DV entries in _publish, so compaction doubles as
        # materialization for the files it touches
        df = _scan_with_dvs(spark, _schema(snap), small, snap.get("dvs", {}))
        if sort_by is not None:
            df = df.repartitionByRange(n_out, F.col(sort_by)).sortWithinPartitions(
                sort_by
            )
        else:
            df = df.coalesce(n_out)
        txn._replaced = small
        txn.insert(df)
        return txn.commit()

    # ------------------------------------------------- materialize DVs
    def materialize_dvs(self, spark: SparkSession) -> int | None:
        """Fold every deletion vector into its data files: the vectored
        files are rewritten as their DV survivors through an ordinary
        copy-on-write commit, which also drops their DV entries (replaced
        files shed their vectors in ``_publish``). This is the compaction
        half of the MOR bargain — reads go back to paying zero anti-join
        tax, and the DV staging dirs become vacuumable once no live
        version references them. Returns the committed version, or None
        if the table carries no vectors. Production systems piggyback
        this on OPTIMIZE; it is equally valid standalone.
        """
        txn = self.begin()
        snap = txn._pin_base()
        dvs = snap.get("dvs", {})
        vectored = [f for f in snap["files"] if dvs.get(f)]
        if not vectored:
            return None
        survivors = _scan_with_dvs(spark, _schema(snap), vectored, dvs)
        txn._replaced = vectored
        txn.insert(survivors)
        return txn.commit()

    # -------------------------------------------------------------- clone
    def clone(self, new_root: str) -> "TransactionalTable":
        """SHALLOW CLONE: a new, independent table whose v0 manifest
        references the source's CURRENT files — zero data copied, O(KB)
        metadata, so cloning a 100 TB table is instant. Because data
        files are immutable, the two tables safely share them; commits
        to either side diverge independently from the clone point
        (dev/test forks, experiment branches, blue-green migrations).

        The standard lakehouse caveat applies and is inherited
        deliberately: the clone references files under the SOURCE's
        root, and the source's ``vacuum`` does not know about clones —
        vacuuming the source can reclaim files a clone still references
        (exactly as with Delta shallow clones). Fork-then-vacuum
        workflows should compact/rewrite the clone first."""
        if os.path.exists(os.path.join(new_root, _MANIFEST_DIR)):
            raise FileExistsError(f"clone target already a table: {new_root}")
        os.makedirs(os.path.join(new_root, _MANIFEST_DIR))
        os.makedirs(os.path.join(new_root, _DATA_DIR), exist_ok=True)
        manifest = dict(self.snapshot())
        # fork point recorded so a WAP publish_from can be fast-forward
        # -only: publishing a branch forked from a stale main would
        # silently discard every commit since the fork
        manifest["forked_from"] = {
            "root": self.root,
            "version": manifest["version"],
        }
        manifest["version"] = 0
        _write_manifest_atomic(
            os.path.join(new_root, _MANIFEST_DIR), 0, manifest
        )
        return TransactionalTable(new_root)

    # ------------------------------------------------- publish-from (WAP)
    def publish_from(self, branch: "TransactionalTable") -> int:
        """Adopt a BRANCH table's current state as this table's next
        version — the PUBLISH step of write-audit-publish: ingest lands
        on an isolated branch (a shallow ``clone``), audits run against
        the branch where a bad batch can't hurt anyone, and a passing
        branch is promoted in ONE atomic metadata commit. A failing
        audit simply never publishes — main is untouched by
        construction, which is the entire point of WAP.

        Metadata-only (the branch's immutable files are adopted by
        reference, like a clone in reverse); FAST-FORWARD-ONLY: raises
        ConflictError if main has committed past the branch's recorded
        fork point, because adopting the branch's stale view would
        silently discard those commits (Iceberg's WAP cherry-picks for
        the same reason). Inherits the clone caveat: adopted files live
        under the BRANCH's root, so vacuum the branch only after main no
        longer references its files (or compact main first)."""
        src = branch.snapshot()
        fork = branch.snapshot(0).get("forked_from")
        if fork is None:
            # a table that never recorded a fork point is NOT a branch of
            # anything — adopting it would replace main's whole file list
            # with unrelated state, silently
            raise ConflictError(
                f"{branch.root} records no fork point (not a clone); "
                "publish_from only promotes branches created by clone()"
            )
        if os.path.realpath(fork["root"]) != os.path.realpath(self.root):
            # forked from a DIFFERENT table: version numbers coinciding
            # is meaningless, and publishing would adopt foreign files
            raise ConflictError(
                f"branch forked from {fork['root']}, not {self.root}; "
                "refusing to publish a foreign branch"
            )

        def build(tip: dict, version: int) -> dict:
            if tip["version"] != fork["version"]:
                raise ConflictError(
                    f"main advanced to v{tip['version']} past the branch's "
                    f"fork point v{fork['version']}; rebase the branch "
                    f"(re-clone and replay) before publishing"
                )
            manifest = {**src, "version": version}
            manifest.pop("forked_from", None)  # branch bookkeeping, not state
            # table policies stay MAIN's: the branch is a data vehicle
            return _with_tip_policies(manifest, tip)

        return self._commit(build)

    # ------------------------------------------------------------ restore
    def restore(self, to_version: int) -> int:
        """RESTORE TABLE ... TO VERSION: publish a NEW version whose file
        list, schema, and file statistics are the target version's — the
        rollback is itself an auditable commit, so ``history`` keeps every
        state (including the rolled-back ones), time travel still reaches
        them, and the restore is exactly as crash-atomic as any other
        manifest link (the reference's abort path undoes a txn by
        restoring before-images, src/log/log_manager.cc:16-23 contract;
        over immutable files the before-image IS the old manifest).

        Metadata-only: no data file is read, copied, or rewritten — a
        100 TB table rolls back in milliseconds. Raises FileNotFoundError
        if ``vacuum`` already reclaimed any file the target version
        references (vacuum trades away restorability, as in any
        lakehouse), so a restore can never publish a manifest that points
        at missing data."""
        target = self._read_manifest(to_version)
        referenced = list(target["files"]) + [
            d for dirs in target.get("dvs", {}).values() for d in dirs
        ]
        missing = [
            f for f in referenced if not os.path.exists(urlparse(f).path or f)
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore to v{to_version}: {len(missing)} file(s) "
                f"vacuumed, e.g. {missing[0]}"
            )
        return self._commit(
            lambda tip, version: _with_tip_policies({**target, "version": version}, tip)
        )

    # ------------------------------------------------------------ changes
    def changes(
        self, spark: SparkSession, v_from: int, v_to: int
    ) -> DataFrame:
        """Change-data-feed between two committed versions: every row
        inserted or deleted in (v_from, v_to], tagged ``_change_type``
        ('insert' | 'delete'); an update surfaces as a delete+insert
        pair. The feed is derived, not logged — possible because files
        are immutable, so a row can only change by its file leaving the
        manifest:

        1. File diff (driver-side, O(files) metadata): files only in
           v_to are insert CANDIDATES, files only in v_from are delete
           candidates. Files common to both versions provably hold
           unchanged rows and are never scanned.
        2. Row diff (distributed): ``exceptAll`` each candidate scan
           against the other — unchanged rows of a vectored or rewritten
           file appear in both scans and cancel, leaving exactly the true
           row-level delta.

        Cost scales with the CHURN (changed files), never table size: a
        merge that vectored 3 of 10 000 files feeds those 3 twice plus
        its appended files into two hash-partitioned set differences.
        Rows are compared under v_to's schema (columns added/dropped
        between the versions read as NULL / are pruned, matching
        time-travel read semantics)."""
        a = self.snapshot(v_from)
        b = self.snapshot(v_to)
        schema = _schema(b)
        fa, fb = set(a["files"]), set(b["files"])
        dva, dvb = a.get("dvs", {}), b.get("dvs", {})
        # a file is UNCHANGED only if present in both versions with the
        # same deletion-vector stack; a DV-delete changes rows without
        # changing the file list, so DV-churned files re-enter the diff
        same = {f for f in fa & fb if dva.get(f, []) == dvb.get(f, [])}
        added = _scan_with_dvs(spark, schema, sorted(fb - same), dvb)
        removed = _scan_with_dvs(spark, schema, sorted(fa - same), dva)
        inserts = added.exceptAll(removed).withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = removed.exceptAll(added).withColumn(
            "_change_type", F.lit("delete")
        )
        return inserts.unionByName(deletes)

    # ------------------------------------------------------------- vacuum
    def vacuum(self) -> list[str]:
        """Remove staging dirs with no file referenced by the LATEST
        manifest (aborted / crashed-uncommitted writers, and dirs whose
        files were all replaced by copy-on-write rewrites — so vacuuming
        trades away time travel to pre-merge versions, as in any
        lakehouse). Returns removed dirs. Referenced files are never
        touched."""
        snap = self.snapshot()
        live = {os.path.dirname(f) for f in snap["files"]}
        # deletion-vector dirs live under data/<txn>/dv — keep their txn
        # dirs alive even when the txn published no data files
        for dirs in snap.get("dvs", {}).values():
            live.update(os.path.dirname(d) for d in dirs)
        removed = []
        data_dir = os.path.join(self.root, _DATA_DIR)
        for d in sorted(os.listdir(data_dir)):
            full = os.path.join(data_dir, d)
            if full not in live:
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
        return removed


def _with_tip_policies(manifest: dict, tip: dict) -> dict:
    """Table-wide POLICIES (bloom declarations, CHECK constraints) are not
    data: a manifest adopted from another version (``restore``) or table
    (``publish_from``) carries the tip's policies, not its own."""
    for policy in ("bloom_columns", "constraints"):
        if tip.get(policy):
            manifest[policy] = tip[policy]
        else:
            manifest.pop(policy, None)
    return manifest


def _write_manifest_atomic(mdir: str, version: int, manifest: dict) -> None:
    """fsync'd temp file + hard link onto the version name: the link is
    the atomic commit point and fails (FileExistsError) on a version
    collision instead of silently overwriting."""
    final = os.path.join(mdir, _manifest_name(version))
    tmp = final + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, final)
    finally:
        os.unlink(tmp)
    _fsync_dir(mdir)
