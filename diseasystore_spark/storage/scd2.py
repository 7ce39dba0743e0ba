"""SCD2 (type-2 slowly-changing-dimension) feature storage on parquet.

The reference delegates storage to the SCDB package: each feature
table carries ``checksum`` / ``from_ts`` / ``until_ts`` bookkeeping
columns; ``SCDB::update_snapshot`` checksums incoming rows, closes
``until_ts`` on vanished rows and opens ``from_ts`` on new rows at the
write timestamp; ``SCDB::get_table(conn, tbl, slice_ts)`` reads the
transaction-time snapshot ``from_ts <= slice_ts < until_ts``
(``vignettes/extending-diseasystore.Rmd:46-55``,
``R/2_FeatureHandler.R:90-96``, call-site
``R/DiseasystoreBase.R:231-239``).

Spark design — logical snapshots, not physical versions: the
``slice_ts`` semantics are *column-encoded*, so "the world as of
2021-01-01" is answerable for data loaded today (file-format
time-travel alone cannot do that). Layout:

    <root>/<schema>/<table>/_v{N}-{token}/...      -- immutable data segment
        __vc={c|o}/part-*.parquet                     (packed bin: a write of
                                                       at most _PACK_MAX_ROWS
                                                       rows, listed under each
                                                       of its months; __vc
                                                       clusters closed vs
                                                       open rows)
        __vm=YYYY-MM/__vc={c|o}/part-*.parquet        (per-month: a larger
                                                       write)
    <root>/<schema>/<table>/_commits/{N}.json      -- marker + MANIFEST
    <root>/<schema>/logs/*.parquet                 -- append-only log sink

Commit protocol — object-store-safe, no rename, no links: each write
lands its changed rows in a uniquely-named immutable segment
directory, then claims version N by a PUT-IF-ABSENT of the commit
marker ``_commits/{N}.json`` whose body IS the version's **manifest**
— the complete file listing of the version, per month on partitioned
tables (Iceberg-style). Unchanged months are carried forward by
REFERENCE: the new manifest repeats the previous manifest's entries
for them, so a commit costs O(changed months) data I/O plus one small
conditional put, independent of how many months the table spans.
Readers resolve a version to its exact file set from the manifest
alone — no directory LIST on the data plane, and month pruning
(``max_valid_from``) happens at the MANIFEST before any file is
opened, which is strictly earlier than Catalyst partition pruning.

The conditional put runs through a pluggable :class:`CommitBackend`
(``storage/backends.py``): locally ``os.link`` of a fully-written
temp file; on an object store a conditional PUT (S3 ``If-None-Match:
*`` / GCS ``ifGenerationMatch=0`` / Azure ETag). The in-memory
``MemoryCommitBackend`` double runs the full concurrency suite over
exactly that primitive surface — no links, no renames — proving the
protocol object-store-clean. Two concurrent writers racing for
version N cannot both win: exactly one conditional put succeeds; the
loser's orphan segment is removed and the caller retries its merge
against the now-newer table (optimistic concurrency, the Delta/
Iceberg commit loop). Readers never see a torn state — a marker is
either fully present or absent, and every file its manifest names was
durably written before the marker existed (its own segment's files by
write order; referenced older files by induction from the commit that
introduced them). GC is manifest-driven keep-2: files referenced only
by dropped manifests are deleted file-by-file; an unreferenced
segment directory (crash leftover) is swept only once clearly
abandoned.

Per-file stats — one record per data file (Delta's ``add`` stats,
Iceberg's data-file metrics): the manifest's ``file_stats`` maps every
file it references to its row count, min ``from_ts``, max ``until_ts``
(set only when every row is closed), max ``valid_until`` and whether
any row is valid-open. A write reads the footer of each file it
creates once; carried-forward files inherit their record. Month
pruning, slice pruning, ``compact``'s fragmentation check and the
table statistics all derive from these records, and the table
statistics live in the marker too. Tables in the retired layouts (a
version pointer file, a marker that names only a directory, a manifest
without ``file_stats``) raise ``ValueError`` naming the table.

Scale path: one layout, sized to the rows each write holds. Every
version is listed per ``month(valid_from)`` (rows without one, and
tables without the column, sit in ``NULL_MONTH``). A write of at most
``_PACK_MAX_ROWS`` rows is one packed bin instead of one directory per
month (Delta's bin-packing), and every month of the bin lists the same
files (the marker stores the list once and the months name it,
``_encode_manifest``); the ref sets of any two months are therefore
equal or disjoint, and a rewrite always covers every month sharing a
file with one it rewrites (``_rewrite_set``). A cold write does not
count its rows first: it writes one bin, lists it under every month
its footers' ``valid_from`` range spans, and only a bin above the
constant is re-laid out per month. Manifests of the retired flat
layout (a ``files`` list) are still read, and their next write
migrates them.

The merge plan is one full outer join of the base's rows with the
incoming rows on ``checksum`` that classifies every row as kept,
closed or inserted (Delta's single-join MERGE); it shuffles only on the
checksum key and is AQE-friendly. ``update_snapshot`` is scoped to a
date range, so a merge compares only the months up to the range's end:
its scope. A small merge — the scope, closed over shared bins, holds at
most ``_PACK_MAX_ROWS`` rows — rewrites that whole closure in ONE
pass: the join's output is written as one bin, and the write's observed
metrics decide whether it commits and which months list it. A larger
merge first runs a census of the changed rows and rewrites only the
months holding one (closed over shared bins), so the rewrite is
O(touched partitions), the same pruning a Delta ``MERGE`` on checksum
would achieve; every other month is carried forward by reference.

Without the Delta jars in this environment the parquet+manifest
layout is the honest equivalent; the class isolates all physical I/O
so a Delta backend can be slotted in behind the same five methods.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import time
import uuid
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from diseasystore_spark.contract import SCD2_COLUMNS
from diseasystore_spark.functions.intervals import _lit_sql
from diseasystore_spark.storage.backends import (
    CommitBackend,
    LocalCommitBackend,
    MemoryCommitBackend,
)
from diseasystore_spark.trace import phase

LOGS_TABLE = "logs"

#: partition-directory name parquet uses for a NULL partition value —
#: a month key that can never be pruned by a date cutoff.
NULL_MONTH = "__HIVE_DEFAULT_PARTITION__"


def _sql_name(name: str) -> str:
    """``name`` as a SQL identifier that resolves as ``F.col(name)``
    does: each dot separates a nested field."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))


def _month_sql(columns: list[str], prefix: str = "") -> str:
    """The manifest month of a frame's ``valid_from`` (named
    ``prefix + "valid_from"``), as SQL text. NULL lands in the
    NULL_MONTH segment (the directory partitionBy writes it to), so the
    key says so too: a raw ``date_format`` would be Python None —
    unsortable against the string months, and never matching the
    manifest key. NULL_MONTH sorts after every "yyyy-MM", so a scoped
    merge that changes such rows takes the unscoped fallback. A table
    without ``valid_from`` keeps every row in NULL_MONTH."""
    if "valid_from" not in columns:
        return f"'{NULL_MONTH}'"
    return (
        f"coalesce(date_format({_sql_name(prefix + 'valid_from')}, 'yyyy-MM'),"
        f" '{NULL_MONTH}')"
    )


def _month_key(columns: list[str], prefix: str = "") -> Column:
    """``_month_sql`` as a Column: one SQL expression, so one
    ``F.expr`` call's Py4J round trips."""
    return F.expr(_month_sql(columns, prefix))


def _month_range(lo: str, hi: str) -> list[str]:
    """Every "yyyy-MM" month from ``lo`` to ``hi``, both included."""
    out, y, m = [], int(lo[:4]), int(lo[5:7])
    while f"{y:04d}-{m:02d}" <= hi:
        out.append(f"{y:04d}-{m:02d}")
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def _valid_at(ts) -> Column:
    """The rows of the snapshot at transaction time ``ts``, as one SQL
    expression."""
    at = _lit_sql(ts)
    return F.expr(f"from_ts <= {at} AND (until_ts IS NULL OR until_ts > {at})")


#: the merge join's classification (``_merge_join``): an incoming
#: row that matched nothing opens; a match candidate that matched
#: nothing closes when it is in the compared scope.
_INSERTS = "checksum IS NULL"
_CLOSES = "__k IS NULL AND __e AND __s"


def _merge_join(
    existing: DataFrame, incoming: DataFrame, matchable: Column, closable: Column
) -> DataFrame:
    """The merge's one full outer join on ``checksum``: every column of
    ``existing`` plus ``__e`` (the row may match: ``matchable``),
    ``__s`` (unmatched, it closes: ``closable``), ``__k`` (the incoming
    row's checksum) and ``__in`` (its payload, a struct). Only rows
    with ``__e`` match; checksums are unique among them (``incoming``
    is deduplicated and only unmatched rows open), so no row is
    duplicated."""
    payload = [c for c in existing.columns if c not in SCD2_COLUMNS]
    fields = ", ".join(map(_sql_name, payload))
    return existing.withColumns({"__e": matchable, "__s": closable}).join(
        incoming.selectExpr("checksum AS __k", f"struct({fields}) AS __in"),
        F.expr("checksum = __k AND __e"),
        "full_outer",
    )


def _merged_rows(joined: DataFrame, columns: list[str], ts) -> DataFrame:
    """The new version's rows from ``_merge_join``'s output, in
    ``columns`` order: kept rows verbatim, closed rows with ``until_ts
    = ts``, inserted rows open from ``ts``. One ``selectExpr`` call,
    however wide the row."""
    at = _lit_sql(ts)
    bookkeeping = {
        "checksum": "coalesce(checksum, __k)",
        "from_ts": f"coalesce(from_ts, {at})",
        "until_ts": f"if({_CLOSES}, {at}, until_ts)",
    }
    exprs = []
    for c in columns:
        q = _sql_name(c)
        exprs.append(bookkeeping.get(c, f"if({_INSERTS}, __in.{q}, {q})") + f" AS {q}")
    return joined.selectExpr(*exprs)


def _parsed(iso: str | None, parse):
    """``parse(iso)``, or None when the stats field is absent or
    unparseable: a bound that cannot be read never prunes."""
    try:
        return None if iso is None else parse(iso)
    except ValueError:
        return None


def _footer_column(md, name: str, typ: type, end) -> tuple:
    """``(null_count, bound)`` of column ``name`` from a parquet
    footer's row-group statistics; ``bound`` is ``end`` (min or max) of
    the non-null values, as ISO text. Either is None when the footer
    cannot prove it: the column is missing, a row group lacks
    statistics (INT96 timestamps carry none), or the values are not
    exactly of type ``typ`` — a datetime IS-A date, but its ISO text
    would not parse as a date at read time."""
    if name not in md.schema.names:
        return None, None
    idx = md.schema.names.index(name)
    nulls, vals, known = 0, [], True
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_null_count:
            return None, None
        nulls += st.null_count
        if st.has_min_max:
            v = st.max if end is max else st.min
            if isinstance(v, datetime.datetime) and v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            vals.append(v)
        elif st.num_values:
            known = False
    if not known or not vals or any(type(v) is not typ for v in vals):
        return nulls, None
    return nulls, end(vals).isoformat()


def _file_record(md) -> dict:
    """One data file's stats record, read off its parquet footer. A
    bound the footer cannot prove is None, so the file is never pruned
    on it. ``max_until_ts`` is set only when every row is closed."""
    _, min_from = _footer_column(md, "from_ts", datetime.datetime, min)
    until_nulls, max_until = _footer_column(
        md, "until_ts", datetime.datetime, max
    )
    valid_nulls, max_valid = _footer_column(
        md, "valid_until", datetime.date, max
    )
    return {
        "rows": md.num_rows,
        "min_from_ts": min_from,
        "max_until_ts": max_until if until_nulls == 0 else None,
        "max_valid_until": max_valid,
        "valid_open": bool(valid_nulls),
    }


def _encode_manifest(manifest: dict) -> bytes:
    """A commit marker's bytes. A file list that several months share —
    a packed bin — is written once, under ``bins``, and each of its
    months names it by index: a bin spanning decades of ``valid_from``
    would otherwise repeat its list under every month."""
    months = manifest.get("months", {})
    shared = Counter(tuple(fs) for fs in months.values())
    bins = [fs for fs, n in shared.items() if n > 1]
    if not bins:
        return json.dumps(manifest).encode()
    index = {fs: i for i, fs in enumerate(bins)}
    months = {m: index.get(tuple(fs), fs) for m, fs in months.items()}
    return json.dumps({**manifest, "months": months, "bins": bins}).encode()


def _decode_manifest(raw: bytes) -> dict:
    """A commit marker's manifest, with every month resolved to its
    file list (``_encode_manifest``'s inverse)."""
    manifest = json.loads(raw)
    bins = manifest.pop("bins", None)
    if bins:
        manifest["months"] = {
            m: bins[v] if isinstance(v, int) else v
            for m, v in manifest["months"].items()
        }
    return manifest


def _bin_months(footers) -> list[str] | None:
    """The months a packed bin is listed under, read off its files'
    footers: every month from its least to its greatest ``valid_from``,
    plus NULL_MONTH when a row has none (every row, on a table without
    the column, and the one empty file of an empty table). None when a
    footer cannot bound ``valid_from`` — a TIMESTAMP ``valid_from``
    included: its footer values are UTC, while ``_month_key`` takes the
    month in the session time zone, so only Spark may place its rows."""
    lo, hi, null = [], [], False
    for md in footers:
        if "valid_from" not in md.schema.names:
            return [NULL_MONTH]
        nulls, first = _footer_column(md, "valid_from", datetime.date, min)
        _, last = _footer_column(md, "valid_from", datetime.date, max)
        if nulls is None or (first is None and nulls < md.num_rows):
            return None
        null = null or nulls > 0
        if first is not None:
            lo.append(first[:7])
            hi.append(last[:7])
    months = _month_range(min(lo), max(hi)) if lo else []
    return months + [NULL_MONTH] if null or not months else months


def _retired_layout(table_id: str, version, layout: str) -> ValueError:
    return ValueError(
        f"table {table_id} version {version} is stored in a retired"
        f" layout ({layout}), which this store no longer reads; drop and"
        " rebuild the table"
    )


class CommitConflictError(RuntimeError):
    """Another writer committed this version number first. The caller
    must re-read the table (now at a newer version) and re-apply its
    merge — ``update_snapshot`` and the maintenance ops do this
    automatically via ``_with_commit_retry``."""

    def __init__(self, table_id: str, version: int):
        super().__init__(
            f"commit conflict on {table_id} version {version}: another"
            " writer won the conditional put; retry against the new"
            " current version"
        )
        self.table_id = table_id
        self.version = version

_LOG_SCHEMA = T.StructType(
    [
        T.StructField("date", T.TimestampType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("log_file", T.StringType()),
    ]
)


def normalize_slice_ts(
    slice_ts: str | datetime.date | datetime.datetime | None,
) -> datetime.datetime:
    """Accept Date / timestamp / ISO string (the reference accepts all
    three, ``R/DiseasystoreBase.R:43-48``); normalize to a datetime."""
    if slice_ts is None:
        slice_ts = datetime.date.today()
    if isinstance(slice_ts, str):
        for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
            try:
                return datetime.datetime.strptime(slice_ts, fmt)
            except ValueError:
                continue
        raise ValueError(f"unparseable slice_ts: {slice_ts!r}")
    if isinstance(slice_ts, datetime.datetime):
        return slice_ts
    return datetime.datetime.combine(slice_ts, datetime.time())


def row_checksum(columns: list[str]) -> F.Column:
    """Deterministic row checksum over the data columns (sorted by name
    for stability), NULL-distinguishing. Mirrors SCDB's
    ``digest_to_checksum`` role; sha256 via the JVM-side ``sha2``. One
    SQL expression, so its Py4J round trips do not grow with the row; its
    analyzed form is that of ``sha2(concat_ws("\\x1f", coalesce(
    col.cast("string"), "\\x00<NULL>"), ...), 256)``, which stored
    checksums were computed with."""
    parts = ", ".join(
        f"coalesce(CAST({_sql_name(c)} AS STRING), '\\u0000<NULL>')"
        for c in sorted(columns)
    )
    return F.expr(f"sha2(concat_ws('\\u001F', {parts}), 256)")


PARTITION_COL = "__vm"

#: second hive-partition level inside each month dir — transaction-
#: axis clustering: ``c`` = closed rows (``until_ts`` set), ``o`` =
#: open rows. Like PARTITION_COL it is derived (from ``until_ts``),
#: never stored in row data, and never surfaced to readers.
TXN_CLUSTER_COL = "__vc"


class ParquetFeatureStore:
    """SCD2 storage in one layout: each version is listed per
    ``month(valid_from)``; a write of at most ``_PACK_MAX_ROWS`` rows is
    one packed bin listed under each of its months, a larger one has a
    directory per month. A merge whose scope holds at most that many
    rows rewrites the scope as one bin in one pass; a larger one
    rewrites only the months whose rows changed. Either way the other
    months are carried forward by MANIFEST REFERENCE (no links, no
    copies) — the Iceberg pattern, and the equivalent of a Delta MERGE
    touching only affected files.

    ``partition_granularity`` is still accepted, ``None`` or
    ``"month"``; both mean this one layout."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        partition_granularity: str | None = None,
        commit_backend: CommitBackend | None = None,
        max_records_per_file: int | None = None,
    ):
        if partition_granularity not in (None, "month"):
            raise ValueError("partition_granularity must be None or 'month'")
        if max_records_per_file is not None and max_records_per_file < 1:
            raise ValueError("max_records_per_file must be >= 1")
        self.spark = spark
        self.root = root
        #: the file-size knob at real scale (Spark's own
        #: maxRecordsPerFile): a giant month splits into bounded
        #: files at write time instead of one task emitting one
        #: multi-GB file; merges then re-fragment months over time,
        #: and compact() re-bounds them via the manifest's per-month
        #: file counts — O(fragmented months), see _compact_attempt.
        self.max_records_per_file = max_records_per_file
        if commit_backend is None:
            # SPARK_GRAFT_COMMIT_BACKEND=memory runs every store in the
            # process against the object-store double — the switch the
            # oracle sweep uses to prove the engine green over both.
            kind = os.environ.get("SPARK_GRAFT_COMMIT_BACKEND", "local")
            commit_backend = (
                MemoryCommitBackend.shared(root)
                if kind == "memory"
                else LocalCommitBackend()
            )
        self.commit_backend = commit_backend
        #: log dir -> {file name: its rows}; log files are immutable and
        #: uuid-named, so a name read once never needs reading again
        self._log_tables: dict[str, dict[str, pa.Table]] = {}
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------- paths
    def _table_dir(self, table_id: str) -> str:
        schema, _, table = table_id.partition(".")
        return os.path.join(self.root, schema, table)

    def _commits_dir(self, table_id: str) -> str:
        return os.path.join(self._table_dir(table_id), "_commits")

    def _current_version(self, table_id: str) -> int | None:
        """Highest committed version: max marker in ``_commits/``
        (one control-plane LIST + max — exactly what a Delta log tail
        read costs on an object store); None when the table does not
        exist."""
        versions = [
            int(f[: -len(".json")])
            for f in self.commit_backend.list(self._commits_dir(table_id))
            if f.endswith(".json")
        ]
        if versions:
            return max(versions)
        pointer = os.path.join(self._table_dir(table_id), "_CURRENT")
        if os.path.exists(pointer):
            with open(pointer) as fh:
                raise _retired_layout(
                    table_id, fh.read().strip(), "_CURRENT pointer"
                )
        return None

    def _manifest_of(self, table_id: str, version: int) -> dict | None:
        """The version's commit marker, which is its manifest:
        ``months``, ``dir``, ``version``, ``file_stats`` and, when
        computed, ``table_stats``. Every month maps to its file list;
        on disk a packed bin's list is stored once (``bins``) and its
        months name it (``_encode_manifest``). A table written in the
        retired flat layout lists ``files`` instead of ``months``; it is
        read as is and its next write migrates it. None when the marker
        is absent (never committed, or GC'd because the table advanced
        2+ versions)."""
        raw = self.commit_backend.get(
            os.path.join(self._commits_dir(table_id), f"{version}.json")
        )
        if raw is None:
            return None
        manifest = _decode_manifest(raw)
        if "file_stats" not in manifest:
            raise _retired_layout(
                table_id, version, "a commit marker without file_stats"
            )
        return manifest

    def _committed(self, table_id: str, version: int) -> dict:
        """``_manifest_of`` a version that must exist."""
        manifest = self._manifest_of(table_id, version)
        if manifest is None:
            raise FileNotFoundError(
                f"table {table_id} has no committed version {version}"
            )
        return manifest

    def _version_dir(self, table_id: str, version: int) -> str:
        """The segment directory CREATED by ``version``'s write (it
        holds the changed months only — resolve full content via
        ``_version_files``)."""
        manifest = self._committed(table_id, version)
        return os.path.join(self._table_dir(table_id), manifest["dir"])

    @staticmethod
    def _month_stats(manifest: dict) -> dict[str, dict]:
        """``{month: {"max_until": iso | None, "open": bool}}`` of a
        month-layout manifest, derived from its file records: the
        month's max ``valid_until`` (None when a file cannot prove its
        bound) and whether any of its rows is valid-open. The NULL
        month is left out: it is never pruned. A packed bin's months
        share one file list, and its stats are derived once."""
        out, by_refs = {}, {}
        for m, refs in manifest.get("months", {}).items():
            if m == NULL_MONTH:
                continue
            key = tuple(refs)
            if key not in by_refs:
                recs = [manifest["file_stats"][r] for r in refs]
                maxes = [r["max_valid_until"] for r in recs]
                by_refs[key] = {
                    "max_until": None if None in maxes else max(maxes),
                    "open": any(r["valid_open"] for r in recs),
                }
            out[m] = by_refs[key]
        return out

    def _version_files(
        self,
        table_id: str,
        version: int,
        month_max: str | None = None,
        min_valid_until: datetime.date | None = None,
        slice_ts: datetime.datetime | None = None,
    ) -> list[str]:
        """Absolute parquet paths making up ``version``, each listed
        once, pruned at the MANIFEST to months ``<= month_max``
        (NULL-month files are never pruned — their rows carry no
        ``valid_from``). A packed bin's files are listed under each of
        its months, so they are read whenever any of those months is
        kept: pruning yields a superset of the kept months' rows, which
        the callers' clip narrows. Every pruning decision below derives
        from the file records, and a bound a record cannot prove (None,
        or unparseable) never prunes.

        ``min_valid_until`` additionally drops months whose records
        prove every row CLOSED at-or-before it (no valid-open rows,
        ``max(valid_until) <= min_valid_until``) — sound ONLY for
        consumers that filter ``valid_until > min OR valid_until IS
        NULL`` downstream (the study-period overlap clip).

        ``slice_ts`` prunes on the TRANSACTION axis: files whose
        record proves every row invisible to the snapshot at that
        instant — all rows closed at-or-before it (``max_until_ts``),
        or all rows created after it (``min_from_ts``) — are dropped.
        Unconditionally sound for any consumer applying the snapshot
        predicate ``from_ts <= slice_ts AND (until_ts IS NULL OR
        until_ts > slice_ts)``."""
        manifest = self._committed(table_id, version)
        if "files" in manifest:
            rels = manifest["files"]
        else:
            closed = set()
            if min_valid_until is not None:
                for m, s in self._month_stats(manifest).items():
                    mx = _parsed(s["max_until"], datetime.date.fromisoformat)
                    if not s["open"] and mx and mx <= min_valid_until:
                        closed.add(m)
            rels = list(
                dict.fromkeys(
                    f
                    for m, fs in manifest["months"].items()
                    if (month_max is None or m == NULL_MONTH or m <= month_max)
                    and m not in closed
                    for f in fs
                )
            )
        if slice_ts is not None:

            def visible_at_slice(r: str) -> bool:
                rec = manifest["file_stats"][r]
                parse = datetime.datetime.fromisoformat
                closed_by = _parsed(rec["max_until_ts"], parse)
                opened = _parsed(rec["min_from_ts"], parse)
                return not (
                    (closed_by is not None and closed_by <= slice_ts)
                    or (opened is not None and opened > slice_ts)
                )

            rels = [r for r in rels if visible_at_slice(r)]
        tdir = self._table_dir(table_id)
        return [os.path.join(tdir, r) for r in rels]

    def _put_if_absent(self, path: str, data: bytes) -> bool:
        """Conditional put: create ``path`` with ``data`` iff it does
        not exist; False when another writer got there first. The one
        storage primitive the commit protocol needs — delegated to the
        pluggable :class:`CommitBackend` (``os.link`` locally; a
        conditional PUT on an object store; compare-and-set in the
        in-memory double). Kept as a method so the concurrency suite
        can interpose race injections at the exact commit point."""
        return self.commit_backend.put_if_absent(path, data)

    #: minimum age (mtime) before an UNCOMMITTED attempt directory may
    #: be swept by commit-time GC. A live concurrent writer's in-flight
    #: directory is uncommitted but young; sweeping it mid-write would
    #: fail its Spark job with an IO error that escapes the optimistic
    #: retry loop. Committed-then-superseded directories are resolved
    #: via their markers and need no age check.
    _ORPHAN_RETENTION_SECS = 3600.0

    @staticmethod
    def _manifest_refs(manifest: dict) -> list[str]:
        """Every data-file relpath a marker's manifest references, each
        once (a packed bin's files are listed under several months)."""
        if "files" in manifest:
            return list(manifest["files"])
        return list(
            dict.fromkeys(
                f for fs in manifest.get("months", {}).values() for f in fs
            )
        )

    @staticmethod
    def _rewrite_set(manifest: dict, months) -> tuple[list[str], int]:
        """The months a rewrite of ``months`` must cover, and the rows
        the base holds in them: ``months`` plus every month sharing a
        file with one of them (a packed bin is rewritten whole, so no
        carried-forward month keeps a reference to a rewritten file).
        Ref sets are equal or disjoint, so one step closes the set."""
        held = manifest["months"]
        refs = {r for m in months for r in held.get(m, ())}
        closure = set(months) | {
            m for m, fs in held.items() if refs.intersection(fs)
        }
        return sorted(closure), sum(
            manifest["file_stats"][r]["rows"] for r in refs
        )

    @staticmethod
    def _manifest_rows(manifest: dict) -> int:
        """The rows a version holds, summed from its file records."""
        return sum(rec["rows"] for rec in manifest["file_stats"].values())

    def _commit_version(
        self, table_id: str, version: int, manifest: dict
    ) -> None:
        """Claim ``version`` by conditional put of its marker — whose
        body is the version's complete manifest; raise
        ``CommitConflictError`` if another writer already committed
        that number. On success, manifest-driven GC (keep-2):

        - markers older than ``version-1`` are dropped; data files
          they reference are deleted ONLY when no retained manifest
          still references them (unchanged months live on by
          reference across many versions);
        - segment directories named by NO marker at all are crash
          leftovers — swept only once older than
          ``_ORPHAN_RETENTION_SECS``, never a concurrent writer's
          still-being-written attempt directory.
        """
        cdir = self._commits_dir(table_id)
        marker = os.path.join(cdir, f"{version}.json")
        if not self._put_if_absent(marker, _encode_manifest(manifest)):
            raise CommitConflictError(table_id, version)
        tdir = self._table_dir(table_id)

        # Inventory the marker log ONCE (control-plane LIST + GETs).
        markers: dict[int, dict] = {}
        for entry in self.commit_backend.list(cdir):
            if not entry.endswith(".json"):
                continue
            try:
                v = int(entry[: -len(".json")])
            except ValueError:
                continue
            raw = self.commit_backend.get(os.path.join(cdir, entry))
            if raw is None:
                continue
            try:
                markers[v] = _decode_manifest(raw)
            except ValueError:
                continue

        live_files = {
            r
            for v, m in markers.items()
            if v >= version - 1
            for r in self._manifest_refs(m)
        }
        for v, m in sorted(markers.items()):
            if v >= version - 1:
                continue
            for rel in self._manifest_refs(m):
                if rel in live_files:
                    continue
                abspath = os.path.join(tdir, rel)
                for victim in (
                    abspath,
                    # Hadoop LocalFileSystem checksum sibling
                    os.path.join(
                        os.path.dirname(abspath),
                        f".{os.path.basename(abspath)}.crc",
                    ),
                ):
                    try:
                        os.unlink(victim)
                    except FileNotFoundError:
                        pass
                # prune now-empty month/segment dirs (never tdir)
                parent = os.path.dirname(abspath)
                while len(parent) > len(tdir):
                    try:
                        os.rmdir(parent)
                    except OSError:
                        break
                    parent = os.path.dirname(parent)
            self.commit_backend.delete(os.path.join(cdir, f"{v}.json"))

        # segments named by a marker, or holding a live file whose
        # introducing marker is long gone
        committed_dirs = {m.get("dir") for m in markers.values()} | {
            r.split("/", 1)[0] for r in live_files
        }
        now = time.time()
        for entry in os.listdir(tdir):
            if not entry.startswith("_v") or entry in committed_dirs:
                continue
            path = os.path.join(tdir, entry)
            try:
                age = now - os.path.getmtime(path)
            except OSError:
                continue
            if os.path.isdir(path) and age > self._ORPHAN_RETENTION_SECS:
                shutil.rmtree(path, ignore_errors=True)

    # ------------------------------------------------------------ catalog
    def table_exists(self, table_id: str) -> bool:
        return self._current_version(table_id) is not None

    def list_tables(self, schema: str) -> list[str]:
        sdir = os.path.join(self.root, schema)
        if not os.path.isdir(sdir):
            return []
        out = []
        for entry in sorted(os.listdir(sdir)):
            if entry == LOGS_TABLE and os.path.isdir(os.path.join(sdir, entry)):
                out.append(f"{schema}.{entry}")
            elif self._current_version(f"{schema}.{entry}") is not None:
                out.append(f"{schema}.{entry}")
        return out

    def drop_table(self, table_id: str) -> None:
        # control-plane objects first (markers, retain floor) so a
        # crash mid-drop leaves an unreachable table, not a reachable
        # table with missing data
        cdir = self._commits_dir(table_id)
        for entry in self.commit_backend.list(cdir):
            self.commit_backend.delete(os.path.join(cdir, entry))
        self.commit_backend.delete(self._retain_floor_path(table_id))
        shutil.rmtree(self._table_dir(table_id), ignore_errors=True)

    # -------------------------------------------------------------- reads
    def _read_raw_partitioned(
        self,
        table_id: str,
        version: int | None = None,
        month_max: str | None = None,
        min_valid_until: datetime.date | None = None,
        slice_ts: datetime.datetime | None = None,
    ) -> DataFrame:
        """Scan a committed version: its manifest resolves it to an
        exact FILE list — ``month_max`` prunes months at the manifest,
        before any file is listed or opened (strictly earlier than
        Catalyst partition pruning, and the only LIST the read ever
        does is the one control-plane marker GET)."""
        if version is None:
            version = self._current_version(table_id)
        if version is None:
            raise FileNotFoundError(f"table {table_id} does not exist")
        files = self._version_files(
            table_id,
            version,
            month_max=month_max,
            min_valid_until=min_valid_until,
            slice_ts=slice_ts,
        )
        if not files:
            # every month pruned: empty frame with the version's schema
            allf = self._version_files(table_id, version)
            if not allf:
                raise FileNotFoundError(
                    f"table {table_id} version {version} has no data files"
                )
            return self._read_files(allf[:1]).where(F.lit(False))
        return self._read_files(files)

    def _read_files(self, files: list[str]) -> DataFrame:
        """Read an exact parquet file list without a schema-inference
        job: Spark's writer leaves the row schema in every file's
        footer (the same key Spark's own inference reads), so one
        driver-side pyarrow footer read of the first file hands the
        reader its schema. Files written by other tools lack the key
        and fall back to inference."""
        meta = pq.read_metadata(files[0]).metadata or {}
        row_schema = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
        if row_schema is None:
            return self.spark.read.parquet(*files)
        schema = T.StructType.fromJson(json.loads(row_schema))
        return self.spark.read.schema(schema).parquet(*files)

    def read_raw(
        self, table_id: str, max_valid_from=None, version: int | None = None
    ) -> DataFrame:
        """Full SCD2 table (bookkeeping columns included; the internal
        partition column is hidden). ``max_valid_from`` (a date) prunes
        month partitions strictly after it on a partitioned table.
        ``version`` pins the read to a specific committed version —
        write attempts pass their captured base version so the merge
        plan and the commit claim agree on the same base (see
        ``_write_version``)."""
        month_max = (
            max_valid_from.strftime("%Y-%m")
            if max_valid_from is not None
            else None
        )
        return self._read_raw_partitioned(
            table_id, version=version, month_max=month_max
        )

    def get_table(
        self,
        table_id: str,
        slice_ts,
        max_valid_from=None,
        min_valid_until: datetime.date | None = None,
    ) -> DataFrame:
        """Transaction-time snapshot read: ``from_ts <= slice_ts AND
        (until_ts IS NULL OR until_ts > slice_ts)``, bookkeeping
        dropped (``R/2_FeatureHandler.R:90-96``).

        ``max_valid_from`` (a date): on a month-partitioned table,
        months strictly after it are pruned at the MANIFEST — the file
        list handed to Spark never contains them, unless they share a
        packed bin with a kept month (the study-period clip's upper
        bound costs zero scan and zero listing).

        ``min_valid_until`` (a date): the LOWER-bound twin — months
        whose file records prove every row closed at-or-before it (no
        valid-open rows, ``max(valid_until) <= min``) are pruned at the
        manifest too.
        ONLY pass this when the caller filters the result with the
        half-open overlap clip (``valid_until > min OR NULL``), as
        the engine's study-period clip does: the pruned rows are
        exactly those the clip would drop, so a narrow window reads
        O(window + open-row months), not O(history).

        The TRANSACTION axis prunes automatically: the writer clusters
        closed rows into their own files (``__vc=c``) and each file's
        record carries its max ``until_ts`` and min ``from_ts``, so
        files whose every row is invisible at ``slice_ts`` — closed
        at-or-before it, or created after it — are dropped at the
        manifest. The predicate above would discard those rows
        anyway, so this is sound for every caller; a current-slice
        read of a long-history table scans O(live rows), not
        O(closed history).
        """
        ts = normalize_slice_ts(slice_ts)
        floor = self.retain_floor(table_id)
        if floor is not None and ts < floor:
            raise ValueError(
                f"slice_ts {ts} is below {table_id}'s retention floor "
                f"{floor}: that history was pruned (prune_history)"
            )
        month_max = (
            max_valid_from.strftime("%Y-%m")
            if max_valid_from is not None
            else None
        )
        raw = self._read_raw_partitioned(
            table_id,
            month_max=month_max,
            min_valid_until=min_valid_until,
            slice_ts=ts,
        )
        return raw.where(_valid_at(ts)).drop(*SCD2_COLUMNS)

    # ------------------------------------------------------------- writes
    def _retain_floor_path(self, table_id: str) -> str:
        return os.path.join(self._table_dir(table_id), "_RETAIN_FLOOR")

    def retain_floor(self, table_id: str):
        """Earliest ``slice_ts`` still fully answerable (None = all
        history retained). A small control object on the commit
        backend (an overwritable PUT — it only ever moves forward, and
        a stale read is safe: it just permits a read the pruned data
        can still answer is refused later)."""
        raw = self.commit_backend.get(self._retain_floor_path(table_id))
        if raw is None:
            return None
        return datetime.datetime.fromisoformat(raw.decode().strip())

    #: optimistic-concurrency retry bound: each retry re-reads the
    #: (now newer) current version and re-derives the write from it,
    #: so N retries tolerate N concurrent winners — far beyond any
    #: sane writer fan-in on one feature table.
    _COMMIT_RETRIES = 5

    def _with_commit_retry(self, fn):
        """Run a write closure under the optimistic commit loop: on
        ``CommitConflictError`` the closure is re-invoked, which
        rebuilds its merge plan against the table as the winning
        writer left it (every write method resolves the current
        version at call time, so a plain re-call IS the re-read)."""
        last: CommitConflictError | None = None
        for _ in range(self._COMMIT_RETRIES):
            try:
                return fn()
            except CommitConflictError as err:
                last = err
        raise last

    def prune_history(self, table_id: str, older_than) -> int:
        """Retrying wrapper over ``_prune_history_attempt`` (see its
        docstring); safe to re-run because the attempt re-reads the
        current version."""
        return self._with_commit_retry(
            lambda: self._prune_history_attempt(table_id, older_than)
        )

    def _prune_history_attempt(self, table_id: str, older_than) -> int:
        """Retention (the logical VACUUM): physically drop SCD2 rows
        whose ``until_ts <= older_than`` — rows invisible to every
        snapshot at or after the cutoff (``until_ts > ts`` already
        excludes them there). Snapshots at ``slice_ts >= older_than``
        are bit-identical before and after; earlier slices become
        unanswerable, so the cutoff is recorded as the table's retain
        floor and ``get_table`` refuses reads below it (fail-loud
        instead of silently incomplete). Returns rows dropped.

        One full-version rewrite (like ``evolve_schema``); run it at
        retention cadence, not per write."""
        cutoff = normalize_slice_ts(older_than)
        base = self._current_version(table_id)
        existing = self.read_raw(table_id, version=base)
        keep = existing.where(
            F.col("until_ts").isNull() | (F.col("until_ts") > F.lit(cutoff))
        )
        kept = keep.count()
        dropped = self._manifest_rows(self._committed(table_id, base)) - kept
        # Persist the retain floor BEFORE physically dropping history:
        # a crash between the two steps then fails loud (floor set,
        # data intact — reads below the cutoff refused) instead of
        # silent (history pruned but reads below the cutoff still
        # permitted against an incomplete snapshot).
        prev = self.retain_floor(table_id)
        if prev is None or cutoff > prev:
            self.commit_backend.put(
                self._retain_floor_path(table_id),
                cutoff.isoformat().encode(),
            )
        if dropped:
            self._write_version(
                keep,
                table_id,
                changed_months=None,
                base_version=base,
                rows=kept,
            )
        return dropped

    def snapshot_diff(self, table_id: str, ts_a, ts_b) -> DataFrame:
        """What changed between two logical snapshots — computed from
        the SCD2 transaction-time intervals alone, ONE scan, no join
        (the naive form is two snapshot reads + two full-width
        anti-joins):

        - ``added``   (in B, not in A): ``from_ts  in (a, b]`` and
          alive at b;
        - ``removed`` (in A, not in B): alive at a and
          ``until_ts in (a, b]``.

        A value revision is one ``removed`` (the closed row) plus one
        ``added`` (its replacement); a transient row both created and
        closed inside ``(a, b]`` appears in neither snapshot and is
        correctly excluded by the alive conditions. The diff is
        CONTENT-exact, not interval-churn: a row removed and later
        re-added with identical content between the slices nets to no
        change — a per-checksum rollup cancels the interval pair (the
        checksum IS the logical row identity the merge dedups on).
        Output: payload columns + ``change`` ('added' | 'removed').
        """
        a, b = normalize_slice_ts(ts_a), normalize_slice_ts(ts_b)
        if not a < b:
            raise ValueError(f"ts_a must precede ts_b (got {a} >= {b})")
        floor = self.retain_floor(table_id)
        if floor is not None and a < floor:
            raise ValueError(
                f"slice_ts {a} is below {table_id}'s retention floor "
                f"{floor}: that history was pruned (prune_history)"
            )
        raw = self.read_raw(table_id)
        alive_a, alive_b = _valid_at(a), _valid_at(b)
        change = (
            F.when(~alive_a & alive_b, F.lit("added"))
            .when(alive_a & ~alive_b, F.lit("removed"))
        )
        payload = [c for c in raw.columns if c not in SCD2_COLUMNS]
        flagged = raw.withColumn("change", change).where(
            F.col("change").isNotNull()
        )
        # Per-checksum net: at most one 'added' and one 'removed'
        # interval can carry flags for a given logical row (the merge
        # keeps checksums unique among open rows), so the net is -1,
        # 0, or +1; zero = content unchanged (left and came back).
        return (
            flagged.groupBy("checksum")
            .agg(
                *[F.any_value(F.col(c)).alias(c) for c in payload],
                F.sum(
                    F.when(F.col("change") == "added", 1).otherwise(-1)
                ).alias("__net"),
            )
            .where(F.col("__net") != 0)
            .select(
                *payload,
                F.when(F.col("__net") > 0, F.lit("added"))
                .otherwise(F.lit("removed"))
                .alias("change"),
            )
        )

    def compact(self, table_id: str, full: bool = False) -> int:
        """Retrying wrapper over ``_compact_attempt`` (see its
        docstring)."""
        return self._with_commit_retry(
            lambda: self._compact_attempt(table_id, full=full)
        )

    def _compact_attempt(self, table_id: str, full: bool = False) -> int:
        """Rewrite fragmented storage into a bounded file count — the
        small-file maintenance op (Delta OPTIMIZE analog). Incremental
        merges accumulate one-or-more files per write; after many
        writes a snapshot read opens hundreds of tiny parquet files,
        and at cluster scale the task-per-file floor dominates.

        Compaction is PARTIAL by default: the manifest already knows
        each month's file count, so only months holding more than one
        file per transaction cluster (and the months sharing a packed
        bin with them) are read and rewritten — every already-compact
        month is carried forward by reference, making the op
        O(fragmented months), the same pruning discipline as the merge
        itself (``full=True`` forces a whole-table rewrite, as does a
        base in the retired flat layout). The rewrite is sized to its
        rows like every write: a fragmented bin is re-packed, not
        unpacked. A table with nothing fragmented is a NO-OP: no
        version bump, no write. Under ``max_records_per_file`` the
        convergence target per group is the knob-achievable
        ``ceil(rows / N)`` (row counts from the file records), not 1 —
        and a group is also fragmented whenever any single file
        exceeds the knob (files written before the knob was set or
        lowered), so the size cap is enforced retroactively.

        Logical content is untouched (every snapshot at every
        ``slice_ts`` is bit-identical before and after — the rewrite
        is a pure physical re-layout written as a NEW immutable
        version, so readers of the old version are never disturbed
        and a crash mid-compact changes nothing).
        Returns the number of data files in the current version after
        the op.
        """
        base = self._current_version(table_id)
        manifest = self._committed(table_id, base)
        if full or "months" not in manifest:
            rewrite, rows = None, self._manifest_rows(manifest)
            frame = self.read_raw(table_id, version=base)
        else:

            def is_fragmented(fs: list[str]) -> bool:
                # Fragmentation is judged PER transaction-cluster
                # group: a rewrite deterministically emits one file
                # per (month or bin, __vc) present, so a month holding
                # one closed-rows file and one open-rows file is the
                # converged state, not fragmentation. A month's files
                # all come from the one segment that last rewrote it,
                # so a file's directory names its group.
                groups: dict[str, list[str]] = {}
                for f in fs:
                    groups.setdefault(os.path.dirname(f), []).append(f)
                # Knobless: fragmented iff any group has more than one
                # file.
                if self.max_records_per_file is None:
                    return any(len(g) > 1 for g in groups.values())
                # Row counts come from the file records, so the
                # all-compact sweep opens no footer.
                counts = {f: manifest["file_stats"][f]["rows"] for f in fs}
                # Any single file over the cap is fragmentation even
                # when the file COUNT already equals the achievable
                # target (e.g. files [N+5, 1], or files written before
                # the knob was set/lowered) — the size cap is enforced
                # retroactively, not just the count.
                if any(c > self.max_records_per_file for c in counts.values()):
                    return True
                # A rewrite cannot beat ceil(rows / max_records_per_file)
                # files per cluster group, so that — not 1 — is the
                # convergence target (otherwise a periodic compact()
                # would rewrite every large month forever, bumping a
                # version each call instead of reaching the documented
                # no-op).
                return any(
                    len(g)
                    > max(
                        1,
                        -(
                            -sum(counts[f] for f in g)
                            // self.max_records_per_file
                        ),
                    )
                    for g in groups.values()
                )

            months = manifest["months"]
            frag = [m for m, fs in months.items() if is_fragmented(fs)]
            if not frag:
                return len(self._manifest_refs(manifest))
            rewrite, rows = self._rewrite_set(manifest, frag)
            tdir = self._table_dir(table_id)
            frame = self._read_files(
                [
                    os.path.join(tdir, f)
                    for f in dict.fromkeys(f for m in rewrite for f in months[m])
                ]
            )
        self._write_version(
            frame,
            table_id,
            changed_months=rewrite,
            base_version=base,
            rows=rows,
        )
        return len(self._version_files(table_id, base + 1))

    def payload_columns(
        self, table_id: str, version: int | None = None
    ) -> list[str]:
        """The table's data columns (SCD2 bookkeeping excluded)."""
        return [
            c
            for c in self.read_raw(table_id, version=version).columns
            if c not in SCD2_COLUMNS
        ]

    def evolve_schema(self, table_id: str, new_columns: dict[str, str]) -> None:
        """Retrying wrapper over ``_evolve_schema_attempt`` (see its
        docstring)."""
        return self._with_commit_retry(
            lambda: self._evolve_schema_attempt(table_id, new_columns)
        )

    def _evolve_schema_attempt(
        self, table_id: str, new_columns: dict[str, str]
    ) -> None:
        """Add NULL-backfilled columns to an existing table and
        RECOMPUTE row checksums over the widened column set — so a row
        whose new columns are NULL keeps its identity across the
        evolution (no spurious close/reopen on the next merge; the
        NULL-distinguishing checksum of (old cols) differs from
        (old cols + NULL), so identity only survives by rewriting).

        ``new_columns`` maps column name -> Spark SQL type string.
        This writes one new version with every month changed — the one
        deliberately unpruned rewrite in the store's lifecycle;
        subsequent merges prune partitions again. Historical (closed)
        rows are rewritten too: checksums are merge-compare identity,
        not part of any read contract, so rewriting them is safe.
        """
        bad = [c for c in new_columns if c in SCD2_COLUMNS]
        if bad:
            raise ValueError(f"cannot add SCD2 bookkeeping columns: {bad}")
        base = self._current_version(table_id)
        existing = self.read_raw(table_id, version=base)
        dupes = [c for c in new_columns if c in existing.columns]
        if dupes:
            raise ValueError(f"columns already exist: {dupes}")
        widened = existing.withColumns(
            {c: F.lit(None).cast(t) for c, t in new_columns.items()}
        )
        payload = [c for c in widened.columns if c not in SCD2_COLUMNS]
        evolved = widened.withColumn("checksum", row_checksum(payload))
        self._write_version(
            evolved,
            table_id,
            changed_months=None,
            base_version=base,
            rows=self._manifest_rows(self._committed(table_id, base)),
        )

    def update_snapshot(
        self,
        data: DataFrame,
        table_id: str,
        slice_ts,
        written_range=None,
        close_absent: bool = True,
        allow_schema_evolution: bool = False,
    ) -> None:
        """Retrying wrapper over ``_update_snapshot_attempt`` (the
        full merge semantics live on its docstring): a concurrent
        writer winning the conditional-put commit makes this attempt
        raise ``CommitConflictError``; the retry re-reads the table —
        now containing the winner's rows — and re-applies THIS
        snapshot's checksum merge on top, which is exactly the
        serial-execution result (the merge is a pure function of
        (current table, incoming data, slice_ts)). One writer always
        wins each round, so the loop terminates unless writers keep
        arriving faster than merges complete."""
        return self._with_commit_retry(
            lambda: self._update_snapshot_attempt(
                data,
                table_id,
                slice_ts,
                written_range=written_range,
                close_absent=close_absent,
                allow_schema_evolution=allow_schema_evolution,
            )
        )

    def _update_snapshot_attempt(
        self,
        data: DataFrame,
        table_id: str,
        slice_ts,
        written_range=None,
        close_absent: bool = True,
        allow_schema_evolution: bool = False,
    ) -> None:
        """Checksum-merge ``data`` as the snapshot at ``slice_ts``.

        ``close_absent=False`` switches to **append-only merge**: rows
        of ``data`` not already current open at ``slice_ts``, and no
        existing row is ever closed. This is the correct mode for
        *incremental* producers — streaming micro-batches emit only
        new finalized rows (closed sessions, watermark-finalized
        windows), so "absent from this batch" carries no information;
        under the default snapshot compare each batch would close the
        previous batch's rows. Batch engine writes keep the default:
        there ``data`` IS the complete range snapshot.

        Compare-at-timestamp semantics (equivalent to
        ``SCDB::update_snapshot(..., enforce_chronological_order=FALSE)``):
        rows valid at ``slice_ts`` but absent from ``data`` are closed
        (``until_ts = slice_ts``); rows of ``data`` not already valid at
        ``slice_ts`` are opened (``from_ts = slice_ts``); matching
        checksums are untouched. Earlier/later slices are unaffected,
        giving per-``slice_ts`` snapshot isolation
        (``R/DiseasystoreBase.R:533-537`` keying).

        ``written_range=(start_date, end_date)`` declares that
        ``data`` is a range-scoped update: it is
        the complete intended snapshot of every row whose validity
        OVERLAPS ``[start_date, end_date]`` (the engine's compute
        contract), and says nothing about rows outside the range.
        The merge then compares only range-overlapping rows of the
        month partitions at-or-before ``month(end_date)``: rows
        entirely before ``start_date`` (or after ``end_date``) are
        never closed — the reference reaches the same end state by
        re-including all current out-of-range rows into the compared
        frame (``R/DiseasystoreBase.R:195-212``) — and later months
        are carried forward untouched (referenced, never scanned)
        unless they share a packed bin with a compared month.
        This is the scale contract of ``_compute_and_store_range``:
        every engine write is scoped to a date range, so a backfill
        into year 1 of a 10-year table neither rewrites the other 9
        years nor closes rows outside the range, and once the compared
        months hold more than ``_PACK_MAX_ROWS`` rows it rewrites only
        the months it changes (``_merge_existing``). If ``data``
        nevertheless contains rows with ``month(valid_from) >
        month(end_date)`` (a handler violating the study-period clip
        contract), the violation is detected from the months the
        inserted rows reach and the merge transparently falls back to
        an unscoped full compare.

        ``allow_schema_evolution=True`` widens on column mismatch:
        extra incoming columns trigger ``evolve_schema`` (NULL
        backfill + identity-preserving checksum rewrite of the stored
        table) and columns the incoming frame lacks are NULL-filled
        into it — so old- and new-schema producers interleave safely.
        Without the flag a mismatch raises (it previously dropped
        extra columns silently).
        """
        ts = normalize_slice_ts(slice_ts)
        bad = [c for c in data.columns if c in SCD2_COLUMNS]
        if bad:
            raise ValueError(f"incoming data must not contain SCD2 columns: {bad}")

        # Capture the base version ONCE per attempt: every read below
        # and the final commit use this same version, so an interleaved
        # competitor commit makes our conditional put (base+1) fail and
        # re-enters the retry loop — never a lost update.
        base = self._current_version(table_id)
        if base is not None:
            existing_payload = set(self.payload_columns(table_id, base))
            incoming_cols = set(data.columns)
            if existing_payload != incoming_cols:
                extra = sorted(incoming_cols - existing_payload)
                missing = sorted(existing_payload - incoming_cols)
                if not allow_schema_evolution:
                    # Fail loud: the previous behavior silently dropped
                    # extra incoming columns in the final select.
                    raise ValueError(
                        f"schema mismatch for {table_id}: incoming adds "
                        f"{extra or 'nothing'}, lacks {missing or 'nothing'}"
                        " — pass allow_schema_evolution=True to widen the"
                        " table (NULL backfill, identity-preserving"
                        " checksum rewrite)"
                    )
                if extra:
                    dtypes = {f.name: f.dataType for f in data.schema.fields}
                    self.evolve_schema(
                        table_id,
                        {c: dtypes[c].simpleString() for c in extra},
                    )
                    # evolve_schema committed its own version (its own
                    # optimistic loop) — rebase this attempt on it.
                    base = self._current_version(table_id)
                if missing:
                    tbl = {
                        f.name: f.dataType
                        for f in self.read_raw(
                            table_id, version=base
                        ).schema.fields
                    }
                    data = data.withColumns(
                        {c: F.lit(None).cast(tbl[c]) for c in missing}
                    )

        incoming = data.withColumn(
            "checksum", row_checksum(data.columns)
        ).dropDuplicates(["checksum"])

        if base is None:
            new_table = incoming.withColumns(
                {
                    "from_ts": F.lit(ts).cast("timestamp"),
                    "until_ts": F.lit(None).cast("timestamp"),
                }
            )
            with phase("scd2.cold_write", table=table_id):
                self._write_version(
                    new_table, table_id, changed_months=None, base_version=None
                )
            return

        scope = written_range if close_absent else None
        with phase("scd2.merge", table=table_id, scoped=scope is not None):
            self._merge_existing(
                incoming, table_id, ts, scope, base, close_absent
            )

    def _merge_existing(
        self,
        incoming: DataFrame,
        table_id: str,
        ts: datetime.datetime,
        written_range,
        base: int,
        close_absent: bool = True,
    ) -> None:
        """The checksum merge: ONE full outer join of the base's rows
        with ``incoming`` on ``checksum`` classifies every row, as
        Delta's MERGE does (``_merge_join``):

        - matched: kept verbatim;
        - existing only, current and in the compared scope: closed at
          ``ts`` — never, in an append-only merge (``close_absent``
          False, always unscoped);
        - existing only, otherwise: kept verbatim;
        - incoming only: inserted, open from ``ts``.

        An incoming row matches only the current rows the compare
        reads, in scope or not, so it is never opened beside an equal
        current row. On a scoped merge those are the current rows of
        months up to the range's last month, plus the NULL month; an
        incoming row equal to a later month's row is a clip-contract
        violation: inserted rows that reach past the range's last month
        make the merge redo itself unscoped.

        The scope's months — every month up to the range's last one
        plus the NULL month, or every month when unscoped — closed over
        the packed bins they share (``_rewrite_set``) bound the
        rewrite. When they hold at most ``_PACK_MAX_ROWS`` rows the
        merge is ONE pass with no census: the join's output over the
        whole closure is written as one bin, and the write's observed
        metrics (``DataFrame.observe``, no extra job) say whether a row
        closed or opened and which months the inserted rows reach. No
        change, or a violation, removes the segment uncommitted; else
        the bin is listed under the closure plus those months. Above
        the constant a census of the changed rows first picks the
        months to rewrite — the changed months closed over shared bins
        — so a large table's untouched months are carried forward by
        reference, and the same join writes them. Checksums determine
        ``valid_from``, so an incoming row can match only a row of its
        own month and the census-path write joins only the rewritten
        months' rows on either side.

        A base in the retired flat layout takes the same merge, scope
        included, but rewrites every row: the migration write, which
        commits even when no row changed.
        """
        manifest = self._committed(table_id, base)
        end = written_range[1] if written_range is not None else None
        existing = self.read_raw(table_id, max_valid_from=end, version=base)
        columns = existing.columns
        payload = [c for c in columns if c not in SCD2_COLUMNS]
        migrating = "months" not in manifest
        matchable, closable = _valid_at(ts), F.lit(close_absent)
        last = None
        if written_range is not None:
            last = end.strftime("%Y-%m")
            # Only rows whose validity OVERLAPS the declared range are
            # in the compare's scope: ``data`` is the complete snapshot
            # of range-overlapping rows (the engine compute contract),
            # so absence outside the range carries no information.
            # Rows entirely before range_start (or after range_end)
            # are NEVER closed by a scoped merge — the reference
            # reaches the same end state by re-including all current
            # out-of-range rows into the compared frame
            # (R/DiseasystoreBase.R:195-212) — so a backfill at a new
            # slice_ts neither closes earlier rows nor, on a large
            # table, rewrites earlier months, and out-of-scope rows of
            # a rewritten month are carried into it verbatim.
            closable = (F.col("valid_from") <= F.lit(end)) & (
                F.col("valid_until").isNull()
                | (F.col("valid_until") > F.lit(written_range[0]))
            )
            # Match only against the rows a per-month read pruned to
            # the range's last month holds (plus the NULL month): a
            # packed bin or a flat base also holds later months, and a
            # match there would hide a clip-violating row from the
            # fallback.
            stop = (end.replace(day=1) + datetime.timedelta(days=31)).replace(
                day=1
            )
            matchable = matchable & (
                F.col("valid_from").isNull() | (F.col("valid_from") < F.lit(stop))
            )

        def violates(months) -> bool:
            return last is not None and max(months, default="") > last

        if migrating:
            rewrite, rows = None, self._manifest_rows(manifest)
        else:
            rewrite, rows = self._rewrite_set(
                manifest,
                [
                    m
                    for m in manifest["months"]
                    if last is None or m == NULL_MONTH or m <= last
                ],
            )

        if rows <= self._PACK_MAX_ROWS:
            seen = Observation()
            observed = _merge_join(existing, incoming, matchable, closable).observe(
                seen,
                F.expr(f"count_if({_CLOSES}) AS closed"),
                F.expr(f"count_if({_INSERTS}) AS inserted"),
                F.expr(
                    f"collect_set(if({_INSERTS}, {_month_sql(payload, '__in.')},"
                    " NULL)) AS months"
                ),
            )

            def settle() -> list[str] | None:
                # Retried tasks may count a row twice, so the counts
                # are only tested for zero.
                got = seen.get
                changed = got["closed"] or got["inserted"] or migrating
                if not changed or violates(got["months"]):
                    return None
                return got["months"]

            if not self._write_version(
                _merged_rows(observed, columns, ts),
                table_id,
                changed_months=rewrite,
                base_version=base,
                settle=settle,
            ) and violates(seen.get["months"]):
                # ``data`` reached past the declared range: the scoped
                # compare would treat those months' surviving rows as
                # absent. Redo unscoped (``incoming`` is recomputed) —
                # correct for any input, just without the pruning.
                self._merge_existing(incoming, table_id, ts, None, base)
            return

        # The census reads ``incoming`` and the write reads it again.
        incoming.cache()
        try:
            census = {
                r["__m"]: r["n"]
                for r in _merge_join(
                    existing.where(matchable), incoming, F.lit(True), closable
                )
                .where(F.expr(f"{_INSERTS} OR {_CLOSES}"))
                .groupBy(
                    F.expr(
                        f"if({_INSERTS}, {_month_sql(payload, '__in.')},"
                        f" {_month_sql(columns)})"
                    ).alias("__m")
                )
                .agg(F.expr(f"count_if({_INSERTS})").alias("n"))
                .collect()
            }
            fallback = violates(census)
            if not fallback and (census or migrating):
                changed = incoming
                if not migrating:
                    rewrite, rows = self._rewrite_set(manifest, census)
                    existing = existing.where(_month_key(columns).isin(rewrite))
                    changed = incoming.where(_month_key(payload).isin(rewrite))
                self._write_version(
                    _merged_rows(
                        _merge_join(existing, changed, matchable, closable),
                        columns,
                        ts,
                    ),
                    table_id,
                    changed_months=rewrite,
                    base_version=base,
                    rows=rows + sum(census.values()),
                )
        finally:
            incoming.unpersist()
        if fallback:
            self._merge_existing(incoming, table_id, ts, None, base)

    #: at or below this row count a write is one packed bin (one file
    #: per ``__vc`` cluster, listed under each of its months) instead
    #: of one directory per month: a small write is bound by file and
    #: directory creation, and its readers by files opened. Above it,
    #: months keep their own files, so month pruning stays exact where
    #: it saves real scan work. A one-month revision of a packed table
    #: rewrites the whole bin in one task; measured with
    #: ``scripts/bench_scd2_packing.py`` (24 months, 4 cores), that
    #: stays faster than the per-month rewrite up to ~75k rows per bin
    #: and turns slower between ~94k and 200k, so the constant sits
    #: below that crossover. The price is on narrow reads: a one-month
    #: read of a bin decodes the whole bin's cluster (+~10 ms at 48k
    #: rows).
    _PACK_MAX_ROWS = 50_000

    def _write_version(
        self,
        new_table: DataFrame,
        table_id: str,
        changed_months: list[str] | None,
        base_version: int | None,
        rows: int | None = None,
        settle=None,
    ) -> bool:
        """Write a new immutable segment directory and commit the
        version by putting its MANIFEST marker; True when committed.

        With ``changed_months``, ``new_table`` holds only the changed
        months' rows; the manifest carries the previous version's file
        references forward for every other month — zero data I/O for
        unchanged months (no links, no copies; the Iceberg pattern).
        Commit cost is therefore O(changed months), independent of the
        table's total span. ``changed_months`` must be closed over
        shared files (``_rewrite_set``): a carried month that shares a
        file with a rewritten one raises before anything is written,
        since the new manifest would read that file's rows twice or
        drop them. Without ``changed_months`` the version is
        ``new_table`` alone.

        The write is sized to its rows (``_PACK_MAX_ROWS``). ``rows``
        is the row count of ``new_table`` when the caller knows it
        without a job: a larger write goes per month, a smaller one is
        one packed bin shuffled into one task. Without ``rows`` — a
        cold write, or a one-pass merge — nothing is counted first:
        the frame is written as one bin (a cold write's, all open rows,
        in the frame's own partitioning with no shuffle), its rows are
        taken from the footers read below, and only a bin above the
        constant (or one whose footers cannot bound ``valid_from``,
        when they list it) is re-laid out per month from the files
        just written, whose segment is then removed. A bin is listed
        under every one of ``changed_months`` and of the months
        ``settle`` returns or, on an unscoped write, under every month
        its footers' ``valid_from`` range spans.

        ``settle``, when given, is called once the bin is written and
        before anything is committed. It returns the months the
        written rows reach beyond ``changed_months``, or None to
        abandon the write: the segment is removed, nothing is
        committed and the call returns False (a merge that changed no
        row, or one that must be redone unscoped).

        Every file the write creates gets its stats record from one
        read of its footer; carried-forward files inherit theirs from
        the base manifest. A footer that cannot be read fails the
        attempt before the commit, and the attempt's segments are
        removed.

        The segment name carries a per-attempt token so two writers
        racing for the same version number can never scribble into
        each other's files; the conditional-put marker commit decides
        the winner, and the loser's segment is removed before
        ``CommitConflictError`` propagates to the retry loop.

        ``base_version`` is the version the caller's merge plan was
        DERIVED from (captured once at the top of the write attempt
        and threaded through its reads; None when the caller observed
        the table absent); the commit always claims
        ``base_version + 1`` — the Delta/Iceberg readVersion pattern.
        Re-resolving the current version here instead would open a
        lost-update window: a competitor committing base+1 between our
        plan and our write would hand us base+2 unopposed, and our
        full-state rewrite (derived from base) would silently erase
        the competitor's rows. With the read version pinned, any
        interleaved commit makes OUR conditional put fail, which is
        exactly the retry the optimistic loop handles. The same
        pinning makes carried-forward references safe: if our put
        wins version N+1, keep-2 GC cannot have deleted version N's
        files (that would require a commit of N+2 or later to have
        already happened, which would have made our put lose)."""
        version = (base_version or 0) + 1
        tdir = self._table_dir(table_id)
        base, carried = None, {}
        if changed_months is not None and base_version is not None:
            base = self._manifest_of(table_id, base_version)
            if base is None:
                # Base marker vanished (GC'd: competitors advanced 2+
                # versions) — our conditional put is doomed anyway;
                # surface the retryable conflict.
                raise CommitConflictError(table_id, version)

            carried = {
                m: fs
                for m, fs in base["months"].items()
                if m not in changed_months
            }
            rewritten = {
                r for m in changed_months for r in base["months"].get(m, ())
            }
            if any(rewritten.intersection(fs) for fs in carried.values()):
                raise RuntimeError(
                    f"table {table_id}: rewriting months {changed_months}"
                    " would leave carried months referencing rewritten files"
                )

        segments: list[str] = []  # every segment dir this attempt made

        def segment(frame: DataFrame, per_month: bool, cold: bool):
            segments.append(f"_v{version}-{uuid.uuid4().hex[:8]}")
            with phase("scd2.segment_write", per_month=per_month):
                return self._write_segment(
                    frame, tdir, segments[-1], per_month, cold
                )

        try:
            per_month = rows is not None and rows > self._PACK_MAX_ROWS
            written = segment(new_table, per_month, base_version is None)
            footers = {}
            if not per_month:
                months = changed_months
                if settle is not None:
                    reached = settle()
                    if reached is None:
                        shutil.rmtree(os.path.join(tdir, segments[-1]))
                        return False
                    if months is not None:
                        months = sorted({*months, *reached})
                with phase("scd2.footer_stats"):
                    footers = {
                        r: pq.read_metadata(os.path.join(tdir, r))
                        for r in written
                    }
                if months is None:
                    months = _bin_months(footers.values())
                n = sum(md.num_rows for md in footers.values())
                if months is None or n > self._PACK_MAX_ROWS:
                    first = os.path.join(tdir, segments[-1])
                    footers, months = {}, None
                    written = segment(
                        self._read_files([os.path.join(tdir, r) for r in written]),
                        True,
                        False,
                    )
                    shutil.rmtree(first)
                if months is not None:
                    written = {m: written for m in months}
            inherited = base["file_stats"] if base is not None else {}
            body = {"months": carried | written}
            with phase("scd2.footer_stats"):
                file_stats = {
                    r: inherited[r]
                    if r in inherited
                    else _file_record(
                        footers[r]
                        if r in footers
                        else pq.read_metadata(os.path.join(tdir, r))
                    )
                    for r in self._manifest_refs(body)
                }
                table_stats = self._write_stats(
                    [os.path.join(tdir, r) for r in file_stats],
                    new_table.columns,
                    sum(rec["rows"] for rec in file_stats.values()),
                )
            manifest = {
                "version": version,
                "dir": segments[-1],
                **body,
                "file_stats": file_stats,
            }
            if table_stats is not None:
                manifest["table_stats"] = table_stats
        except BaseException:
            for d in segments:
                shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
            raise
        added = len(file_stats.keys() - inherited.keys())
        try:
            with phase("scd2.commit", version=version, files_added=added):
                self._commit_version(table_id, version, manifest)
        except CommitConflictError:
            shutil.rmtree(os.path.join(tdir, segments[-1]), ignore_errors=True)
            raise
        return True

    def _write_segment(
        self,
        new_table: DataFrame,
        tdir: str,
        dirname: str,
        per_month: bool,
        cold: bool,
    ) -> dict[str, list[str]] | list[str]:
        """Write ``new_table`` into the new segment directory
        ``dirname`` and list the files it created: per month
        (``{month: [relpath, ...]}``) when ``per_month``, else as one
        packed bin (``[relpath, ...]``). ``cold`` marks the cold
        write's first pass, a bin of open rows only."""
        out_dir = os.path.join(tdir, dirname)
        frame, part_cols = new_table, []
        if per_month:
            frame = frame.withColumn(PARTITION_COL, _month_key(frame.columns))
            part_cols.append(PARTITION_COL)
        # Second partition level — the TRANSACTION axis: rows already
        # closed (until_ts set) cluster into their own files
        # (``__vc=c``) apart from the live rows (``__vc=o``), so a
        # month's ever-growing bitemporal history never shares a file
        # with its current snapshot. Each all-closed file's record
        # carries its max(until_ts), and ``get_table(slice_ts)`` drops
        # files whose every row closed at-or-before the slice BEFORE
        # Spark ever lists them — a current-slice read scans O(live
        # rows), not O(history). Still one shuffle: each task writes
        # into both subdirs.
        if cold:
            # Every row of a cold write is open: the first pass goes
            # straight into the open cluster in the frame's own
            # partitioning, with no shuffle and no sort.
            out_dir = os.path.join(out_dir, f"{TXN_CLUSTER_COL}=o")
        else:
            frame = frame.withColumn(
                TXN_CLUSTER_COL,
                F.when(F.col("until_ts").isNotNull(), F.lit("c")).otherwise(
                    F.lit("o")
                ),
            )
            part_cols.append(TXN_CLUSTER_COL)
            # One shuffle on the partition key -> one file per month
            # instead of (upstream partitions x months) tiny files; a
            # known small bin shuffles into one task -> one file per
            # cluster. A giant month is split by
            # ``max_records_per_file``.
            frame = (
                frame.repartition(PARTITION_COL)
                if per_month
                else frame.repartition(1)
            )
        # Sorting by valid_until (open rows last) tightens parquet
        # row-group min/max stats so the scoped merge's close-candidate
        # predicate (valid_until > range_start OR NULL) skips row
        # groups of long-closed rows; until_ts tightens them inside
        # closed files. A bin is not sorted: at most _PACK_MAX_ROWS
        # rows are one row group per file, which a sort cannot split.
        if per_month:
            frame = frame.sortWithinPartitions(
                PARTITION_COL,
                *[
                    F.col(c).asc_nulls_last()
                    for c in ("valid_until", "until_ts")
                    if c in frame.columns
                ],
            )
        writer = frame.write.partitionBy(*part_cols).mode("overwrite")
        if self.max_records_per_file is not None:
            writer = writer.option(
                "maxRecordsPerFile", str(self.max_records_per_file)
            )
        writer.parquet(out_dir)
        if per_month:
            self._scrub_job_droppings(out_dir)
            return self._segment_months(tdir, dirname)
        if not self._segment_files(tdir, out_dir):
            # An empty frame: partitionBy wrote no file, so write the
            # one empty file that carries the table's schema.
            new_table.write.mode("overwrite").parquet(out_dir)
        self._scrub_job_droppings(out_dir)
        return self._segment_files(tdir, out_dir)

    @staticmethod
    def _scrub_job_droppings(out_dir: str) -> None:
        """Drop the job committer's ``_SUCCESS`` flag (and checksum
        sibling) right after a segment write: the manifest is the
        completeness signal here, and unreferenced droppings would
        keep dead segment directories from emptying under the
        file-level GC."""
        for name in ("_SUCCESS", "._SUCCESS.crc"):
            try:
                os.unlink(os.path.join(out_dir, name))
            except FileNotFoundError:
                pass

    @staticmethod
    def _segment_months(tdir: str, dirname: str) -> dict[str, list[str]]:
        """Per-month relpath listing of a freshly written partitioned
        segment: ``{"2020-01": ["_v3-ab/__vm=2020-01/part-0.parquet"],
        ...}`` (one data-plane LIST of the segment just written)."""
        out: dict[str, list[str]] = {}
        seg = os.path.join(tdir, dirname)
        for entry in sorted(os.listdir(seg)):
            if not entry.startswith(f"{PARTITION_COL}="):
                continue
            month = entry[len(PARTITION_COL) + 1:]
            # walk: months may nest a ``__vc=`` transaction-cluster
            # level below the month dir (round 11)
            mdir = os.path.join(seg, entry)
            files = ParquetFeatureStore._segment_files(tdir, mdir)
            if files:
                out[month] = files
        return out

    @staticmethod
    def _segment_files(tdir: str, top: str) -> list[str]:
        """Relpaths (to ``tdir``) of the parquet files under ``top``."""
        return sorted(
            os.path.relpath(os.path.join(root, f), tdir)
            for root, _dirs, names in os.walk(top)
            for f in names
            if f.endswith(".parquet")
        )

    #: above this row count the stats aggregation runs as a Spark job
    #: instead of a driver-side DuckDB scan (the scan reads only key +
    #: validity columns, but at billions of rows even that belongs on
    #: the executors — where it is noise next to the write itself).
    _STATS_DRIVER_MAX_ROWS = 50_000_000

    def _write_stats(
        self, files: list[str], columns: list[str], n: int
    ) -> dict | None:
        """Table statistics of a version, kept in its commit marker:
        row count, approx distinct key tuples (``key_*`` columns),
        validity span, mean row span. The analog of an RDBMS ANALYZE,
        computed at WRITE time so query-time planning decisions (the
        interlace auto-bucketing width,
        ``operators/interlace.py:width_from_stats``) cost zero extra
        jobs. ``files`` is the version's COMPLETE file list from its
        manifest — carried-forward months included — ``columns`` the
        table's columns and ``n`` its row count, summed from the file
        records.

        Cost discipline: the key-cardinality / span aggregation is a
        driver-side DuckDB scan of just the key + validity columns for
        ordinary tables (no Spark job, ~ms), escalating to a
        column-pruned Spark aggregation only above
        ``_STATS_DRIVER_MAX_ROWS``. Stats are advisory: any failure
        gives None and the readers treat the table as stats-less.
        """
        if not n or "valid_from" not in columns:
            return None
        keys = [c for c in columns if c.startswith("key_")]
        has_until = "valid_until" in columns
        try:
            if n <= self._STATS_DRIVER_MAX_ROWS:
                import duckdb

                ktuple = (
                    "approx_count_distinct(concat_ws(chr(31), "
                    + ", ".join(f'CAST("{c}" AS VARCHAR)' for c in keys)
                    + "))"
                    if keys
                    else "1"
                )
                until = (
                    'coalesce("valid_until", "valid_from")'
                    if has_until
                    else '"valid_from"'
                )
                row = duckdb.sql(
                    f"SELECT {ktuple} AS k, min(valid_from) AS lo, "
                    f"greatest(max(valid_from), max({until})) AS hi, "
                    f"avg(date_diff('day', CAST(valid_from AS DATE), "
                    f"CAST({until} AS DATE))) AS avg_span "
                    f"FROM read_parquet({files!r})"
                ).fetchone()
                k, lo, hi, avg_span = row
            else:
                df = self._read_files(files)
                kc = (
                    F.approx_count_distinct(
                        F.xxhash64(*[F.col(c) for c in keys])
                    )
                    if keys
                    else F.lit(1)
                )
                until = (
                    F.coalesce("valid_until", "valid_from")
                    if has_until
                    else F.col("valid_from")
                )
                r = df.agg(
                    kc.alias("k"),
                    F.min("valid_from").alias("lo"),
                    F.greatest(F.max("valid_from"), F.max(until)).alias("hi"),
                    F.avg(F.datediff(until, "valid_from")).alias("avg_span"),
                ).first()
                k, lo, hi, avg_span = r["k"], r["lo"], r["hi"], r["avg_span"]
        except Exception:
            return None
        if lo is None or hi is None:
            return None
        if hasattr(lo, "date"):
            lo, hi = lo.date(), hi.date()
        return {
            "n": int(n),
            "k": int(k or 1),
            "lo": str(lo),
            "hi": str(hi),
            "span_days": max((hi - lo).days, 1),
            "avg_span": float(avg_span or 0.0),
        }

    def table_stats(self, table_id: str) -> dict | None:
        """The current version's write-time statistics (see
        ``_write_stats``), read from its commit marker; None when the
        table does not exist or has none."""
        cur = self._current_version(table_id)
        manifest = self._manifest_of(table_id, cur) if cur else None
        return (manifest or {}).get("table_stats")

    # --------------------------------------------------------------- logs
    # The log table is driver-side metadata: one row per completed
    # range write (cardinality ~ number of writes, never data-sized).
    # It is written and read with pyarrow directly — no Spark job, no
    # executor round-trip — which removes several seconds of fixed
    # overhead per get_feature call. The on-disk format stays plain
    # parquet, so Spark (and DuckDB) can still read it as a table.
    _LOG_ARROW_SCHEMA = pa.schema(
        [
            ("date", pa.timestamp("us")),
            ("schema", pa.string()),
            ("table", pa.string()),
            ("message", pa.string()),
            ("success", pa.bool_()),
            ("log_file", pa.string()),
        ]
    )

    def _logs_dir(self, schema: str) -> str:
        return os.path.join(self.root, schema, LOGS_TABLE)

    def append_log(
        self,
        schema: str,
        table_id: str,
        slice_ts,
        message: str,
        success: bool,
    ) -> None:
        """Append one log row per completed range write
        (``R/DiseasystoreBase.R:215-239``; schema per FIXTURES.md §6b)."""
        ts = normalize_slice_ts(slice_ts)
        log_schema, _, log_table = table_id.partition(".")
        ldir = self._logs_dir(schema)
        os.makedirs(ldir, exist_ok=True)
        table = pa.table(
            {
                "date": [ts],
                "schema": [log_schema],
                "table": [log_table],
                "message": [message],
                "success": [success],
                "log_file": [""],
            },
            schema=self._LOG_ARROW_SCHEMA,
        )
        self._write_log_file(ldir, table)

    @staticmethod
    def _write_log_file(ldir: str, table: pa.Table) -> None:
        # written under a name the reader skips, then renamed: a
        # concurrent read never opens a partly written log file
        path = os.path.join(ldir, f"{uuid.uuid4().hex}.parquet")
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)

    def read_logs_pandas(self, schema: str) -> pd.DataFrame:
        """The schema's log rows. Lists the log dir on every call but
        reads only files not read before; a name that is gone (deleted
        or rewritten under a new name) is forgotten. The cache is replaced,
        never mutated, so concurrent callers each see a whole one."""
        ldir = self._logs_dir(schema)
        names = (
            [f for f in os.listdir(ldir) if f.endswith(".parquet")]
            if os.path.isdir(ldir)
            else []
        )
        seen = self._log_tables.get(ldir, {})
        tables = {
            f: seen[f] if f in seen else pq.read_table(os.path.join(ldir, f))
            for f in names
        }
        self._log_tables[ldir] = tables
        if not tables:
            return self._LOG_ARROW_SCHEMA.empty_table().to_pandas()
        return pa.concat_tables(tables.values()).to_pandas()

    def read_logs(self, schema: str) -> DataFrame:
        """Logs as a Spark DataFrame (for relational consumers)."""
        return self.spark.createDataFrame(
            self.read_logs_pandas(schema), _LOG_SCHEMA
        )

    def delete_logs_for(self, schema: str, table_ids: list[str]) -> None:
        """Delete log rows for the given tables (rewrite; logs are tiny).
        Mirrors the ``rows_delete`` at ``R/drop_diseasystore.R:91-97``."""
        ldir = self._logs_dir(schema)
        if not os.path.isdir(ldir):
            return
        pdf = self.read_logs_pandas(schema)
        keep = pdf[~(pdf["schema"] + "." + pdf["table"]).isin(table_ids)]
        shutil.rmtree(ldir, ignore_errors=True)
        if len(keep):
            os.makedirs(ldir, exist_ok=True)
            self._write_log_file(
                ldir,
                pa.Table.from_pandas(
                    keep, schema=self._LOG_ARROW_SCHEMA, preserve_index=False
                ),
            )

    # -------------------------------------------------------------- locks
    def _lock_path(self, table_id: str) -> str:
        return os.path.join(
            self.root, ".locks", table_id.replace(os.sep, "_") + ".lock"
        )

    def try_lock(self, table_id: str) -> bool:
        # the advisory lock is one more conditional put — the same
        # primitive the commit uses, so it maps to any object store
        return self.commit_backend.put_if_absent(
            self._lock_path(table_id), b""
        )

    def lock(self, table_id: str, wait_increment: float, wait_max: float) -> None:
        """Advisory spin lock to avoid duplicate compute work
        (``R/DiseasystoreBase.R:145-156``). Correctness does not depend
        on it — version swaps are atomic — it only dedups effort."""
        waited = 0.0
        while not self.try_lock(table_id):
            time.sleep(wait_increment)
            waited += wait_increment
            if waited > wait_max:
                raise TimeoutError(
                    f"Lock not released within {wait_max / 60} minutes. Giving up."
                )

    def unlock(self, table_id: str) -> None:
        self.commit_backend.delete(self._lock_path(table_id))
