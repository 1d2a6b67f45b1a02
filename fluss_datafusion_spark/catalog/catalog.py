"""FlussCatalog: table registry + parquet-backed storage with log-table /
PK-table (upsert) semantics.

Reference parity (SURVEY.md §1.1):
- databases/tables enumerated live from the catalog
  (src/catalog/mod.rs:68-102, src/catalog/schema.rs:214-256);
- two table kinds: append-only **log tables** and **primary-key tables**
  where INSERT is an upsert — duplicate keys keep the last row
  (src/provider.rs:83-94, 411-441);
- PK point lookups resolve through the key (src/provider.rs:257-321);
- partitioned (PARTITIONED BY) and bucketed (DISTRIBUTED BY ... INTO n
  BUCKETS) layout (src/catalog/schema.rs:452-561).

Spark-first design, 100 TB posture:
- A PK table is stored **log-structured**: every INSERT appends parquet
  files stamped with a monotonically increasing ``__seq__`` (statement
  sequence) and ``__sub__`` (row order inside the statement).  The read
  view deduplicates with one hash-partitioned window over the PK —
  a single shuffle, no driver-side state, works at any scale.  ``compact()``
  materializes the deduped state and truncates the log (amortizes reads,
  exactly what a real LSM/Fluss tablet server does).
- Log tables append; bucketed tables are written with
  ``repartition(num_buckets, bucket_keys)`` so downstream joins on the
  bucket key are co-partitioned; partitioned tables use Hive-style
  ``partitionBy`` so partition pruning is free.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import tempfile
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fluss_datafusion_spark.catalog import skipping
from fluss_datafusion_spark.catalog.metadata import TableSpec

_SEQ = "__seq__"
_SUB = "__sub__"
_BKT = "__bkt__"
_DEL = "__del__"
_COMMIT_DIR = "_commits"

#: cap on the driver-local append fast path (rows already driver-resident
#: as plan literals; the cap only bounds the pyarrow table build)
_LOCAL_WRITE_MAX_ROWS = 100_000

#: cap on the RMW collect-probe variant: an UPDATE/DELETE delta at or
#: under this lands as one driver-written file; past it the probe
#: early-exits and the distributed write runs (at 100 TB the probe cost
#: is one bounded CollectLimit pass, the win is the per-statement
#: committer round-trip on the small-delta common case)
_RMW_LOCAL_CAP = 10_000
# The collect-local probe partially executes the delta plan; past the
# cap that work is re-done by the distributed write.  The probe is
# therefore GATED (r13, VERDICT r12 item 5) on a cheap pre-signal that
# bounds the wasted pass: either the statement shape proves the delta
# small (full-PK equality / literal IN cover), or the table snapshot
# has at most this many data files (re-scanning that much is cheaper
# than one distributed write job even when the probe loses).  At 100 TB
# an unbounded UPDATE's delta plan never runs twice.  Parameterized for
# clusters; the default keeps local tables on the fast path.
_RMW_PROBE_MAX_FILES = int(
    os.environ.get("SPARK_GRAFT_RMW_PROBE_MAX_FILES", "256")
)


def _pa_type(dt):
    """pyarrow type for a Spark field the driver-local writer supports,
    or None (caller falls back to the distributed writer).  Types whose
    parquet physical form or collect()-side Python representation is not
    trivially byte-equivalent to Spark's writer (timestamps: tz-shifted
    naive datetimes; decimals: INT64 vs FLBA physical) are excluded —
    the fallback is always correct, just slower."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.ShortType):
        return pa.int16()
    if isinstance(dt, T.ByteType):
        return pa.int8()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.DateType):
        return pa.date32()
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    return None


class ConcurrentWriteConflict(RuntimeError):
    """Another writer committed to the table between this statement's
    snapshot read and its commit reservation.  The statement wrote
    NOTHING — re-run it against the fresh state (optimistic concurrency,
    the Delta commit-conflict contract)."""


def bucket_id_expr(spec: TableSpec, *key_cols) -> F.Column:
    """Deterministic bucket assignment: pmod(xxhash64(keys), n) — the
    hash-distribution of DISTRIBUTED BY ... INTO n BUCKETS.  The same
    expression works on columns (write path) and literals (lookup path),
    which is what makes bucket pruning sound."""
    return F.pmod(F.xxhash64(*key_cols), F.lit(spec.num_buckets)).cast("int")


_U64 = (1 << 64) - 1
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xxh64_round(acc: int, lane: int) -> int:
    return (_rotl64((acc + lane * _XXP2) & _U64, 31) * _XXP1) & _U64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned 64-bit result), as Spark's
    ``XXH64.hashUnsafeBytes``; its ``hashInt``/``hashLong`` are this
    function over the 4-/8-byte little-endian encoding."""
    import struct

    n, i = len(data), 0
    if n >= 32:
        v = [
            (seed + _XXP1 + _XXP2) & _U64,
            (seed + _XXP2) & _U64,
            seed,
            (seed - _XXP1) & _U64,
        ]
        while i <= n - 32:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_xxh64_round(a, b) for a, b in zip(v, lanes)]
            i += 32
        h = (
            _rotl64(v[0], 1) + _rotl64(v[1], 7)
            + _rotl64(v[2], 12) + _rotl64(v[3], 18)
        ) & _U64
        for a in v:
            h = ((h ^ _xxh64_round(0, a)) * _XXP1 + _XXP4) & _U64
    else:
        h = (seed + _XXP5) & _U64
    h = (h + n) & _U64
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (_rotl64(h ^ _xxh64_round(0, lane), 27) * _XXP1 + _XXP4) & _U64
        i += 8
    if i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        h = (_rotl64(h ^ ((lane * _XXP1) & _U64), 23) * _XXP2 + _XXP3) & _U64
        i += 4
    while i < n:
        h = (_rotl64(h ^ ((data[i] * _XXP5) & _U64), 11) * _XXP1) & _U64
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _U64
    h ^= h >> 29
    h = (h * _XXP3) & _U64
    return h ^ (h >> 32)


def bucket_id(spec: TableSpec, key: Dict[str, object]) -> Optional[int]:
    """``bucket_id_expr`` evaluated in Python for a key's literal
    values (``key`` maps logical column name -> value): Spark's
    ``xxhash64`` chains seed 42 through the bucket columns in order,
    ints/dates hash as 4 bytes, bigints as 8, strings as UTF-8 bytes,
    and a null leaves the running hash unchanged.  Returns None for a
    bucket-column type this port does not cover (the caller falls back
    to the Spark expression) — whatever the key's values, so an
    all-null key checks the column types alone."""
    import datetime as _dt
    import struct

    from pyspark.sql import types as T

    hashed = (
        T.LongType, T.IntegerType, T.ShortType, T.ByteType, T.DateType,
        T.StringType,
    )
    if not all(
        isinstance(spec.column(k).spark_type, hashed) for k in spec.bucket_keys
    ):
        return None
    h = 42
    for name in spec.bucket_keys:
        value, dt = key[name], spec.column(name).spark_type
        if value is None:
            continue
        if isinstance(dt, T.LongType):
            data = struct.pack("<q", value)
        elif isinstance(dt, T.DateType):
            data = struct.pack("<i", (value - _dt.date(1970, 1, 1)).days)
        elif isinstance(dt, T.StringType):
            data = value.encode("utf-8")
        else:
            data = struct.pack("<i", value)
        h = _xxh64(data, h)
    signed = h - (1 << 64) if h >> 63 else h
    return signed % spec.num_buckets


def _local_write_ok(spec: TableSpec) -> bool:
    """The driver-local writer's one eligibility check, made before any
    seq is reserved: every column has a pyarrow type (_pa_type), the
    table is unpartitioned (Hive dir naming and escaping stay with
    Spark), and every bucket column has a type ``bucket_id`` hashes."""
    return (
        not spec.partition_keys
        and all(_pa_type(c.spark_type) is not None for c in spec.columns)
        and (
            not (spec.num_buckets and spec.bucket_keys)
            or bucket_id(spec, dict.fromkeys(spec.bucket_keys)) is not None
        )
    )


DEFAULT_DATABASE = "fluss"


class FlussCatalog:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: Optional[str] = None,
        default_database: str = DEFAULT_DATABASE,
        locking=None,
    ):
        self.spark = spark
        self.warehouse = warehouse or tempfile.mkdtemp(prefix="fluss_warehouse_")
        # the commit protocol's put-if-absent seam (catalog/locking.py):
        # default POSIX O_EXCL; an object-store deployment injects an
        # implementation backed by S3 conditional-PUT / GCS
        # generation-match / DynamoDB conditional writes
        from fluss_datafusion_spark.catalog.locking import LocalFSLocking

        self.locking = locking or LocalFSLocking()
        self.default_database = default_database
        self.databases: Dict[str, Dict[str, TableSpec]] = {default_database: {}}
        self._seq: Dict[str, int] = {}
        # time-travel floor per table: anchors below this were discarded
        # by compaction and cannot be served
        self._floor: Dict[str, int] = {}
        # non-None inside a defer_auto_compact() guard: policy
        # compactions queue here instead of running mid-statement
        self._compaction_deferred: Optional[set] = None
        # tables whose Spark temp views are stale (writes since the last
        # bind) — rebound lazily at the next read boundary, so a
        # multi-statement DML lifecycle pays ONE plan re-derivation per
        # read instead of one per write (~0.1 s of py4j plan chatter
        # per statement at local[32])
        self._stale_views: set = set()
        # qname -> binder: a component (e.g. a materialized view's
        # user-facing projection) may OWN a table's temp-view binding;
        # refresh_views calls it instead of the physical registration
        self._view_overrides: Dict[str, object] = {}
        # qname -> on-disk write-marker mtime_ns at the last view bind:
        # lets refresh_views notice OTHER sessions' writes to a shared
        # warehouse (one stat() per bound table per read boundary)
        self._view_bound_stamp: Dict[str, int] = {}
        # marker path -> (token, thread ident) for every marker lock
        # THIS session holds (_marker_lock).  Two sessions in one
        # process must not mistake each other's marker for their own,
        # so identity is per-catalog, not per-pid
        self._held_markers: Dict[str, tuple] = {}
        # qname -> mtime_ns of the spec file as loaded: the cheap gate
        # for cross-session spec reloads (_reload_spec_if_moved)
        self._spec_stamp: Dict[str, int] = {}
        # db -> db-directory mtime_ns at the last new-table discovery
        self._db_dir_stamp: Dict[str, int] = {}
        self._attach_existing()

    # -- persistence --------------------------------------------------------

    def _spec_path(self, spec: TableSpec) -> str:
        # underscore prefix: Spark's file readers skip _-prefixed files,
        # so the spec can live inside the table's parquet directory
        return os.path.join(self.table_path(spec), "_spec.json")

    def _save_spec(self, spec: TableSpec) -> None:
        import json

        payload = spec.to_dict()
        payload["__floor__"] = self._floor.get(spec.qualified_name, 0)
        # atomic replace: other sessions reload specs at their own
        # get_table boundaries (cross-session DDL visibility) and must
        # never observe a truncated JSON mid-write
        path = self._spec_path(spec)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            # record OUR file's identity before the rename (preserved by
            # os.replace).  Stat-ing `path` after the replace instead
            # would race: another session replacing in between would
            # hand us ITS stamp without its payload, suppressing the
            # cross-session reload forever (ADVICE r9).  With the tmp
            # stamp, a lost race leaves our recorded stamp != on-disk
            # stamp and _reload_spec_if_moved picks up the winner at
            # the next statement boundary.
            stamp = os.fstat(fh.fileno()).st_mtime_ns
        os.replace(tmp, path)
        self._spec_stamp[spec.qualified_name] = stamp

    def _reload_spec_if_moved(self, spec: TableSpec) -> TableSpec:
        """Cross-session DDL visibility: if another session re-saved
        this table's spec since we loaded it (mtime_ns moved), re-read
        it — branches, tags, schema and properties created elsewhere
        become visible at the next statement boundary instead of
        requiring a session restart.  One stat() when nothing changed."""
        import json

        qname = spec.qualified_name
        path = self._spec_path(spec)
        try:
            stamp = os.stat(path).st_mtime_ns
        except OSError:
            return spec  # mid-rename/drop by another session: keep ours
        if stamp == self._spec_stamp.get(qname):
            return spec
        try:
            with open(path) as fh:
                payload = json.load(fh)
        except (OSError, ValueError):
            return spec  # transient: retry at the next boundary
        floor = payload.pop("__floor__", 0)
        fresh = TableSpec.from_dict(payload)
        self.databases[spec.database][spec.name] = fresh
        if floor:
            self._floor[qname] = floor
        self._spec_stamp[qname] = stamp
        # a schema/property change needs the view re-derived, not just
        # the data re-read — the write-marker path only covers the data
        self._stale_views.add(qname)
        return fresh

    @contextlib.contextmanager
    def _spec_mutation(self, spec: TableSpec):
        """CAS window for a spec read-modify-write (ADVICE r9, medium):
        ``_save_spec`` alone is last-writer-wins, so two sessions doing
        concurrent ref DDL (CREATE TAG in A while B runs CREATE BRANCH)
        would silently drop one side's committed metadata.  This
        serializes the window through the table's ``_spec.lock`` marker
        (_marker_lock), then RELOADS the spec if another session moved
        it, and yields the fresh object for the caller to mutate and
        save.

        Re-entrant per THREAD+table (ADVICE r10: qname-only keying made
        the lock non-exclusive across threads of one session, so a
        catalog mutation on a ``_parallel_writes`` worker thread could
        silently "re-enter" the main thread's window): nested helpers
        like ``_refork_branch`` under ``cherry_pick`` ride the outer
        window; a DIFFERENT thread of the same session contends on the
        marker like any other session.  Lock-ordering note: callers
        that also hold the branch publish lock always take publish ->
        spec, and no path takes spec -> publish, so the pair cannot
        deadlock."""
        # SIBLING of the table directory (like the maintenance marker):
        # maintenance dir-swaps replace the table dir while HOLDING this
        # lock — a lock stored inside would be destroyed mid-hold,
        # silently unblocking other sessions
        path = self.table_path(spec)
        marker = os.path.join(
            os.path.dirname(path), f".{os.path.basename(path)}.spec.lock"
        )
        with self._marker_lock(
            marker, f"DDL on {spec.qualified_name}", reentrant=True
        ) as outermost:
            yield (
                self._reload_spec_if_moved(spec)
                if outermost
                else self.databases[spec.database][spec.name]
            )

    def _attach_existing(self) -> None:
        """Re-attach every table persisted under the warehouse: a new
        session over an existing warehouse sees its tables again (the
        reference gets this from the remote Fluss cluster; a
        file-backed engine must recover it from the lake).  Upsert
        ordering survives the restart because the __seq__ counter is
        lazily re-derived from the log's max stamp on first write
        (_next_seq)."""
        import json

        if not os.path.isdir(self.warehouse):
            return
        for db in sorted(os.listdir(self.warehouse)):
            db_dir = os.path.join(self.warehouse, db)
            if not os.path.isdir(db_dir):
                continue
            for table in sorted(os.listdir(db_dir)):
                # in-flight swap dirs from optimize/compact (or a crash
                # mid-swap) are not tables; the live dir wins
                if table.endswith((".old", ".optimize", ".compact")):
                    continue
                spec_file = os.path.join(db_dir, table, "_spec.json")
                if not os.path.isfile(spec_file):
                    continue
                with open(spec_file) as fh:
                    payload = json.load(fh)
                floor = payload.pop("__floor__", 0)
                spec = TableSpec.from_dict(payload)
                self.databases.setdefault(db, {})[spec.name] = spec
                if floor:
                    self._floor[spec.qualified_name] = floor
                try:
                    self._spec_stamp[spec.qualified_name] = os.stat(
                        spec_file
                    ).st_mtime_ns
                except OSError:
                    pass
                self._register_view(spec)
        # logical views of databases with no (remaining) tables still
        # need their database registered and their bindings restored
        for db in sorted(os.listdir(self.warehouse)):
            if os.path.isfile(os.path.join(self.warehouse, db, "_views.json")):
                self.create_database(db)
        self._rebind_logical_views()

    # -- database ops -------------------------------------------------------

    def create_database(self, name: str) -> None:
        self.databases.setdefault(name, {})

    def set_default_database(self, name: str) -> None:
        """Switch the session's default database (``USE <db>``), mirroring
        the reference's session-scoped default schema (src/main.rs:89-99).
        Bare-name temp views are rebound: the old default's tables keep
        only their db-qualified views; the new default's tables gain bare
        names."""
        if name not in self.databases:
            raise KeyError(f"database not found: {name}")
        if name == self.default_database:
            return
        old = self.default_database
        for table in self.databases.get(old, {}):
            self.spark.catalog.dropTempView(table)
        for vname in self._load_view_defs(old):
            self.spark.catalog.dropTempView(vname)
        self.default_database = name
        for spec in self.databases[name].values():
            self._register_view(spec)
        self._rebind_logical_views()

    def list_databases(self) -> List[str]:
        return sorted(self.databases)

    # -- name resolution ----------------------------------------------------

    def _resolve(self, name: str) -> tuple:
        parts = name.split(".")
        if len(parts) == 2:
            return parts[0], parts[1]
        return self.default_database, parts[0]

    def has_table(self, name: str) -> bool:
        db, table = self._resolve(name)
        return table in self.databases.get(db, {})

    def get_table(self, name: str) -> TableSpec:
        db, table = self._resolve(name)
        try:
            spec = self.databases[db][table]
        except KeyError:
            # late attach: a table another session created after this
            # one started (cross-session DDL visibility)
            spec = self._try_attach(db, table)
            if spec is None:
                raise KeyError(f"table not found: {db}.{table}") from None
            return spec
        return self._reload_spec_if_moved(spec)

    def _try_attach(self, db: str, table: str) -> Optional[TableSpec]:
        import json

        spec_file = os.path.join(self.warehouse, db, table, "_spec.json")
        try:
            with open(spec_file) as fh:
                payload = json.load(fh)
            stamp = os.stat(spec_file).st_mtime_ns
        except (OSError, ValueError):
            return None
        floor = payload.pop("__floor__", 0)
        spec = TableSpec.from_dict(payload)
        self.databases.setdefault(db, {})[spec.name] = spec
        if floor:
            self._floor[spec.qualified_name] = floor
        self._spec_stamp[spec.qualified_name] = stamp
        self._register_view(spec)
        return spec

    def list_tables(self, database: Optional[str] = None) -> List[str]:
        db = database or self.default_database
        return sorted(self.databases.get(db, {}))

    def table_path(self, spec: TableSpec) -> str:
        return os.path.join(self.warehouse, spec.database, spec.name)

    def _bloom_config(self, spec: TableSpec):
        """(physical bloom column names, fpp) from the ``bloom.columns``
        / ``bloom.fpp`` table properties — the opt-in for per-file bloom
        filters in the skipping manifest (equality skipping on
        high-cardinality columns where min/max spans everything).
        Manifest stats are keyed by on-disk names, so renamed columns
        map through their physical_name."""
        props = spec.properties or {}
        raw = props.get("bloom.columns")
        if not raw:
            return None, 0.01
        physical = {
            c.name: (c.physical_name or c.name) for c in spec.columns
        }
        cols = [
            physical.get(c.strip(), c.strip())
            for c in raw.split(",")
            if c.strip()
        ]
        try:
            fpp = float(props.get("bloom.fpp", "0.01"))
        except ValueError:
            fpp = 0.01
        return (cols or None), fpp

    # -- DDL ----------------------------------------------------------------

    def _validate_properties(self, spec: TableSpec, props: Dict) -> None:
        """Reject malformed or unknown-column behavior-bearing property
        values at DDL time (CREATE / SET TBLPROPERTIES) — the write path
        treats bad values as disabled rather than failing post-commit."""
        raw = props.get("compaction.auto-after")
        if raw is not None:
            try:
                int(raw)
            except (ValueError, TypeError):
                raise ValueError(
                    f"compaction.auto-after on {spec.qualified_name} must "
                    f"be an integer statement count, got {raw!r}"
                )
        raw = props.get("bloom.fpp")
        if raw is not None:
            try:
                fpp = float(raw)
            except (ValueError, TypeError):
                raise ValueError(
                    f"bloom.fpp on {spec.qualified_name} must be a float "
                    f"in (0, 1), got {raw!r}"
                )
            if not 0 < fpp < 1:
                raise ValueError(
                    f"bloom.fpp on {spec.qualified_name} must be in (0, 1),"
                    f" got {raw!r}"
                )
        raw = props.get("bloom.columns")
        if raw is not None:
            known = {c.name for c in spec.columns}
            unknown = [
                c.strip()
                for c in str(raw).split(",")
                if c.strip() and c.strip() not in known
            ]
            if unknown:
                raise ValueError(
                    f"bloom.columns on {spec.qualified_name} names unknown "
                    f"columns {unknown}"
                )

    def set_table_properties(self, name: str, props: Dict[str, str]) -> None:
        """ALTER TABLE t SET TBLPROPERTIES ('k' = 'v', ...): merge into
        the spec after validation — the standard way to enable policies
        (bloom.columns, compaction.auto-after) on an EXISTING table.
        Bloom columns added here cover future writes; run
        ``refresh_file_stats`` to backfill blooms for existing files.
        ``materialized_view`` is engine-managed and refuses."""
        if "materialized_view" in props:
            raise ValueError(
                "the materialized_view property is engine-managed"
            )
        with self._spec_mutation(self.get_table(name)) as spec:
            merged = dict(spec.properties or {})
            merged.update(props)
            self._validate_properties(spec, merged)
            spec.properties = merged
            self._save_spec(spec)

    # Ref names become filesystem path components (branch dirs live at
    # <table>__branches/<name>) and share one namespace with tags for
    # VERSION AS OF resolution.  The DDL regex [\w.-]+ alone admits '.'
    # and '..', and the Python API accepts any string including '/':
    # either would make _branch_path escape the branch root and hand
    # rmtree/rename the DATABASE directory.  Validate at creation and
    # again (defensively) at every path construction.
    _REF_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]*$")

    @classmethod
    def _validate_ref_name(cls, kind: str, ref: str) -> None:
        if (
            not isinstance(ref, str)
            or ref in (".", "..")
            or os.sep in ref
            or (os.altsep is not None and os.altsep in ref)
            or not cls._REF_NAME_RE.match(ref)
        ):
            raise ValueError(
                f"invalid {kind} name {ref!r}: must start with a letter "
                f"or digit and contain only letters, digits, '_', '.' "
                f"and '-'"
            )

    def create_tag(self, name: str, tag: str, seq: Optional[int] = None):
        """ALTER TABLE t CREATE TAG <tag> [AS OF VERSION n] — a named
        time-travel ref (Iceberg tag semantics: immutable once created;
        re-pointing means DROP + CREATE).  Defaults to the current
        committed seq; a future seq refuses (nothing to pin)."""
        self._validate_ref_name("tag", tag)
        with self._spec_mutation(self.get_table(name)) as spec:
            if tag in (spec.tags or {}):
                raise ValueError(f"tag {tag!r} already exists on {name}")
            if tag in (spec.branches or {}):
                # one ref namespace, enforced BOTH ways: a tag shadowing
                # an existing branch would silently re-point VERSION AS
                # OF '<ref>' from the branch overlay to the tag's seq
                raise ValueError(
                    f"{tag!r} already names a branch on {name}"
                )
            head = self._committed_seq(spec)
            if seq is None:
                seq = head
            elif seq > head:
                raise ValueError(
                    f"cannot tag version {seq}: table is at {head}"
                )
            import datetime

            spec.tags = dict(spec.tags or {})
            spec.tags[tag] = {
                "seq": int(seq),
                "created_at": datetime.datetime.now(
                    datetime.timezone.utc
                ).isoformat(),
            }
            self._save_spec(spec)

    def drop_tag(self, name: str, tag: str) -> None:
        with self._spec_mutation(self.get_table(name)) as spec:
            if tag not in (spec.tags or {}):
                raise ValueError(f"no tag {tag!r} on {name}")
            spec.tags = {k: v for k, v in spec.tags.items() if k != tag}
            self._save_spec(spec)

    def resolve_tag(self, name: str, tag: str) -> int:
        """Tag -> statement seq (the read path then applies the same
        compaction-floor validation as any $v anchor)."""
        spec = self.get_table(name)
        entry = (spec.tags or {}).get(tag)
        if entry is None:
            raise ValueError(f"no tag {tag!r} on {name}")
        return int(entry["seq"])

    # -- branches (r8): writable version refs -----------------------------
    #
    # Iceberg branch semantics on the PK log: a branch forks the table's
    # statement history at ``fork_seq`` and accumulates its own writes in
    # a SIBLING directory (``<table>__branches/<name>``) with a
    # branch-local seq space starting at fork_seq + 1.  The sibling
    # placement is load-bearing twice over: (a) main reads list the table
    # directory, so branch files are invisible to them by construction
    # (no filter to forget); (b) OPTIMIZE/COMPACT replace the table dir
    # via _swap_dir — a branch stored inside it would vanish mid-swap.
    #
    # A branch read is the overlay  merge(main log ⩽ fork_seq  ∪  branch
    # log): branch seqs all exceed fork_seq, so merge-on-read's
    # max-(__seq__,__sub__)-wins picks branch rows over the forked base
    # exactly as it picks newer main rows over older ones — upsert,
    # tombstone and time-travel machinery work on a branch unchanged.
    # Main commits PAST the fork never reach the overlay, so the two
    # histories diverge without coordination.
    #
    # fast_forward publishes a branch whose fork point is still the main
    # head: branch files already carry exactly the __seq__ stamps main
    # needs next, so publication is a seq reservation (which excludes
    # maintenance and detects divergence) plus FILE MOVES — zero data
    # rewrite at any table size.  A diverged main (head > fork) refuses;
    # rebase/cherry-pick is out of scope (matching Iceberg, whose
    # fast_forward procedure has the same precondition).

    def _branch_root(self, spec: TableSpec) -> str:
        # sibling of the table dir — see the section comment.  The
        # trailing marker can't collide with a real table: _attach_
        # existing only attaches dirs holding a _spec.json.
        return self.table_path(spec) + "__branches"

    def _branch_path(self, spec: TableSpec, branch: str) -> str:
        # defense in depth: a hostile or corrupted ref name must never
        # become a path traversal handed to makedirs/rmtree/rename
        self._validate_ref_name("branch", branch)
        return os.path.join(self._branch_root(spec), branch)

    def _branch_commit_dir(self, spec: TableSpec, branch: str) -> str:
        return os.path.join(self._branch_path(spec, branch), "_commits")

    def _branch_info(self, spec: TableSpec, branch: str) -> dict:
        entry = (spec.branches or {}).get(branch)
        if entry is None:
            raise ValueError(
                f"no branch {branch!r} on {spec.qualified_name}"
            )
        return entry

    def _branch_commits(self, spec: TableSpec, branch: str) -> Dict[int, float]:
        """Branch-committed seq -> commit ts (same file format as the
        main per-seq commit dir)."""
        import json

        d = self._branch_commit_dir(spec, branch)
        out: Dict[int, float] = {}
        if not os.path.isdir(d):
            return out
        for fn in self.locking.list_names(d):
            if fn.endswith(".json"):
                try:
                    with open(os.path.join(d, fn)) as fh:
                        out[int(fn[:-5])] = float(json.load(fh)["ts"])
                except (ValueError, OSError, KeyError):
                    continue
        return out

    def _branch_head(self, spec: TableSpec, branch: str) -> int:
        """Highest branch-committed seq (the fork seq if none)."""
        fork = int(self._branch_info(spec, branch)["fork_seq"])
        return max(self._branch_commits(spec, branch), default=fork)

    def _branch_next_seq(
        self, spec: TableSpec, branch: str, expect_base: Optional[int] = None
    ) -> int:
        """Reserve the next branch-local seq — the same O_EXCL
        put-if-absent protocol as _reserve_seqs, scoped to the branch
        commit dir (branch writers contend only among themselves, plus
        the publish marker below: a fast_forward in flight moves and
        deletes branch files, so writers must not land rows under it —
        same store-then-load Dekker ordering as the maintenance
        protocol)."""
        fork = int(self._branch_info(spec, branch)["fork_seq"])
        d = self._branch_commit_dir(spec, branch)
        marker = self._branch_publish_marker(spec, branch)
        while True:
            self._wait_marker_clear(marker)
            os.makedirs(d, exist_ok=True)
            taken = [fork]
            # through the seam: an in-flight reservation may exist only
            # in the locking backend's namespace (object-store double)
            for fn in self.locking.list_names(d):
                stem = fn.split(".", 1)[0]
                if stem.isdigit():
                    taken.append(int(stem))
            n = max(taken) + 1
            if expect_base is not None and n != expect_base + 1:
                raise ConcurrentWriteConflict(
                    f"concurrent write to branch {branch!r} of "
                    f"{spec.qualified_name}: statement read state as of "
                    f"seq {expect_base} but seq {n - 1} has been "
                    f"committed since; nothing was written — re-run the "
                    f"statement"
                )
            if self.locking.put_if_absent(
                os.path.join(d, f"{n:010d}.inflight"),
                str(os.getpid()).encode(),
            ):
                # Dekker re-check: if a publish grabbed its marker
                # before seeing our reservation, we yield — release and
                # re-wait (nothing was written yet)
                if self._marker_up(marker):
                    self._release_seqs(spec, [n], branch=branch)
                    continue
                return n

    # -- branch publish exclusion ------------------------------------------
    #
    # fast_forward lists the branch's parquet files, MOVES them into the
    # table dir, then rmtree's and re-forks the branch directory.  A
    # branch statement landing files after the listing (or mid-write)
    # would have its data silently destroyed by the re-fork.  Same
    # two-sided protocol as maintenance vs writers (_maintenance_lock):
    #
    #   publisher: CREATE the publish marker (one winner) -> wait for
    #              branch seq reservations to drain -> list/move/re-fork
    #              -> release marker.
    #   writers:   CREATE <seq>.inflight -> re-check the marker; if
    #              present, release the reservation and wait.
    #
    # The marker lives as a SIBLING of the branch dir (dot-prefixed,
    # inside <table>__branches/) so the re-fork's rmtree cannot delete
    # it mid-publish and unblock writers before the new fork_seq is
    # saved.  Staleness/liveness handling mirrors the maintenance
    # marker: age alone never reaps a live owner's marker.

    def _branch_publish_marker(self, spec: TableSpec, branch: str) -> str:
        self._validate_ref_name("branch", branch)
        return os.path.join(
            self._branch_root(spec), f".{branch}.publish.inflight"
        )

    def _branch_publish_lock(self, spec: TableSpec, branch: str):
        """Exclusive publish window on one branch: acquire the marker,
        then wait for in-flight branch seq reservations to drain."""
        return self._marker_lock(
            self._branch_publish_marker(spec, branch),
            f"the publish of branch {branch!r} of {spec.qualified_name}",
            drain_dir=self._branch_commit_dir(spec, branch),
        )

    def create_branch(
        self, name: str, branch: str, seq: Optional[int] = None
    ) -> None:
        """ALTER TABLE t CREATE BRANCH <b> [AS OF VERSION n] — a writable
        fork of the table's history (PK tables only: divergence is
        defined by the __seq__ overlay).  Defaults to the current
        committed head; a future seq refuses like create_tag; a
        below-compaction-floor seq refuses at CREATE time (the forked
        base no longer exists as per-seq history)."""
        self._validate_ref_name("branch", branch)
        with self._spec_mutation(self.get_table(name)) as spec:
            if not spec.has_primary_key:
                raise ValueError(
                    f"branches require a primary-key table; "
                    f"{spec.qualified_name} is an append-only log table"
                )
            if branch in (spec.branches or {}):
                raise ValueError(
                    f"branch {branch!r} already exists on {name}"
                )
            if branch in (spec.tags or {}):
                # one ref namespace: VERSION AS OF '<ref>' must be
                # unambiguous
                raise ValueError(
                    f"{branch!r} already names a tag on {name}"
                )
            head = self._committed_seq(spec)
            if seq is None:
                seq = head
            elif seq > head:
                raise ValueError(
                    f"cannot branch from version {seq}: table is at {head}"
                )
            floor = self._floor.get(spec.qualified_name, 0)
            if seq < floor:
                raise ValueError(
                    f"history before seq {floor} was discarded by "
                    f"compaction; cannot branch from seq {seq}"
                )
            import datetime

            spec.branches = dict(spec.branches or {})
            spec.branches[branch] = {
                "fork_seq": int(seq),
                "created_at": datetime.datetime.now(
                    datetime.timezone.utc
                ).isoformat(),
            }
            os.makedirs(self._branch_commit_dir(spec, branch), exist_ok=True)
            self._save_spec(spec)

    def drop_branch(self, name: str, branch: str) -> None:
        with self._spec_mutation(self.get_table(name)) as spec:
            if branch not in (spec.branches or {}):
                raise ValueError(f"no branch {branch!r} on {name}")
            spec.branches = {
                k: v for k, v in spec.branches.items() if k != branch
            }
            self._save_spec(spec)
        shutil.rmtree(self._branch_path(spec, branch), ignore_errors=True)
        # a leftover publish marker must not haunt a future branch of
        # the same name (it lives OUTSIDE the branch dir by design)
        self.locking.delete(self._branch_publish_marker(spec, branch))

    def read_branch(
        self, name: str, branch: str, predicate: Optional[str] = None
    ) -> DataFrame:
        """Snapshot read of a branch: merge(main ⩽ fork ∪ branch log).
        The fork anchor gets the same compaction-floor validation as any
        $v anchor; the branch side is small by construction (statement
        deltas since the fork) so it joins the overlay unpruned while
        the main side keeps its file-skipping path."""
        spec = self.get_table(name)
        info = self._branch_info(spec, branch)
        fork = int(info["fork_seq"])
        floor = self._floor.get(spec.qualified_name, 0)
        if fork < floor:
            raise ValueError(
                f"history before seq {floor} was discarded by compaction; "
                f"branch {branch!r} forked at seq {fork} and can no "
                f"longer be read (fast-forward or drop it)"
            )
        log = self._log_df(spec, prune_predicate=predicate).filter(
            F.col(_SEQ) <= F.lit(fork)
        )
        bpath = self._branch_path(spec, branch)
        if _parquet_files(bpath):
            bdf = self._to_logical(
                spec,
                self.spark.read.schema(self._stored_schema(spec)).parquet(
                    bpath
                ),
            )
            log = log.unionByName(bdf, allowMissingColumns=True)
        out = self._merge_log(spec, log)
        if predicate is not None:
            out = out.filter(F.expr(predicate))
        return out

    def expire_refs(
        self,
        name: str,
        retain_last: Optional[int] = None,
        older_than_seconds: Optional[float] = None,
    ) -> dict:
        """ALTER TABLE t EXPIRE REFS [RETAIN LAST n] [OLDER THAN
        <interval>] — the ref janitor (Iceberg's expireSnapshots
        retention analog on named refs).

        Always drops refs stranded below the compaction floor — their
        anchor history no longer exists and every read refuses
        (information_schema.table_refs shows them readable=false);
        compaction deliberately leaves them in place (raising the floor
        must not silently destroy named refs).

        Retention policies extend the candidate set (per ref KIND —
        tags and branches age independently):

        - ``older_than_seconds``: refs created earlier than the cutoff
          become candidates (bare RETAIN LAST means every ref is).
        - ``retain_last``: the newest n refs of each kind (by anchor
          seq, then creation time) are protected regardless of age —
          the Iceberg retain-last floor.
        - live-branch protection: a branch with UNPUBLISHED work
          (committed statements past its fork) is never expired by
          policy — only FAST FORWARD, DROP BRANCH, or floor-stranding
          can take work a user hasn't published.

        Idempotent; returns {"tags": [...], "branches": [...]}
        dropped."""
        if retain_last is not None and retain_last < 0:
            raise ValueError("RETAIN LAST requires a non-negative count")
        if older_than_seconds is not None and older_than_seconds < 0:
            raise ValueError("OLDER THAN requires a non-negative interval")
        with self._spec_mutation(self.get_table(name)) as spec:
            floor = self._floor.get(spec.qualified_name, 0)
            dead_tags = {
                t for t, v in (spec.tags or {}).items()
                if int(v["seq"]) < floor
            }
            dead_branches = {
                b for b, v in (spec.branches or {}).items()
                if int(v["fork_seq"]) < floor
            }
            if retain_last is not None or older_than_seconds is not None:
                import datetime

                now = datetime.datetime.now(datetime.timezone.utc)

                def _age_s(info: dict) -> float:
                    try:
                        created = datetime.datetime.fromisoformat(
                            info["created_at"]
                        )
                    except (KeyError, ValueError):
                        return float("inf")  # unstamped = arbitrarily old
                    return (now - created).total_seconds()

                for entries, anchor, dead in (
                    (spec.tags or {}, "seq", dead_tags),
                    (spec.branches or {}, "fork_seq", dead_branches),
                ):
                    newest_first = sorted(
                        entries.items(),
                        key=lambda kv: (
                            int(kv[1][anchor]),
                            kv[1].get("created_at", ""),
                        ),
                        reverse=True,
                    )
                    # RETAIN LAST protects the newest n refs a user can
                    # still read: a floor-stranded ref is already doomed
                    # and must not consume a retention slot (ADVICE r9 —
                    # otherwise one extra LIVE ref gets expired)
                    protected = {
                        r for r, _ in [
                            kv for kv in newest_first if kv[0] not in dead
                        ][: retain_last or 0]
                    }
                    for ref, info in newest_first:
                        if ref in protected or ref in dead:
                            continue
                        if (
                            older_than_seconds is not None
                            and _age_s(info) < older_than_seconds
                        ):
                            continue
                        if anchor == "fork_seq" and self._branch_head(
                            spec, ref
                        ) > int(info["fork_seq"]):
                            continue  # live-branch protection
                        dead.add(ref)
            dead_tags = sorted(dead_tags)
            dead_branches = sorted(dead_branches)
            for t in dead_tags:
                spec.tags = {k: v for k, v in spec.tags.items() if k != t}
            for b in dead_branches:
                spec.branches = {
                    k: v for k, v in spec.branches.items() if k != b
                }
                shutil.rmtree(
                    self._branch_path(spec, b), ignore_errors=True
                )
                self.locking.delete(self._branch_publish_marker(spec, b))
            if dead_tags or dead_branches:
                self._save_spec(spec)
        return {"tags": dead_tags, "branches": dead_branches}

    def branch_diff(self, name: str, branch: str) -> DataFrame:
        """What publishing the branch would change — the review-before-
        merge view: one row per primary key whose state differs between
        the branch and CURRENT main, classified ``insert`` (key only on
        the branch), ``delete`` (key only on main), ``update`` (both,
        differing values), with both sides' columns as ``main_<col>`` /
        ``branch_<col>``.  Keys identical on both sides emit nothing.

        Note this diffs against main's HEAD, not the fork: on a
        diverged table the view shows exactly the contested ground a
        fast_forward would refuse over.

        Scale shape: ONE full-outer shuffle join on the PK (the MERGE
        plan) over two merge-on-read scans; the null-safe value compare
        is a codegen conjunction, no UDFs."""
        spec = self.get_table(name)
        if not spec.has_primary_key:
            raise ValueError("branch_diff requires a primary-key table")
        self._branch_info(spec, branch)  # validate
        pk = list(spec.primary_key)
        non_key = [c.name for c in spec.columns if c.name not in pk]
        main = self.read(name).alias("m")
        br = self.read_branch(name, branch).alias("b")
        cond = None
        for k in pk:
            eq = F.col(f"m.{k}") == F.col(f"b.{k}")
            cond = eq if cond is None else (cond & eq)
        joined = main.join(br, cond, "full_outer")
        m_hit = F.col(f"m.{pk[0]}").isNotNull()
        b_hit = F.col(f"b.{pk[0]}").isNotNull()
        same = F.lit(True)
        for c in non_key:
            same = same & F.col(f"m.{c}").eqNullSafe(F.col(f"b.{c}"))
        change = (
            F.when(~m_hit, F.lit("insert"))
            .when(~b_hit, F.lit("delete"))
            .when(~same, F.lit("update"))
        )
        out = joined.withColumn("change_type", change).filter(
            F.col("change_type").isNotNull()
        )
        cols = [
            *[
                F.coalesce(F.col(f"b.{k}"), F.col(f"m.{k}")).alias(k)
                for k in pk
            ],
            F.col("change_type"),
            *[F.col(f"m.{c}").alias(f"main_{c}") for c in non_key],
            *[F.col(f"b.{c}").alias(f"branch_{c}") for c in non_key],
        ]
        return out.select(*cols)

    def fast_forward(self, name: str, branch: str) -> dict:
        """Publish a branch: advance main to the branch head.  Requires
        main's head to still be the branch's fork seq (no divergence —
        the Iceberg fast_forward precondition).  Branch files already
        carry the exact __seq__ stamps main needs next, so publication
        is a main-space seq reservation (fork+1 .. head, which excludes
        maintenance swaps for the duration and turns a concurrent main
        commit into a clean ConcurrentWriteConflict) plus file MOVES
        into the table directory — zero data rewrite at any size.  The
        branch survives, re-forked at the new head with an empty delta
        (publish-and-continue)."""
        spec = self.get_table(name)
        self._branch_info(spec, branch)  # validate before locking
        key = spec.qualified_name
        moved = 0
        # publish window: block new branch seq reservations and wait
        # for in-flight ones to drain BEFORE listing the branch files —
        # a statement landing files after the listing would have its
        # rows silently destroyed by the re-fork rmtree below
        with self._branch_publish_lock(spec, branch):
            info = self._branch_info(spec, branch)
            fork = int(info["fork_seq"])
            commits = self._branch_commits(spec, branch)
            head = max(commits, default=fork)
            if head > fork:
                # reservation first: holds off OPTIMIZE/COMPACT while
                # files land, and verifies main is still at the fork
                got = self._reserve_seqs(
                    spec, count=head - fork, expect_base=fork
                )
                bpath = self._branch_path(spec, branch)
                path = self.table_path(spec)
                files = sorted(_parquet_files(bpath))
                landed = []
                for f in files:
                    rel = os.path.relpath(f, bpath)
                    dst = os.path.join(path, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.rename(f, dst)
                    landed.append(dst)
                    moved += 1
                # footer-stats harvest so the published files keep
                # skipping coverage (branch-side manifests stay behind
                # and die with the branch dir)
                bloom_cols, bloom_fpp = self._bloom_config(spec)
                skipping.add_files(
                    path, landed,
                    bloom_columns=bloom_cols, bloom_fpp=bloom_fpp,
                )
                for s in got:
                    if s in commits:
                        self._record_commit(spec, s, ts=commits[s])
                    else:
                        # an aborted branch statement left a seq gap:
                        # main history tolerates gaps, release it
                        self._release_seqs(spec, [s])
                self._seq[key] = head
                self._touch_write_marker(spec)
                self._register_view(spec)
            else:
                # empty branch: nothing to publish, but the divergence
                # contract must still hold — re-anchor the fork at the
                # CURRENT main head so subsequent branch reads overlay
                # today's base, not a stale one (an unchanged fork on an
                # advanced main would silently pin old data)
                head = max(head, self._committed_seq(spec))
            # re-fork the branch at the (possibly advanced) head with an
            # empty delta: publish-and-continue
            self._refork_branch(spec, branch, head)
        return {"advanced_to": int(head), "files_published": moved}

    def cherry_pick(self, name: str, branch: str) -> dict:
        """Publish a DIVERGED branch: re-stamp its statements onto the
        current main head (ALTER TABLE t CHERRY PICK BRANCH b).

        fast_forward refuses when main moved past the fork — the Iceberg
        precondition.  Cherry-pick is the rebase-publication escape
        hatch: branch statements fork+1..head are re-issued as main
        seqs mainHead+1.. (original intra-statement __sub__ order and
        tombstones preserved, commit timestamps carried over), which
        REWRITES the branch files (the __seq__ stamps must change — the
        zero-rewrite move only exists at the fork point).

        Conflict policy: REFUSE when any primary key was written by
        BOTH sides since the fork AND the branch-final value differs
        from main's current value (last-writer-wins across diverged
        histories silently destroys one side's intent; the
        `t$branch_diff('b')` view shows the contested ground before
        publishing).  History-contested keys whose values AGREE — the
        branch retracted its write by matching main, or both sides
        deleted the key — publish cleanly (VERDICT r9 item 3: real
        multi-writer workflows otherwise hit spurious refusals).  Main
        keys untouched by the branch and branch keys
        untouched by main merge cleanly: merge-on-read picks the higher
        seq per key exactly as for any two main statements.

        Scale shape: conflict detection is one PK semi-join of two
        seq-pruned scans; publication is one re-stamped scan-and-write
        of the branch delta (O(branch), never O(table)).  The branch
        publish lock excludes concurrent branch writers; the main seq
        reservation (expect_base = observed head) turns a concurrent
        main commit into a clean ConcurrentWriteConflict."""
        spec = self.get_table(name)
        self._branch_info(spec, branch)  # validate before locking
        key = spec.qualified_name
        pk_stored = self._stored_names(spec, spec.primary_key)
        with self._branch_publish_lock(spec, branch):
            info = self._branch_info(spec, branch)
            fork = int(info["fork_seq"])
            commits = self._branch_commits(spec, branch)
            bhead = max(commits, default=fork)
            main_head = self._committed_seq(spec)
            if bhead == fork:
                # nothing to publish: re-anchor at today's head (same
                # contract as fast_forward's empty-branch path)
                head = max(fork, main_head)
                self._refork_branch(spec, branch, head)
                return {"advanced_to": int(head), "files_published": 0}
            bpath = self._branch_path(spec, branch)
            bdf = self.spark.read.schema(self._stored_schema(spec)).parquet(
                bpath
            )
            if main_head > fork:
                # contested keys: written by BOTH histories since the fork
                main_changed = (
                    self._log_df(spec)
                    .filter(F.col(_SEQ) > F.lit(fork))
                    .select(
                        *[
                            F.col(c).alias(s)
                            for c, s in zip(spec.primary_key, pk_stored)
                        ]
                    )
                )
                contested_keys = (
                    bdf.select(*pk_stored)
                    .join(main_changed, pk_stored, "left_semi")
                    .distinct()
                )
                # cheap existence probe first: the common (uncontested)
                # path stays the one semi-join of two seq-pruned scans
                if contested_keys.limit(1).collect():
                    # Value-based refinement (VERDICT r9 item 3): a key
                    # written by both histories whose branch-FINAL state
                    # EQUALS main's CURRENT state carries no conflicting
                    # intent (e.g. the branch retracted its write by
                    # matching main, or both sides deleted the key) —
                    # it publishes cleanly.  Only genuinely diverging
                    # VALUES refuse.
                    diverged = self._contested_value_divergence(
                        name, spec, branch, contested_keys
                    ).limit(6).collect()
                    if diverged:
                        sample = ", ".join(
                            str(tuple(r)) for r in diverged[:5]
                        )
                        more = (
                            " (and possibly more)"
                            if len(diverged) > 5 else ""
                        )
                        raise ConcurrentWriteConflict(
                            f"cherry-pick of branch {branch!r} onto "
                            f"{spec.qualified_name} refused: keys written "
                            f"by both histories since the fork with "
                            f"DIVERGING values: {sample}{more} — review "
                            f"with {name}$branch_diff('{branch}'), then "
                            f"resolve on the branch or DROP it"
                        )
            n = bhead - fork
            offset = main_head - fork
            got = self._reserve_seqs(spec, count=n, expect_base=main_head)
            path = self.table_path(spec)
            restamped = bdf.withColumn(
                _SEQ, (F.col(_SEQ) + F.lit(offset)).cast("long")
            )
            partition_cols = self._stored_names(
                spec, spec.partition_keys or []
            )
            if spec.num_buckets and spec.bucket_keys:
                partition_cols.append(_BKT)
            # Footer-metadata row count of the branch delta (driver-side,
            # O(branch files), no Spark job): a delta that is entirely
            # empty — every surviving branch statement wrote zero rows
            # (e.g. a predicate DELETE matching nothing) — has nothing to
            # restamp; writing it would publish an empty parquet part and
            # report files_published=1 (VERDICT r10 item 3).  The seq /
            # commit bookkeeping below still runs so main history carries
            # the branch statements.
            if _footer_row_count(sorted(_parquet_files(bpath))) == 0:
                moved = 0
            else:
                before = _parquet_files(path)
                writer = restamped.write.mode("append")
                if partition_cols:
                    writer = writer.partitionBy(*partition_cols)
                writer.parquet(path)
                new_files = sorted(_parquet_files(path) - before)
                bloom_cols, bloom_fpp = self._bloom_config(spec)
                skipping.add_files(
                    path, new_files,
                    bloom_columns=bloom_cols, bloom_fpp=bloom_fpp,
                )
                moved = len(new_files)
            for s in got:
                orig = s - offset
                if orig in commits:
                    self._record_commit(spec, s, ts=commits[orig])
                else:
                    # an aborted branch statement left a seq gap: main
                    # history tolerates gaps, release the reservation
                    self._release_seqs(spec, [s])
            head = main_head + n
            self._seq[key] = head
            self._touch_write_marker(spec)
            self._register_view(spec)
            self._refork_branch(spec, branch, head)
        return {"advanced_to": int(head), "files_published": moved}

    def _contested_value_divergence(
        self, name: str, spec: TableSpec, branch: str, contested: DataFrame
    ) -> DataFrame:
        """Among history-contested keys (stored-name PK frame), the ones
        whose branch-final state actually DIFFERS from main's current
        state: present on exactly one side (an insert/delete conflict)
        or present on both with any non-key column differing (null-safe
        compare, same predicate as branch_diff).  Keys identical on both
        sides — including deleted-on-both — emit nothing and may publish.

        Scale shape: both merge-on-read scans are semi-joined down to
        the contested keys FIRST, so the full-outer value compare is
        O(contested), never O(table); the probe only runs after the
        existence check found at least one contested key."""
        pk = list(spec.primary_key)
        pk_stored = self._stored_names(spec, pk)
        keys = contested.select(
            *[F.col(s).alias(l) for s, l in zip(pk_stored, pk)]
        )
        non_key = [c.name for c in spec.columns if c.name not in pk]
        m = self.read(name).join(keys, pk, "left_semi").alias("m")
        b = (
            self.read_branch(name, branch)
            .join(keys, pk, "left_semi")
            .alias("b")
        )
        cond = None
        for k in pk:
            eq = F.col(f"m.{k}") == F.col(f"b.{k}")
            cond = eq if cond is None else (cond & eq)
        joined = m.join(b, cond, "full_outer")
        m_hit = F.col(f"m.{pk[0]}").isNotNull()
        b_hit = F.col(f"b.{pk[0]}").isNotNull()
        same = F.lit(True)
        for c in non_key:
            same = same & F.col(f"m.{c}").eqNullSafe(F.col(f"b.{c}"))
        return joined.filter(~(m_hit & b_hit & same)).select(
            *[
                F.coalesce(F.col(f"b.{k}"), F.col(f"m.{k}")).alias(k)
                for k in pk
            ]
        )

    def _refork_branch(self, spec: TableSpec, branch: str, head: int):
        """Re-fork a branch at ``head`` with an empty delta
        (publish-and-continue; caller holds the publish lock — the spec
        lock nests inside it, see _spec_mutation's ordering note)."""
        with self._spec_mutation(spec) as spec:
            shutil.rmtree(
                self._branch_path(spec, branch), ignore_errors=True
            )
            os.makedirs(self._branch_commit_dir(spec, branch), exist_ok=True)
            spec.branches = dict(spec.branches or {})
            spec.branches[branch] = dict(
                spec.branches[branch], fork_seq=int(head)
            )
            self._save_spec(spec)

    def unset_table_properties(self, name: str, keys) -> None:
        """ALTER TABLE t UNSET TBLPROPERTIES ('k', ...): remove keys
        (absent keys are a no-op, matching Spark/Delta)."""
        if "materialized_view" in keys:
            raise ValueError(
                "the materialized_view property is engine-managed"
            )
        with self._spec_mutation(self.get_table(name)) as spec:
            props = dict(spec.properties or {})
            for k in keys:
                props.pop(k, None)
            spec.properties = props
            self._save_spec(spec)

    def create_table(self, spec: TableSpec, if_not_exists: bool = True) -> None:
        self.create_database(spec.database)
        if spec.name in self.databases[spec.database]:
            if if_not_exists:
                return
            raise ValueError(f"table already exists: {spec.qualified_name}")
        # Validate behavior-bearing properties HERE, at DDL time — a
        # malformed value must fail the CREATE, not a later write after
        # its files are already appended (ADVICE r5).
        self._validate_properties(spec, spec.properties or {})
        self._validate_generated(spec)
        self.databases[spec.database][spec.name] = spec
        os.makedirs(self.table_path(spec), exist_ok=True)
        self._save_spec(spec)
        self._register_view(spec)

    def _validate_generated(self, spec: TableSpec) -> None:
        """DDL-time checks for GENERATED ALWAYS AS columns: the
        expression must resolve against the table's OTHER stored
        columns (no self- or cross-generated references — generation is
        one pass, not a dependency graph), and a generated PRIMARY KEY
        is refused (row identity must be caller-supplied, not derived —
        an upsert keyed on a computed value would make 'which row am I
        replacing' a function of the generation expr version)."""
        gen_cols = [c for c in spec.columns if getattr(c, "generated", None)]
        if not gen_cols:
            return
        gen_names = {c.name for c in gen_cols}
        bad_pk = sorted(gen_names & set(spec.primary_key or []))
        if bad_pk:
            raise ValueError(
                f"primary-key columns cannot be generated: {bad_pk}"
            )
        from pyspark.sql.types import StructField, StructType

        base_fields = [
            c for c in spec.columns if c.name not in gen_names
        ]
        probe = self.spark.createDataFrame(
            [],
            schema=StructType(
                [StructField(c.name, c.spark_type, True) for c in base_fields]
            ),
        )
        for c in gen_cols:
            try:
                probe.select(F.expr(c.generated)).schema
            except Exception as exc:
                raise ValueError(
                    f"GENERATED ALWAYS AS expression for column "
                    f"{c.name!r} does not resolve against the table's "
                    f"other columns: {exc}"
                ) from None

    def _apply_generated(
        self, spec: TableSpec, df: DataFrame, deleted_col: Optional[str]
    ) -> DataFrame:
        """Compute every GENERATED ALWAYS AS column from the row's other
        values — the single write-path choke point, so INSERT / UPDATE /
        MERGE / COPY FROM all agree and a source-column update can never
        leave a stale derived value.  Tombstone-flagged rows keep NULL
        payloads (their non-key columns are NULL by construction)."""
        gen_cols = [c for c in spec.columns if getattr(c, "generated", None)]
        if not gen_cols:
            return df
        for c in gen_cols:
            expr = F.expr(c.generated).cast(c.spark_type)
            if deleted_col is not None:
                expr = F.when(
                    ~F.coalesce(F.col(deleted_col).cast("boolean"), F.lit(False)),
                    expr,
                )
            df = df.withColumn(c.name, expr)
        # normalize to spec order (+ any trailing internals the caller
        # attached, e.g. the tombstone flag)
        spec_names = [c.name for c in spec.columns]
        extras = [c for c in df.columns if c not in spec_names]
        return df.select(*spec_names, *extras)

    def add_column(self, name: str, col) -> None:
        """ALTER TABLE ADD COLUMN: append a nullable column to the spec.
        No data rewrite — the log is read with the spec's explicit
        schema, so files written before the ALTER surface the column as
        NULL (the same parquet-evolution mechanism the ``__del__``
        tombstone column relies on)."""
        with self._spec_mutation(self.get_table(name)) as spec:
            if any(c.name == col.name for c in spec.columns):
                raise ValueError(
                    f"column already exists: {spec.qualified_name}.{col.name}"
                )
            if any(c.stored_name == col.name for c in spec.columns):
                # a renamed column still occupies this name ON DISK: a
                # new column stored under it would alias the old data
                raise ValueError(
                    f"column name {col.name} is still used as the "
                    f"physical (on-disk) name of a renamed column; pick "
                    f"another name"
                )
            if not col.nullable:
                raise ValueError("ADD COLUMN must be nullable")
            spec.columns.append(col)
            self._save_spec(spec)
        self._register_view(spec)

    def drop_column(self, name: str, col_name: str) -> None:
        """ALTER TABLE DROP COLUMN: remove a column from the spec.  The
        bytes stay in old files; the explicit read schema stops
        selecting them (parquet reads by name).  PK / partition /
        bucket-key columns refuse — they define row identity and
        layout."""
        with self._spec_mutation(self.get_table(name)) as spec:
            if col_name in spec.primary_key:
                raise ValueError(
                    f"cannot drop primary-key column {col_name}"
                )
            if (
                col_name in spec.partition_keys
                or col_name in spec.bucket_keys
            ):
                raise ValueError(
                    f"cannot drop partition/bucket-key column {col_name}"
                )
            import re as _re

            for gc in spec.columns:
                gen = getattr(gc, "generated", None)
                if (
                    gen
                    and gc.name != col_name
                    and _re.search(rf"\b{_re.escape(col_name)}\b", gen)
                ):
                    raise ValueError(
                        f"cannot drop {col_name}: generated column "
                        f"{gc.name} (GENERATED ALWAYS AS ({gen})) "
                        f"references it — drop the generated column first"
                    )
            remaining = [c for c in spec.columns if c.name != col_name]
            if len(remaining) == len(spec.columns):
                raise KeyError(
                    f"column not found: {spec.qualified_name}.{col_name}"
                )
            if not remaining:
                raise ValueError("cannot drop the last column")
            spec.columns[:] = remaining
            self._save_spec(spec)
        self._register_view(spec)

    def _stored_names(self, spec: TableSpec, cols) -> List[str]:
        """Map logical column names to their on-disk (stored) names —
        the column-mapping hop for layout columns: partition directories
        and write-path partitionBy keep using the ORIGINAL directory
        names after a rename, so no data file or directory moves."""
        by_logical = {c.name: c.stored_name for c in spec.columns}
        return [by_logical.get(c, c) for c in cols]

    def _to_logical(self, spec: TableSpec, df: DataFrame) -> DataFrame:
        for col in spec.columns:
            if col.physical_name and col.physical_name != col.name:
                df = df.withColumnRenamed(col.physical_name, col.name)
        return df

    def _to_physical(self, spec: TableSpec, df: DataFrame) -> DataFrame:
        for col in spec.columns:
            if col.physical_name and col.physical_name != col.name:
                df = df.withColumnRenamed(col.name, col.physical_name)
        return df

    def rename_column(self, name: str, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN old TO new — column mapping
        (the Delta approach): the spec records the on-disk physical
        name and reads/writes translate at the boundary, so NO data
        file is rewritten.  Partition and bucket columns rename too
        (r6): their DIRECTORY names keep the original physical name —
        the write path's partitionBy and the bucket-id expression map
        through ``_stored_names``, and SHOW PARTITIONS translates dir
        names back to the logical name for display.

        PRIMARY KEY columns rename too (r7, the last mapping gap —
        Delta gates this behind a protocol bump; here the persisted
        ``physical_name`` in _spec.json IS the versioned mapping every
        session reads): merge-on-read, the changelog windows, point
        lookups, tombstone construction and MERGE all operate on the
        LOGICAL frame (``_log_df``/``read`` translate physical→logical
        at the scan boundary, ``_to_physical`` translates back at the
        write boundary), and the skipping prune's PK-only allowlist is
        checked in logical names BEFORE its rename_map hop — so the
        merge semantics stay keyed by the on-disk physical column with
        no path left that sees a mixed name.  Remaining refusal: a
        column referenced by a CHECK constraint (the stored expression
        would silently stop binding)."""
        import re as _re

        with self._spec_mutation(self.get_table(name)) as spec:
            self._rename_column_locked(spec, old, new, _re)
        self._register_view(spec)

    def _rename_column_locked(self, spec, old, new, _re):
        col = spec.column(old)  # KeyError if absent
        if any(c.name == new for c in spec.columns):
            raise ValueError(f"column already exists: {new}")
        for cname, expr in spec.check_constraints.items():
            if _re.search(rf"\b{_re.escape(old)}\b", expr):
                raise ValueError(
                    f"cannot rename {old}: CHECK constraint {cname} "
                    f"({expr}) references it — drop the constraint first"
                )
        # GENERATED ALWAYS AS expressions store column names as text the
        # same way constraints do: a rename of a referenced column would
        # silently stop the generation expr from binding (r8)
        for gc in spec.columns:
            gen = getattr(gc, "generated", None)
            if gen and _re.search(rf"\b{_re.escape(old)}\b", gen):
                raise ValueError(
                    f"cannot rename {old}: generated column {gc.name} "
                    f"(GENERATED ALWAYS AS ({gen})) references it"
                )
        col.physical_name = col.stored_name  # pin what's on disk
        col.name = new
        # key lists name LOGICAL columns: follow the rename (the
        # on-disk directory/file names stay put via physical_name)
        spec.primary_key[:] = [
            new if k == old else k for k in (spec.primary_key or [])
        ]
        spec.partition_keys[:] = [
            new if k == old else k for k in (spec.partition_keys or [])
        ]
        spec.bucket_keys[:] = [
            new if k == old else k for k in (spec.bucket_keys or [])
        ]
        # bloom.columns names logical columns: follow the rename so the
        # harvest keeps building blooms (physical keying is unchanged)
        raw = (spec.properties or {}).get("bloom.columns")
        if raw:
            spec.properties["bloom.columns"] = ",".join(
                new if c.strip() == old else c.strip()
                for c in raw.split(",")
                if c.strip()
            )
        self._save_spec(spec)

    #: widening conversions Spark 4's parquet readers perform in place
    #: (SPARK-40876): no data file is touched, old files upcast at scan
    _WIDENINGS = {
        "tinyint": {"smallint", "int", "bigint", "double"},
        "smallint": {"int", "bigint", "double"},
        "int": {"bigint", "double"},
        "float": {"double"},
    }

    def alter_column_type(self, name: str, col_name: str, new_type: str) -> None:
        """ALTER TABLE t ALTER COLUMN c TYPE <wider> — type widening
        (the Delta Lake feature): the spec records the wider type and
        every read's explicit schema upcasts old files at scan time
        (Spark 4 parquet readers widen int→long, float→double,
        int→double in place) — NO data rewrite.  New writes store the
        wider type directly; mixed-width files coexist.

        Refusals: narrowing or cross-class conversions (lossy), and
        PK / partition / bucket columns — bucket ids come from
        ``hash(col)`` and Spark's hash of 5 as int differs from 5 as
        bigint, so widening a layout column would silently break bucket
        pruning and co-located joins."""
        from fluss_datafusion_spark.catalog.metadata import (
            ddl_type_to_spark,
            spark_type_to_ddl,
        )

        with self._spec_mutation(self.get_table(name)) as spec:
            col = spec.column(col_name)  # KeyError if absent
            old_t = spark_type_to_ddl(
                ddl_type_to_spark(col.type_name)
            ).lower()
            new_t = spark_type_to_ddl(ddl_type_to_spark(new_type)).lower()
            if new_t == old_t:
                return
            if new_t not in self._WIDENINGS.get(old_t, set()):
                raise ValueError(
                    f"cannot alter {col_name} from {old_t} to {new_t}: "
                    "only widening conversions (tinyint/smallint/int -> "
                    "bigint or double, float -> double) read old files "
                    "in place"
                )
            protected = (
                set(spec.primary_key)
                | set(spec.partition_keys or [])
                | set(spec.bucket_keys or [])
            )
            if col_name in protected:
                raise ValueError(
                    f"cannot widen {col_name}: primary-key/partition/"
                    "bucket columns feed hash layouts whose values "
                    "change with the type"
                )
            col.type_name = new_type
            self._save_spec(spec)
        self._register_view(spec)

    def add_check_constraint(self, name: str, cname: str, expr: str) -> None:
        """ALTER TABLE ADD CONSTRAINT cname CHECK (expr): existing rows
        must already satisfy it (one validation scan, the Delta
        contract), then future writes enforce it.

        The validation scan runs BEFORE the spec lock is taken (ADVICE
        r10): a table-sized scan inside the window would hold off every
        other session's DDL on the table for its whole length.  Only
        the name re-check and the save sit inside the window —
        spec-vs-spec races stay excluded, and the
        scan-vs-concurrent-insert race is unchanged (data writes never
        held the spec lock; enforcement starts when the saved spec is
        visible, exactly as before)."""
        spec0 = self.get_table(name)
        if cname in spec0.check_constraints:
            raise ValueError(f"constraint already exists: {cname}")
        bad = (
            self.read(name)
            .filter(~F.coalesce(F.expr(expr), F.lit(True)))
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                f"cannot add CHECK constraint {cname} ({expr}): "
                f"existing rows of {spec0.qualified_name} violate it"
            )
        with self._spec_mutation(spec0) as spec:
            if cname in spec.check_constraints:
                raise ValueError(f"constraint already exists: {cname}")
            # re-resolve expr against the RELOADED spec (ADVICE r11): a
            # concurrent spec mutation (e.g. DROP COLUMN referenced by
            # expr) landing between the pre-lock scan and this window
            # must not commit a constraint against a stale schema.
            # Plan-time analysis only — an empty local frame, no job.
            try:
                self.spark.createDataFrame(
                    [], spec.spark_schema()
                ).filter(F.expr(expr)).schema
            except Exception as exc:
                raise ValueError(
                    f"cannot add CHECK constraint {cname} ({expr}): "
                    f"it no longer resolves against the current schema "
                    f"of {spec.qualified_name}: {exc}"
                ) from exc
            spec.check_constraints[cname] = expr
            self._save_spec(spec)

    def drop_check_constraint(self, name: str, cname: str) -> None:
        with self._spec_mutation(self.get_table(name)) as spec:
            if cname not in spec.check_constraints:
                raise KeyError(f"constraint not found: {cname}")
            del spec.check_constraints[cname]
            self._save_spec(spec)

    def drop_table(self, name: str) -> None:
        db, table = self._resolve(name)
        spec = self.databases[db].pop(table)
        self._stale_views.discard(spec.qualified_name)
        self._view_overrides.pop(spec.qualified_name, None)
        shutil.rmtree(self.table_path(spec), ignore_errors=True)
        shutil.rmtree(self._branch_root(spec), ignore_errors=True)
        self.spark.catalog.dropTempView(self._view_name(spec))
        # the bare-name view belongs to the DEFAULT database's table: drop
        # it only when that is the table being dropped, so a same-named
        # table in another database is never clobbered
        if db == self.default_database:
            self.spark.catalog.dropTempView(table)

    def truncate_table(self, name: str) -> None:
        """TRUNCATE TABLE: delete every log file, keep the definition.
        The next read sees an empty table; __seq__ stamps restart from 0
        (truncation discards the whole history, changelog included)."""
        spec = self.get_table(name)
        path = self.table_path(spec)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        # branches fork the history being discarded — they go with it
        shutil.rmtree(self._branch_root(spec), ignore_errors=True)
        spec.branches = {}
        self._seq.pop(spec.qualified_name, None)
        self._floor.pop(spec.qualified_name, None)
        self._save_spec(spec)
        self._register_view(spec)

    def rename_table(self, name: str, new_name: str) -> None:
        """ALTER TABLE RENAME TO: same-database rename — catalog entry,
        storage directory, and views move together."""
        db, table = self._resolve(name)
        spec = self.get_table(name)
        if new_name in self.databases.get(db, {}):
            raise ValueError(f"table already exists: {db}.{new_name}")
        old_path = self.table_path(spec)
        old_seq = self._seq.pop(spec.qualified_name, None)
        old_floor = self._floor.pop(spec.qualified_name, None)
        self.databases[db].pop(table)
        self.spark.catalog.dropTempView(self._view_name(spec))
        if db == self.default_database:
            self.spark.catalog.dropTempView(table)
        spec.name = new_name
        self.databases[db][new_name] = spec
        if old_seq is not None:
            # upsert ordering must survive the rename: new writes need
            # HIGHER __seq__ stamps than every row already in the log
            self._seq[spec.qualified_name] = old_seq
        if old_floor is not None:
            # the compaction floor must survive too, or time travel /
            # require_full_history on the renamed table would silently
            # serve partial post-compaction state instead of refusing
            self._floor[spec.qualified_name] = old_floor
        new_path = self.table_path(spec)
        if os.path.exists(old_path):
            os.rename(old_path, new_path)
        else:
            os.makedirs(new_path, exist_ok=True)
        if os.path.isdir(old_path + "__branches"):
            # branch data is a sibling of the table dir — it moves too
            os.rename(old_path + "__branches", self._branch_root(spec))
        self._save_spec(spec)  # rewrite with the new name
        self._register_view(spec)

    def clone_table(self, name: str, new_name: str, deep: bool = False) -> int:
        """CREATE TABLE new [SHALLOW|DEEP] CLONE src (Delta-CLONE
        semantics): a zero-copy (shallow) or full-copy (deep) snapshot
        of the source table — schema, data, upsert history, time-travel
        anchors, skipping manifest, and compaction floor all carry over,
        after which the two tables diverge independently.

        Shallow clones hardlink the immutable log files (O(metadata),
        no bytes moved — the local-filesystem analog of Delta's
        manifest-reference clone; on an object store this would be a
        manifest copy).  Because optimize/compact REPLACE directories
        rather than mutating files, a later rewrite of either table
        cannot corrupt the other: the hardlinked inodes stay alive for
        whichever side still references them.  Deep clones copy bytes
        (``deep=True``) for full storage independence.

        Returns the number of files cloned."""
        src = self.get_table(name)
        dst_db, dst_table = self._resolve(new_name)
        if dst_table in self.databases.get(dst_db, {}):
            raise ValueError(f"table already exists: {dst_db}.{dst_table}")
        src_path = self.table_path(src)
        dst_spec = TableSpec.from_dict(src.to_dict())
        dst_spec.name = dst_table
        dst_spec.database = dst_db
        # branch data lives OUTSIDE the table dir and is not cloned —
        # carrying the refs without their deltas would lie
        dst_spec.branches = {}
        self.databases.setdefault(dst_db, {})
        dst_path = self.table_path(dst_spec)
        os.makedirs(dst_path, exist_ok=True)
        n_files = 0
        for root, dirs, files in os.walk(src_path):
            # in-flight swap dirs are not table state
            dirs[:] = [
                d for d in dirs
                if not d.endswith((".old", ".optimize", ".compact"))
            ]
            rel = os.path.relpath(root, src_path)
            out_dir = dst_path if rel == "." else os.path.join(dst_path, rel)
            os.makedirs(out_dir, exist_ok=True)
            for f in files:
                if f == "_spec.json" or f.endswith(".tmp"):
                    continue  # the spec is rewritten below with the new name
                src_f = os.path.join(root, f)
                dst_f = os.path.join(out_dir, f)
                if deep:
                    shutil.copy2(src_f, dst_f)
                else:
                    try:
                        os.link(src_f, dst_f)
                    except OSError:  # cross-device / FS without hardlinks
                        shutil.copy2(src_f, dst_f)
                n_files += 1
        self.databases[dst_db][dst_table] = dst_spec
        # upsert ordering and time-travel refusal carry over: without
        # them a post-clone write could reuse a __seq__ stamp, and a
        # pre-compaction anchor would silently serve partial state
        src_seq = self._seq.get(src.qualified_name)
        if src_seq is not None:
            self._seq[dst_spec.qualified_name] = src_seq
        src_floor = self._floor.get(src.qualified_name)
        if src_floor is not None:
            self._floor[dst_spec.qualified_name] = src_floor
        self._save_spec(dst_spec)
        self._register_view(dst_spec)
        return n_files

    def vacuum(self, name: str) -> int:
        """VACUUM: remove leftover rename-aside directories from
        crashed/interrupted optimize/compact swaps (``<table>.old``,
        ``<table>.optimize``, ``<table>.compact``) and stale ``.tmp``
        manifest files.  Live table state is NEVER touched — unlike
        Delta's VACUUM there are no unreferenced data files to collect,
        because the log is append-only and rewrites swap whole
        directories.  Returns the number of filesystem entries
        removed."""
        spec = self.get_table(name)
        path = self.table_path(spec)
        removed = 0
        for suffix in (".old", ".optimize", ".compact"):
            aside = path + suffix
            if os.path.exists(aside):
                shutil.rmtree(aside, ignore_errors=True)
                removed += 1
        for root, dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".tmp"):
                    os.remove(os.path.join(root, f))
                    removed += 1
        return removed

    # -- read path ----------------------------------------------------------

    # -- commit protocol (seq allocation + timestamp time travel) -----------
    #
    # Optimistic concurrent writers (VERDICT r5 #2): the statement
    # sequence is allocated by ATOMIC CREATE of a per-seq reservation
    # file in ``<table>/_commits/`` (``O_CREAT|O_EXCL`` — the local-fs
    # analog of Delta's put-if-absent commit file; on an object store
    # this would be a conditional PUT).  Two sessions writing the same
    # table can never stamp the same ``__seq__``: the loser's create
    # fails and it retries at the next number.  After the data lands the
    # reservation finalizes to ``<seq>.json`` holding the wall-clock
    # commit time (the seq↔time mapping behind ``read(as_of_ts=...)``),
    # one O(1) immutable file per statement — nothing is ever
    # read-modify-written on the commit path.  The legacy whole-map
    # ``_commits.json`` remains as the COMPACTED form: maintenance ops
    # that swap the table directory (optimize/compact) fold the per-seq
    # files into it, bounding the directory's size.  Read-modify-write
    # statements (UPDATE/MERGE/predicate-DELETE/RESTORE) additionally
    # pass the seq they based their snapshot on; if the allocation comes
    # back higher than base+1, another writer committed in between and
    # the statement raises ConcurrentWriteConflict BEFORE writing
    # anything, instead of silently losing the concurrent update.
    #
    # Out of scope, documented: concurrent DDL on one table, and
    # maintenance ops (OPTIMIZE/COMPACT/RESTORE swap the directory)
    # concurrent with writers — those need exclusive table access.

    def _commits_path(self, spec: TableSpec) -> str:
        return os.path.join(self.table_path(spec), "_commits.json")

    def _commit_dir(self, spec: TableSpec) -> str:
        return os.path.join(self.table_path(spec), _COMMIT_DIR)

    def _legacy_commits(self, spec: TableSpec) -> Dict[int, float]:
        import json

        try:
            with open(self._commits_path(spec)) as fh:
                return {int(k): float(v) for k, v in json.load(fh).items()}
        except (OSError, ValueError):
            return {}

    #: fold the per-seq commit files into one immutable rollup once the
    #: directory holds this many — bounds commit-dir growth between
    #: compactions WITHOUT exclusive access (see _maybe_fold_commits)
    COMMIT_FOLD_THRESHOLD = 256

    def _rollup_files(self, spec: TableSpec):
        try:
            entries = os.listdir(self._commit_dir(spec))
        except OSError:
            return []
        return sorted(
            os.path.join(self._commit_dir(spec), f)
            for f in entries
            if f.startswith("rollup-") and f.endswith(".json")
        )

    def _load_rollups(self, spec: TableSpec) -> Dict[int, float]:
        import json

        out: Dict[int, float] = {}
        for path in self._rollup_files(spec):
            try:
                with open(path) as fh:
                    out.update(
                        {int(k): float(v) for k, v in json.load(fh).items()}
                    )
            except Exception:
                pass
        return out

    def _commit_dir_entries(self, spec: TableSpec) -> Dict[int, Optional[float]]:
        """{seq: commit epoch | None-if-still-inflight} from the per-seq
        commit directory (rollup files included).  Inflight reservations
        count as TAKEN (their seq may be stamped into data files right
        now) but have no timestamp until finalized."""
        import json

        out: Dict[int, Optional[float]] = {}
        # through the seam: inflight reservations may live only in the
        # locking backend's namespace (LocalFS lists the dir either way)
        entries = self.locking.list_names(self._commit_dir(spec))
        if not entries:
            return out
        rollups = False
        for f in entries:
            stem, _, ext = f.partition(".")
            if f.startswith("rollup-"):
                rollups = True
                continue
            if not stem.isdigit():
                continue
            n = int(stem)
            if ext == "json":
                try:
                    with open(os.path.join(self._commit_dir(spec), f)) as fh:
                        out[n] = float(json.load(fh)["ts"])
                except Exception:
                    out.setdefault(n, None)
            elif ext == "inflight":
                out.setdefault(n, None)
        if rollups:
            for n, ts in self._load_rollups(spec).items():
                out.setdefault(n, ts)
        return out

    def _maybe_fold_commits(self, spec: TableSpec) -> None:
        """Bound the commit directory WITHOUT exclusive access: past
        COMMIT_FOLD_THRESHOLD finalized files, merge every finalized
        seq into one immutable ``rollup-<maxseq>.json`` created with
        O_CREAT|O_EXCL — exactly one concurrent folder wins — and only
        then delete the per-seq files it covers (a reader that lists
        before the delete still finds them; one that lists after finds
        the rollup).  Inflight reservations are never folded.  Best
        effort like the rest of the commit bookkeeping."""
        import json

        try:
            d = self._commit_dir(spec)
            finalized = [
                f
                for f in os.listdir(d)
                if f.partition(".")[0].isdigit() and f.endswith(".json")
            ]
            if len(finalized) < self.COMMIT_FOLD_THRESHOLD:
                return
            seqs = {
                int(f.partition(".")[0]): os.path.join(d, f)
                for f in finalized
            }
            max_seq = max(seqs)
            merged = self._load_rollups(spec)
            for n, path in seqs.items():
                try:
                    with open(path) as fh:
                        merged[n] = float(json.load(fh)["ts"])
                except Exception:
                    return  # unreadable commit: do not fold it away
            rollup = os.path.join(d, f"rollup-{max_seq:010d}.json")
            tmp = f"{rollup}.{os.getpid()}.tmp"
            with open(tmp, "w") as fh:
                json.dump({str(k): v for k, v in merged.items()}, fh)
            try:
                os.link(tmp, rollup)  # atomic create: one winner
            except FileExistsError:
                os.unlink(tmp)
                return
            os.unlink(tmp)
            for n, path in seqs.items():
                try:
                    os.unlink(path)
                except OSError:
                    pass
            # older rollups stay: a concurrent folder may have built its
            # view from them, and deleting here could race away commit
            # stamps.  Maintenance ops (_save_commits, exclusive access)
            # absorb and clear them.
        except Exception:
            pass

    def _commit_dir_max(self, spec: TableSpec) -> int:
        """Highest seq named in the commit dir (inflight and rollup
        files included) — names only, no file opens (the allocation hot
        path; rollup names carry their covered max seq).  Listed
        through the locking seam: inflight reservations may exist only
        in the backend's namespace."""
        entries = self.locking.list_names(self._commit_dir(spec))
        if not entries:
            return 0
        best = 0
        for f in entries:
            stem = f.partition(".")[0]
            if stem.startswith("rollup-"):
                stem = stem[len("rollup-"):]
            if stem.isdigit():
                n = int(stem)
                if n > best:
                    best = n
        return best

    def _load_commits(self, spec: TableSpec) -> Dict[int, float]:
        commits = self._legacy_commits(spec)
        commits.update(
            {
                n: ts
                for n, ts in self._commit_dir_entries(spec).items()
                if ts is not None
            }
        )
        return commits

    def _committed_seq(self, spec: TableSpec) -> int:
        """The highest COMMITTED statement seq visible from any session
        (log recovery + legacy commit map + finalized per-seq files;
        inflight reservations excluded — their data may not have landed
        yet, so a consumer anchoring on one could skip changes)."""
        disk = max(
            (
                n
                for n, ts in self._commit_dir_entries(spec).items()
                if ts is not None
            ),
            default=0,
        )
        legacy = max(self._legacy_commits(spec), default=0)
        return max(self._current_seq(spec), legacy, disk)

    def _latest_seq(self, spec: TableSpec) -> int:
        """The highest statement seq visible anywhere: this session's
        counter / log recovery, the legacy commit map, and the per-seq
        commit dir (inflight reservations included) — the snapshot base
        read-modify-write statements validate their commit against."""
        disk = self._commit_dir_max(spec)
        legacy = max(self._legacy_commits(spec), default=0)
        return max(self._current_seq(spec), legacy, disk)

    def _reserve_seqs(
        self,
        spec: TableSpec,
        count: int = 1,
        expect_base: Optional[int] = None,
    ) -> List[int]:
        """Allocate ``count`` contiguous statement seqs by atomic
        reservation-file create with retry.  With ``expect_base`` given,
        raise ConcurrentWriteConflict if the allocation would not start
        at ``expect_base + 1`` — i.e. another writer committed since the
        caller read its snapshot.  Nothing is written to the data log
        here, so a conflict aborts the statement cleanly."""
        key = spec.qualified_name
        d = self._commit_dir(spec)
        # No makedirs here: creating the commit dir BEFORE the marker
        # check below could recreate the table root mid-_swap_dir (the
        # swap's second rename then fails ENOTEMPTY and the table is
        # stranded at path+'.old').  The in-loop makedirs — which runs
        # only after _wait_marker_clear — covers recreation.
        base = self._current_seq(spec)
        legacy = max(self._legacy_commits(spec), default=0)
        marker = self._maint_marker_path(spec)
        while True:
            # OPTIMIZE/COMPACT exclusion (see the maintenance section):
            # don't allocate while a foreign maintenance marker is up
            self._wait_marker_clear(marker)
            # a completed swap leaves the fresh table dir without
            # _commits/ — recreate it only AFTER the marker check (a
            # makedirs during the swap's brief dir-absent window would
            # recreate the table root and fail the swap's second rename)
            os.makedirs(d, exist_ok=True)
            disk = self._commit_dir_max(spec)
            start = max(base, legacy, disk) + 1
            if expect_base is not None and start != expect_base + 1:
                raise ConcurrentWriteConflict(
                    f"concurrent write to {spec.qualified_name}: statement "
                    f"read state as of seq {expect_base} but seq "
                    f"{start - 1} has been committed since; nothing was "
                    f"written — re-run the statement"
                )
            got: List[int] = []
            for n in range(start, start + count):
                try:
                    # owner pid recorded so stale-reaping can verify
                    # liveness instead of trusting mtime alone (a write
                    # job legitimately running past MAINT_STALE_SECS
                    # must not get its reservation reaped mid-flight)
                    if not self.locking.put_if_absent(
                        os.path.join(d, f"{n:010d}.inflight"),
                        str(os.getpid()).encode(),
                    ):
                        break
                    got.append(n)
                except FileNotFoundError:
                    # the commit dir is briefly absent mid-dir-swap (we
                    # raced past the marker check by microseconds): do
                    # NOT recreate it here — a makedirs between the
                    # swap's two renames would make the second rename
                    # fail ENOTEMPTY.  Loop back to the marker wait.
                    import time as _time

                    _time.sleep(0.01)
                    break
            if len(got) == count:
                # Dekker re-check: our reservation files exist, so a
                # maintenance session that grabbed its marker BEFORE we
                # created them will now see them and wait for us; if the
                # marker landed FIRST, we must be the one to yield —
                # release and re-wait (nothing was written yet).
                if self._marker_up(marker):
                    self._release_seqs(spec, got)
                    base = self._current_seq(spec)
                    continue
                self._seq[key] = got[-1]
                return got
            self._release_seqs(spec, got)  # lost the race mid-range: retry
            base = start + len(got)

    def _release_seqs(
        self, spec: TableSpec, seqs: List[int], branch: Optional[str] = None
    ) -> None:
        """Drop unused reservations (a statement aborted between reserve
        and append) from the main or the branch commit dir — the seqs
        become gaps another writer may not reuse this instant but the
        history stays monotone either way.  A seq already recorded has
        no reservation left, so releasing it again deletes nothing."""
        d = (
            self._branch_commit_dir(spec, branch)
            if branch is not None
            else self._commit_dir(spec)
        )
        for n in seqs:
            self.locking.delete(os.path.join(d, f"{int(n):010d}.inflight"))

    # -- maintenance exclusion (r7) ---------------------------------------
    #
    # OPTIMIZE / COMPACT / auto-compaction replace the table directory
    # (_swap_dir).  A writer planning against the pre-swap file listing
    # mid-swap would read vanished files, and a compaction that misses a
    # concurrent append would lose rows.  The reference never faces this
    # (the Fluss server owns storage, src/provider.rs:418); a shared
    # file-backed warehouse must.  Protocol (same O_EXCL put-if-absent
    # family as _reserve_seqs):
    #
    #   maintenance: CREATE ``maintenance.inflight`` marker (one winner)
    #                -> wait for every writer reservation to drain
    #                -> rewrite + swap -> release marker.
    #   writers:     CREATE ``<seq>.inflight`` reservation
    #                -> re-check the marker; if present, release the
    #                   reservation and wait for the marker to clear.
    #
    # Both sides create-their-file-then-check-the-other (store-then-load,
    # Dekker's ordering on a shared filesystem): whichever file lands
    # second, its owner sees the other side's file and yields — there is
    # no interleaving where a writer appends against a mid-swap listing.
    # Crash safety: a marker (or reservation) whose mtime is older than
    # MAINT_STALE_SECS is reaped as abandoned — but ONLY if its creator
    # process is provably gone.  Both file kinds record the owner pid at
    # create time; _owner_alive checks it (same-host semantics, which is
    # what a local-fs warehouse has).  A compaction or append job that
    # legitimately runs past the stale window therefore keeps its
    # marker/reservation — age alone never reaps a live owner's file.
    #
    # The maintenance marker, the branch publish marker and the spec
    # lock are one primitive, _marker_lock: put-if-absent acquire,
    # stale reap, a heartbeat for the whole hold, and (maintenance,
    # publish) the drain of the reservations the marker excludes.

    MAINT_MARKER = "maintenance.inflight"
    MAINT_STALE_SECS = 600.0
    MAINT_WAIT_SECS = 60.0
    # Heartbeat period for every held marker: on backends where owner
    # liveness is unknowable (object stores), staleness alone reaps —
    # so the holder must keep its marker's mtime fresh.  5x headroom
    # inside the stale window tolerates several missed beats.
    PUBLISH_HEARTBEAT_SECS = MAINT_STALE_SECS / 5.0

    def _maint_marker_path(self, spec: TableSpec) -> str:
        # SIBLING of the table directory, not inside it: the swap
        # renames the whole table dir aside, and a marker stored within
        # would vanish mid-maintenance — unblocking writers while
        # _save_spec/_save_commits/manifest-rebuild are still running
        # (and leaving a window where _commits/ itself doesn't exist).
        # The dot prefix keeps it out of Spark's listings.
        path = self.table_path(spec)
        return os.path.join(
            os.path.dirname(path),
            f".{os.path.basename(path)}.{self.MAINT_MARKER}",
        )

    def _owner_alive(self, path: str):
        """Best-effort liveness of the process that created a marker or
        reservation file (the file records its creator's pid — plain int
        for reservations, ``{"pid": …}`` JSON for markers).  Returns
        True (alive), False (provably dead), or None (unknown: empty /
        unreadable / pre-liveness layout, or a backend without host
        liveness — object stores return None from ``owner_alive`` and
        rely on heartbeat mtimes instead)."""
        import json

        raw_bytes = self.locking.read(path)
        if raw_bytes is None:
            return None
        raw = raw_bytes.decode("utf-8", "replace").strip()
        if not raw:
            return None
        try:
            pid = (
                int(json.loads(raw).get("pid"))
                if raw.startswith("{")
                else int(raw)
            )
        except Exception:
            return None
        return self.locking.owner_alive(pid)

    def _marker_up(self, marker: str) -> bool:
        """True iff a marker this session does not hold is up at
        ``marker``.  A marker older than MAINT_STALE_SECS whose owner is
        not provably alive is reaped (crashed holder) and does not
        count; age alone never reaps a live owner's marker."""
        import json
        import time

        mtime = self.locking.stat_mtime(marker)
        if mtime is None:
            return False
        held = self._held_markers.get(marker)
        if held is not None:
            try:
                raw = self.locking.read(marker)
                if raw is not None and json.loads(raw).get("token") == held[0]:
                    return False
            except Exception:
                pass
        if time.time() - mtime > self.MAINT_STALE_SECS:
            if self._owner_alive(marker) is True:
                # a long-running but live holder (big compaction): age
                # alone must not unblock writers under its swap
                return True
            self.locking.delete(marker)  # crashed holder: reap
            return False
        return True

    def _wait_marker_clear(self, marker: str) -> None:
        """Writer side: block until no foreign marker is up at
        ``marker`` (bounded; marker windows are seconds)."""
        import time

        deadline = time.time() + self.MAINT_WAIT_SECS
        while self._marker_up(marker):
            if time.time() > deadline:
                raise ConcurrentWriteConflict(
                    f"another session's {os.path.basename(marker)} marker "
                    f"has been up for over {self.MAINT_WAIT_SECS:.0f}s; "
                    f"nothing was written — re-run the statement"
                )
            time.sleep(0.02)

    @contextlib.contextmanager
    def _marker_lock(
        self,
        marker: str,
        what: str,
        drain_dir: Optional[str] = None,
        reentrant: bool = False,
    ):
        """Hold the marker at ``marker`` exclusively; ``what`` names the
        guarded operation in conflict errors.

        Acquire by put-if-absent of ``{"token", "pid", "ts"}``, reaping
        a crashed holder's marker (_marker_up), until MAINT_WAIT_SECS
        runs out — the deadline is checked first, so a marker that
        other sessions keep re-taking cannot spin a waiter forever.
        While held, a heartbeat thread touches the marker every
        PUBLISH_HEARTBEAT_SECS, so a hold that outlives MAINT_STALE_SECS
        on a liveness-unknown backend is never reaped.  With
        ``drain_dir``, wait for the fresh or live-owner ``<seq>.inflight``
        reservations in it to finalize before yielding (writers that
        reserve after the marker landed see it and yield).

        A second acquire by this session raises ConcurrentWriteConflict,
        except with ``reentrant``: the holding thread re-enters (the
        context yields False instead of True) and another thread of
        this session contends like any other session."""
        import json
        import threading
        import time
        import uuid

        me = threading.get_ident()
        held = self._held_markers.get(marker)
        if reentrant and held is not None and held[1] == me:
            yield False  # the outer hold releases
            return
        if drain_dir is not None:
            os.makedirs(drain_dir, exist_ok=True)
        token = uuid.uuid4().hex
        payload = json.dumps(
            {"token": token, "pid": os.getpid(), "ts": time.time()}
        ).encode()
        deadline = time.time() + self.MAINT_WAIT_SECS
        while not self.locking.put_if_absent(marker, payload):
            if time.time() > deadline:
                raise ConcurrentWriteConflict(
                    f"{what} is in progress in another session; retry "
                    f"the statement"
                )
            if self._marker_up(marker):
                time.sleep(0.02)
            elif marker in self._held_markers:
                if not reentrant:
                    raise ConcurrentWriteConflict(
                        f"{what} is already in progress in this session"
                    )
                time.sleep(0.02)  # another thread of this session holds it
            # else released or reaped since the put: retry at once
        self._held_markers[marker] = (token, me)
        stop_beat = threading.Event()
        beater = None
        touch = getattr(self.locking, "touch", None)
        if touch is not None:

            def _beat():
                while not stop_beat.wait(self.PUBLISH_HEARTBEAT_SECS):
                    try:
                        touch(marker)
                    except Exception:
                        pass  # transient storage error: next beat retries

            beater = threading.Thread(
                target=_beat,
                daemon=True,
                name=f"heartbeat-{os.path.basename(marker)}",
            )
            beater.start()
        try:
            drain_deadline = time.time() + self.MAINT_WAIT_SECS
            while drain_dir is not None:
                pending = []
                now = time.time()
                for f in self.locking.list_names(drain_dir):
                    stem, _, ext = f.partition(".")
                    if not (stem.isdigit() and ext == "inflight"):
                        continue
                    res = os.path.join(drain_dir, f)
                    mt = self.locking.stat_mtime(res)
                    if mt is None:
                        continue  # finalized between list and stat
                    if now - mt <= self.MAINT_STALE_SECS:
                        pending.append(f)
                    elif self._owner_alive(res) is True:
                        # a write legitimately running past the stale
                        # window: going ahead under it would drop its
                        # rows — keep waiting on it
                        pending.append(f)
                if not pending:
                    break
                if time.time() > drain_deadline:
                    raise ConcurrentWriteConflict(
                        f"writer reservations {sorted(pending)} did not "
                        f"finalize; {what} aborted cleanly"
                    )
                time.sleep(0.02)
            yield True
        finally:
            self._held_markers.pop(marker, None)
            stop_beat.set()
            if beater is not None:
                beater.join(timeout=1.0)
            self.locking.delete(marker)

    def _maintenance_lock(self, spec: TableSpec):
        """Exclusive maintenance window: acquire the marker, then wait
        for in-flight writer reservations to drain.  Raises
        ConcurrentWriteConflict (taking nothing) if another maintenance
        holds the marker past the deadline or a reservation never
        drains."""
        return self._marker_lock(
            self._maint_marker_path(spec),
            f"maintenance (OPTIMIZE/COMPACT) on {spec.qualified_name}",
            drain_dir=self._commit_dir(spec),
        )

    def _record_commit(
        self,
        spec: TableSpec,
        seq: int,
        ts: Optional[float] = None,
        branch: Optional[str] = None,
    ) -> None:
        """Finalize a reserved seq in the main (or ``branch``'s) commit
        dir: write the per-seq commit file with the wall-clock commit
        time (epoch seconds) and drop the reservation.  Best effort like
        the stats harvest: a failure must not fail the write — an
        unfinalized reservation still counts as a taken seq, it just has
        no timestamp anchor.  Only the main dir is folded.

        ``ts``: carry an earlier commit time instead of now — fast_forward
        publishes branch statements under their ORIGINAL commit stamps so
        TIMESTAMP AS OF keeps answering about when the write happened."""
        import json
        import time

        try:
            d = (
                self._branch_commit_dir(spec, branch)
                if branch is not None
                else self._commit_dir(spec)
            )
            os.makedirs(d, exist_ok=True)
            final = os.path.join(d, f"{int(seq):010d}.json")
            tmp = f"{final}.{os.getpid()}.tmp"
            with open(tmp, "w") as fh:
                json.dump({"ts": time.time() if ts is None else float(ts)}, fh)
            os.replace(tmp, final)
            # through the seam: the reservation may live only in the
            # locking backend's namespace
            self.locking.delete(
                os.path.join(d, f"{int(seq):010d}.inflight")
            )
            if branch is None:
                self._maybe_fold_commits(spec)
        except Exception:
            pass

    def _save_commits(self, spec: TableSpec, commits: Dict[int, float]) -> None:
        """Write the whole seq↔time map as the compacted legacy JSON and
        clear any per-seq commit files it absorbs.  Only called from
        maintenance ops that swap the table directory (exclusive-access
        contexts); the concurrent write path never rewrites this map."""
        import json

        try:
            if not commits:
                return
            path = self._commits_path(spec)
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "w") as fh:
                json.dump(commits, fh)
            os.replace(tmp, path)
            d = self._commit_dir(spec)
            if os.path.isdir(d):
                max_saved = max(commits)
                for f in os.listdir(d):
                    stem, _, ext = f.partition(".")
                    absorbed = (
                        stem.isdigit()
                        and ext in ("json", "inflight")
                        and int(stem) in commits
                    ) or (
                        stem.startswith("rollup-")
                        and stem[len("rollup-"):].isdigit()
                        and int(stem[len("rollup-"):]) <= max_saved
                    )
                    if absorbed:
                        # seam delete: covers lock-namespace inflights
                        # and on-disk commit records alike
                        self.locking.delete(os.path.join(d, f))
        except Exception:
            pass

    def resolve_timestamp(self, name: str, ts) -> int:
        """Resolve a wall-clock timestamp to the statement seq in effect
        at that moment: the highest seq committed at or before ``ts``
        (datetime, ISO string — naive strings read as UTC — or epoch
        seconds).  Raises if ``ts`` precedes the table's first recorded
        commit, mirroring Delta's TIMESTAMP AS OF contract."""
        import datetime as _dt

        if isinstance(ts, str):
            parsed = _dt.datetime.fromisoformat(ts)
            if parsed.tzinfo is None:
                parsed = parsed.replace(tzinfo=_dt.timezone.utc)
            epoch = parsed.timestamp()
        elif isinstance(ts, _dt.datetime):
            parsed = ts if ts.tzinfo else ts.replace(tzinfo=_dt.timezone.utc)
            epoch = parsed.timestamp()
        else:
            epoch = float(ts)
        spec = self.get_table(name)
        commits = self._load_commits(spec)
        eligible = [s for s, t in commits.items() if t <= epoch]
        if not eligible:
            raise ValueError(
                f"no commit of {spec.qualified_name} at or before {ts!r}"
                + (" (table has no recorded commits)" if not commits else "")
            )
        return max(eligible)

    def read(
        self,
        name: str,
        as_of_seq: Optional[int] = None,
        as_of_ts=None,
        predicate: Optional[str] = None,
        branch: Optional[str] = None,
    ) -> DataFrame:
        """Snapshot read.  For PK tables: merged (upserted) current state.

        This is the analog of FlussScanExec's read-to-latest-offset snapshot
        (src/provider.rs:336-345): a batch read of files present now.
        Unlike the reference we do NOT require a LIMIT (documented
        divergence, SURVEY.md §2 quirk 1).

        ``as_of_seq`` (PK tables only) time-travels: the state as of
        statement sequence N — the log's ``__seq__`` stamps ARE offsets,
        so a historical snapshot is just a filter below the merge.
        ``as_of_ts`` is the wall-clock form (Delta's TIMESTAMP AS OF):
        resolved to the highest seq committed at or before it via the
        per-statement commit stamps in ``_commits.json``, then follows
        the same path (incl. the compaction-floor refusal).

        ``predicate`` (SQL boolean expression over the table's columns)
        is a *skipping scan*: simple comparisons prune whole files via
        the footer-stats manifest BEFORE ``spark.read`` (the cash-in for
        ``OPTIMIZE ... ZORDER BY`` — see catalog/skipping.py, including
        the PK-column soundness rule), and the full predicate is then
        applied as a normal row filter, so the result is always exactly
        ``read(name).filter(predicate)``.
        """
        spec = self.get_table(name)
        if branch is not None:
            # API symmetry with insert/delete_where/update_rows/merge_into:
            # read(name, branch=b) is the branch overlay (read_branch)
            if as_of_seq is not None or as_of_ts is not None:
                raise ValueError(
                    "time travel within a branch is not supported; "
                    "pass branch alone"
                )
            return self.read_branch(name, branch, predicate=predicate)
        if as_of_ts is not None:
            if as_of_seq is not None:
                raise ValueError("pass as_of_seq or as_of_ts, not both")
            as_of_seq = self.resolve_timestamp(name, as_of_ts)
        if as_of_seq is None:
            log = self._log_df(spec, prune_predicate=predicate)
        else:
            if not spec.has_primary_key:
                raise ValueError("as_of_seq requires a primary-key table")
            floor = self._floor.get(spec.qualified_name, 0)
            if as_of_seq < floor:
                raise ValueError(
                    f"history before seq {floor} was discarded by compaction; "
                    f"cannot time-travel to seq {as_of_seq}"
                )
            log = self._log_df(spec, prune_predicate=predicate).filter(
                F.col(_SEQ) <= F.lit(int(as_of_seq))
            )
        out = self._merge_log(spec, log)
        if predicate is not None:
            out = out.filter(F.expr(predicate))
        if as_of_seq is None:
            # ANALYZE cash-in: hint-broadcast a merge-on-read snapshot
            # whose LIVE size (per fresh stats) fits under the broadcast
            # threshold even though its raw file bytes don't — Catalyst
            # only sees the file bytes (catalog/stats.py).
            from fluss_datafusion_spark.catalog import stats as _stats

            out = _stats.broadcast_hint_if_small(self, spec, out)
        return out

    def current_seq(self, name: str) -> int:
        """Latest statement sequence for a PK table (time-travel anchor)."""
        return self._seq.get(self.get_table(name).qualified_name, 0)

    def read_changelog(
        self, name: str, require_full_history: bool = False
    ) -> DataFrame:
        """Change stream of a PK table: one row per change with
        ``op`` ∈ {+I, -U, +U} — Fluss's changelog duality (a PK table IS
        a compacted changelog; the reference exposes only the snapshot
        side, src/provider.rs:336-353, so this exceeds it).

        Per key in ``(__seq__, __sub__)`` order: the first write emits
        +I(new row); every overwrite emits -U(old row) then +U(new row);
        a tombstone (DELETE) emits -D carrying the deleted image, and a
        re-insert after a delete emits +I again.  Deletes of absent keys
        emit nothing.  ``change_seq``/``change_sub`` stamp each change
        with the statement that produced it (-U/-D carry the stamps of
        the write that retracted them, matching Fluss: retraction and
        new image ship in the same commit).

        One window pass + one explode — a single hash shuffle on the PK,
        no self-join, so the changelog derivation scales exactly like the
        merge-on-read view itself.

        **After ``compact()``** the log physically retains only each
        key's surviving image (original stamps kept), so the stream is a
        *snapshot + incremental* changelog — the standard semantics of
        subscribing to a compacted topic from the earliest retained
        offset: keys last written before the compaction floor appear as
        one +I carrying their surviving image (their -U/+U/-D history is
        gone — that is what compaction means), and every post-compaction
        write still yields exact -U/+U/-D transitions.  Callers that
        need the full history must read the changelog before compacting
        (``require_full_history=True`` makes that contract explicit by
        raising once history has been discarded).
        """
        spec = self.get_table(name)
        if require_full_history and self._floor.get(spec.qualified_name, 0) > 0:
            raise ValueError(
                f"history before seq {self._floor[spec.qualified_name]} was "
                f"discarded by compaction; the changelog of "
                f"{spec.qualified_name} is now snapshot+incremental "
                f"(call with require_full_history=False to accept it)"
            )
        if not spec.has_primary_key:
            raise ValueError(
                f"changelog requires a primary-key table; "
                f"{spec.qualified_name} is a log table (its changelog is "
                f"the table itself: every row is +I)"
            )
        log = self._log_df(spec)
        data_cols = spec.spark_schema().fieldNames()
        # Plan built as ONE generated SQL statement over a templated
        # {log} reference (r8): the per-column struct/lag/when/explode
        # chain used to cost ~200 py4j round-trips per derivation —
        # q66-class n-ary refreshes run it up to 6 times per statement.
        # spark.sql() ships the whole plan in ONE round-trip; semantics
        # are identical (same window, same case rules, same explode).
        bt = lambda c: "`" + c.replace("`", "``") + "`"  # noqa: E731
        cols = ", ".join(bt(c) for c in data_cols)
        pk = ", ".join(bt(k) for k in spec.primary_key)
        over = f"OVER (PARTITION BY {pk} ORDER BY {_SEQ} ASC, {_SUB} ASC)"
        cur_del = (
            f"coalesce({_DEL}, false)" if _DEL in log.columns else "false"
        )
        out_cols = ", ".join(f"__c__.row.{bt(c)} AS {bt(c)}" for c in data_cols)
        # prev "live" = a previous write exists and it wasn't a tombstone;
        # entries that apply to no case stay NULL and are filtered after
        # the explode (a typed empty array is harder to construct).
        # Window exprs are materialized before the generator: Spark
        # rejects window functions inside explode().
        q = f"""
        SELECT __c__.op AS op, change_seq, change_sub, {out_cols}
        FROM (
            SELECT change_seq, change_sub,
                   explode(array(
                       CASE
                           WHEN NOT __live__ AND NOT __cd__
                               THEN named_struct('op', '+I', 'row', __cur__)
                           WHEN __live__ AND __cd__
                               THEN named_struct('op', '-D', 'row', __prev__)
                           WHEN __live__ AND NOT __cd__
                               THEN named_struct('op', '-U', 'row', __prev__)
                       END,
                       CASE WHEN __live__ AND NOT __cd__
                           THEN named_struct('op', '+U', 'row', __cur__)
                       END
                   )) AS __c__
            FROM (
                SELECT {_SEQ} AS change_seq, {_SUB} AS change_sub,
                       __cur__, __prev__, __cd__,
                       (__prev__ IS NOT NULL AND NOT __pd__) AS __live__
                FROM (
                    SELECT *, struct({cols}) AS __cur__,
                           lag(struct({cols})) {over} AS __prev__,
                           {cur_del} AS __cd__,
                           coalesce(lag({cur_del}) {over}, false) AS __pd__
                    FROM {{log}}
                )
            )
        )
        WHERE __c__ IS NOT NULL
        """
        return self.spark.sql(q, log=log)

    def read_changes(
        self, name: str, from_seq: int, to_seq: Optional[int] = None
    ) -> DataFrame:
        """Bounded incremental changelog: exactly the changes produced
        by statements ``from_seq+1 .. to_seq`` (default: latest) — the
        Delta CDF ``table_changes`` / Fluss subscribe-from-offset
        analog, and the API an incremental consumer uses to catch up
        from its last checkpoint without replaying history.

        Same shape as ``read_changelog`` (op ∈ +I/-U/+U/-D, change_seq/
        change_sub stamps).  Correctness is a pure filter on the full
        derivation: every change row is stamped with the statement that
        produced it, and the window lag only looks BACKWARD, so -U/-D
        pre-images of in-range statements are exact even though they
        reference earlier state.  ``from_seq`` below the compaction
        floor raises — those statements' changes were discarded, so a
        consumer checkpointed before the floor cannot catch up exactly
        (it must re-read the snapshot instead; the same contract as
        ``read(as_of_seq=...)``).
        """
        spec = self.get_table(name)
        if not spec.has_primary_key:
            raise ValueError(
                f"read_changes requires a primary-key table; "
                f"{spec.qualified_name} is a log table"
            )
        floor = self._floor.get(spec.qualified_name, 0)
        if from_seq < floor:
            raise ValueError(
                f"history before seq {floor} was discarded by compaction; "
                f"cannot read changes from seq {from_seq} — re-read the "
                f"snapshot and checkpoint from current_seq instead"
            )
        if to_seq is not None and to_seq < from_seq:
            raise ValueError(f"to_seq {to_seq} < from_seq {from_seq}")
        out = self.read_changelog(name).filter(
            F.col("change_seq") > F.lit(int(from_seq))
        )
        if to_seq is not None:
            out = out.filter(F.col("change_seq") <= F.lit(int(to_seq)))
        return out

    def lookup(self, name: str, key_value) -> DataFrame:
        """PK point lookup: 0-or-1-row result (FlussLookupExec,
        src/provider.rs:257-321).  Expressed as a filter so Catalyst
        pushes the predicate into the parquet scan (min/max + dictionary
        pruning gives the point-read behavior on files).

        Single-column PKs take a scalar; composite PKs take a dict
        {column: value} covering every key column — exceeding the
        reference, which always falls back to a scan for composite PKs
        (src/provider.rs:144-146).
        """
        spec = self.get_table(name)
        if not spec.has_primary_key:
            raise ValueError(
                f"point lookup requires a primary-key table; "
                f"{spec.qualified_name} is a log table"
            )
        if isinstance(key_value, dict):
            missing = set(spec.primary_key) - set(key_value)
            extra = set(key_value) - set(spec.primary_key)
            if missing or extra:
                raise ValueError(
                    f"composite lookup key must cover exactly {spec.primary_key};"
                    f" missing={sorted(missing)} extra={sorted(extra)}"
                )
            key = dict(key_value)
        elif len(spec.primary_key) == 1:
            key = {spec.primary_key[0]: key_value}
        else:
            raise ValueError(
                f"composite primary key {spec.primary_key} requires a dict key; "
                f"got scalar {key_value!r}"
            )
        # Filter the LOG below the dedup window (a post-window filter on
        # __bkt__ would not push past the window boundary).
        log = self._log_df(spec)
        for col, val in key.items():
            log = log.filter(F.col(col) == F.lit(val))
        if spec.num_buckets and spec.bucket_keys and set(spec.bucket_keys) <= set(key):
            # Bucket pruning: the key's bucket id is a literal at plan
            # time, and __bkt__ is a Hive partition directory — the scan
            # reads exactly ONE bucket's files (PartitionFilters), the
            # file-level analog of FlussLookupExec's single-KV read.
            key_lits = [
                F.lit(key[k]).cast(spec.column(k).spark_type)
                for k in spec.bucket_keys
            ]
            log = log.filter(F.col(_BKT) == bucket_id_expr(spec, *key_lits))
        return self._merge_log(spec, log)

    def _log_df(
        self, spec: TableSpec, prune_predicate: Optional[str] = None
    ) -> DataFrame:
        path = self.table_path(spec)
        if not _has_data(path):
            return self.spark.createDataFrame(
                [], self._stored_schema(spec, physical=False)
            )
        if prune_predicate:
            # File skipping: drop files whose footer min/max prove the
            # predicate can't match.  PK tables restrict pruning to PK
            # columns (merge-on-read must see every version of a key —
            # skipping.py documents why); files unknown to the manifest
            # are kept.  basePath keeps Hive partition-dir columns
            # (partition keys, __bkt__) populated for an explicit list.
            allowed = list(spec.primary_key) if spec.has_primary_key else None
            rename_map = {
                c.name: c.physical_name
                for c in spec.columns
                if c.physical_name and c.physical_name != c.name
            }
            # Chunk-store tables (r7): NO driver-side file enumeration.
            # The distributed manifest scan returns only the EXCLUDED
            # relative names; Spark gets the table DIRECTORY plus a
            # pushed _metadata.file_path NOT-IN filter — FileSourceStrategy
            # extracts metadata-only predicates and prunes whole files at
            # listing (verified: the scan's numFiles metric drops), so at
            # millions of files the driver never allocates the path list.
            excl = skipping.excluded_relpaths(
                self.spark, path, prune_predicate, allowed,
                rename_map=rename_map,
            )
            if excl is not None:
                reader = (
                    self.spark.read.schema(self._stored_schema(spec))
                    .option("basePath", path)
                    .parquet(path)
                )
                if isinstance(excl, DataFrame):
                    # capped contract (r8): the excluded side is too big
                    # for an In-literal (O(n) driver memory, plan bloat)
                    # — anti-join it distributed.  File opens are not
                    # listing-pruned in this regime, but the names never
                    # touch the driver; AQE broadcasts or shuffles the
                    # manifest side by its actual size.
                    excl_uris = excl.select(
                        F.concat(
                            F.lit(f"file:{path}{os.sep}"), F.col("__rel__")
                        ).alias("__uri__")
                    )
                    reader = (
                        reader.select("*", "_metadata")
                        .join(
                            excl_uris,
                            F.col("_metadata.file_path")
                            == F.col("__uri__"),
                            "left_anti",
                        )
                        .drop("_metadata")
                    )
                elif excl:
                    uris = [
                        f"file:{os.path.join(path, rel)}"
                        for rel in sorted(excl)
                    ]
                    reader = (
                        reader.select("*", "_metadata")
                        .filter(~F.col("_metadata.file_path").isin(uris))
                        .drop("_metadata")
                    )
                return self._to_logical(spec, reader)
            files = sorted(_parquet_files(path))
            kept = skipping.prune(
                path,
                files,
                prune_predicate,
                allowed,
                rename_map=rename_map,
                spark=self.spark,
            )
            if len(kept) < len(files):
                if not kept:
                    return self.spark.createDataFrame(
                        [], self._stored_schema(spec, physical=False)
                    )
                return self._to_logical(
                    spec,
                    self.spark.read.schema(self._stored_schema(spec))
                    .option("basePath", path)
                    .parquet(*kept),
                )
        return self._to_logical(
            spec, self.spark.read.schema(self._stored_schema(spec)).parquet(path)
        )

    def _stored_schema(self, spec: TableSpec, physical: bool = True):
        schema = spec.spark_schema(physical=physical)
        if spec.has_primary_key:
            # __del__ marks tombstones; files written before DELETE support
            # lack the column and read as null (= live) via parquet schema
            # evolution.
            from pyspark.sql.types import BooleanType

            schema = schema.add(_SEQ, "long").add(_SUB, "long").add(
                _DEL, BooleanType()
            )
        if spec.num_buckets and spec.bucket_keys:
            from pyspark.sql.types import IntegerType

            schema = schema.add(_BKT, IntegerType())
        return schema

    def _current_df(self, spec: TableSpec) -> DataFrame:
        return self._merge_log(spec, self._log_df(spec))

    def _merge_log(
        self, spec: TableSpec, df: DataFrame, keep_internal: bool = False
    ) -> DataFrame:
        """Upsert view over (a subset of) the log: last write per key
        wins.  One shuffle on the PK; internal columns dropped unless
        ``keep_internal`` (compaction preserves the original stamps).

        Built as ONE generated SQL statement over a templated {log}
        reference (r8): this plan fragment fronts EVERY read of every
        PK table, so its per-call py4j chatter multiplies across
        multi-statement lifecycles; spark.sql ships it in one
        round-trip.  Keys whose LATEST write is a tombstone are deleted
        (null __del__ = file predates DELETE support = live)."""
        internal = [] if keep_internal else [
            c for c in (_SEQ, _SUB, _BKT, _DEL) if c in df.columns
        ]
        if not spec.has_primary_key:
            return df.drop(*internal)
        bt = lambda c: "`" + c.replace("`", "``") + "`"  # noqa: E731
        pk = ", ".join(bt(k) for k in spec.primary_key)
        excl = ", ".join(bt(c) for c in ["__rn__"] + internal)
        tomb = (
            f"AND NOT coalesce({_DEL}, false)" if _DEL in df.columns else ""
        )
        q = f"""
        SELECT * EXCEPT ({excl}) FROM (
            SELECT *, row_number() OVER (
                PARTITION BY {pk} ORDER BY {_SEQ} DESC, {_SUB} DESC
            ) AS __rn__
            FROM {{log}}
        ) WHERE __rn__ = 1 {tomb}
        """
        return self.spark.sql(q, log=df)

    @staticmethod
    def _view_name(spec: TableSpec) -> str:
        """Spark temp views are not database-qualified, so every table
        gets a ``db__table`` view (the SQL rewriter maps ``db.table``
        references onto it); tables in the default database also get the
        bare name."""
        return f"{spec.database}__{spec.name}"

    def _register_view(self, spec: TableSpec) -> None:
        """Mark the table's temp views stale.  Spark temp views freeze
        the ANALYZED plan (file listing included), so every write makes
        the bound view a stale snapshot — but re-deriving the merged
        plan eagerly after EVERY append is ~0.1 s of py4j chatter that
        multi-statement lifecycles (MERGE, matview refresh) pay per
        statement for nothing.  The rebind is deferred to the next read
        boundary: ``refresh_views()`` runs at every session.sql entry
        (and anywhere else that resolves engine temp views)."""
        self._stale_views.add(spec.qualified_name)

    def _write_marker_path(self, spec: TableSpec) -> str:
        return os.path.join(self.table_path(spec), "_last_write")

    def _touch_write_marker(self, spec: TableSpec) -> None:
        """Bump the table's on-disk write marker — how OTHER sessions'
        lazy view refresh notices this session's writes.  Best effort."""
        try:
            path = self._write_marker_path(spec)
            with open(path, "a"):
                pass
            os.utime(path)
        except OSError:
            pass

    def _write_stamp(self, spec: TableSpec) -> int:
        try:
            return os.stat(self._write_marker_path(spec)).st_mtime_ns
        except OSError:
            return 0

    def refresh_views(self) -> None:
        """Re-bind the temp views of every table written since the last
        read boundary — by THIS session (the stale set) or by any other
        session sharing the warehouse (the on-disk write marker moved
        since this session bound the view) — then re-bind dependent
        logical views ONCE.  Cost when nothing changed: one set check
        plus one stat() per bound table."""
        self._discover_new_tables()
        stale = set(self._stale_views)
        self._stale_views.clear()
        for db_tables in self.databases.values():
            for spec in db_tables.values():
                qname = spec.qualified_name
                if qname in stale:
                    continue
                bound_at = self._view_bound_stamp.get(qname)
                if bound_at is not None and self._write_stamp(spec) != bound_at:
                    stale.add(qname)
        if not stale:
            return
        bound = False
        for qname in sorted(stale):
            db, _, table = qname.partition(".")
            spec = self.databases.get(db, {}).get(table)
            if spec is None:
                continue  # dropped before anything read it
            self._register_view_now(spec)
            bound = True
        if bound:
            # logical views froze their analyzed plans over the OLD
            # base bindings — re-derive them in definition order
            self._rebind_logical_views()

    def _discover_new_tables(self) -> None:
        """Attach tables OTHER sessions created since this session
        started (cross-session DDL visibility for plain SELECTs, which
        resolve via temp views and never hit get_table's late-attach).
        Gated on each database DIRECTORY's mtime — it moves exactly
        when a table dir is added or removed, so the steady-state cost
        is one stat() per database per read boundary, never a listing."""
        try:
            dbs = os.listdir(self.warehouse)
        except OSError:
            return
        for db in dbs:
            db_dir = os.path.join(self.warehouse, db)
            try:
                stamp = os.stat(db_dir).st_mtime_ns
            except OSError:
                continue
            if self._db_dir_stamp.get(db) == stamp:
                continue
            self._db_dir_stamp[db] = stamp
            if not os.path.isdir(db_dir):
                continue
            known = self.databases.get(db, {})
            try:
                present = set(os.listdir(db_dir))
            except OSError:
                continue
            for table in sorted(present):
                if table in known or table.endswith(
                    (".old", ".optimize", ".compact")
                ):
                    continue
                if (
                    self._try_attach(db, table) is None
                    and os.path.isdir(os.path.join(db_dir, table))
                ):
                    # caught another session between mkdir(<db>/<t>) and
                    # its _spec.json landing — the spec file's arrival
                    # moves only the TABLE dir's mtime, so our db-dir
                    # stamp would never re-trip (ADVICE r9).  Forget the
                    # stamp so the next boundary relists and retries; a
                    # permanently spec-less stray dir costs one listdir
                    # per boundary, bounded and harmless.
                    self._db_dir_stamp.pop(db, None)
            # cross-session DROP visibility: a known table whose dir
            # vanished was dropped elsewhere — detach it so its stale
            # view stops answering.  A maintenance dir-swap leaves the
            # table dir briefly absent, so never detach while that
            # table's .old sibling exists or a fresh maintenance marker
            # is up (the swap window); a wrongly-skipped detach just
            # waits for the next boundary.
            for table in sorted(set(known) - present):
                spec = known[table]
                if os.path.isdir(self.table_path(spec) + ".old"):
                    continue
                if self._marker_up(self._maint_marker_path(spec)):
                    continue
                known.pop(table)
                qname = spec.qualified_name
                self._stale_views.discard(qname)
                self._view_overrides.pop(qname, None)
                self._view_bound_stamp.pop(qname, None)
                self._spec_stamp.pop(qname, None)
                try:
                    self.spark.catalog.dropTempView(self._view_name(spec))
                    if db == self.default_database:
                        self.spark.catalog.dropTempView(table)
                except Exception:
                    pass

    def _register_view_now(self, spec: TableSpec) -> None:
        self._view_bound_stamp[spec.qualified_name] = self._write_stamp(spec)
        override = self._view_overrides.get(spec.qualified_name)
        if override is not None:
            override()
            return
        df = self._current_df(spec)
        df.createOrReplaceTempView(self._view_name(spec))
        if spec.database == self.default_database:
            df.createOrReplaceTempView(spec.name)

    # -- logical (non-materialized) views ------------------------------------
    #
    # CREATE VIEW name AS SELECT ... — a persisted SQL definition (one
    # ``_views.json`` per database), re-bound as a Spark temp view on
    # every base-table write (temp views freeze the analyzed plan, so a
    # definition bound once would silently serve stale snapshots).  The
    # standard relational surface the reference delegates to DataFusion's
    # session views; here views survive the session via the warehouse.

    def _views_path(self, db: str) -> str:
        return os.path.join(self.warehouse, db, "_views.json")

    def _load_view_defs(self, db: str) -> dict:
        import json

        try:
            with open(self._views_path(db)) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

    def _save_view_defs(self, db: str, views: dict) -> None:
        import json

        os.makedirs(os.path.join(self.warehouse, db), exist_ok=True)
        path = self._views_path(db)
        with open(path + ".tmp", "w") as fh:
            json.dump(views, fh)
        os.replace(path + ".tmp", path)

    def create_view(
        self, name: str, select_sql: str, or_replace: bool = False
    ) -> None:
        db, vname = self._resolve(name)
        if vname in self.databases.get(db, {}):
            raise ValueError(f"a table named {db}.{vname} already exists")
        views = self._load_view_defs(db)
        if vname in views and not or_replace:
            raise ValueError(
                f"view already exists: {db}.{vname} "
                "(use CREATE OR REPLACE VIEW)"
            )
        self.refresh_views()  # the definition resolves base temp views
        self.spark.sql(select_sql)  # validate eagerly
        views[vname] = select_sql
        self._save_view_defs(db, views)
        self.create_database(db)
        # full rebind: replacing a view must re-plan its dependents too
        self._rebind_logical_views()

    def drop_view(self, name: str, if_exists: bool = False) -> None:
        db, vname = self._resolve(name)
        views = self._load_view_defs(db)
        if vname not in views:
            if if_exists:
                return
            raise KeyError(f"view not found: {db}.{vname}")
        del views[vname]
        self._save_view_defs(db, views)
        self.spark.catalog.dropTempView(f"{db}__{vname}")
        if db == self.default_database:
            self.spark.catalog.dropTempView(vname)
        self._rebind_logical_views()  # dependents unbind loudly

    def has_view(self, name: str) -> bool:
        db, vname = self._resolve(name)
        return vname in self._load_view_defs(db)

    def list_views(self, database: Optional[str] = None) -> List[str]:
        return sorted(self._load_view_defs(database or self.default_database))

    def _bind_logical_view(self, db: str, vname: str, df=None) -> None:
        if df is None:
            df = self.spark.sql(self._load_view_defs(db)[vname])
        df.createOrReplaceTempView(f"{db}__{vname}")
        if db == self.default_database:
            df.createOrReplaceTempView(vname)

    def _rebind_logical_views(self) -> None:
        """Re-plan every logical view against the current table
        snapshots.  A view whose base relation vanished is UNBOUND so
        queries fail loudly (table-not-found) instead of serving the
        frozen pre-drop plan."""
        import re as _re

        if getattr(self, "_rebinding_views", False):
            return
        self._rebinding_views = True
        try:
            defs = {
                (db, vname): vsql
                for db in list(self.databases)
                for vname, vsql in self._load_view_defs(db).items()
            }
            # dependency order: a view mentioning another view's name
            # (bare or db__qualified) binds AFTER it, so chains re-plan
            # against current bindings in one pass (cycles fall back to
            # insertion order and surface as bind failures)
            order = list(defs)
            ranks = {key: 0 for key in order}
            for _ in range(len(order)):
                changed = False
                for key, vsql in defs.items():
                    for other in order:
                        if other == key:
                            continue
                        names = {other[1], f"{other[0]}__{other[1]}"}
                        if any(
                            _re.search(rf"\b{_re.escape(n)}\b", vsql)
                            for n in names
                        ) and ranks[key] <= ranks[other]:
                            ranks[key] = ranks[other] + 1
                            changed = True
                if not changed:
                    break
            for db, vname in sorted(order, key=lambda k: ranks[k]):
                try:
                    self._bind_logical_view(db, vname)
                except Exception:
                    try:
                        self.spark.catalog.dropTempView(f"{db}__{vname}")
                        if db == self.default_database:
                            self.spark.catalog.dropTempView(vname)
                    except Exception:
                        pass
        finally:
            self._rebinding_views = False

    # -- write path ---------------------------------------------------------

    def insert(
        self,
        name: str,
        df: DataFrame,
        reserved_seq: Optional[int] = None,
        branch: Optional[str] = None,
        maybe_local: bool = False,
        collect_local: bool = False,
    ) -> int:
        """INSERT a DataFrame.  PK tables: upsert semantics — within the
        batch, later rows win on PK collisions (src/provider.rs:430-437:
        rows upserted in order, last write wins).

        The returned count comes from the parquet footers of the files
        the write just produced — ONE job total.  (A pre-write
        ``aligned.count()`` would execute the input plan twice, doubling
        INSERT INTO ... SELECT <expensive>, and could disagree with the
        committed rows for a non-deterministic source.)

        ``reserved_seq``: stamp a seq the caller already reserved via
        ``_reserve_seqs`` (multi-append statements and concurrency-
        validated refreshes).

        ``collect_local``: opt into the capped-collect driver-local
        write (see _append_log).  For callers whose input is a CACHED
        frame with a known small row count (micro-batch ingest sinks),
        the probe is a cache read — no double execution is possible —
        and the write skips the distributed committer.  Callers must
        not attach Observations to ``df``."""
        spec = self.get_table(name)
        target_schema = spec.spark_schema()
        gen_names = {
            c.name for c in spec.columns if getattr(c, "generated", None)
        }
        if gen_names and list(df.columns) == target_schema.fieldNames():
            # full-schema internal caller (insert_sql's column-list fill,
            # COPY FROM): the generated slots are placeholders — drop
            # them; _append_log recomputes
            df = df.drop(*gen_names)
        # GENERATED ALWAYS AS columns are never caller-supplied: the
        # positional input aligns to the STORED (non-generated) columns
        # and _append_log computes the rest
        target_fields = [
            f for f in target_schema.fields if f.name not in gen_names
        ]
        if len(df.columns) != len(target_fields):
            hint = (
                f" (the {len(gen_names)} GENERATED column(s) "
                f"{sorted(gen_names)} are computed, not supplied)"
                if gen_names
                else ""
            )
            raise ValueError(
                f"INSERT column count mismatch for {spec.qualified_name}: "
                f"{len(df.columns)} given, {len(target_fields)} expected"
                f"{hint}"
            )
        aligned = df.select(
            *[
                F.col(src).cast(field.dataType).alias(field.name)
                for src, field in zip(df.columns, target_fields)
            ]
        )
        if gen_names:
            # placeholder NULLs so every downstream frame is full-schema;
            # _apply_generated overwrites them on the live write
            for f in target_schema.fields:
                if f.name in gen_names:
                    aligned = aligned.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
            aligned = aligned.select(
                *[f.name for f in target_schema.fields]
            )
        if branch is not None:
            self._branch_info(spec, branch)  # validate before writing
        new_files = self._append_log(
            spec, aligned, deleted=False, reserved_seq=reserved_seq,
            branch=branch, maybe_local=maybe_local,
            collect_local=collect_local,
        )
        return _footer_row_count(new_files)

    def _append_log(
        self,
        spec: TableSpec,
        aligned: DataFrame,
        deleted: bool,
        reserved_seq: Optional[int] = None,
        expect_base: Optional[int] = None,
        deleted_col: Optional[str] = None,
        distribute: bool = False,
        branch: Optional[str] = None,
        maybe_local: bool = False,
        collect_local: bool = False,
    ):
        """Append schema-aligned rows to the table's log with the internal
        stamps (__seq__/__sub__/__del__ for PK tables, __bkt__ layout).
        Returns the list of parquet files this write created.

        ``reserved_seq``: use a seq the caller already reserved
        (multi-append statements reserve their whole contiguous range
        up front so a conflict aborts before ANY append).
        ``expect_base``: read-modify-write callers pass the seq their
        snapshot was based on — allocation raises
        ConcurrentWriteConflict if another writer committed since.
        ``deleted_col``: name of a boolean flag column in ``aligned``
        marking per-row tombstones (r7) — lets a statement that both
        upserts and deletes (matview refresh, MERGE) land as ONE append
        job under ONE seq instead of two; the flag column becomes the
        internal __del__ stamp and never reaches the data files.
        ``distribute=True``: apply the optimized-write rebalance (the
        Delta optimizeWrite pattern) — RMW statements (UPDATE / DELETE /
        MERGE / REFRESH) opt in because their per-statement deltas
        otherwise land as shuffle.partitions near-empty files and PK
        merge-on-read pays for every one of them.  Plain INSERTs stay
        out: a bulk load's upstream partitioning is already sized, a
        full-data shuffle at 100 TB is not (and INSERT's single-job
        contract is pinned by test)."""
        if deleted_col is not None and not spec.has_primary_key:
            raise ValueError(
                "per-row tombstone flags require a primary-key table"
            )
        if branch is not None and not spec.has_primary_key:
            # branch divergence is defined by the __seq__ overlay — an
            # append-only log table has no seq space to fork
            raise ValueError(
                "branch writes require a primary-key table"
            )
        if not deleted:
            # GENERATED ALWAYS AS columns are (re)computed on every live
            # write — BEFORE constraints, which may reference them
            aligned = self._apply_generated(spec, aligned, deleted_col)
        if maybe_local:
            # Driver-local fast path (guide §1.2 first-principles): a
            # literal VALUES insert / point tombstone folds to a
            # LocalRelation — its rows are already driver-resident, so
            # the write is one pyarrow file per touched bucket + the same
            # commit protocol, not a Spark job through the Hadoop
            # committer (measured ~107 -> ~35 ms per statement on a quiet
            # host).  Returns None whenever anything disqualifies
            # (non-local plan, _local_write_ok) and the distributed path
            # below runs as before.
            local = self._try_local_append(
                spec, aligned, deleted, reserved_seq, expect_base,
                deleted_col, branch,
            )
            if local is not None:
                return local
        if collect_local and not spec.check_constraints:
            # RMW variant of the same idea: the delta of an UPDATE /
            # predicate-DELETE is usually tiny — probe it with ONE
            # early-exiting limit collect; at or under the cap the
            # collected rows ARE the complete delta (a pinned snapshot)
            # and the write is driver-local.  Past the cap the probe
            # cost is bounded (CollectLimit reads partitions
            # incrementally) and the distributed write runs as before.
            local = self._try_collect_local_append(
                spec, aligned, deleted, reserved_seq, expect_base,
                deleted_col, branch,
            )
            if local is not None:
                return local
        if not deleted and spec.check_constraints:
            # CHECK semantics: a row violates only when the expression is
            # FALSE (NULL passes).  The input is pinned first so a
            # non-deterministic source is not executed twice with
            # different rows for the check and the write.
            aligned = aligned.localCheckpoint()
            check_src = (
                aligned
                if deleted_col is None
                # tombstone rows carry NULL non-key payloads by design;
                # constraints judge only the rows being written live
                else aligned.filter(~F.col(deleted_col).cast("boolean"))
            )
            for cname, expr in spec.check_constraints.items():
                bad = (
                    check_src.filter(~F.coalesce(F.expr(expr), F.lit(True)))
                    .limit(1)
                    .count()
                )
                if bad:
                    raise ValueError(
                        f"CHECK constraint {cname} ({expr}) violated by "
                        f"rows written to {spec.qualified_name}"
                    )
        writer_df = aligned
        seq = self._stamp_seq(spec, reserved_seq, expect_base, branch)
        if seq is not None:
            del_expr = (
                F.col(deleted_col).cast("boolean")
                if deleted_col is not None
                else F.lit(bool(deleted))
            )
            writer_df = (
                aligned.withColumn(_SEQ, F.lit(seq))
                .withColumn(_SUB, F.monotonically_increasing_id())
                .withColumn(_DEL, del_expr)
            )
            if deleted_col is not None:
                writer_df = writer_df.drop(deleted_col)
        # partition DIRECTORIES keep their original (stored) names after
        # a layout-column rename — partitionBy runs on the physical frame
        partition_cols = self._stored_names(spec, spec.partition_keys or [])
        if spec.num_buckets and spec.bucket_keys:
            # Physical bucket layout: __bkt__ is a Hive partition dir, so
            # (a) joins/aggs on the bucket key start co-located per
            # directory, (b) PK lookups prune to one bucket (see lookup).
            writer_df = writer_df.withColumn(
                _BKT, bucket_id_expr(spec, *[F.col(k) for k in spec.bucket_keys])
            ).repartition(spec.num_buckets, F.col(_BKT))
            partition_cols.append(_BKT)
        elif (
            distribute
            and spec.properties.get("write.rebalance", "true").lower()
            != "false"
            and self.spark.conf.get(
                "spark.sql.adaptive.enabled", "false"
            ).lower() == "true"
        ):
            # Optimized writes (the Delta optimizeWrite pattern): an AQE
            # REBALANCE before the write sizes output files by
            # advisoryPartitionSizeInBytes — a small DML delta collapses
            # to ONE file instead of shuffle.partitions near-empty files
            # (measured r8: a 32-task 10-row append costs ~2x a 1-task
            # one in committer overhead alone).  Partitioned tables
            # rebalance on the partition keys so each directory gets
            # contiguous writers.  Gated on AQE (without it the hint
            # degrades to a fixed-width round-robin shuffle — worse) and
            # on the write.rebalance table property.
            writer_df = writer_df.hint("rebalance", *partition_cols)
        path = (
            self._branch_path(spec, branch)
            if branch is not None
            else self.table_path(spec)
        )
        before = _parquet_files(path)
        writer_df = self._to_physical(spec, writer_df)
        writer = writer_df.write.mode("append")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        try:
            writer.parquet(path)
        except BaseException:
            self._unwind_seq(
                spec, seq, branch, bool(_parquet_files(path) - before)
            )
            raise
        return self._finish_write(
            spec, seq, branch, path, sorted(_parquet_files(path) - before)
        )

    @contextlib.contextmanager
    def _releasing(
        self, spec: TableSpec, seqs: List[int], branch: Optional[str] = None
    ):
        """Release a statement's own reservations if it raises before
        using them.  A seq whose write already landed was recorded by
        the writer (_unwind_seq, _finish_write), so releasing it again
        deletes nothing."""
        try:
            yield
        except BaseException:
            self._release_seqs(spec, seqs, branch=branch)
            raise

    def _stamp_seq(
        self,
        spec: TableSpec,
        reserved_seq: Optional[int],
        expect_base: Optional[int],
        branch: Optional[str],
    ) -> Optional[int]:
        """The ``__seq__`` a write stamps: the caller's reservation,
        else a fresh one; None for a log table.  A branch write draws
        from the branch-local seq space: writers on the same branch
        contend among themselves via the branch commit dir, and
        main-table maintenance never swaps the branch dir."""
        if not spec.has_primary_key:
            return None
        if reserved_seq is not None:
            return reserved_seq
        if branch is not None:
            return self._branch_next_seq(spec, branch, expect_base=expect_base)
        return self._next_seq(spec, expect_base=expect_base)

    def _unwind_seq(
        self,
        spec: TableSpec,
        seq: Optional[int],
        branch: Optional[str],
        landed: bool,
    ) -> None:
        """The data write stamped with ``seq`` raised.  If some of its
        files are visible (``landed``), readers already see the seq's
        rows, so it is recorded and never handed out again; otherwise
        the reservation is released — left behind, a live owner's
        reservation would stall every later maintenance drain."""
        if seq is None:
            return
        if landed:
            self._record_commit(spec, seq, branch=branch)
        else:
            self._release_seqs(spec, [seq], branch=branch)

    def _finish_write(
        self,
        spec: TableSpec,
        seq: Optional[int],
        branch: Optional[str],
        path: str,
        new_files: list,
        rows: Optional[int] = None,
        tombstones: int = 0,
    ):
        """Bookkeeping after a write landed ``new_files`` under
        ``path``: view re-bind and write marker (main only), stats
        harvest, then for a stamped write the commit record and the
        auto-compaction policy.  Returns the write's file list — for a
        stamped write a _CountedFiles carrying ``rows`` (default: the
        footers' row count) and ``tombstones``."""
        if branch is None:
            # branch writes don't change the main view or its staleness
            self._register_view(spec)
            self._touch_write_marker(spec)
        # incremental footer-stats (+ opt-in column bloom) harvest for
        # the skipping scan (never fails the write — see skipping.add_files)
        bloom_cols, bloom_fpp = self._bloom_config(spec)
        skipping.add_files(
            path, new_files, bloom_columns=bloom_cols, bloom_fpp=bloom_fpp
        )
        if seq is None:
            return new_files
        # Maintenance (another session's OPTIMIZE/COMPACT) may swap
        # these files away the instant the reservation finalizes, and
        # auto-compaction may replace them; capture the write's row
        # count FIRST — while the inflight reservation still excludes
        # any dir swap — so callers' _footer_row_count still answers
        # for the statement.
        counted = _CountedFiles(new_files)
        counted.precomputed_rows = (
            _footer_row_count(list(new_files)) if rows is None else rows
        )
        counted.tombstone_rows = tombstones
        self._record_commit(spec, seq, branch=branch)
        if branch is None:
            self._maybe_auto_compact(spec, seq)
        return counted

    def _try_local_append(
        self,
        spec: TableSpec,
        aligned: DataFrame,
        deleted: bool,
        reserved_seq: Optional[int],
        expect_base: Optional[int],
        deleted_col: Optional[str],
        branch: Optional[str],
    ):
        """Attempt the driver-local append (see _append_log's seam).
        Applies the SAME semantics as the distributed path — CHECK
        evaluation (over the already-pinned literal plan, so no
        checkpoint), seq reservation, physical column renames, __seq__/
        __sub__/__del__ stamps with within-batch order preserved, stats
        harvest, commit record, auto-compaction policy.  Returns the
        written file list (or _CountedFiles) like _append_log, or None
        when the fast path does not apply."""
        try:
            plan = aligned._jdf.queryExecution().optimizedPlan()
            if plan.getClass().getSimpleName() != "LocalRelation":
                return None
        except Exception:
            return None

        def collect():
            rows = aligned.collect()  # LocalRelation: no job — plan literals
            if len(rows) > _LOCAL_WRITE_MAX_ROWS:
                return None
            if not deleted and spec.check_constraints:
                # identical CHECK semantics (violation only on FALSE); the
                # input is a literal plan, so no pinning checkpoint is needed
                check_src = (
                    aligned
                    if deleted_col is None
                    else aligned.filter(~F.col(deleted_col).cast("boolean"))
                )
                for cname, expr in spec.check_constraints.items():
                    bad = (
                        check_src.filter(
                            ~F.coalesce(F.expr(expr), F.lit(True))
                        )
                        .limit(1)
                        .collect()
                    )
                    if bad:
                        raise ValueError(
                            f"CHECK constraint {cname} ({expr}) violated by "
                            f"rows written to {spec.qualified_name}"
                        )
            return rows

        return self._try_collect_local_append(
            spec, aligned, deleted, reserved_seq, expect_base, deleted_col,
            branch, collect=collect,
        )

    def _pk_bounded_predicate(self, spec: TableSpec, predicate: str) -> bool:
        """True when ``predicate`` provably matches at most
        _RMW_LOCAL_CAP primary-key rows: every PK column is pinned by a
        literal equality (bound 1) or IN list (bound = list length) in
        a top-level conjunction.  Anything the conjunct parser cannot
        prove bounds (ranges, ORs, subqueries, expressions) returns
        False — the caller then skips the collect-local probe."""
        if not predicate or not spec.has_primary_key:
            return False
        bound_by_col: Dict[str, int] = {}
        for col, op, lit in skipping.parse_conjuncts(predicate):
            if op in ("=", "=="):
                bound_by_col.setdefault(col.lower(), 1)
            elif op == "in" and isinstance(lit, (list, tuple)):
                bound_by_col.setdefault(col.lower(), len(lit))
        bound = 1
        for k in spec.primary_key:
            b = bound_by_col.get(k.lower())
            if b is None:
                return False
            bound *= b
            if bound > _RMW_LOCAL_CAP:
                return False
        return True

    def _rmw_probe_allowed(
        self,
        spec: TableSpec,
        branch: Optional[str],
        predicate: Optional[str] = None,
    ) -> bool:
        """Pre-signal gate for the collect-local RMW probe (see
        _RMW_PROBE_MAX_FILES).  Layouts the local writer declines
        anyway (_local_write_ok) short-circuit to False so the
        listing isn't paid for nothing."""
        if not _local_write_ok(spec):
            return False
        if predicate is not None and self._pk_bounded_predicate(
            spec, predicate
        ):
            return True
        path = (
            self._branch_path(spec, branch)
            if branch is not None
            else self.table_path(spec)
        )
        try:
            return len(_parquet_files(path)) <= _RMW_PROBE_MAX_FILES
        except OSError:
            return False

    def _try_collect_local_append(
        self,
        spec: TableSpec,
        aligned: DataFrame,
        deleted: bool,
        reserved_seq: Optional[int],
        expect_base: Optional[int],
        deleted_col: Optional[str],
        branch: Optional[str],
        collect=None,
    ):
        """RMW driver-local append (see _append_log's collect_local
        seam): one limit-capped collect of the delta plan; at or under
        the cap the rows are written locally, else None (the caller runs
        the distributed write — the only double-executed work is the
        early-exiting probe).  Callers must not attach Observations to
        ``aligned`` (the probe would consume them).

        ``collect`` replaces the probe (the literal path passes a plain
        collect of its LocalRelation) and returns None past its cap.
        Every decline happens before any seq is reserved."""
        if not _local_write_ok(spec):
            return None
        if collect is None:
            rows = aligned.limit(_RMW_LOCAL_CAP + 1).collect()
            rows = rows if len(rows) <= _RMW_LOCAL_CAP else None
        else:
            rows = collect()
        if rows is None:
            return None
        del_flags = None
        if deleted_col is not None:
            del_flags = [
                None if r[deleted_col] is None else bool(r[deleted_col])
                for r in rows
            ]
        return self._local_write_rows(
            spec,
            {c.name: [r[c.name] for r in rows] for c in spec.columns},
            deleted=deleted,
            del_flags=del_flags,
            reserved_seq=reserved_seq,
            expect_base=expect_base,
            branch=branch,
        )

    def _local_write_rows(
        self,
        spec: TableSpec,
        columns: Dict[str, list],
        deleted: bool,
        del_flags: Optional[list],
        reserved_seq: Optional[int],
        expect_base: Optional[int],
        branch: Optional[str],
    ):
        """Write driver-resident column values as one parquet file per
        touched bucket (one file for an unbucketed table), then run the
        _append_log bookkeeping once (seq space, write marker, stats
        harvest, commit record, auto-compaction).  ``columns`` is keyed
        by LOGICAL column name in table-schema order; physical renames
        are applied here.  ``del_flags`` carries per-row tombstone flags
        (None = null = live, matching the __del__ read semantics).
        Callers have checked _local_write_ok.  Bucketed rows land in
        ``__bkt__=<bucket_id>/`` with no __bkt__ column in the file, as
        Spark's partitionBy lays them out; __sub__ is the row's index in
        the whole batch, so within-batch last-write-wins holds across
        the files of one seq."""
        import pyarrow as pa

        n = len(next(iter(columns.values()))) if columns else 0
        path = (
            self._branch_path(spec, branch)
            if branch is not None
            else self.table_path(spec)
        )
        # An unbucketed table gets its file even for a 0-row delta, and
        # an empty bucketed delta writes none: each matches what the
        # distributed writer leaves, and branch/divergence accounting
        # reads the raw branch dir (tests/test_branch_dml_parity.py).
        parts = {path: range(n)}
        if spec.num_buckets and spec.bucket_keys:
            parts = {}
            for i in range(n):
                b = bucket_id(spec, {k: columns[k][i] for k in spec.bucket_keys})
                parts.setdefault(os.path.join(path, f"{_BKT}={b}"), []).append(i)
        names = list(columns)
        stored = self._stored_names(spec, names)
        types = [_pa_type(spec.column(name).spark_type) for name in names]
        seq = self._stamp_seq(spec, reserved_seq, expect_base, branch)
        new_files = []
        try:
            for dir_path, idx in sorted(parts.items()):
                arrays = {
                    sname: pa.array([columns[name][i] for i in idx], type=t)
                    for name, sname, t in zip(names, stored, types)
                }
                if seq is not None:
                    arrays[_SEQ] = pa.array([seq] * len(idx), pa.int64())
                    arrays[_SUB] = pa.array(idx, pa.int64())
                    arrays[_DEL] = pa.array(
                        [bool(deleted)] * len(idx)
                        if del_flags is None
                        else [del_flags[i] for i in idx],
                        pa.bool_(),
                    )
                os.makedirs(dir_path, exist_ok=True)
                new_files.append(
                    _write_parquet_atomic(pa.table(arrays), dir_path)
                )
        except BaseException:
            # a failed statement leaves none of its bucket files behind
            for f in new_files:
                with contextlib.suppress(OSError):
                    os.remove(f)
            self._unwind_seq(
                spec, seq, branch, any(map(os.path.exists, new_files))
            )
            raise
        return self._finish_write(
            spec, seq, branch, path, new_files, rows=n,
            tombstones=(
                n if (deleted and del_flags is None)
                else sum(1 for f in (del_flags or []) if f)
            ),
        )

    def defer_auto_compact(self):
        """Context manager suspending policy compaction until exit.

        Multi-append operations (MERGE INTO and RESTORE write live rows
        then tombstones; a matview refresh issues several writes whose
        delta plans read earlier state) MUST NOT compact between their
        appends: the later appends' input plans hold file listings the
        dir-swap would invalidate.  They wrap themselves in this guard;
        deferred tables compact once, at exit, when no in-flight plan
        references the old files."""
        import contextlib

        @contextlib.contextmanager
        def _guard():
            outer = self._compaction_deferred
            if outer is None:
                self._compaction_deferred = set()
            try:
                yield
            finally:
                if outer is None:
                    pending, self._compaction_deferred = (
                        self._compaction_deferred,
                        None,
                    )
                    for qname in sorted(pending):
                        db, _, table = qname.partition(".")
                        # the table (or its whole database) may have been
                        # dropped inside the guard — skip silently rather
                        # than mask the statement's real result (ADVICE r5)
                        spec = self.databases.get(db, {}).get(table)
                        if spec is not None:
                            self._maybe_auto_compact(
                                spec, self._seq.get(qname, 0)
                            )

        return _guard()

    def _maybe_auto_compact(self, spec: TableSpec, seq: int) -> None:
        """Policy-driven compaction: with table property
        ``compaction.auto-after = N``, a PK table compacts itself once N
        statements have accumulated above the compaction floor — the
        LSM auto-compaction that bounds merge-on-read read-amplification
        without an operator running COMPACT by hand.  Time-travel
        anchors below the new floor are discarded exactly as a manual
        COMPACT would (documented lakehouse retention trade-off: set N
        to the history depth the workload needs).  Inside a
        ``defer_auto_compact`` guard the compaction is queued for the
        guard's exit instead (multi-append statement safety)."""
        raw = (spec.properties or {}).get("compaction.auto-after")
        if not raw:
            return
        try:
            every = int(raw)
        except (ValueError, TypeError):
            # Validated at DDL time (validate_auto_compact_property); a
            # malformed value reaching the write path must not fail the
            # statement AFTER its files are appended and the commit is
            # recorded (data persisted, statement errors — ADVICE r5).
            # Treat as disabled, consistent with bloom.fpp's fallback.
            return
        if every < 1:
            return
        floor = self._floor.get(spec.qualified_name, 0)
        if seq - floor >= every:
            if self._compaction_deferred is not None:
                self._compaction_deferred.add(spec.qualified_name)
                return
            try:
                self.compact(spec.qualified_name)
            except ConcurrentWriteConflict:
                # another session is compacting (or writers are busy):
                # the policy's goal is being met elsewhere — the write
                # statement that triggered us must not fail for it
                pass

    def delete(
        self, name: str, key_value, branch: Optional[str] = None
    ) -> int:
        """Point DELETE by full primary key (scalar for single-column
        PKs, dict for composite) — appends a tombstone row; reads,
        lookups and time travel all resolve it through the same
        merge-on-read window, and compaction physically drops it.

        A real Fluss upsert writer supports key deletes; the reference
        CLI never exposed them (no DELETE path anywhere in src/) — this
        exceeds the reference.  Deleting an absent key is a no-op that
        still appends a tombstone (matching upsert-writer semantics:
        the delete is recorded, not validated).

        ``branch=``: the tombstone lands in the branch's own seq space.
        The blind-append contract is IDENTICAL on a branch — deleting a
        key absent from the branch overlay still records the tombstone,
        so downstream divergence accounting (cherry-pick contested-key
        detection, branch_diff, fast-forward) sees the branch author's
        intent "this key must not exist" even when the key never lived
        on the branch (VERDICT r10 item 1: routing branch point-DELETEs
        through delete_where lost exactly this tombstone and let
        cherry-pick publish a present-vs-absent divergence)."""
        spec = self.get_table(name)
        if not spec.has_primary_key:
            raise ValueError(
                f"DELETE requires a primary-key table; "
                f"{spec.qualified_name} is an append-only log table"
            )
        if isinstance(key_value, dict):
            key = dict(key_value)
        elif len(spec.primary_key) == 1:
            key = {spec.primary_key[0]: key_value}
        else:
            raise ValueError(
                f"composite primary key {spec.primary_key} requires a dict key"
            )
        missing = set(spec.primary_key) - set(key)
        extra = set(key) - set(spec.primary_key)
        if missing or extra:
            raise ValueError(
                f"delete key must cover exactly {spec.primary_key};"
                f" missing={sorted(missing)} extra={sorted(extra)}"
            )
        # VALUES (1) is a LocalRelation (range(1) is not), so the
        # lit-projection folds and the tombstone takes the driver-local
        # append — one pyarrow file, no Spark job
        tombstone = self.spark.sql("VALUES (1)").select(
            *[
                (
                    F.lit(key[f.name]).cast(f.dataType)
                    if f.name in key
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in spec.spark_schema().fields
            ]
        )
        self._append_log(
            spec, tombstone, deleted=True, branch=branch, maybe_local=True
        )
        return 1

    def restore_table(self, name: str, as_of_seq: int) -> Dict[str, int]:
        """``RESTORE TABLE t TO VERSION AS OF n`` (Delta-RESTORE
        semantics): make the current state equal the state as of
        statement sequence ``n`` by writing a NEW statement — the
        restore itself is one more log entry, so nothing after ``n`` is
        erased and the restore can itself be time-traveled past or
        re-restored.  Concretely: upsert every row of the historical
        state, and tombstone every key that exists now but did not then.
        Refuses anchors below the compaction floor (read() already
        does).

        Scale shape: one historical merge-on-read scan + one current-keys
        scan + an anti-join on the PK, then two append jobs.  Both
        outputs are materialized before the first write (the MERGE
        self-reference rule)."""
        spec = self.get_table(name)
        if not spec.has_primary_key:
            raise ValueError(
                f"RESTORE requires a primary-key table; "
                f"{spec.qualified_name} is an append-only log table"
            )
        base = self._latest_seq(spec)  # snapshot the RMW statement reads
        old = self.read(name, as_of_seq=as_of_seq)  # validates the floor
        pk = list(spec.primary_key)
        to_delete = (
            self._current_df(spec)
            .select(*pk)
            .join(old.select(*pk), pk, "left_anti")
            .select(
                *[
                    (
                        F.col(f.name)
                        if f.name in spec.primary_key
                        else F.lit(None).cast(f.dataType)
                    ).alias(f.name)
                    for f in spec.spark_schema().fields
                ]
            )
        )
        old = old.localCheckpoint(eager=True)
        to_delete = to_delete.localCheckpoint(eager=True)
        # reserve BOTH seqs before either append: a conflicting
        # concurrent writer aborts the whole statement, never half of it
        seq_restore, seq_delete = self._reserve_seqs(
            spec, 2, expect_base=base
        )
        with self._releasing(
            spec, [seq_restore, seq_delete]
        ), self.defer_auto_compact():
            restored = _footer_row_count(
                self._append_log(
                    spec, old, deleted=False, reserved_seq=seq_restore,
                    distribute=True,
                )
            )
            deleted = _footer_row_count(
                self._append_log(
                    spec, to_delete, deleted=True, reserved_seq=seq_delete,
                    distribute=True,
                )
            )
        return {"restored": restored, "deleted": deleted}

    def delete_where(
        self, name: str, predicate: str, branch: Optional[str] = None
    ) -> int:
        """``DELETE FROM t WHERE <any predicate>``: evaluate the
        predicate against the current merged state and append one
        tombstone per matching key — the predicate sibling of the
        point ``delete`` (which appends blindly, upsert-writer style).
        Returns the number of keys tombstoned.

        Scale shape: one merge-on-read scan + filter + one append job
        of PK-only tombstone rows; no driver-side rows."""
        spec = self.get_table(name)
        if not spec.has_primary_key:
            raise ValueError(
                f"DELETE requires a primary-key table; "
                f"{spec.qualified_name} is an append-only log table"
            )
        if branch is not None:
            # branch RMW: victims come from the branch overlay, the
            # tombstones land in the branch's own seq space
            base = self._branch_head(spec, branch)
            victims_src = self.read_branch(name, branch)
        else:
            base = self._latest_seq(spec)  # snapshot the RMW statement reads
            victims_src = self._current_df(spec)
        victims = victims_src.filter(F.expr(predicate)).select(
            *[
                (
                    F.col(f.name)
                    if f.name in spec.primary_key
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in spec.spark_schema().fields
            ]
        )
        return _footer_row_count(
            self._append_log(
                spec, victims, deleted=True, expect_base=base,
                distribute=True, branch=branch,
                collect_local=self._rmw_probe_allowed(
                    spec, branch, predicate
                ),
            )
        )

    def insert_sql(
        self, target: str, statement: str, branch: Optional[str] = None
    ) -> DataFrame:
        """Execute ``INSERT INTO | OVERWRITE [TABLE] t [(cols)] VALUES
        ... | SELECT ...``.

        The input plan (VALUES or SELECT) is planned by Catalyst; we strip
        the INSERT prefix because Spark SQL would route the DML to its own
        catalog.  Returns a 1-row ``count`` DataFrame like FlussInsertExec
        (src/provider/insert_exec.rs:116-124).

        OVERWRITE replaces the table's contents atomically from the
        reader's perspective: the input is MATERIALIZED (eager
        localCheckpoint) before the truncate, so ``INSERT OVERWRITE t
        SELECT ... FROM t`` — self-referencing rewrites, the main use —
        reads the pre-overwrite state, never its own truncation.
        """
        import re

        match = re.match(
            r"^\s*INSERT\s+(INTO|OVERWRITE(?:\s+TABLE)?)\s+"
            r"(?:`[^`]*`|\"[^\"]*\"|[\w@$.])+\s*"
            r"(?:(BY\s+NAME)\s+|(\([^)]*\))\s*)?",
            statement,
            re.IGNORECASE,
        )
        if not match:
            raise ValueError(f"cannot parse INSERT statement: {statement!r}")
        overwrite = match.group(1).upper() != "INTO"
        by_name = match.group(2) is not None
        column_list = match.group(3)
        body = statement[match.end():]
        if not re.match(r"^\s*VALUES\b", body, re.IGNORECASE):
            # a SELECT body may resolve engine temp views; a pure VALUES
            # body reads nothing — don't pay the rebind for it
            self.refresh_views()
        input_df = self.spark.sql(body)

        spec = self.get_table(target)
        if by_name:
            # INSERT ... BY NAME (the DuckDB spelling): the input's OWN
            # column names are the column list — order-independent,
            # unmentioned nullable columns fill NULL, unknown names
            # reject (a typo must not silently land in the wrong column).
            known = {c.name for c in spec.columns}
            unknown = [c for c in input_df.columns if c not in known]
            if unknown:
                raise ValueError(
                    f"INSERT BY NAME into {spec.qualified_name}: unknown "
                    f"columns {unknown}"
                )
            gen_named = [
                c.name for c in spec.columns
                if getattr(c, "generated", None) and c.name in input_df.columns
            ]
            if gen_named:
                raise ValueError(
                    f"INSERT BY NAME into {spec.qualified_name}: columns "
                    f"{gen_named} are GENERATED ALWAYS AS and cannot be "
                    f"written explicitly"
                )
            column_list = "(" + ", ".join(input_df.columns) + ")"
        if column_list:
            from fluss_datafusion_spark.sql.dialect import strip_quotes

            given = [strip_quotes(c.strip()) for c in column_list[1:-1].split(",")]
            gen_listed = [
                c.name for c in spec.columns
                if getattr(c, "generated", None) and c.name in given
            ]
            if gen_listed:
                raise ValueError(
                    f"INSERT into {spec.qualified_name}: columns "
                    f"{gen_listed} are GENERATED ALWAYS AS and cannot be "
                    f"written explicitly"
                )
            # A column list omitting a primary-key or NOT NULL column
            # would silently write null keys, corrupting upsert/merge
            # semantics — the reference enforces PK NOT NULL, so reject.
            required = [
                c.name
                for c in spec.columns
                if (c.name in spec.primary_key or not c.nullable)
                and not getattr(c, "generated", None)
            ]
            omitted = [c for c in required if c not in given]
            if omitted:
                raise ValueError(
                    f"INSERT into {spec.qualified_name} must supply "
                    f"primary-key/NOT NULL columns {omitted}; got {given}"
                )
            # Reorder/fill: unmentioned (nullable, non-key) columns
            # become NULL.
            exprs = []
            for field in spec.spark_schema().fields:
                if field.name in given:
                    exprs.append(
                        F.col(input_df.columns[given.index(field.name)]).alias(field.name)
                    )
                else:
                    exprs.append(F.lit(None).cast(field.dataType).alias(field.name))
            input_df = input_df.select(*exprs)
        if overwrite:
            if branch is not None:
                raise ValueError(
                    "INSERT OVERWRITE is not supported on a branch "
                    "(truncation is a whole-table operation)"
                )
            input_df = input_df.localCheckpoint(eager=True)
            self.truncate_table(target)
        # a literal VALUES body folds to a LocalRelation — opt in to the
        # driver-local write (the seam re-verifies the plan shape; the
        # hint just keeps big INSERT..SELECT plans from paying an extra
        # Catalyst optimization pass for the detection)
        values_body = bool(re.match(r"^\s*VALUES\b", body, re.IGNORECASE))
        count = self.insert(
            target, input_df, branch=branch,
            maybe_local=values_body and not overwrite,
        )
        # LocalRelation scalar frame (see EngineSession._scalar_df):
        # collecting it runs no Spark job
        return self.spark.sql("VALUES (1)").select(
            F.lit(count).cast("bigint").alias("count")
        )

    def update_rows(
        self,
        name: str,
        assigns: Dict[str, str],
        where: Optional[str] = None,
        branch: Optional[str] = None,
    ) -> int:
        """``UPDATE t SET col = expr [WHERE pred]`` on a primary-key
        table: rewrite the matching rows of the current merged state and
        append them as upserts — the same log-structured write path as
        INSERT, so history/time-travel/changelog all see the update as
        one more statement.  Returns the number of rows updated.

        Scale shape: one merge-on-read scan + filter + projection + one
        append job; no driver-side rows.  Requires a PK table (an
        append-only log row has no identity to update — same rule as
        DELETE)."""
        spec = self.get_table(name)
        if not spec.has_primary_key:
            raise ValueError(
                f"UPDATE requires a primary-key table; "
                f"{spec.qualified_name} is an append-only log table"
            )
        bad = [c for c in assigns if c in spec.primary_key]
        if bad:
            raise ValueError(
                f"UPDATE may not reassign primary-key columns {bad} "
                "(DELETE + INSERT to move a key)"
            )
        gen_bad = [
            c for c in assigns
            if any(
                sc.name == c and getattr(sc, "generated", None)
                for sc in spec.columns
            )
        ]
        if gen_bad:
            raise ValueError(
                f"UPDATE may not assign GENERATED ALWAYS AS columns "
                f"{gen_bad}; they are recomputed from the row's other "
                f"columns on every write"
            )
        known = {c.name for c in spec.columns}
        missing = [c for c in assigns if c not in known]
        if missing:
            raise ValueError(
                f"UPDATE references unknown columns {missing} on "
                f"{spec.qualified_name}"
            )
        if branch is not None:
            base = self._branch_head(spec, branch)
            cur = self.read_branch(name, branch)
        else:
            base = self._latest_seq(spec)  # snapshot the RMW statement reads
            cur = self._current_df(spec)
        rows = cur.filter(F.expr(where)) if where else cur
        updated = rows.select(
            *[
                (
                    F.expr(assigns[field.name]).cast(field.dataType)
                    if field.name in assigns
                    else F.col(field.name)
                ).alias(field.name)
                for field in spec.spark_schema().fields
            ]
        )
        return _footer_row_count(
            self._append_log(
                spec, updated, deleted=False, expect_base=base,
                distribute=True, branch=branch,
                collect_local=self._rmw_probe_allowed(spec, branch, where),
            )
        )

    def merge_into(
        self,
        name: str,
        source: DataFrame,
        on: List[str],
        matched_clauses=None,
        not_matched=None,
        not_matched_by_source=None,
        branch: Optional[str] = None,
    ) -> Dict[str, int]:
        """MERGE INTO for primary-key tables (the lakehouse upsert DML the
        reference's upsert writer implies but its CLI never exposes —
        src/provider.rs:411-441 upserts row-at-a-time with no conditional
        merge; this exceeds the reference the way DELETE/ALTER do).

        - ``on``: the join key columns — must be exactly the table's
          primary key (the only join a log-structured upsert store can
          resolve without rewriting data files).
        - ``matched_clauses``: ordered list of ``("update", cond, {col:
          sql_expr})`` / ``("delete", cond, None)`` — for each matched
          key the FIRST clause whose condition holds applies (ANSI MERGE
          clause-order semantics); ``cond`` is a SQL boolean over
          aliases ``t`` (target) and ``s`` (source), or None = always.
        - ``not_matched``: ordered list of ``(cond, {col: sql_expr} |
          None)`` clauses (a single tuple is accepted for one clause) —
          first clause whose condition holds inserts; None assignments =
          INSERT * (source columns matched by name).
        - ``not_matched_by_source``: ordered list of ``("update", cond,
          {col: sql_expr})`` / ``("delete", cond, None)`` applied to
          target rows with no source match (ANSI 2023 / Delta ``WHEN NOT
          MATCHED BY SOURCE``); conditions may reference only ``t.``
          columns (the source side is absent on those rows).

        Scale posture: ONE full-outer shuffle join of current state vs
        source on the PK (both sides hash-partitioned once; AQE may
        broadcast a small source), then two appended write jobs (live
        upserts + tombstones).  No driver-side row movement.  The ANSI
        "multiple source rows match one target key" error is enforced
        with one small agg over the source keys.
        """
        spec = self.get_table(name)
        if not spec.has_primary_key:
            raise ValueError(
                f"MERGE INTO requires a primary-key table; "
                f"{spec.qualified_name} is an append-only log table"
            )
        if sorted(on) != sorted(spec.primary_key):
            raise ValueError(
                f"MERGE ON must equate exactly the primary key "
                f"{spec.primary_key}; got {on}"
            )
        matched_clauses = list(matched_clauses or [])
        if isinstance(not_matched, tuple):  # single-clause back-compat
            not_matched = [not_matched]
        not_matched = list(not_matched or [])
        not_matched_by_source = list(not_matched_by_source or [])
        for action, _cond, assigns in matched_clauses + not_matched_by_source:
            if action not in ("update", "delete"):
                raise ValueError(f"unknown MERGE matched action {action!r}")
            if action == "update" and assigns:
                bad = [c for c in assigns if c in spec.primary_key]
                if bad:
                    raise ValueError(
                        f"MERGE UPDATE may not reassign primary-key "
                        f"columns {bad}"
                    )
                gen_bad = [
                    c for c in assigns
                    if any(
                        sc.name == c and getattr(sc, "generated", None)
                        for sc in spec.columns
                    )
                ]
                if gen_bad:
                    raise ValueError(
                        f"MERGE UPDATE may not assign GENERATED ALWAYS "
                        f"AS columns {gen_bad}; they are recomputed on "
                        f"every write"
                    )
        for action, _cond, assigns in not_matched_by_source:
            if action == "update" and not assigns:
                raise ValueError(
                    "MERGE NOT MATCHED BY SOURCE UPDATE has no source row "
                    "to take columns from; SET * is meaningless — give "
                    "explicit assignments"
                )
        if not matched_clauses and not not_matched and not not_matched_by_source:
            raise ValueError("MERGE needs at least one WHEN clause")

        # One small agg over the source keys enforces BOTH ANSI
        # preconditions: (a) duplicate join keys would make clause
        # application non-deterministic; (b) a NULL in any join-key
        # column can never equi-match (SQL null semantics) — ANSI/Delta
        # reject it rather than silently routing the row to NOT MATCHED
        # (which for a composite PK would INSERT a NULL key component).
        null_key = F.lit(False)
        for k in on:
            null_key = null_key | F.col(k).isNull()
        bad_keys = (
            source.groupBy(*on)
            .agg(F.count(F.lit(1)).alias("__n__"))
            .filter((F.col("__n__") > 1) | null_key)
            .limit(1)
            .collect()
        )
        if bad_keys:
            key = {k: bad_keys[0][k] for k in on}
            if any(v is None for v in key.values()):
                raise ValueError(
                    f"MERGE source has a NULL join-key component {key} "
                    "(a NULL key can never match; rejecting instead of "
                    "inserting a NULL primary-key row)"
                )
            raise ValueError(
                f"MERGE source has multiple rows for join key {key} "
                "(ANSI MERGE cardinality violation)"
            )

        if branch is not None:
            base = self._branch_head(spec, branch)
            cur = self.read_branch(name, branch).alias("t")
        else:
            base = self._latest_seq(spec)  # snapshot the RMW statement reads
            cur = self._current_df(spec).alias("t")
        target_fields = spec.spark_schema().fields
        src = source.alias("s")
        join_cond = None
        for k in on:
            eq = F.col(f"t.{k}") == F.col(f"s.{k}")
            join_cond = eq if join_cond is None else (join_cond & eq)
        joined = cur.join(src, join_cond, "full_outer")
        # s-side key null => target-only row (untouched by this MERGE);
        # t-side key null => source-only row (NOT MATCHED).
        s_hit = F.col(f"s.{on[0]}").isNotNull()
        t_hit = F.col(f"t.{on[0]}").isNotNull()

        # First-true-clause-wins action index over the matched rows.
        chain = F.when(F.lit(False), F.lit(None))
        for i, (_action, cond, _assigns) in enumerate(matched_clauses):
            pred = F.expr(cond) if cond else F.lit(True)
            chain = chain.when(pred, F.lit(i))
        matched = joined.filter(s_hit & t_hit).withColumn("__act__", chain)

        live_parts = []
        tombstones = None
        for i, (action, _cond, assigns) in enumerate(matched_clauses):
            rows = matched.filter(F.col("__act__") == i)
            if action == "update":
                exprs = []
                for field in target_fields:
                    if assigns and field.name in assigns:
                        exprs.append(
                            F.expr(assigns[field.name])
                            .cast(field.dataType)
                            .alias(field.name)
                        )
                    elif assigns is None:  # UPDATE SET * = take source
                        exprs.append(
                            F.col(f"s.{field.name}")
                            .cast(field.dataType)
                            .alias(field.name)
                        )
                    else:
                        exprs.append(F.col(f"t.{field.name}").alias(field.name))
                live_parts.append(rows.select(*exprs))
            else:  # delete -> PK-only tombstone rows (non-key cols null)
                exprs = [
                    (
                        F.col(f"t.{field.name}")
                        if field.name in spec.primary_key
                        else F.lit(None).cast(field.dataType)
                    ).alias(field.name)
                    for field in target_fields
                ]
                part = rows.select(*exprs)
                tombstones = part if tombstones is None else tombstones.unionByName(part)

        if not_matched:
            # First-true-clause-wins over the source-only rows — the same
            # action-index chain the matched side uses, so clause order
            # is ANSI (a row satisfying clauses 1 and 2 inserts via 1).
            ins_chain = F.when(F.lit(False), F.lit(None))
            for i, (cond, _assigns) in enumerate(not_matched):
                pred = F.expr(cond) if cond else F.lit(True)
                ins_chain = ins_chain.when(pred, F.lit(i))
            unmatched = joined.filter(s_hit & ~t_hit).withColumn(
                "__ins__", ins_chain
            )
            for i, (_cond, assigns) in enumerate(not_matched):
                rows = unmatched.filter(F.col("__ins__") == i)
                exprs = []
                for field in target_fields:
                    if assigns is None:  # INSERT * — source columns by name
                        if field.name not in source.columns:
                            raise ValueError(
                                f"MERGE INSERT *: source lacks target column "
                                f"{field.name!r}"
                            )
                        exprs.append(
                            F.col(f"s.{field.name}")
                            .cast(field.dataType)
                            .alias(field.name)
                        )
                    elif field.name in assigns:
                        exprs.append(
                            F.expr(assigns[field.name])
                            .cast(field.dataType)
                            .alias(field.name)
                        )
                    else:
                        if (
                            field.name in spec.primary_key
                            or not spec.column(field.name).nullable
                        ):
                            raise ValueError(
                                f"MERGE INSERT must supply primary-key/NOT NULL "
                                f"column {field.name!r}"
                            )
                        exprs.append(
                            F.lit(None).cast(field.dataType).alias(field.name)
                        )
                live_parts.append(rows.select(*exprs))

        if not_matched_by_source:
            # Target rows with no source match (t_hit & ~s_hit): the
            # third branch of the same full-outer join — no extra scan or
            # shuffle.  Conditions see only t.* (s.* is all-NULL here by
            # construction), matching the ANSI restriction.
            src_chain = F.when(F.lit(False), F.lit(None))
            for i, (_action, cond, _assigns) in enumerate(not_matched_by_source):
                pred = F.expr(cond) if cond else F.lit(True)
                src_chain = src_chain.when(pred, F.lit(i))
            t_only = joined.filter(t_hit & ~s_hit).withColumn(
                "__src__", src_chain
            )
            for i, (action, _cond, assigns) in enumerate(not_matched_by_source):
                rows = t_only.filter(F.col("__src__") == i)
                if action == "update":
                    exprs = []
                    for field in target_fields:
                        if assigns and field.name in assigns:
                            exprs.append(
                                F.expr(assigns[field.name])
                                .cast(field.dataType)
                                .alias(field.name)
                            )
                        else:
                            exprs.append(
                                F.col(f"t.{field.name}").alias(field.name)
                            )
                    live_parts.append(rows.select(*exprs))
                else:  # delete -> PK-only tombstones
                    exprs = [
                        (
                            F.col(f"t.{field.name}")
                            if field.name in spec.primary_key
                            else F.lit(None).cast(field.dataType)
                        ).alias(field.name)
                        for field in target_fields
                    ]
                    part = rows.select(*exprs)
                    tombstones = (
                        part
                        if tombstones is None
                        else tombstones.unionByName(part)
                    )

        upserted = deleted = 0
        live = None
        for part in live_parts:
            live = part if live is None else live.unionByName(part)
        if live is not None and tombstones is not None:
            # ONE append under ONE seq (r7 statement batching): the
            # upsert and tombstone outputs fuse via a per-row __del__
            # flag — one write job, one commit stamp, and the
            # self-reference materialization barrier the old two-append
            # form needed (eager checkpoints so append #2 couldn't see
            # append #1's files) disappears with the second append.  A
            # MERGE is one statement; it now burns one seq, not two.
            flag = "__merge_tomb__"
            fused = live.withColumn(flag, F.lit(False)).unionByName(
                tombstones.withColumn(flag, F.lit(True))
            )
            seq = (
                self._branch_next_seq(spec, branch, expect_base=base)
                if branch is not None
                else self._reserve_seqs(spec, 1, expect_base=base)[0]
            )
            # r12 RMW driver-local attempt (the collect_local seam, but
            # at the call site: the upsert/delete split is counted from
            # the collected flags in Python, where the Spark path needs
            # an Observation — which a limit probe would consume).
            # GENERATED columns must be computed BEFORE the local write
            # (ADVICE r12): _append_log applies them on the distributed
            # path, but the direct local call bypasses it; reapplication
            # on fallback is idempotent (recomputed from source values).
            fused = self._apply_generated(spec, fused, flag)
            with self._releasing(
                spec, [seq], branch
            ), self.defer_auto_compact():
                local = self._try_collect_local_append(
                    spec, fused, False, seq, None, flag, branch
                ) if (
                    not spec.check_constraints
                    # MERGE has no predicate to shape-bound the delta —
                    # the probe is allowed only on small-snapshot
                    # targets (file-count gate)
                    and self._rmw_probe_allowed(spec, branch)
                ) else None
                if local is not None:
                    rows_n = local.precomputed_rows
                    # the local writer preserved the flags it was given;
                    # recount from the fused probe result is not needed —
                    # _try_collect_local_append stashes them:
                    deleted = local.tombstone_rows
                    upserted = rows_n - deleted
                    return {"upserted": upserted, "deleted": deleted}
                from pyspark.sql import Observation

                obs = Observation()
                fused = fused.observe(
                    obs,
                    F.sum(F.when(F.col(flag), 1).otherwise(0))
                    .cast("long")
                    .alias("n_del"),
                    F.count(F.lit(1)).alias("n_all"),
                )
                self._append_log(
                    spec,
                    fused,
                    deleted=False,
                    reserved_seq=seq,
                    deleted_col=flag,
                    distribute=True,
                    branch=branch,
                )
            metrics = obs.get
            deleted = int(metrics["n_del"] or 0)
            upserted = int(metrics["n_all"] or 0) - deleted
            return {"upserted": upserted, "deleted": deleted}
        with self.defer_auto_compact():
            if live is not None:
                upserted = _footer_row_count(
                    self._append_log(
                        spec, live, deleted=False, expect_base=base,
                        distribute=True, branch=branch,
                    )
                )
            if tombstones is not None:
                deleted = _footer_row_count(
                    self._append_log(
                        spec, tombstones, deleted=True, expect_base=base,
                        distribute=True, branch=branch,
                    )
                )
        return {"upserted": upserted, "deleted": deleted}

    def _current_seq(self, spec: TableSpec) -> int:
        """The highest __seq__ stamp issued for the table so far.  After
        a warehouse re-attach the in-memory counter is empty — recover
        it from the log's max stamp (one tiny agg, paid once per table
        per session) so new writes keep upsert-winning."""
        key = spec.qualified_name
        if key not in self._seq and spec.has_primary_key:
            path = self.table_path(spec)
            if _has_data(path):
                row = self._log_df(spec).agg(F.max(F.col(_SEQ))).collect()[0]
                self._seq[key] = int(row[0] or 0)
        return self._seq.get(key, 0)

    def _next_seq(
        self, spec: TableSpec, expect_base: Optional[int] = None
    ) -> int:
        return self._reserve_seqs(spec, 1, expect_base=expect_base)[0]

    # -- maintenance --------------------------------------------------------

    def optimize(
        self,
        name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        zorder_by: Optional[List[str]] = None,
        where: Optional[str] = None,
        curve: str = "zorder",
    ) -> int:
        """Small-file consolidation: rewrite the table's log into files
        of roughly ``target_file_bytes`` WITHOUT merging or dropping
        anything — every row and every internal stamp (__seq__/__sub__/
        __del__) survives byte-identically, so upsert history, time
        travel, and the changelog are untouched (unlike ``compact``,
        which collapses history to the latest images).  The lake
        maintenance op for ingest patterns that commit many tiny files
        (per-micro-batch sinks): reads stay correct either way, but
        a scan over thousands of small files pays per-file open cost and
        tiny row groups.  Returns the number of files after the rewrite.

        ``zorder_by``: cluster the rewrite on the Morton curve of these
        columns (``OPTIMIZE t ZORDER BY (c1, c2)``) so parquet min/max
        footer stats prune files for predicates on ANY clustering
        column — see operators/zorder.py.  Inside a partitioned/bucketed
        layout the z-sort applies within each directory (the Delta
        semantics); otherwise the rewrite is one range shuffle on the
        z-key giving globally contiguous curve slices.

        ``curve="hilbert"`` (``OPTIMIZE t HILBERT BY (c1, c2)``)
        clusters on the Hilbert curve instead — tighter per-file
        min/max boxes than Morton for 2-column layouts (the liquid-
        clustering curve; see operators/hilbert.py), same stats +
        range-shuffle machinery.

        Same crash-safe swap as compact: write to a temp dir, rename the
        live dir aside, rename the temp into place, drop the aside copy
        (_swap_dir) — a crash at any single point leaves a complete
        recoverable directory, then restore _spec.json.
        """
        spec = self.get_table(name)
        path = self.table_path(spec)
        if not _has_data(path):
            return 0
        with self._maintenance_lock(spec):
            if where is not None:
                return self._optimize_partitions_locked(
                    spec, path, target_file_bytes, zorder_by, where, curve
                )
            return self._optimize_locked(
                spec, path, target_file_bytes, zorder_by, curve
            )

    # WHERE predicate grammar for partition-scoped OPTIMIZE: a strict
    # AND of col = literal / col IN (literals) over PARTITION columns —
    # deliberately narrower than general SQL (Delta imposes the same
    # restriction) because the predicate selects which partition
    # DIRECTORIES get rewritten; a predicate the scoper half-understood
    # could silently widen or narrow the swap set.
    def _parse_optimize_where(self, spec: TableSpec, where: str):
        """{partition_col: {string values}} from the scoped-OPTIMIZE
        WHERE clause; raises on anything outside the strict grammar."""
        import re as _re

        term_re = _re.compile(
            r"^\s*(`?\w+`?)\s*(?:=\s*('(?:[^']*)'|-?\d+(?:\.\d+)?)"
            r"|IN\s*\(([^()]*)\))\s*$",
            _re.IGNORECASE,
        )

        def _lit(tok: str) -> str:
            tok = tok.strip()
            if tok.startswith("'") and tok.endswith("'"):
                return tok[1:-1]
            return tok

        pcols = list(spec.partition_keys or [])
        if not pcols:
            raise ValueError(
                f"OPTIMIZE ... WHERE requires a partitioned table; "
                f"{spec.qualified_name} has no partition columns"
            )
        constraints: Dict[str, set] = {}
        for term in _re.split(r"\s+AND\s+", where.strip(), flags=_re.IGNORECASE):
            m = term_re.match(term)
            if not m:
                raise ValueError(
                    "OPTIMIZE ... WHERE supports only AND-ed "
                    "'col = literal' / 'col IN (literals)' terms over "
                    f"partition columns; cannot scope {term.strip()!r}"
                )
            col = m.group(1).strip("`")
            if col not in pcols:
                raise ValueError(
                    f"OPTIMIZE ... WHERE may only reference partition "
                    f"columns {pcols}; {col!r} is not one"
                )
            vals = (
                {_lit(m.group(2))}
                if m.group(2) is not None
                else {_lit(v) for v in m.group(3).split(",") if v.strip()}
            )
            constraints[col] = (
                constraints[col] & vals if col in constraints else vals
            )
        return constraints

    def _optimize_partitions_locked(
        self, spec, path, target_file_bytes, zorder_by, where, curve="zorder"
    ):
        """Partition-scoped OPTIMIZE (r7): rewrite ONLY the partition
        directories the WHERE clause selects, swapping each leaf dir
        individually — the table spec, commit dir, and every other
        partition's files are untouched, so the maintenance window
        shrinks to the scoped subtree and time-travel anchors outside
        it cannot even theoretically be disturbed.  Internal stamps
        survive byte-identically exactly as whole-table OPTIMIZE."""
        constraints = self._parse_optimize_where(spec, where)
        stored = dict(
            zip(spec.partition_keys, self._stored_names(spec, spec.partition_keys))
        )
        # affected leaf partition dirs: walk the hive tree level by
        # level, keeping only dirs whose component value matches the
        # constraint (dir values are hive-encoded strings)
        rels = [""]
        for lk in spec.partition_keys:
            sk, vals = stored[lk], constraints.get(lk)
            nxt = []
            for rel in rels:
                base = os.path.join(path, rel) if rel else path
                try:
                    entries = os.listdir(base)
                except OSError:
                    continue
                for d in entries:
                    if not d.startswith(f"{sk}="):
                        continue
                    if vals is None or d[len(sk) + 1:] in vals:
                        nxt.append(os.path.join(rel, d) if rel else d)
            rels = nxt
        if not rels:
            return 0  # no matching partitions on disk: a no-op
        log = self._to_physical(spec, self._log_df(spec))
        sel = F.lit(True)
        for lk, vals in constraints.items():
            sel = sel & F.col(stored[lk]).cast("string").isin(sorted(vals))
        scoped = log.filter(sel)
        partition_cols = list(stored.values())
        if spec.num_buckets and spec.bucket_keys and _BKT in log.columns:
            partition_cols.append(_BKT)
        scoped_bytes = 0
        for rel in rels:
            for f in _parquet_files(os.path.join(path, rel)):
                try:
                    scoped_bytes += os.path.getsize(f)
                except OSError:
                    pass
        n_files = max(1, int(scoped_bytes // target_file_bytes) + 1)
        tmp = path + ".optimize"
        shutil.rmtree(tmp, ignore_errors=True)
        if zorder_by:
            from fluss_datafusion_spark.operators.hilbert import with_curve_key

            zcols = self._stored_names(spec, zorder_by)
            internal = [c for c in (_SEQ, _SUB, _BKT, _DEL) if c in log.columns]
            bad = [c for c in zcols if c in internal]
            if bad:
                raise ValueError(f"cannot cluster internal columns {bad}")
            scoped = (
                with_curve_key(scoped, zcols, curve)
                .repartitionByRange(
                    n_files, *[F.col(c) for c in partition_cols], F.col("__z__")
                )
                .sortWithinPartitions(*partition_cols, "__z__")
                .drop("__z__")
            )
        else:
            scoped = scoped.repartition(n_files, *partition_cols)
        scoped.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
        # swap each affected leaf dir that the rewrite produced; a
        # scoped dir with no rewritten rows (fully tombstone-free is
        # impossible here — optimize keeps every row — but be safe)
        # keeps its old subtree
        for rel in rels:
            live_dir = os.path.join(path, rel)
            tmp_dir = os.path.join(tmp, rel)
            if not os.path.isdir(tmp_dir):
                continue
            if os.path.isdir(live_dir):
                _swap_dir(live_dir, tmp_dir)
            else:
                os.makedirs(os.path.dirname(live_dir), exist_ok=True)
                os.rename(tmp_dir, live_dir)
        shutil.rmtree(tmp, ignore_errors=True)
        self._touch_write_marker(spec)
        self._register_view(spec)
        new_files = sorted(
            f
            for rel in rels
            for f in _parquet_files(os.path.join(path, rel))
        )
        try:
            # scoped manifest refresh: harvest only the rewritten files
            # (later-wins replay makes the new entries authoritative;
            # entries for the replaced files go stale and are never
            # consulted again)
            bloom_cols, bloom_fpp = self._bloom_config(spec)
            skipping.add_files(
                path, new_files, bloom_columns=bloom_cols, bloom_fpp=bloom_fpp
            )
        except Exception:
            pass
        return len(new_files)

    def _optimize_locked(
        self, spec, path, target_file_bytes, zorder_by, curve="zorder"
    ):
        log = self._to_physical(spec, self._log_df(spec))
        if zorder_by:
            stored = {c.name: c.stored_name for c in spec.columns}
            zorder_by = [stored.get(c, c) for c in zorder_by]
        total_bytes = sum(
            os.path.getsize(f) for f in _parquet_files(path)
        )
        n_files = max(1, int(total_bytes // target_file_bytes) + 1)
        # the rewrite operates on the PHYSICAL frame: layout and zorder
        # columns resolve by their stored names
        partition_cols = self._stored_names(spec, spec.partition_keys or [])
        if spec.num_buckets and spec.bucket_keys and _BKT in log.columns:
            partition_cols.append(_BKT)
        tmp = path + ".optimize"
        if zorder_by:
            zorder_by = self._stored_names(spec, zorder_by)
            from fluss_datafusion_spark.operators.hilbert import with_curve_key

            internal = [c for c in (_SEQ, _SUB, _BKT, _DEL) if c in log.columns]
            bad = [c for c in zorder_by if c in internal]
            if bad:
                raise ValueError(f"cannot cluster internal columns {bad}")
            keyed = with_curve_key(log, zorder_by, curve)
            if partition_cols:
                # curve-sort within each layout directory: directory
                # pruning handles the partition/bucket columns, the
                # curve handles the rest.  Range-partition on (layout,
                # key) so a large partition splits into multiple
                # CONTIGUOUS curve slices (hash-on-layout would glue
                # each partition into one task = one file = nothing for
                # the skipping scan).
                shuffled = (
                    keyed.repartitionByRange(
                        n_files, *[F.col(c) for c in partition_cols], F.col("__z__")
                    )
                    .sortWithinPartitions(*partition_cols, "__z__")
                    .drop("__z__")
                )
                writer = shuffled.write.mode("overwrite").partitionBy(
                    *partition_cols
                )
            else:
                writer = (
                    keyed.repartitionByRange(max(1, n_files), F.col("__z__"))
                    .sortWithinPartitions("__z__")
                    .drop("__z__")
                    .write.mode("overwrite")
                )
        elif partition_cols:
            # cluster by the layout columns so each task writes whole
            # partition directories instead of a sliver of every one
            shuffled = log.repartition(n_files, *partition_cols)
            writer = shuffled.write.mode("overwrite").partitionBy(*partition_cols)
        else:
            writer = log.repartition(n_files).write.mode("overwrite")
        commits = self._load_commits(spec)
        writer.parquet(tmp)
        current = self._current_seq(spec)
        # the swap destroys and re-creates _spec.json: hold the spec
        # lock so a concurrent session's ref/property DDL serializes
        # against the re-save instead of being silently clobbered (r10)
        with self._spec_mutation(spec) as spec:
            _swap_dir(path, tmp)
            if spec.has_primary_key:
                self._seq[spec.qualified_name] = current
            self._save_spec(spec)
        self._save_commits(spec, commits)
        self._touch_write_marker(spec)
        self._register_view(spec)
        files = _parquet_files(path)
        try:
            # Full manifest rebuild: the z-clustered (or consolidated)
            # files get tight per-file bounds, which read(predicate=)
            # turns into skipped file opens.
            bloom_cols, bloom_fpp = self._bloom_config(spec)
            skipping.rebuild(
                path,
                sorted(files),
                bloom_columns=bloom_cols,
                bloom_fpp=bloom_fpp,
            )
        except Exception:
            pass
        return len(files)

    def compact(self, name: str) -> None:
        """Materialize a PK table's merged state and truncate its log —
        the LSM-compaction analog.  At scale this bounds read amplification
        of the window-dedup to the data written since the last compaction.

        Surviving rows KEEP their original ``__seq__``/``__sub__`` stamps
        and the statement counter keeps rising monotonically, so
        time-travel anchors taken after this compaction stay exact.
        History below the compaction point is gone (overwritten versions
        are discarded — that's what compaction is); ``read(as_of_seq=N)``
        with N below the floor raises instead of returning wrong state.
        """
        spec = self.get_table(name)
        if not spec.has_primary_key:
            return
        with self._maintenance_lock(spec):
            self._compact_locked(spec)

    def _compact_locked(self, spec: TableSpec) -> None:
        merged = self._to_physical(
            spec, self._merge_log(spec, self._log_df(spec), keep_internal=True)
        )
        # physical frame: layout columns resolve by their stored names
        partition_cols = self._stored_names(spec, spec.partition_keys or [])
        if spec.num_buckets and spec.bucket_keys:
            if _BKT not in merged.columns:
                merged = merged.withColumn(
                    _BKT,
                    bucket_id_expr(
                        spec,
                        *[
                            F.col(k)
                            for k in self._stored_names(spec, spec.bucket_keys)
                        ],
                    ),
                )
            partition_cols.append(_BKT)
        path = self.table_path(spec)
        tmp = path + ".compact"
        writer = merged.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(tmp)
        current = self._current_seq(spec)  # recover BEFORE the log vanishes
        commits = self._load_commits(spec)
        # spec lock across the swap + re-save (see _optimize_locked)
        with self._spec_mutation(spec) as spec:
            _swap_dir(path, tmp)
            self._seq[spec.qualified_name] = current
            self._floor[spec.qualified_name] = current
            self._save_spec(spec)  # compaction replaced dir; restore+floor
        self._save_commits(spec, commits)
        self._touch_write_marker(spec)
        self._register_view(spec)
        try:
            bloom_cols, bloom_fpp = self._bloom_config(spec)
            skipping.rebuild(
                path,
                sorted(_parquet_files(path)),
                bloom_columns=bloom_cols,
                bloom_fpp=bloom_fpp,
            )
        except Exception:
            pass

    def refresh_file_stats(self, name: str) -> int:
        """(Re)harvest the footer-stats manifest (+ opt-in column
        blooms) for every file of the table (tables predating the
        manifest, or externally modified).  Returns the number of files
        covered; read(predicate=) uses the manifest to skip file
        opens."""
        spec = self.get_table(name)
        path = self.table_path(spec)
        bloom_cols, bloom_fpp = self._bloom_config(spec)
        return skipping.rebuild(
            path,
            sorted(_parquet_files(path)),
            bloom_columns=bloom_cols,
            bloom_fpp=bloom_fpp,
        )


def _swap_dir(path: str, tmp: str) -> None:
    """Replace ``path`` with ``tmp`` via rename-aside: a crash at any
    single point leaves a complete directory (with its _spec.json)
    recoverable at ``path`` or ``path + '.old'`` — never the
    rmtree-then-rename window where the table has vanished entirely."""
    old = path + ".old"
    shutil.rmtree(old, ignore_errors=True)  # stale aside from a prior crash
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _parquet_files(path: str) -> set:
    """Data files of a table directory — Spark's listing rule: names
    starting with ``_`` or ``.`` are metadata, not data, UNLESS they
    contain ``=`` (Hive partition dirs like ``__bkt__=3``).  Without
    the dir prune, the chunked stats manifest (``_file_stats/*.parquet``)
    would be fed to ``spark.read.parquet(*files)`` as data — explicit
    file lists bypass Spark's own underscore filtering."""
    hidden = lambda n: (n.startswith("_") or n.startswith(".")) and "=" not in n  # noqa: E731
    files = set()
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not hidden(d)]
        files.update(
            os.path.join(root, f)
            for f in names
            if f.endswith(".parquet") and not hidden(f)
        )
    return files


def _write_parquet_atomic(table, dir_path: str) -> str:
    """Write ``table`` as a new snappy part file in ``dir_path`` and
    return its path.  The bytes go to a dot-prefixed temp name first,
    hidden from every listing (_parquet_files and Spark's own), and
    ``os.replace`` moves the complete file into place: a failure or a
    crash mid-write never leaves a footer-less part file that would
    break later reads.  On an exception the temp file is removed."""
    import uuid

    import pyarrow.parquet as pq

    name = f"part-{uuid.uuid4().hex}-local.snappy.parquet"
    final = os.path.join(dir_path, name)
    tmp = os.path.join(dir_path, f".{name}.tmp")
    try:
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, final)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise
    return final


class _CountedFiles(list):
    """File list carrying its footer row count, captured BEFORE a
    policy-driven auto-compaction replaces the files on disk."""

    precomputed_rows: int = 0
    #: of which tombstones (__del__ true) — set by the driver-local
    #: writer so MERGE's upsert/delete split needs no Observation
    tombstone_rows: int = 0


def _footer_row_count(files) -> int:
    """Row count from parquet footer metadata — no Spark job, no data read."""
    if isinstance(files, _CountedFiles):
        return files.precomputed_rows
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def _has_data(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False
